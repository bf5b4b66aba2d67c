package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.VersionedTable

/** Merge-on-read equality deletes: deleteByKeys commits a metadata-only
  * delete layer that readers anti-join; version layering lets re-inserts
  * survive; compaction materializes; the DSv2 scan gate refuses pending
  * layers; changefeed/vacuum/time-travel interplay.
  */
class MergeOnReadSpec extends SparkTestBase {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("mor").toString + "/t"

  private def rows(t: String): Seq[(Long, String)] =
    VersionedTable.read(spark, t).orderBy("k")
      .as[(Long, String)].collect().toSeq

  test("deleteByKeys hides rows without touching any data file") {
    val t = tmp()
    VersionedTable.append(spark,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"), t)
    val filesBefore = VersionedTable.latest(spark, t)._2.toSet
    val v = VersionedTable.deleteByKeys(spark, t, Seq(2L).toDF("k"))
    assert(rows(t) === Seq((1L, "a"), (3L, "c")))
    // metadata-only: identical data file set, 0 added / 0 removed
    assert(VersionedTable.latest(spark, t)._2.toSet === filesBefore)
    val h = VersionedTable.history(spark, t)
      .where(col("version") === v).head()
    assert(h.getAs[String]("op") === "delete-mor")
    assert(h.getAs[Int]("files_added") === 0)
    assert(h.getAs[Int]("files_removed") === 0)
  }

  test("version layering: a re-inserted key survives earlier deletes; " +
      "a re-delete hides it again") {
    val t = tmp()
    VersionedTable.append(spark, Seq((1L, "a"), (2L, "b")).toDF("k", "v"), t)
    VersionedTable.deleteByKeys(spark, t, Seq(2L).toDF("k"))
    assert(rows(t) === Seq((1L, "a")))
    VersionedTable.append(spark, Seq((2L, "b2")).toDF("k", "v"), t)
    assert(rows(t) === Seq((1L, "a"), (2L, "b2")))
    VersionedTable.deleteByKeys(spark, t, Seq(2L).toDF("k"))
    assert(rows(t) === Seq((1L, "a")))
    // both delete layers pending; the old row stays dead, the newer row
    // died to the newer layer — and another insert resurrects again
    VersionedTable.append(spark, Seq((2L, "b3")).toDF("k", "v"), t)
    assert(rows(t) === Seq((1L, "a"), (2L, "b3")))
  }

  test("compact materializes the layer: rows physically gone, #del " +
      "dropped; DSv2 serves the pending layer meanwhile") {
    val t = tmp()
    VersionedTable.append(spark,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"), t)
    VersionedTable.deleteByKeys(spark, t, Seq(1L, 3L).toDF("k"))
    // the DSv2 scan serves the pending EQUALITY layer directly: keys
    // are resolved to dead positions at plan time and filtered by the
    // same ordinal reader as position layers — SELECT after
    // deleteByKeys works with no compact, and matches the
    // programmatic read
    assert(spark.read.format("graft-table").load(t)
      .orderBy("k").as[(Long, String)].collect().toSeq === rows(t))
    assert(rows(t) === Seq((2L, "b")))
    // re-insert of a deleted key: file version beats the layer bound in
    // the DSv2 path too
    VersionedTable.append(spark, Seq((3L, "c2")).toDF("k", "v"), t)
    assert(spark.read.format("graft-table").load(t)
      .orderBy("k").as[(Long, String)].collect().toSeq ===
      Seq((2L, "b"), (3L, "c2")))
    // pushed filters stay correct (residual re-evaluation)
    assert(spark.read.format("graft-table").load(t)
      .where(col("k") >= 3L).count() === 1L)
    VersionedTable.compact(spark, t, numFiles = 1)
    assert(rows(t) === Seq((2L, "b"), (3L, "c2")))
    // physically materialized: raw parquet of the snapshot lacks the rows
    val (_, files) = VersionedTable.latest(spark, t)
    val physical = spark.read.parquet(files.map(n => s"$t/$n"): _*)
    assert(physical.count() === 2L)
    // and the DSv2 path agrees post-compaction
    assert(spark.read.format("graft-table").load(t).count() === 2L)
  }

  test("copy-on-write rewrites after a MoR delete never resurrect rows") {
    val t = tmp()
    // ONE data file so the update's rewrite is guaranteed to touch the
    // file holding the MoR-deleted row
    VersionedTable.append(spark,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v").coalesce(1), t)
    VersionedTable.deleteByKeys(spark, t, Seq(2L).toDF("k"))
    // the UPDATE's rewrite touches the file containing k=2; the rewrite
    // must apply the delete layer, not copy the dead row forward
    VersionedTable.update(spark, t, col("k") === 3L,
      Map("v" -> lit("C")))
    assert(rows(t) === Seq((1L, "a"), (3L, "C")))
    // the rewritten file is NEWER than the delete layer — k=2 must not
    // come back even though the layer still carries its key
    val (_, files) = VersionedTable.latest(spark, t)
    val physical = spark.read.parquet(files.map(n => s"$t/$n"): _*)
    assert(physical.where(col("k") === 2L).count() === 0L)
  }

  test("multi-column keys and null keys: nulls never match") {
    val t = tmp()
    VersionedTable.append(spark,
      Seq((Some(1L), Some("x"), "r1"), (Some(1L), Some("y"), "r2"),
        (None, Some("x"), "r3"), (Some(2L), None, "r4"))
        .toDF("k1", "k2", "v"), t)
    // delete (1, x); a null-keyed delete row is dropped, touching nothing
    VersionedTable.deleteByKeys(spark, t,
      Seq((Some(1L), Some("x")), (None, Some("x"))).toDF("k1", "k2"))
    val got = VersionedTable.read(spark, t).select("v")
      .as[String].collect().toSet
    assert(got === Set("r2", "r3", "r4"))
  }

  test("changefeed guards merge-on-read deletes like other row-level ops") {
    val t = tmp()
    VersionedTable.append(spark, Seq((1L, "a")).toDF("k", "v"), t) // v1
    VersionedTable.deleteByKeys(spark, t, Seq(1L).toDF("k"))       // v2
    VersionedTable.append(spark, Seq((2L, "b")).toDF("k", "v"), t) // v3
    val e = intercept[UnsupportedOperationException] {
      VersionedTable.readChanges(spark, t, fromVersion = 1L).collect()
    }
    assert(e.getMessage.contains("delete-mor"))
    // opting in skips the delete and serves the appends
    val got = VersionedTable.readChanges(spark, t, fromVersion = 1L,
      ignoreRowLevel = true)
      .select("k", "_commit_version").as[(Long, Long)].collect().toSeq
    assert(got === Seq((2L, 3L)))
  }

  test("vacuum keeps referenced delete files; reaps them after compaction") {
    val t = tmp()
    VersionedTable.append(spark, Seq((1L, "a"), (2L, "b")).toDF("k", "v"), t)
    VersionedTable.deleteByKeys(spark, t, Seq(1L).toDF("k"))
    val delFile = new java.io.File(t).listFiles()
      .map(_.getName).filter(_.startsWith("del-")).toSeq
    assert(delFile.size === 1)
    // vacuum up to latest with zero retention: the del file is referenced
    // by the latest manifest's #del line and must survive
    VersionedTable.vacuum(spark, t,
      keepFrom = VersionedTable.latest(spark, t)._1, retentionMs = 0L)
    assert(new java.io.File(s"$t/${delFile.head}").exists())
    assert(rows(t) === Seq((2L, "b")))
    // compaction drops the layer; the next vacuum reaps the del file
    VersionedTable.compact(spark, t, numFiles = 1)
    VersionedTable.vacuum(spark, t,
      keepFrom = VersionedTable.latest(spark, t)._1, retentionMs = 0L)
    assert(!new java.io.File(s"$t/${delFile.head}").exists())
    assert(rows(t) === Seq((2L, "b")))
  }

  test("exactly-once CDC deletes: replayed epochs no-op, empty batches " +
      "advance the watermark, layering beats upserts") {
    val t = tmp()
    VersionedTable.append(spark,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"), t)
    val apply = graft.streaming.VersionedSink.deleteExactlyOnce(t, "cdc")
    apply(Seq(Tuple1(2L)).toDF("k"), 0L)
    assert(rows(t) === Seq((1L, "a"), (3L, "c")))
    val vAfter = VersionedTable.latest(spark, t)._1
    // crash-replay of the same batchId: watermark says no
    apply(Seq(Tuple1(3L)).toDF("k"), 0L)
    assert(rows(t) === Seq((1L, "a"), (3L, "c")))
    assert(VersionedTable.latest(spark, t)._1 === vAfter)
    // an EMPTY delete batch still advances the watermark (processed)
    apply(spark.emptyDataset[Tuple1[Long]].toDF("k"), 1L)
    assert(VersionedTable.lastCommittedEpoch(spark, t, "cdc") === Some(1L))
    assert(rows(t) === Seq((1L, "a"), (3L, "c")))
    // CDC ordering: upsert then delete in a later batch — delete wins
    // because its layer is newer than the upsert's rewritten files
    VersionedTable.upsert(spark, Seq((3L, "C")).toDF("k", "v"), t, "k")
    apply(Seq(Tuple1(3L)).toDF("k"), 2L)
    assert(rows(t) === Seq((1L, "a")))
  }

  test("position deletes: arbitrary predicate hides rows with no " +
      "rewrite; re-inserted matching rows are untouched; compaction " +
      "materializes") {
    val t = tmp()
    VersionedTable.append(spark,
      Seq((1L, "keep"), (2L, "drop"), (3L, "keep"), (4L, "drop"))
        .toDF("k", "v"), t)
    val filesBefore = VersionedTable.latest(spark, t)._2.toSet
    VersionedTable.deleteWhereMergeOnRead(spark, t, col("v") === "drop")
    assert(rows(t) === Seq((1L, "keep"), (3L, "keep")))
    // metadata-only: same data files
    assert(VersionedTable.latest(spark, t)._2.toSet === filesBefore)
    // positions pin rows by FILE — a new append matching the predicate
    // is untouched (no version bookkeeping needed)
    VersionedTable.append(spark, Seq((5L, "drop")).toDF("k", "v"), t)
    assert(rows(t) === Seq((1L, "keep"), (3L, "keep"), (5L, "drop")))
    // stacking a second position layer works
    VersionedTable.deleteWhereMergeOnRead(spark, t, col("k") === 5L)
    assert(rows(t) === Seq((1L, "keep"), (3L, "keep")))
    // the DSv2 scan applies POSITION layers itself (ordinal-filtering
    // reader) — unlike equality layers, no gate: reads agree with the
    // programmatic path pre-compaction, filters stay correct (residual
    // re-evaluation), and pushed-filter queries match
    val v2 = spark.read.format("graft-table").load(t)
    assert(v2.orderBy("k").as[(Long, String)].collect().toSeq ===
      Seq((1L, "keep"), (3L, "keep")))
    assert(v2.where(col("k") >= 3L).count() === 1L)
    VersionedTable.compact(spark, t, numFiles = 1)
    assert(spark.read.format("graft-table").load(t)
      .orderBy("k").as[(Long, String)].collect().toSeq ===
      Seq((1L, "keep"), (3L, "keep")))
    val (_, files) = VersionedTable.latest(spark, t)
    assert(spark.read.parquet(files.map(n => s"$t/$n"): _*).count() === 2L)
  }

  test("position deletes compose with equality deletes and CoW rewrites") {
    val t = tmp()
    VersionedTable.append(spark,
      Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"))
        .toDF("k", "v").coalesce(1), t)
    VersionedTable.deleteWhereMergeOnRead(spark, t, col("k") === 2L)
    VersionedTable.deleteByKeys(spark, t, Seq(3L).toDF("k"))
    assert(rows(t) === Seq((1L, "a"), (4L, "d")))
    // a CoW update reads through BOTH layers; the rewritten file drops
    // the dead rows physically, and the stale position entry (old file
    // name) can never re-kill anything
    VersionedTable.update(spark, t, col("k") === 4L, Map("v" -> lit("D")))
    assert(rows(t) === Seq((1L, "a"), (4L, "D")))
    val (_, files) = VersionedTable.latest(spark, t)
    val physical = spark.read.parquet(files.map(n => s"$t/$n"): _*)
    assert(physical.count() === 2L)
    // predicate matching nothing: version unchanged, no stray layer
    val v = VersionedTable.latest(spark, t)._1
    assert(VersionedTable.deleteWhereMergeOnRead(spark, t,
      col("k") === 99L) === v)
  }

  test("SQL row-level rewrites respect pending layers: position AND " +
      "equality layers apply (no resurrection)") {
    val t = tmp()
    VersionedTable.append(spark,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v").coalesce(1), t)
    VersionedTable.deleteWhereMergeOnRead(spark, t, col("k") === 2L)
    spark.sql("DROP TABLE IF EXISTS mor_sql")
    spark.sql(s"CREATE TABLE mor_sql USING `graft-table` LOCATION '$t'")
    // the UPDATE's rewrite scans the one file holding dead k=2 — the
    // replacement file must NOT carry it back to life
    spark.sql("UPDATE mor_sql SET v = 'C' WHERE k = 3")
    assert(rows(t) === Seq((1L, "a"), (3L, "C")))
    val (_, files) = VersionedTable.latest(spark, t)
    assert(spark.read.parquet(files.map(n => s"$t/$n"): _*)
      .where(col("k") === 2L).count() === 0L)
    // an EQUALITY layer applies inside the rewrite too (resolved to
    // positions at plan time): dead k=1 shares the rewritten file with
    // k=3 and must not come back
    VersionedTable.deleteByKeys(spark, t, Seq(1L).toDF("k"))
    spark.sql("UPDATE mor_sql SET v = 'Z' WHERE k = 3")
    assert(rows(t) === Seq((3L, "Z")))
    val (_, files2) = VersionedTable.latest(spark, t)
    assert(spark.read.parquet(files2.map(n => s"$t/$n"): _*)
      .where(col("k") === 1L).count() === 0L)
    // and SELECT over the DSv2 table sees through both layers
    assert(spark.sql("SELECT k, v FROM mor_sql ORDER BY k")
      .as[(Long, String)].collect().toSeq === Seq((3L, "Z")))
    spark.sql("DROP TABLE mor_sql")
  }

  test("upsert rewrites apply pending layers: deleted keys sharing a " +
      "file with upserted keys stay dead") {
    // regression: upsert's CoW rewrite used a raw parquet read of the
    // affected files, so a pending layer's dead rows were copied into
    // the rewritten file, whose fresh name/higher version escaped both
    // layer types — silent resurrection. One data file forces the
    // deleted and upserted keys to share a file.
    val t = tmp()
    VersionedTable.append(spark,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v").coalesce(1), t)
    VersionedTable.deleteByKeys(spark, t, Seq(2L).toDF("k"))
    VersionedTable.upsert(spark, Seq((3L, "C")).toDF("k", "v"), t, "k")
    assert(rows(t) === Seq((1L, "a"), (3L, "C")))
    val (_, files) = VersionedTable.latest(spark, t)
    assert(spark.read.parquet(files.map(n => s"$t/$n"): _*)
      .where(col("k") === 2L).count() === 0L)
    // same for a pending POSITION layer
    val t2 = tmp()
    VersionedTable.append(spark,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v").coalesce(1), t2)
    VersionedTable.deleteWhereMergeOnRead(spark, t2, col("k") === 2L)
    VersionedTable.upsert(spark, Seq((3L, "C")).toDF("k", "v"), t2, "k")
    assert(rows(t2) === Seq((1L, "a"), (3L, "C")))
  }

  test("vacuum never lifts a file's attributed version past a pending " +
      "equality-delete bound (no resurrection)") {
    // regression: fileVersions attributes a file to the earliest
    // RETAINED manifest; vacuuming the introducing manifest inflated
    // the version above the #del bound and revived the deleted row.
    // vacuum now clamps keepFrom to the oldest pending bound.
    val t = tmp()
    VersionedTable.append(spark, Seq((1L, "a"), (2L, "b")).toDF("k", "v"), t) // v1
    VersionedTable.deleteByKeys(spark, t, Seq(2L).toDF("k"))                  // v2
    VersionedTable.append(spark, Seq((3L, "c")).toDF("k", "v"), t)            // v3
    VersionedTable.vacuum(spark, t, keepFrom = 3L, retentionMs = 0L)
    assert(rows(t) === Seq((1L, "a"), (3L, "c")))
    // compaction materializes the layer and lifts the clamp
    VersionedTable.compact(spark, t, numFiles = 1)
    VersionedTable.vacuum(spark, t,
      keepFrom = VersionedTable.latest(spark, t)._1, retentionMs = 0L)
    assert(rows(t) === Seq((1L, "a"), (3L, "c")))
  }

  test("a watermark-only delete-mor commit (empty CDC batch) is a " +
      "changefeed no-op, not a row-level guard trip") {
    val t = tmp()
    VersionedTable.append(spark, Seq((1L, "a")).toDF("k", "v"), t)   // v1
    // empty keyed delete with a txn: commits only to advance the
    // watermark — no #del line, no file change
    VersionedTable.deleteByKeys(spark, t,
      spark.emptyDataset[Tuple1[Long]].toDF("k"), txn = Some(("w", 0L))) // v2
    VersionedTable.append(spark, Seq((2L, "b")).toDF("k", "v"), t)   // v3
    val got = VersionedTable.readChanges(spark, t, fromVersion = 1L)
      .select("k", "_commit_version").as[(Long, Long)].collect().toSeq
    assert(got === Seq((2L, 3L)))
    // a delete-mor that DID add a layer still trips the guard
    VersionedTable.deleteByKeys(spark, t, Seq(1L).toDF("k"))
    intercept[UnsupportedOperationException] {
      VersionedTable.readChanges(spark, t, fromVersion = 1L).collect()
    }
  }

  test("position layers past the old 5M-position cap: bitmaps compress, " +
      "broadcast ships once, reads stay correct") {
    // regression for the sorted-long-array closure: 5.25M pending
    // positions used to refuse every scan until compaction; the
    // roaring-style bitmaps compress them to ~1 bit/position and ride
    // a broadcast, so both read paths serve the layer directly
    val t = tmp()
    VersionedTable.append(spark,
      spark.range(6000000L).select(col("id").as("k"),
        (col("id") % 97).as("v")), t)
    VersionedTable.deleteWhereMergeOnRead(spark, t, col("k") % 8 =!= 0)
    assert(VersionedTable.read(spark, t).count() === 750000L)
    assert(spark.read.format("graft-table").load(t).count() === 750000L)
    // the whole layer compresses to well under the old cap's footprint
    val bitmaps = VersionedTable.pendingPositionDeletes(spark, t)
    assert(bitmaps.valuesIterator.map(_.cardinality).sum === 5250000L)
    val bytes = bitmaps.valuesIterator.map(_.estimatedBytes).sum
    assert(bytes < (2L << 20), s"expected ~750 KiB compressed, got $bytes")
    // spot-check correctness of the surviving keys
    assert(spark.read.format("graft-table").load(t)
      .where(col("k") < 64L).orderBy("k")
      .select("k").as[Long].collect().toSeq ===
      (0L until 64L by 8L).toSeq)
  }

  test("property: rewrites raced by MoR deletes converge to the " +
      "sequential order (race-injected reference model)") {
    // every rewrite kind, with a deleteByKeys randomly injected into
    // its OCC window (after staging, before the conflict check): the
    // retry must apply the raced layer — the model treats the injected
    // delete as committed FIRST, then the op. Fails on either data loss
    // (layer dropped) or resurrection (rewrite escaping the layer).
    val rnd = new scala.util.Random(20260813L)
    val t = tmp()
    var model = Map.empty[Long, String]
    def sync(step: String): Unit =
      assert(rows(t).toMap === model, s"diverged after $step")
    val init = (0L until 50L).map(k => (k, s"v$k"))
    VersionedTable.append(spark, init.toDF("k", "v").coalesce(2), t)
    model ++= init
    (0 until 12).foreach { i =>
      val injected = scala.collection.mutable.ArrayBuffer.empty[Long]
      if (rnd.nextBoolean()) {
        val delKeys = Seq.fill(3)(rnd.between(0L, 60L)).distinct
        var fired = false
        VersionedTable.commitRaceHook = () =>
          if (!fired) {
            fired = true
            VersionedTable.deleteByKeys(spark, t, delKeys.toDF("k"))
            injected ++= delKeys
          }
      }
      val step =
        try rnd.nextInt(4) match {
          case 0 =>
            val ups = Seq.fill(4)(rnd.between(0L, 60L)).distinct
              .map(k => (k, s"u$i-$k"))
            VersionedTable.upsert(spark, ups.toDF("k", "v"), t, "k")
            model = model -- injected ++ ups
            s"upsert($ups raced=$injected)"
          case 1 =>
            val lo = rnd.between(0L, 55L)
            VersionedTable.delete(spark, t,
              col("k") >= lo && col("k") < lo + 5)
            model = (model -- injected)
              .filterNot { case (k, _) => k >= lo && k < lo + 5 }
            s"delete[$lo,${lo + 5}) raced=$injected"
          case 2 =>
            VersionedTable.compact(spark, t, 2)
            model = model -- injected
            s"compact raced=$injected"
          case 3 =>
            val fresh = Seq((100L + i, s"a$i"))
            VersionedTable.append(spark, fresh.toDF("k", "v"), t)
            // the append rebases over the raced layer
            model = model -- injected ++ fresh
            s"append($fresh)"
        } finally VersionedTable.commitRaceHook = () => ()
      sync(step)
    }
  }

  test("time travel reads the delete layer as of each version") {
    val t = tmp()
    VersionedTable.append(spark, Seq((1L, "a"), (2L, "b")).toDF("k", "v"), t) // v1
    val vDel = VersionedTable.deleteByKeys(spark, t, Seq(2L).toDF("k"))       // v2
    assert(VersionedTable.read(spark, t, 1L).count() === 2L)
    assert(VersionedTable.read(spark, t, vDel).count() === 1L)
  }

  test("delete layers whose key files drifted from INT32 to INT64 read " +
      "under the table's key type") {
    // Spark infers a multi-path read's schema from the footer of the
    // lexicographically FIRST file, so the layer only fails to read when
    // an INT32 key file sorts before the INT64 one: add INT32 layers (of
    // absent keys) until one does
    val t = tmp()
    VersionedTable.append(spark,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"), t)
    def delFiles: Seq[String] = new java.io.File(t).list().toSeq
      .filter(n => n.startsWith("del-") && n.endsWith(".parquet")).sorted
    VersionedTable.deleteByKeys(spark, t, Seq(2L).toDF("k")) // INT64 file
    val longFile = delFiles.head
    VersionedTable.deleteByKeys(spark, t, Seq(1).toDF("k"))  // INT32 file
    var extra = 100
    while (delFiles.head == longFile && extra < 140) {
      VersionedTable.deleteByKeys(spark, t, Seq(extra).toDF("k"))
      extra += 1
    }
    assert(delFiles.head != longFile, "an INT32 key file sorts first")
    assert(rows(t) === Seq((3L, "c")))
    // the DSv2 scan resolves the same layer to positions
    assert(spark.read.format("graft-table").load(t)
      .as[(Long, String)].collect().toSeq === Seq((3L, "c")))
  }
}
