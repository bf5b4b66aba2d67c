package graft

import java.nio.file.Files

import graft.sources.VersionedTable

/** Manifest-versioned table: optimistic-concurrency commits, snapshot
  * reads, append-during-compaction survival, vacuum.
  */
class VersionedTableSpec extends SparkTestBase {
  import spark.implicits._

  private def rows(table: String): Set[(Int, String)] =
    VersionedTable.read(spark, table).as[(Int, String)].collect().toSet

  test("appends commit increasing versions; reads see exactly the snapshot") {
    val t = Files.createTempDirectory("vt").toString + "/t"
    assert(VersionedTable.append(spark, Seq((1, "a")).toDF("k", "v"), t) === 1L)
    assert(VersionedTable.append(spark, Seq((2, "b")).toDF("k", "v"), t) === 2L)
    assert(VersionedTable.append(spark, Seq((3, "c")).toDF("k", "v"), t) === 3L)
    assert(rows(t) === Set((1, "a"), (2, "b"), (3, "c")))
    // an uncommitted (staged-only) file is invisible to readers: simulate
    // by dropping a stray parquet into the table dir
    VersionedTable.read(spark, t) // force listing
    val stray = Seq((99, "stray")).toDF("k", "v")
    stray.write.parquet(t + "/part-stray.parquet.dir") // not in any manifest
    assert(rows(t) === Set((1, "a"), (2, "b"), (3, "c")))
  }

  test("a rewrite whose survivors are empty commits no file without " +
      "row groups; a schema-less table keeps one for its schema") {
    import org.apache.spark.sql.functions.col
    val conf = spark.sparkContext.hadoopConfiguration
    def emptyFiles(t: String): Seq[String] =
      VersionedTable.latest(spark, t)._2.filter(n =>
        VersionedTable.readParquetFooter(conf,
          new org.apache.hadoop.fs.Path(t, n)).getBlocks.isEmpty)
    val t = Files.createTempDirectory("vt_empty").toString + "/t"
    VersionedTable.append(spark, Seq((1, "a")).toDF("k", "v").coalesce(1), t)
    VersionedTable.append(spark, Seq((2, "b")).toDF("k", "v").coalesce(1), t)
    VersionedTable.append(spark, Seq((3, "c")).toDF("k", "v").coalesce(1), t)
    VersionedTable.delete(spark, t, col("k") === 1)
    assert(emptyFiles(t) === Nil)
    assert(VersionedTable.latest(spark, t)._2.size === 2)
    VersionedTable.replaceWhere(spark, Seq((4, "d")).toDF("k", "v").coalesce(1), t,
      col("k") === 2)
    assert(emptyFiles(t) === Nil)
    assert(VersionedTable.latest(spark, t)._2.size === 2)
    assert(rows(t) === Set((3, "c"), (4, "d")))
    // the last rows of a schema-less table: one empty file stays, so the
    // snapshot still reads with its columns
    VersionedTable.delete(spark, t, col("k") >= 3)
    assert(VersionedTable.latest(spark, t)._2.size === 1)
    assert(emptyFiles(t).size === 1)
    assert(VersionedTable.read(spark, t).columns.toSeq === Seq("k", "v"))
    assert(rows(t) === Set.empty)
  }

  test("append racing a compaction is never lost") {
    val t = Files.createTempDirectory("vt2").toString + "/t"
    for (i <- 1 to 5)
      VersionedTable.append(spark, Seq((i, s"v$i")).toDF("k", "v"), t)
    // interleave: start from the same snapshot the compactor reads, then
    // land an append BETWEEN compaction's read and its commit. We emulate
    // the interleaving by appending first and verifying compact rebases
    // over files it did not read (the rebase path is the same code).
    VersionedTable.append(spark, Seq((6, "late")).toDF("k", "v"), t)
    val v = VersionedTable.compact(spark, t, numFiles = 1)
    assert(v > 0)
    assert(rows(t) === (1 to 5).map(i => (i, s"v$i")).toSet + ((6, "late")))
    // after vacuum of pre-compaction versions, data still intact and old
    // files gone (retention 0: no writer in flight in this test)
    val removed = VersionedTable.vacuum(spark, t, keepFrom = v, retentionMs = 0L)
    assert(removed > 0)
    assert(rows(t) === (1 to 5).map(i => (i, s"v$i")).toSet + ((6, "late")))
  }

  test("time-travel read serves any committed version, incl. pre-compaction") {
    val t = Files.createTempDirectory("vt4").toString + "/t"
    VersionedTable.append(spark, Seq((1, "a")).toDF("k", "v"), t)
    VersionedTable.append(spark, Seq((2, "b")).toDF("k", "v"), t)
    VersionedTable.append(spark, Seq((3, "c")).toDF("k", "v"), t)
    val vCompact = VersionedTable.compact(spark, t, numFiles = 1)
    assert(vCompact === 4L)
    def at(v: Long): Set[(Int, String)] =
      VersionedTable.read(spark, t, v).as[(Int, String)].collect().toSet
    // v2 (pre-compaction snapshot) still readable after the compaction
    assert(at(2L) === Set((1, "a"), (2, "b")))
    assert(at(1L) === Set((1, "a")))
    assert(at(4L) === Set((1, "a"), (2, "b"), (3, "c")))
    assert(VersionedTable.versions(spark, t) === Seq(1L, 2L, 3L, 4L))
    intercept[NoSuchElementException](VersionedTable.read(spark, t, 99L))
  }

  test("vacuum retention window spares fresh unreferenced files") {
    val t = Files.createTempDirectory("vt5").toString + "/t"
    VersionedTable.append(spark, Seq((1, "a")).toDF("k", "v"), t)
    val v = VersionedTable.compact(spark, t, numFiles = 1)
    // the pre-compaction file is unreferenced from v onward but was
    // written milliseconds ago — a retention window must spare it (it
    // could equally be an in-flight writer's staged file)
    assert(VersionedTable.vacuum(spark, t, keepFrom = v) === 0)
    assert(rows(t) === Set((1, "a")))
    // with retention waived it is reaped
    assert(VersionedTable.vacuum(spark, t, keepFrom = v, retentionMs = 0L) > 0)
    assert(rows(t) === Set((1, "a")))
  }

  test("two writers committing the same version: exactly one wins, loser rebases") {
    val t = Files.createTempDirectory("vt3").toString + "/t"
    VersionedTable.append(spark, Seq((1, "a")).toDF("k", "v"), t)
    // two appends from the same base version — sequential calls exercise
    // the same create-exclusive commit; simulate the race by committing a
    // manifest manually for version 2, then appending (which must land at 3)
    val f = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (v1, files1) = VersionedTable.latest(spark, t)
    assert(v1 === 1L)
    // interloper commits v2 reusing v1's files (a no-op commit)
    val out = f.create(new org.apache.hadoop.fs.Path(t + "/_commits/v00000002"), false)
    out.write((files1.mkString("\n") + "\n").getBytes("UTF-8")); out.close()
    val v = VersionedTable.append(spark, Seq((2, "b")).toDF("k", "v"), t)
    assert(v === 3L) // rebased past the interloper
    assert(rows(t) === Set((1, "a"), (2, "b")))
  }

  test("changefeed: appends tagged by commit, compaction invisible, lag guarded") {
    val t = Files.createTempDirectory("vt_cdc").toString + "/t"
    VersionedTable.append(spark, Seq((1, "a")).toDF("k", "v"), t) // v1
    VersionedTable.append(spark, Seq((2, "b")).toDF("k", "v"), t) // v2
    val vc = VersionedTable.compact(spark, t, numFiles = 1)       // v3: rewrite
    VersionedTable.append(spark, Seq((3, "c")).toDF("k", "v"), t) // v4

    def feed(from: Long): Seq[(Int, String, Long)] =
      VersionedTable.readChanges(spark, t, from)
        .select("k", "v", "_commit_version")
        .as[(Int, String, Long)].collect().toSeq.sorted

    // full history: every appended row exactly once, compaction adds none
    assert(feed(0) === Seq((1, "a", 1L), (2, "b", 2L), (3, "c", 4L)))
    // incremental tail from a checkpointed version
    assert(feed(2) === Seq((3, "c", 4L)))
    assert(feed(4) === Seq.empty)
    // empty range still yields the right schema
    assert(VersionedTable.readChanges(spark, t, 4).columns.toSeq ===
      Seq("k", "v", "_commit_version"))
    // the exactly-once sink's commits are ordinary appends to the feed
    graft.streaming.VersionedSink.exactlyOnce(t, "w")(Seq((9, "z")).toDF("k", "v"), 0L)
    assert(feed(4) === Seq((9, "z", 5L)))
    // vacuuming past a consumer's checkpoint must fail loudly, not
    // return partial changes
    VersionedTable.vacuum(spark, t, keepFrom = vc, retentionMs = 0L)
    val e = intercept[NoSuchElementException] {
      VersionedTable.readChanges(spark, t, 0)
    }
    assert(e.getMessage.contains("retention"))
    // consumers at/after the retained horizon still work
    assert(feed(vc) === Seq((3, "c", 4L), (9, "z", 5L)))
  }

  test("changefeed composition: any split of increments rebuilds the snapshot") {
    val rnd = new scala.util.Random(3)
    val t = Files.createTempDirectory("vt_comp").toString + "/t"
    var next = 0
    for (step <- 1 to 8) {
      if (rnd.nextInt(4) == 0 && step > 1)
        VersionedTable.compact(spark, t, numFiles = 1)
      else {
        val batch = (1 to 1 + rnd.nextInt(5)).map { _ => next += 1; next }
        VersionedTable.append(spark, batch.toDF("k"), t)
      }
    }
    val vMax = VersionedTable.latest(spark, t)._1
    val full = VersionedTable.read(spark, t).select("k")
      .as[Int].collect().sorted.toSeq
    // for EVERY cut point: changes(0,c) ++ changes(c,max) == snapshot —
    // the invariant an incremental consumer relies on when it
    // checkpoints at arbitrary versions
    (0L to vMax).foreach { cut =>
      val a = VersionedTable.readChanges(spark, t, 0, cut)
        .select("k").as[Int].collect()
      val b = VersionedTable.readChanges(spark, t, cut, vMax)
        .select("k").as[Int].collect()
      assert((a ++ b).sorted.toSeq === full, s"cut at $cut diverged")
    }
  }

  test("compactToSize derives the file count from snapshot bytes") {
    import org.apache.spark.sql.functions._
    val t = Files.createTempDirectory("vt_tosize").toString + "/t"
    VersionedTable.append(spark,
      spark.range(5000).select(col("id"), rand(7).as("v")), t)
    VersionedTable.append(spark,
      spark.range(5000, 10000).select(col("id"), rand(8).as("v")), t)
    val files0 = VersionedTable.latest(spark, t)._2
    val total = files0.map(n =>
      new java.io.File(s"$t/$n").length).sum
    // target = whole snapshot -> exactly one output file
    VersionedTable.compactToSize(spark, t, targetFileSizeBytes = total * 2)
    assert(VersionedTable.latest(spark, t)._2.size === 1)
    assert(VersionedTable.read(spark, t).count() === 10000L)
    // target = ~third of the (new) snapshot -> ceil(bytes/target) files
    val total1 = VersionedTable.latest(spark, t)._2
      .map(n => new java.io.File(s"$t/$n").length).sum
    val target = total1 / 3 + 1
    val want = ((total1 + target - 1) / target).toInt
    VersionedTable.compactToSize(spark, t, targetFileSizeBytes = target)
    assert(VersionedTable.latest(spark, t)._2.size === want)
    assert(VersionedTable.read(spark, t).count() === 10000L)
  }

  test("z-order compaction preserves data and clusters both dimensions") {
    import org.apache.spark.sql.functions._
    val t = Files.createTempDirectory("vt_zorder").toString + "/t"
    val df = spark.range(4096).select(
      (col("id") % 64).cast("int").as("x"),
      (col("id") / 64).cast("int").as("y"),
      col("id").as("payload"))
    VersionedTable.append(spark, df, t)
    val v = VersionedTable.compact(spark, t, numFiles = 16,
      zorderDims = Seq(col("x").cast("long"), col("y").cast("long")),
      zorderBits = 6)
    assert(v === 2L)
    val back = VersionedTable.read(spark, t)
    assert(back.count() === 4096)
    assert(back.agg(sum("payload")).head.getLong(0) ===
      (0L until 4096L).sum)
    // every compacted file covers a bounded sub-grid in BOTH dims:
    // per-file (max-min) spans must be far below the full 64 domain
    val spans = spark.read.parquet(
        VersionedTable.latest(spark, t)._2.map(n => s"$t/$n"): _*)
      .groupBy(input_file_name())
      .agg((max("x") - min("x")).as("sx"), (max("y") - min("y")).as("sy"))
      .select("sx", "sy").as[(Int, Int)].collect()
    assert(spans.length === 16)
    assert(spans.forall { case (sx, sy) => sx <= 31 && sy <= 31 },
      s"files must be sub-grid clustered, got spans ${spans.toSeq}")
  }

  test("a won publish survives a failing temp-manifest cleanup") {
    // the hard link published v2; the temp-file delete that follows
    // fails. The commit must still count as won: reporting a lost race
    // would retry and publish the same staged files again as v3.
    val t = Files.createTempDirectory("vt_tmpdel").toString + "/t"
    VersionedTable.append(spark, Seq((1, "a"), (2, "b")).toDF("k", "v"), t)
    val conf = spark.sparkContext.hadoopConfiguration
    val keys = Seq("fs.file.impl", "fs.file.impl.disable.cache")
    val saved = keys.map(k => k -> Option(conf.get(k)))
    FailingTmpDeleteFs.refused.set(0)
    conf.set("fs.file.impl", classOf[FailingTmpDeleteFs].getName)
    conf.set("fs.file.impl.disable.cache", "true")
    val v =
      try VersionedTable.append(spark, Seq((3, "c")).toDF("k", "v"), t)
      finally saved.foreach {
        case (k, Some(old)) => conf.set(k, old)
        case (k, None) => conf.unset(k)
      }
    assert(FailingTmpDeleteFs.refused.get() > 0, "cleanup failure injected")
    assert(v === 2L)
    assert(VersionedTable.versions(spark, t) === Seq(1L, 2L))
    assert(VersionedTable.read(spark, t).count() === 3L)
  }
}

/** Local filesystem whose deletes of `_commits/.tmp-*` files throw: the
  * cleanup step after a manifest publish.
  */
class FailingTmpDeleteFs extends org.apache.hadoop.fs.LocalFileSystem {
  override def delete(p: org.apache.hadoop.fs.Path,
      recursive: Boolean): Boolean =
    if (p.getName.startsWith(".tmp-") &&
        p.getParent.getName == "_commits") {
      FailingTmpDeleteFs.refused.incrementAndGet()
      throw new java.io.IOException(s"injected delete failure: $p")
    } else super.delete(p, recursive)
}

object FailingTmpDeleteFs {
  val refused = new java.util.concurrent.atomic.AtomicInteger
}
