package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.VersionedTable

/** Copy-on-write row-level ops on the versioned lake: keyed upsert with
  * parquet-footer file pruning, predicate delete, OCC + watermark
  * preservation.
  */
class RowLevelOpsSpec extends SparkTestBase {
  import spark.implicits._

  private def rows(t: String): Set[(Long, String)] =
    VersionedTable.read(spark, t).as[(Long, String)].collect().toSet

  private def dataFiles(t: String): Seq[String] =
    VersionedTable.latest(spark, t)._2

  test("upsert rewrites ONLY footer-intersecting files; others carry over") {
    val t = Files.createTempDirectory("rl_up").toString + "/t"
    // three single-file commits with disjoint key ranges
    VersionedTable.append(spark,
      (1L to 10L).map(i => (i, s"v$i")).toDF("k", "v").coalesce(1), t)
    VersionedTable.append(spark,
      (11L to 20L).map(i => (i, s"v$i")).toDF("k", "v").coalesce(1), t)
    VersionedTable.append(spark,
      (21L to 30L).map(i => (i, s"v$i")).toDF("k", "v").coalesce(1), t)
    val before = dataFiles(t)
    assert(before.size === 3)

    VersionedTable.upsert(spark,
      Seq((25L, "UPDATED"), (35L, "NEW")).toDF("k", "v"), t, "k")

    val after = dataFiles(t)
    // files 1 and 2 (keys 1-20) must be the ORIGINAL files, untouched —
    // the footer range check pruned them from the rewrite
    val untouched = before.filter(after.contains)
    assert(untouched.size === 2,
      s"expected 2 carried-over files, got $untouched of $before -> $after")
    val expected = (1L to 30L).filterNot(_ == 25L).map(i => (i, s"v$i")).toSet +
      ((25L, "UPDATED")) + ((35L, "NEW"))
    assert(rows(t) === expected)
  }

  test("upsert: string keys, null-keyed rows survive, empty updates no-op") {
    val t = Files.createTempDirectory("rl_str").toString + "/t"
    VersionedTable.append(spark,
      Seq(("a", "1"), ("b", "2"), (null, "nullkey")).toDF("k", "v"), t)
    VersionedTable.upsert(spark, Seq(("b", "2x")).toDF("k", "v"), t, "k")
    val got = VersionedTable.read(spark, t)
      .as[(Option[String], String)].collect().toSet
    assert(got === Set(Some("a") -> "1", Some("b") -> "2x", None -> "nullkey"))
    val v = VersionedTable.latest(spark, t)._1
    assert(VersionedTable.upsert(spark,
      Seq.empty[(String, String)].toDF("k", "v"), t, "k") === v)
  }

  test("upsert/merge keep a null-keyed row of a rewritten file, change feed off and on") {
    for (cdf <- Seq(false, true); op <- Seq("upsert", "merge")) {
      val t = Files.createTempDirectory("rl_nullk").toString + "/t"
      // ONE file holding the null-keyed row next to the merged key, so
      // the rewrite copies the null row forward
      VersionedTable.append(spark, Seq[(java.lang.Long, String)](
        (1L, "a"), (2L, "b"), (null, "n")).toDF("k", "v").coalesce(1), t)
      if (cdf) VersionedTable.alterProperties(spark, t,
        Map(VersionedTable.CdcProperty -> "true"))
      val before = dataFiles(t)
      assert(before.size === 1)
      val up = Seq((1L, "a2")).toDF("k", "v")
      if (op == "upsert") VersionedTable.upsert(spark, up, t, "k")
      else VersionedTable.merge(spark, t, "k", up, Seq(2L).toDF("k"))
      assert(!dataFiles(t).contains(before.head), s"$op (cdf=$cdf) kept the file")
      val got = VersionedTable.read(spark, t)
        .as[(Option[Long], String)].collect().toSet
      val want = Set(Some(1L) -> "a2", None -> "n") ++
        (if (op == "upsert") Set(Some(2L) -> "b") else Set.empty)
      assert(got === want, s"$op (cdf=$cdf)")
    }
  }

  test("delete removes matching rows, rewrites only containing files") {
    val t = Files.createTempDirectory("rl_del").toString + "/t"
    VersionedTable.append(spark,
      (1L to 10L).map(i => (i, s"v$i")).toDF("k", "v").coalesce(1), t)
    VersionedTable.append(spark,
      (11L to 20L).map(i => (i, s"v$i")).toDF("k", "v").coalesce(1), t)
    val before = dataFiles(t)
    VersionedTable.delete(spark, t, col("k") === 15L || col("k") === 16L)
    val after = dataFiles(t)
    assert(before.filter(after.contains).size === 1,
      "the file without matches must carry over untouched")
    assert(rows(t) ===
      (1L to 20L).filterNot(k => k == 15L || k == 16L)
        .map(i => (i, s"v$i")).toSet)
    // no matches -> same version, no rewrite
    val v = VersionedTable.latest(spark, t)._1
    assert(VersionedTable.delete(spark, t, col("k") === 999L) === v)
  }

  test("upsert racing intersecting appends: snapshot-at-commit has one row per key") {
    val t = Files.createTempDirectory("rl_race").toString + "/t"
    VersionedTable.append(spark,
      (1L to 1000L).map(i => (i, "base")).toDF("k", "v"), t)
    // appender thread keeps landing rows with the CONTESTED key while the
    // upsert runs: any append committed before the upsert's version must
    // have been anti-joined (conflict detection forces the retry), so the
    // upsert's snapshot contains exactly the update's row for that key
    // bounded contention: sustained intersecting appends can legitimately
    // starve an optimistic upsert (Delta's ConcurrentAppendException) —
    // here the appender quiesces, after which the upsert must win
    @volatile var stop = false
    val appender = new Thread(() => {
      var i = 0
      while (!stop && i < 6) {
        VersionedTable.append(spark,
          Seq((5L, s"race$i")).toDF("k", "v"), t)
        i += 1
      }
    })
    appender.start()
    try {
      Thread.sleep(50) // let appends begin
      val vU = VersionedTable.upsert(spark,
        Seq((5L, "UPDATED")).toDF("k", "v"), t, "k")
      stop = true
      appender.join(60000)
      val atUpsert = VersionedTable.read(spark, t, vU)
        .where(col("k") === 5L).select("v").as[String].collect().toSeq
      assert(atUpsert === Seq("UPDATED"),
        s"version $vU must hold exactly the upserted row for the key, got $atUpsert")
      // appends AFTER the upsert's version are additional k=5 rows in
      // later snapshots — that is the correct serialization
      val now = VersionedTable.read(spark, t)
        .where(col("k") === 5L).select("v").as[String].collect().toSeq
      assert(now.contains("UPDATED"))
    } finally { stop = true; appender.join(60000) }
  }

  test("update: SET on matching rows, old values usable, others untouched") {
    val t = Files.createTempDirectory("rl_upd").toString + "/t"
    VersionedTable.append(spark,
      (1L to 10L).map(i => (i, s"v$i")).toDF("k", "v").coalesce(1), t)
    VersionedTable.append(spark,
      (11L to 20L).map(i => (i, s"v$i")).toDF("k", "v").coalesce(1), t)
    val before = dataFiles(t)
    val v = VersionedTable.update(spark, t,
      col("k").between(3L, 4L),
      Map("v" -> concat(col("v"), lit("!"))))
    assert(dataFiles(t).count(before.contains) === 1,
      "only the file containing matches rewrites")
    assert(rows(t) === (1L to 20L).map { i =>
      (i, if (i == 3L || i == 4L) s"v$i!" else s"v$i")
    }.toSet)
    // no matches / unknown column
    assert(VersionedTable.update(spark, t, col("k") === 999L,
      Map("v" -> lit("x"))) === v)
    intercept[IllegalArgumentException] {
      VersionedTable.update(spark, t, col("k") === 1L,
        Map("nope" -> lit("x")))
    }
  }

  test("replaceWhere: atomic delete-matching + insert in one commit") {
    val t = Files.createTempDirectory("rl_rw").toString + "/t"
    VersionedTable.append(spark,
      (1L to 10L).map(i => (i, "old")).toDF("k", "v"), t)
    val v0 = VersionedTable.latest(spark, t)._1
    val v = VersionedTable.replaceWhere(spark,
      Seq((100L, "new"), (101L, "new")).toDF("k", "v"), t,
      col("k") >= 6L)
    assert(v === v0 + 1, "delete + insert must be ONE commit")
    assert(rows(t) === ((1L to 5L).map(i => (i, "old")).toSet +
      ((100L, "new")) + ((101L, "new"))))
    // DataFrameWriterV2 condition overwrite routes through
    // SupportsOverwrite -> replaceWhere
    spark.sql(s"CREATE TABLE graft_rw_t USING `graft-table` LOCATION '$t'")
    try {
      Seq((6L, "cond")).toDF("k", "v")
        .writeTo("graft_rw_t").overwrite(col("k") >= 100L)
      assert(rows(t) === ((1L to 5L).map(i => (i, "old")).toSet +
        ((6L, "cond"))))
    } finally spark.sql("DROP TABLE graft_rw_t")
    assert(VersionedTable.read(spark, t, v0).count() === 10L,
      "pre-replace snapshot still time-travels")
  }

  test("property: random upsert/delete/compact sequences match a reference model") {
    val rnd = new scala.util.Random(11)
    val t = Files.createTempDirectory("rl_model").toString + "/t"
    val model = scala.collection.mutable.Map.empty[Long, String]
    val snapshots = scala.collection.mutable.Map.empty[Long, Map[Long, String]]
    def read(): Map[Long, String] =
      VersionedTable.read(spark, t,
        schema = Some(org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("k",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("v",
            org.apache.spark.sql.types.StringType)))))
        .as[(Long, String)].collect().toMap
    for (step <- 1 to 14) {
      rnd.nextInt(4) match {
        case 0 | 1 => // keyed upsert of a random batch
          val batch = (1 to 1 + rnd.nextInt(6))
            .map(_ => rnd.nextInt(40).toLong -> s"s$step").distinctBy(_._1)
          VersionedTable.upsert(spark, batch.toDF("k", "v"), t, "k")
          batch.foreach { case (k, v) => model(k) = v }
        case 2 => // range delete
          val lo = rnd.nextInt(40).toLong; val hi = lo + rnd.nextInt(10)
          VersionedTable.delete(spark, t,
            col("k").between(lo, hi))
          (lo to hi).foreach(model.remove)
        case 3 => // compaction: a rewrite, never a data change
          VersionedTable.compact(spark, t, numFiles = 2)
      }
      assert(read() === model.toMap, s"diverged at step $step")
      val v = VersionedTable.latest(spark, t)._1
      if (v > 0) snapshots(v) = model.toMap
    }
    // time travel: every remembered version still serves its snapshot
    snapshots.foreach { case (v, want) =>
      val got = VersionedTable.read(spark, t, v).as[(Long, String)]
        .collect().toMap
      assert(got === want, s"time travel diverged at v$v")
    }
  }

  test("history describes every commit: op kind, file delta, txns") {
    val t = Files.createTempDirectory("rl_hist").toString + "/t"
    VersionedTable.append(spark, Seq((1L, "a")).toDF("k", "v"), t)
    graft.streaming.VersionedSink.exactlyOnce(t, "w")(
      Seq((2L, "b")).toDF("k", "v"), 0L)
    VersionedTable.compact(spark, t, numFiles = 1)
    VersionedTable.delete(spark, t, col("k") === 1L)
    val h = VersionedTable.history(spark, t)
      .select("version", "op", "files_removed")
      .as[(Long, Option[String], Int)].collect().toSeq
    assert(h.map(_._1) === Seq(1L, 2L, 3L, 4L))
    assert(h.map(_._2) ===
      Seq(Some("append"), Some("append"), Some("compact"), Some("delete")))
    assert(h(0)._3 === 0 && h(2)._3 > 0, "compaction removes files")
    // txn watermark visible on (and carried past) the sink's commit
    val txns = VersionedTable.history(spark, t)
      .select("txns").as[Map[String, Long]].collect()
    assert(txns(1) === Map("w" -> 0L) && txns(3) === Map("w" -> 0L))
  }

  test("SQL DELETE with a filter-untranslatable predicate uses the rewrite") {
    val t = Files.createTempDirectory("rl_delx").toString + "/t"
    VersionedTable.append(spark,
      Seq((1L, "x"), (2L, "yy"), (3L, "zzz")).toDF("k", "v"), t)
    spark.sql(s"CREATE TABLE graft_delx_t USING `graft-table` LOCATION '$t'")
    try {
      // length(v) is not expressible as a v1 source Filter — the
      // metadata-delete fast path can't serve it; the row-level rewrite
      // must (and does, atomically)
      spark.sql("DELETE FROM graft_delx_t WHERE length(v) >= 2")
      assert(VersionedTable.read(spark, t).select("k").as[Long]
        .collect().toSeq === Seq(1L))
    } finally spark.sql("DROP TABLE graft_delx_t")
  }

  test("row-level commits preserve streaming writer watermarks and history") {
    val t = Files.createTempDirectory("rl_txn").toString + "/t"
    graft.streaming.VersionedSink.exactlyOnce(t, "q")(
      Seq((1L, "a")).toDF("k", "v"), 7L)
    VersionedTable.upsert(spark, Seq((1L, "a2")).toDF("k", "v"), t, "k")
    VersionedTable.delete(spark, t, col("k") === 999L)
    assert(VersionedTable.lastCommittedEpoch(spark, t, "q") === Some(7L))
    // pre-upsert snapshot still time-travels
    assert(VersionedTable.read(spark, t, 1L).as[(Long, String)]
      .collect().toSet === Set((1L, "a")))
    assert(rows(t) === Set((1L, "a2")))
    // an appended-rows changefeed CANNOT represent the upsert: it must
    // fail loudly, not silently mis-ship rewritten survivors...
    val e = intercept[UnsupportedOperationException] {
      VersionedTable.readChanges(spark, t, 1L).collect()
    }
    assert(e.getMessage.contains("upsert"))
    // ...unless the consumer explicitly opts into skipping row-level
    // commits (the delete above touched nothing, so only the upsert
    // commit is skipped -> empty feed)
    assert(VersionedTable.readChanges(spark, t, 1L,
      ignoreRowLevel = true).count() === 0L)
  }
}
