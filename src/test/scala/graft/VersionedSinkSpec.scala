package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.sources.VersionedTable
import graft.streaming.VersionedSink

/** Exactly-once streaming micro-batch commits into VersionedTable: the
  * manifest's (writerId, epoch) watermark — not the checkpoint — is what
  * de-duplicates foreachBatch's at-least-once replays.
  */
class VersionedSinkSpec extends SparkTestBase {
  import spark.implicits._

  private def rows(t: String): Seq[Int] =
    VersionedTable.read(spark, t).select("k").as[Int].collect().toSeq.sorted

  test("replayed batchId is a no-op; distinct batchIds append") {
    val t = Files.createTempDirectory("vsink").toString + "/t"
    val sink = VersionedSink.exactlyOnce(t, "q1")
    sink(Seq(1, 2).toDF("k"), 0L)
    sink(Seq(3).toDF("k"), 1L)
    // crash-recovery replay: same batch re-offered → must not duplicate
    sink(Seq(3).toDF("k"), 1L)
    // an even older epoch re-offered (zombie instance) → also a no-op
    sink(Seq(1, 2).toDF("k"), 0L)
    assert(rows(t) === Seq(1, 2, 3))
    assert(VersionedTable.lastCommittedEpoch(spark, t, "q1") === Some(1L))
    // versions: one commit per distinct batch, none for replays
    assert(VersionedTable.versions(spark, t) === Seq(1L, 2L))
  }

  test("two writers' watermarks are independent") {
    val t = Files.createTempDirectory("vsink2").toString + "/t"
    VersionedSink.exactlyOnce(t, "a")(Seq(1).toDF("k"), 5L)
    // writer b at epoch 0 is NOT deduped by a's epoch 5
    VersionedSink.exactlyOnce(t, "b")(Seq(2).toDF("k"), 0L)
    assert(rows(t) === Seq(1, 2))
    assert(VersionedTable.lastCommittedEpoch(spark, t, "a") === Some(5L))
    assert(VersionedTable.lastCommittedEpoch(spark, t, "b") === Some(0L))
  }

  test("watermarks survive compaction and plain appends") {
    val t = Files.createTempDirectory("vsink3").toString + "/t"
    val sink = VersionedSink.exactlyOnce(t, "q1")
    sink(Seq(1).toDF("k"), 0L)
    sink(Seq(2).toDF("k"), 1L)
    VersionedTable.append(spark, Seq(10).toDF("k"), t)
    VersionedTable.compact(spark, t, numFiles = 1)
    // a replay AFTER compaction+append must still be recognized
    sink(Seq(2).toDF("k"), 1L)
    assert(rows(t) === Seq(1, 2, 10))
    assert(VersionedTable.lastCommittedEpoch(spark, t, "q1") === Some(1L))
  }

  test("pipe: incremental table-to-table, exactly-once, checkpoint-free") {
    val src = Files.createTempDirectory("pipe_src").toString + "/t"
    val dst = Files.createTempDirectory("pipe_dst").toString + "/t"
    VersionedTable.append(spark, Seq(1, 2, 3).toDF("k"), src)
    VersionedTable.append(spark, Seq(4).toDF("k"), src)
    def evens(df: org.apache.spark.sql.DataFrame) =
      df.where(col("k") % 2 === 0)
    // first tick: full history through the transform
    val v1 = VersionedSink.pipe(spark, src, dst, "mv", evens)
    assert(rows(dst) === Seq(2, 4))
    // replayed tick (crash after commit): no-op, nothing duplicated
    assert(VersionedSink.pipe(spark, src, dst, "mv", evens) === v1)
    assert(rows(dst) === Seq(2, 4))
    // new source data: only the increment is read and shipped
    VersionedTable.append(spark, Seq(5, 6).toDF("k"), src)
    VersionedSink.pipe(spark, src, dst, "mv", evens)
    assert(rows(dst) === Seq(2, 4, 6))
    // a source compaction ships nothing (rewrite, not data)
    VersionedTable.compact(spark, src, numFiles = 1)
    VersionedSink.pipe(spark, src, dst, "mv", evens)
    assert(rows(dst) === Seq(2, 4, 6))
  }

  test("pipeUpsert: incremental materialized aggregate == batch " +
      "recompute, replay-safe") {
    val src = Files.createTempDirectory("mv_src").toString + "/t"
    val dst = Files.createTempDirectory("mv_dst").toString + "/t"
    def tick(): Long = VersionedSink.pipeUpsert(spark, src, dst,
      "counts_mv", "user_id", inc => {
        val delta = inc.groupBy("user_id").agg(count(lit(1)).as("n"))
        val cur = VersionedTable.read(spark, dst,
          schema = Some(delta.schema))
        delta.join(cur.withColumnRenamed("n", "n0"), Seq("user_id"), "left")
          .select(col("user_id"),
            (col("n") + coalesce(col("n0"), lit(0L))).as("n"))
      })
    def counts(): Map[Long, Long] =
      VersionedTable.read(spark, dst).as[(Long, Long)].collect().toMap
    VersionedTable.append(spark,
      Seq(1L, 1L, 2L).toDF("user_id"), src)
    tick()
    assert(counts() === Map(1L -> 2L, 2L -> 1L))
    // crash-replay: same source version re-offered — watermark no-ops it
    tick()
    assert(counts() === Map(1L -> 2L, 2L -> 1L))
    // two more increments, ticked separately; untouched keys carry over
    VersionedTable.append(spark, Seq(1L, 3L).toDF("user_id"), src)
    tick()
    VersionedTable.append(spark, Seq(3L).toDF("user_id"), src)
    tick()
    assert(counts() === Map(1L -> 3L, 2L -> 1L, 3L -> 2L))
    // the view equals the from-scratch batch aggregate
    val batch = VersionedTable.read(spark, src).groupBy("user_id")
      .agg(count(lit(1)).as("n")).as[(Long, Long)].collect().toMap
    assert(counts() === batch)
  }

  test("readChangesCDF: row-level commits emit typed change rows, " +
      "bounded to touched files") {
    val t = Files.createTempDirectory("cdf").toString + "/t"
    VersionedTable.append(spark,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v").coalesce(1), t) // v1
    VersionedTable.update(spark, t, col("k") === 2L,
      Map("v" -> lit("B")))                                               // v2
    VersionedTable.delete(spark, t, col("k") === 3L)                      // v3
    VersionedTable.upsert(spark, Seq((1L, "A"), (9L, "i")).toDF("k", "v"),
      t, "k")                                                             // v4
    VersionedTable.deleteByKeys(spark, t, Seq(9L).toDF("k"))              // v5 (MoR)
    val cdf = VersionedTable.readChangesCDF(spark, t, fromVersion = 1L)
      .select("k", "v", "_change_type", "_commit_version")
      .as[(Long, String, String, Long)].collect().toSet
    assert(cdf === Set(
      (2L, "b", "update_preimage", 2L), (2L, "B", "update_postimage", 2L),
      (3L, "c", "delete", 3L),
      (1L, "a", "delete", 4L), (1L, "A", "insert", 4L),
      (9L, "i", "insert", 4L),
      (9L, "i", "delete", 5L)))
    // the insert-only prefix matches the plain changefeed
    val inserts = VersionedTable.readChangesCDF(spark, t, 0L, 1L)
    assert(inserts.where(col("_change_type") =!= "insert").count() === 0L)
    assert(inserts.count() === 3L)
  }

  test("replicateCDF: a keyed mirror survives update/delete/merge-on-read " +
      "source commits — incremental apply == snapshot, replay-safe") {
    val base = Files.createTempDirectory("repl").toString
    val src = s"$base/src"
    val dst = s"$base/dst"
    def snapshot(t: String) = VersionedTable.read(spark, t)
      .orderBy("k").as[(Long, String)].collect().toSeq
    VersionedTable.append(spark,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v").coalesce(1), src)
    VersionedSink.replicateCDF(spark, src, dst, "mirror", "k")
    assert(snapshot(dst) === snapshot(src))
    // row-level source commits: update + CoW delete + upsert + MoR delete
    VersionedTable.update(spark, src, col("k") === 2L, Map("v" -> lit("B")))
    VersionedTable.delete(spark, src, col("k") === 3L)
    VersionedTable.upsert(spark,
      Seq((1L, "A"), (9L, "i")).toDF("k", "v"), src, "k")
    VersionedTable.deleteByKeys(spark, src, Seq(9L).toDF("k"))
    val v = VersionedSink.replicateCDF(spark, src, dst, "mirror", "k")
    assert(snapshot(dst) === snapshot(src))
    assert(snapshot(dst) === Seq((1L, "A"), (2L, "B")))
    // replay: nothing changed, watermarks hold, dst identical
    assert(VersionedSink.replicateCDF(spark, src, dst, "mirror", "k") === v)
    assert(snapshot(dst) === Seq((1L, "A"), (2L, "B")))
    // delete-then-reinsert across commits lands on the re-insert
    VersionedTable.deleteByKeys(spark, src, Seq(1L).toDF("k"))
    VersionedTable.append(spark, Seq((1L, "a2")).toDF("k", "v"), src)
    VersionedSink.replicateCDF(spark, src, dst, "mirror", "k")
    assert(snapshot(dst) === snapshot(src))
  }

  test("replicateCDF: a range with updates and deletes is one " +
      "destination commit, with no delete layer; a replay is a no-op") {
    val base = Files.createTempDirectory("repl1").toString
    val src = s"$base/src"
    val dst = s"$base/dst"
    def snapshot(t: String) = VersionedTable.read(spark, t)
      .orderBy("k").as[(Long, String)].collect().toSeq
    VersionedTable.append(spark,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v").coalesce(1), src)
    VersionedTable.alterProperties(spark, src,
      Map(VersionedTable.CdcProperty -> "true"))
    VersionedSink.replicateCDF(spark, src, dst, "mirror", "k")
    VersionedTable.update(spark, src, col("k") === 2L, Map("v" -> lit("B")))
    VersionedTable.deleteByKeys(spark, src, Seq(3L).toDF("k"))
    VersionedTable.append(spark, Seq((4L, "d")).toDF("k", "v"), src)
    val v0 = VersionedTable.latest(spark, dst)._1
    val srcV = VersionedSink.replicateCDF(spark, src, dst, "mirror", "k")
    assert(VersionedTable.latest(spark, dst)._1 === v0 + 1)
    assert(snapshot(dst) === Seq((1L, "a"), (2L, "B"), (4L, "d")))
    assert(!VersionedTable.hasPendingEqualityDeletes(spark, dst))
    assert(VersionedTable.lastCommittedEpoch(spark, dst, "mirror") ===
      Some(srcV))
    assert(VersionedSink.replicateCDF(spark, src, dst, "mirror", "k") === srcV)
    assert(VersionedTable.latest(spark, dst)._1 === v0 + 1)
  }

  test("replicateCDF: a mirror left by the two-commit apply with its " +
      "#u watermark past #d resumes without losing the deletes") {
    val base = Files.createTempDirectory("repl2").toString
    val src = s"$base/src"
    val dst = s"$base/dst"
    def snapshot(t: String) = VersionedTable.read(spark, t)
      .orderBy("k").as[(Long, String)].collect().toSeq
    VersionedTable.append(spark,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v").coalesce(1), src)
    VersionedTable.alterProperties(spark, src,
      Map(VersionedTable.CdcProperty -> "true"))
    val v1 = VersionedTable.latest(spark, src)._1
    // the mirror as the upsert + deleteByKeys pair left it at v1
    VersionedTable.upsert(spark, VersionedTable.read(spark, src), dst, "k",
      txn = Some(("mirror#u", v1)))
    VersionedTable.deleteByKeys(spark, dst, Seq.empty[Long].toDF("k"),
      txn = Some(("mirror#d", v1)))
    // a range with an update and a delete, of which only the upsert
    // landed before the crash
    VersionedTable.update(spark, src, col("k") === 2L, Map("v" -> lit("B")))
    VersionedTable.deleteByKeys(spark, src, Seq(3L).toDF("k"))
    val v2 = VersionedTable.latest(spark, src)._1
    VersionedTable.upsert(spark, Seq((2L, "B")).toDF("k", "v"), dst, "k",
      txn = Some(("mirror#u", v2)))
    assert(snapshot(dst).contains((3L, "c")))
    assert(VersionedSink.replicateCDF(spark, src, dst, "mirror", "k") === v2)
    assert(snapshot(dst) === snapshot(src))
    assert(snapshot(dst) === Seq((1L, "a"), (2L, "B")))
    assert(VersionedTable.lastCommittedEpoch(spark, dst, "mirror") === Some(v2))
  }

  test("merge with the change data feed on: replaced rows are update " +
      "pre/postimages, merged-away keys are deletes") {
    val t = Files.createTempDirectory("merge_cdf").toString + "/t"
    VersionedTable.append(spark,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v").coalesce(1), t)
    VersionedTable.alterProperties(spark, t,
      Map(VersionedTable.CdcProperty -> "true"))
    val v0 = VersionedTable.latest(spark, t)._1
    val v = VersionedTable.merge(spark, t, "k",
      Seq((1L, "A"), (9L, "i")).toDF("k", "v"), Seq(3L, 7L).toDF("k"))
    assert(v === v0 + 1)
    assert(!VersionedTable.hasPendingEqualityDeletes(spark, t))
    val cdf = VersionedTable.readChangesCDF(spark, t, fromVersion = v0)
      .select("k", "v", "_change_type", "_commit_version")
      .as[(Long, String, String, Long)].collect().toSet
    assert(cdf === Set(
      (1L, "a", "update_preimage", v), (1L, "A", "update_postimage", v),
      (9L, "i", "insert", v), (3L, "c", "delete", v)))
    assert(VersionedTable.read(spark, t).orderBy("k").as[(Long, String)]
      .collect().toSeq === Seq((1L, "A"), (2L, "b"), (9L, "i")))
  }

  test("upsertExactlyOnce: CDC apply — merge per batch, replay-safe") {
    val t = Files.createTempDirectory("vsink_cdc").toString + "/t"
    val sink = VersionedSink.upsertExactlyOnce(t, "k", "cdc")
    def state: Map[Int, String] =
      VersionedTable.read(spark, t)
        .as[(Int, String)].collect().toMap
    sink(Seq((1, "a"), (2, "b")).toDF("k", "v"), 0L)
    sink(Seq((2, "b2"), (3, "c")).toDF("k", "v"), 1L)
    assert(state === Map(1 -> "a", 2 -> "b2", 3 -> "c"))
    // crash replay of batch 1: must not double-apply (or resurrect "b")
    sink(Seq((2, "b2"), (3, "c")).toDF("k", "v"), 1L)
    assert(state === Map(1 -> "a", 2 -> "b2", 3 -> "c"))
    assert(VersionedTable.lastCommittedEpoch(spark, t, "cdc") === Some(1L))
    // a batch with no keyed rows still advances the watermark
    sink(spark.emptyDataset[(Int, String)].toDF("k", "v"), 2L)
    assert(VersionedTable.lastCommittedEpoch(spark, t, "cdc") === Some(2L))
  }

  test("end-to-end: a real streaming query lands each batch exactly once") {
    val t = Files.createTempDirectory("vsink4").toString + "/t"
    val ckpt = Files.createTempDirectory("vsink4_ckpt").toString
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Int]
    mem.addData(1, 2, 3)
    val q = VersionedSink.start(
      mem.toDF().withColumnRenamed("value", "k"), t, "stream_q", ckpt)
    q.awaitTermination(60000)
    // restart from the same checkpoint with more data: only the new batch
    mem.addData(4, 5)
    val q2 = VersionedSink.start(
      mem.toDF().withColumnRenamed("value", "k"), t, "stream_q", ckpt)
    q2.awaitTermination(60000)
    assert(rows(t) === Seq(1, 2, 3, 4, 5))
  }
}
