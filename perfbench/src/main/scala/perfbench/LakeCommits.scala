package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, sum}
import org.apache.spark.sql.types.DecimalType

import graft.operators.IncrementalView
import graft.sources.VersionedTable
import graft.streaming.VersionedSink

import Disk.du

/** Writes beside reads on one versioned table with the change feed on: an
  * incremental view aggregates it and a CDC mirror replicates it. A round
  * appends, upserts and deletes by key, refreshes the view, catches the
  * mirror up, and reads the snapshot and the view; a compaction ends the
  * run.
  */
final class LakeCommits(ctx: Ctx) extends Workload {
  private val plan = ctx.plan.get("rounds").elements().asScala.toSeq
  private var root: String = _
  private def table = s"$root/table"
  private def view = s"$root/view"
  private def mirror = s"$root/mirror"
  private def input(name: String) = s"${ctx.inputs}/lake/$name.parquet"

  // per-layer counters, accumulated over traced rounds
  private val layer = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  private def bump(k: String, v: Double): Unit =
    layer(k) = layer.getOrElse(k, 0.0) + v

  private def catchUp(spark: SparkSession): Long = {
    val q = VersionedSink.startReplicateCDF(spark, table, mirror, "mirror",
      "event_id", s"$root/mirror_ckpt")
    q.awaitTermination()
    q.exception.foreach(e => throw e)
    q.recentProgress.map(_.numInputRows).sum
  }

  /** A table with the change feed on, its view, and its mirror in sync. */
  private def create(spark: SparkSession, dir: String, seed: String): Unit = {
    root = dir
    val rows = spark.read.parquet(input(seed))
    VersionedTable.create(spark, table, rows.schema)
    VersionedTable.alterProperties(spark, table,
      Map(VersionedTable.CdcProperty -> "true"))
    VersionedTable.append(spark, rows, table)
    IncrementalView.create(spark, table, view, Seq("event_type"), Seq("value"))
    catchUp(spark)
  }

  /** Warms every round op on a small scratch lake: the first slice
    * creates it, the next two change it, then refresh, sync and read it.
    */
  override def setup(spark: SparkSession, rep: Int): Unit = {
    root = s"${ctx.work}/warm"
    val warm = spark.read.parquet(input("warm"))
    rep match {
      case 0 =>
        create(spark, root, "warm_seed")
        VersionedTable.append(spark, warm, table)
      case 1 =>
        VersionedTable.upsert(spark, warm, table, "event_id")
        VersionedTable.deleteByKeys(spark, table, warm.select("event_id"))
      case _ =>
        IncrementalView.refresh(spark, view)
        catchUp(spark)
        readSnapshot(spark)
        IncrementalView.read(spark, view).collect()
    }
  }

  override def load(spark: SparkSession): Unit = {
    create(spark, s"${ctx.work}/lake", "seed")
    loadedBytes = du(root)._1
  }

  private def readSnapshot(spark: SparkSession): (Long, java.math.BigDecimal) = {
    val r = VersionedTable.read(spark, table)
      .agg(count("*"), sum(col("value").cast(DecimalType(18, 2)))).head()
    (r.getLong(0), r.getDecimal(1))
  }

  // bytes under the lake after loading, and of the round inputs committed
  private var loadedBytes = 0L
  private var inputBytes = 0L

  /** A commit op; while tracing, the table directory is listed before and
    * after it (outside the op's time) for the versions, manifest bytes,
    * files and bytes the commit added.
    */
  private def commit(name: String, rows: Long)(body: => Long): Unit = {
    val traced = ctx.tracer.enabled
    val before = if (traced) Some((VersionedTable.versions(ctx.spark, table).size,
      du(s"$table/_commits")._1, du(table))) else None
    ctx.op("commit", name) {
      ctx.tracer.span(s"sources.VersionedTable.$name")(body)
      rows
    }
    before.foreach { case (v0, m0, (b0, f0)) =>
      val (b1, f1) = du(table)
      bump("sources.VersionedTable.versions", VersionedTable.versions(
        ctx.spark, table).size - v0)
      bump("sources.VersionedTable.manifest_bytes",
        du(s"$table/_commits")._1 - m0)
      bump("sources.VersionedTable.files_added", f1 - f0)
      bump("sources.VersionedTable.bytes_added", b1 - b0)
      bump("sources.VersionedTable.commits", 1)
    }
  }

  override def round(spark: SparkSession, r: Int): Boolean = {
    if (r >= plan.size) return false
    val want = plan(r)
    val tag = f"$r%03d"
    val app = spark.read.parquet(input(s"append_$tag"))
    val ups = spark.read.parquet(input(s"upsert_$tag"))
    val del = spark.read.parquet(input(s"delete_$tag"))
    inputBytes += Seq("append", "upsert", "delete").map(k =>
      du(input(s"${k}_$tag"))._1).sum
    commit("append", app.count())(VersionedTable.append(spark, app, table))
    commit("upsert", ups.count())(VersionedTable.upsert(spark, ups, table,
      "event_id"))
    commit("deleteByKeys", del.count())(VersionedTable.deleteByKeys(spark,
      table, del))

    val viewV0 = if (ctx.tracer.enabled) VersionedTable.versions(spark, view).size
      else 0
    ctx.op("refresh", "IncrementalView.refresh") {
      val n = ctx.tracer.span("operators.IncrementalView.refresh")(
        IncrementalView.refresh(spark, view))
      ctx.check(n == 3, s"refresh applied $n source versions, expected 3")
      n
    }
    if (ctx.tracer.enabled) {
      bump("operators.IncrementalView.refreshes", 1)
      bump("operators.IncrementalView.refresh_commits",
        VersionedTable.versions(spark, view).size - viewV0)
    }

    ctx.op("mirror", "VersionedSink.startReplicateCDF") {
      ctx.tracer.span("streaming.VersionedSink.catchUp")(catchUp(spark))
    }

    ctx.op("read", "VersionedTable.read") {
      val (n, s) = ctx.tracer.span("sources.VersionedTable.read")(
        readSnapshot(spark))
      val wantN = want.get("rows").asLong
      val wantS = new java.math.BigDecimal(want.get("value_sum").asText)
      ctx.check(n == wantN && s.compareTo(wantS) == 0,
        s"snapshot has $n rows summing to $s, expected $wantN / $wantS")
      n
    }

    ctx.op("read", "IncrementalView.read") {
      val rows = ctx.tracer.span("operators.IncrementalView.read")(
        IncrementalView.read(spark, view).collect())
      val got = rows.map(x => x.getAs[String]("event_type") ->
        (x.getAs[Long]("n_rows"), x.getAs[Long]("cnt_value"),
          Option(x.getAs[java.lang.Double]("sum_value")).map(_.doubleValue)))
        .toMap
      val groups = want.get("groups")
      val exp = groups.fieldNames().asScala.map { k =>
        val g = groups.get(k)
        val s = new java.math.BigDecimal(g.get(2).asText)
        k -> (g.get(0).asLong, g.get(1).asLong,
          if (g.get(1).asLong == 0) None else Some(s.doubleValue))
      }.toMap
      ctx.check(got == exp, s"view $got differs from the groups $exp")
      rows.length.toLong
    }
    true
  }

  override def finish(spark: SparkSession): Unit = {
    commit("compact", 0)(VersionedTable.compact(spark, table, 4))
    // dumps for the independent check of the final state
    def dump(df: DataFrame, name: String): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"${ctx.work}/results/$name")
    dump(VersionedTable.read(spark, table), "snapshot")
    dump(VersionedTable.read(spark, mirror), "mirror")
    dump(IncrementalView.read(spark, view), "view")
  }

  override def counters(spark: SparkSession): Map[String, Double] = {
    val files = VersionedTable.read(spark, table).inputFiles.length.toDouble
    layer.toMap ++ Map(
      "lake.files" -> files,
      "written_bytes" -> (du(root)._1 - loadedBytes).toDouble,
      "user_bytes" -> inputBytes.toDouble)
  }
}
