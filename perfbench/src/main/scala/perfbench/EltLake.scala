package perfbench

import org.apache.spark.sql.SparkSession

/** One scheduled cycle of the lake per round: an ELT tick lands the feeds
  * ([[EltTicks]]), then the versioned table takes its commits, the view
  * refreshes, the mirror catches up and both are read ([[LakeCommits]]).
  */
final class EltLake(ctx: Ctx) extends Workload {
  private val elt = new EltTicks(ctx)
  private val lake = new LakeCommits(ctx)

  override def setup(spark: SparkSession, rep: Int): Unit = {
    elt.setup(spark, rep)
    lake.setup(spark, rep)
  }

  override def load(spark: SparkSession): Unit = {
    elt.load(spark)
    lake.load(spark)
  }

  override def round(spark: SparkSession, r: Int): Boolean =
    elt.round(spark, r) && lake.round(spark, r)

  override def finish(spark: SparkSession): Unit = {
    elt.finish(spark)
    lake.finish(spark)
  }

  override def counters(spark: SparkSession): Map[String, Double] = {
    val (e, l) = (elt.counters(spark), lake.counters(spark))
    def both(k: String) = e(k) + l(k)
    l ++ Map(
      "lake.files" -> both("lake.files") / 2,
      "write_amp" -> both("written_bytes") / both("user_bytes"))
  }
}
