package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.SparkEntry

/** One analyst running a fixed mix of `SparkEntry.queries` over read-only
  * tables, in an order the seed permutes every round. An op is building
  * the query's DataFrame plus collecting its rows. Set-up runs every
  * query once. Every execution must return the rows of the query's first
  * timed execution, and those rows are dumped for the DuckDB oracle
  * check.
  */
final class Dashboard(ctx: Ctx) extends Workload {
  private val tables = s"${ctx.inputs}/tables"
  private val mix = ctx.plan.get("mix").elements().asScala.map(_.asText).toSeq
  private val first = mutable.LinkedHashMap.empty[String, (StructType, Array[Row])]

  override def setup(spark: SparkSession, rep: Int): Unit =
    Workload.slice(mix, rep).foreach(q =>
      SparkEntry.queries(q)(spark, tables).collect())

  override def round(spark: SparkSession, r: Int): Boolean = {
    val order = new scala.util.Random(ctx.seed * 1000003L + r).shuffle(mix)
    order.foreach { q =>
      ctx.op("query", q) {
        val df = ctx.tracer.span("SparkEntry.build")(
          SparkEntry.queries(q)(spark, tables))
        val rows = ctx.tracer.span("Dataset.collect")(df.collect())
        val (_, want) = first.getOrElseUpdate(q, (df.schema, rows))
        ctx.check(rows.sameElements(want),
          s"$q returned other rows than its first execution")
        rows.length.toLong
      }
    }
    true
  }

  override def finish(spark: SparkSession): Unit = {
    first.foreach { case (q, (schema, rows)) =>
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"${ctx.work}/results/$q")
    }
    val oracles = new com.fasterxml.jackson.databind.ObjectMapper()
      .createObjectNode()
    mix.foreach(q => SparkEntry.oracleSql.get(q).foreach(oracles.put(q, _)))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"${ctx.work}/results/oracle_sql.json"),
      oracles.toString)
  }

  override def counters(spark: SparkSession): Map[String, Double] = {
    val files = new java.io.File(tables).listFiles().count(_.isFile)
    Map("lake.files" -> files.toDouble / 8)
  }
}
