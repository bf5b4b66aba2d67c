package graft

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Analytics
import graft.streaming.{AnomalyStream, CusumStream, EwmaStream, HoltStream,
  PageHinkleyStream}

/** The five streaming detector twins against their batch operators over
  * ONE multi-batch feed that exercises the sealing rule's edges:
  *
  *  - batch 1 carries three keys (spikes for the z-score gate, level
  *    shifts for CUSUM/Page–Hinkley) and ends at 00:30, so the
  *    watermark (10 minutes) moves to 00:20 and a no-data batch seals
  *    every row strictly below it;
  *  - batch 2 carries a row exactly AT that watermark (00:20:00) on key
  *    1, with an event_id below the batch-1 row at the same instant; a
  *    row out of order but inside the watermark (key 2, 00:24:30); NaN,
  *    ±Inf, a DECIMAL(18,2) overflow, a null value and a null key;
  *  - batch 3 is a far-future marker on its own key, which seals the
  *    rest.
  *
  * The boundary tie is pinned as the engine resolves it: the stateful
  * operator's late-row filter drops every row whose event time is AT
  * or below the watermark, so the at-watermark row never reaches a
  * detector, and it is excluded from the batch side too. Should an
  * engine upgrade start admitting it, the EWMA and Holt cases (which
  * emit every sealed row) fail.
  *
  * Each detector's sealed output must equal its batch operator over the
  * admitted rows with null keys filtered (a typed long key cannot hold
  * null), and no (user_id, event_id) may be emitted twice.
  */
class DetectorContractSpec extends SparkTestBase {

  private val schema = StructType(Seq(
    StructField("user_id", LongType), StructField("event_id", LongType),
    StructField("ts", TimestampType), StructField("value", DoubleType)))

  private val header = "user_id,event_id,ts,value\n"
  private val marker = 99L
  private val atWatermark = 0L // event_id of the at-watermark row

  private def at(min: Int, sec: Int = 0) =
    "2024-05-01 00:%02d:%02d".format(min, sec)

  // key 1: a jittered series with spikes; key 2: an upward level shift;
  // key 3: a downward one. Fractions like .37/.13 make any drift in the
  // IEEE chains visible.
  private def v1(i: Int) =
    if (i == 12) "40.00" else if (i == 27) "-20.00"
    else "%d.%02d".format(5 + i * 7 % 3, i * 37 % 100)
  private def v2(i: Int) =
    "%d.%02d".format(if (i <= 15) 5 else 9, i * 13 % 100)
  private def v3(i: Int) =
    "%d.%02d".format(if (i <= 15) 5 else 1, i * 29 % 100)
  private def series(range: Range) = range.flatMap(i => Seq(
    s"1,$i,${at(i)},${v1(i)}",
    s"2,${100 + i},${at(i)},${v2(i)}",
    s"3,${200 + i},${at(i)},${v3(i)}"))

  private val batches: Seq[Seq[String]] = Seq(
    series(1 to 30),
    Seq(
      s"1,$atWatermark,${at(20)},30.00", // exactly AT the watermark
      s"2,150,${at(24, 30)},12.50" // out of order, inside the watermark
    ) ++ series(31 to 45) ++ Seq(
      s"1,60,${at(33, 30)},NaN",
      s"2,160,${at(34, 30)},Inf",
      s"3,260,${at(35, 30)},-Inf",
      s"1,61,${at(36, 30)},1.0E17",
      s"2,161,${at(37, 30)},",
      s",70,${at(38, 30)},50.00"),
    Seq(s"$marker,999,2024-05-01 06:00:00,5.0"))

  private case class Detector(name: String,
      stream: DataFrame => DataFrame,
      batch: DataFrame => DataFrame,
      cols: Seq[Column])

  private val base = Seq(col("user_id"), col("event_id"), col("ts"),
    col("value"))
  private def cents(c: String) =
    col(c).cast(DecimalType(38, 2)).cast(StringType).as(c)
  private val bd = new java.math.BigDecimal(_: String)

  private val detectors = Seq(
    Detector("AnomalyStream ~ rollingZScoreAnomalies",
      AnomalyStream.anomalies(spark, _, "ts", "value", lookback = 6,
        zThreshold = 1.5, minObs = 3, watermark = "10 minutes").toDF(),
      Analytics.rollingZScoreAnomalies(_, Seq("user_id"), "ts", "value",
        lookback = 6, zThreshold = 1.5, minObs = 3,
        tieBreak = Seq("event_id")),
      base :+ col("z")),
    Detector("CusumStream ~ cusum",
      CusumStream.alarms(spark, _, "ts", "value", bd("5.00"), bd("0.50"),
        bd("3.00"), watermark = "10 minutes").toDF(),
      Analytics.cusum(_, Seq("user_id"), "ts", "value", bd("5.00"),
        bd("0.50"), bd("3.00"), tieBreak = Seq("event_id")),
      base ++ Seq(cents("s_pos"), cents("s_neg"), col("side"))),
    Detector("EwmaStream ~ ewma",
      EwmaStream.smoothed(spark, _, "ts", "value", alpha = 0.25,
        watermark = "10 minutes").toDF(),
      Analytics.ewma(_, Seq("user_id"), "ts", "value", alpha = 0.25,
        tieBreak = Seq("event_id")),
      base :+ col("ewma")),
    Detector("HoltStream ~ holt",
      HoltStream.smoothed(spark, _, "ts", "value", alpha = 0.5,
        beta = 0.25, watermark = "10 minutes").toDF(),
      Analytics.holt(_, Seq("user_id"), "ts", "value", alpha = 0.5,
        beta = 0.25, tieBreak = Seq("event_id")),
      base ++ Seq(col("level"), col("trend"))),
    Detector("PageHinkleyStream ~ pageHinkley",
      PageHinkleyStream.alarms(spark, _, "ts", "value", delta = 0.1,
        lambda = bd("2.00"), watermark = "10 minutes").toDF(),
      Analytics.pageHinkley(_, Seq("user_id"), "ts", "value",
        delta = 0.1, lambda = bd("2.00"), tieBreak = Seq("event_id")),
      base ++ Seq(col("ph_pos"), col("ph_neg"), col("side"))))

  /** Rows in (user_id, event_id) order, rendered exactly: a double's
    * string form round-trips, so equal strings mean equal bits. */
  private def render(df: DataFrame, cols: Seq[Column]): Seq[String] =
    df.select(cols: _*).orderBy("user_id", "event_id").collect()
      .map(_.toSeq.mkString("|")).toSeq

  detectors.zipWithIndex.foreach { case (d, n) =>
    test(s"${d.name}: sealed output equals the batch operator, " +
        "each row once") {
      val dir = Files.createTempDirectory("detector_contract")
      val src = dir.resolve("src")
      Files.createDirectories(src)
      val qn = s"detector_contract_$n"
      val q = d.stream(spark.readStream.option("header", "true")
          .schema(schema).csv(src.toString))
        .writeStream.outputMode("append").format("memory").queryName(qn)
        .option("checkpointLocation", dir.resolve("ckpt").toString)
        .start()
      try {
        // one file per micro-batch; processAllAvailable also waits for
        // the no-data batch a watermark move schedules
        batches.zipWithIndex.foreach { case (rows, i) =>
          Files.writeString(src.resolve(s"b$i.csv"),
            header + rows.mkString("\n") + "\n")
          q.processAllAvailable()
        }
      } finally q.stop()

      val got = spark.table(qn).where(col("user_id") =!= marker)
      val keys = got.select("user_id", "event_id").collect().toSeq
      assert(keys.distinct.size === keys.size, "a row was emitted twice")

      val all = spark.read.option("header", "true").schema(schema)
        .csv(src.toString)
        .where(col("user_id").isNotNull && col("user_id") =!= marker &&
          col("event_id") =!= atWatermark)
      val want = render(d.batch(all), d.cols)
      assert(want.nonEmpty, s"${d.name}: the feed must exercise output")
      assert(render(got, d.cols) === want)
      spark.catalog.dropTempView(qn)
    }
  }
}
