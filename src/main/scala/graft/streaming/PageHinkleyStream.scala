package graft.streaming

import java.math.{BigInteger, RoundingMode, BigDecimal => JBigDecimal}
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** Streaming two-sided Page–Hinkley drift detection — the stateful
  * counterpart of `Analytics.pageHinkley` (ts17), completing the
  * detector-twin family (anomaly/CUSUM/EWMA/Holt/PH), folded by
  * [[SealedSeries]].
  *
  * Parity contract with the batch operator: the batch side quantizes
  * each running-mean deviation g_t = x_t − S_t/t − δ to
  * DECIMAL(38,12), window-sums them exactly, and subtracts the exact
  * prefix min (inclusive, no virtual zero). The stream maintains the
  * SAME quantities incrementally — the exact cents sum S_t and count t
  * reproduce the identical mean division, the identical double g_t,
  * the identical scale-12 quantization (HALF_UP, Spark's Decimal cast
  * rounding), and exact scale-12 running sums/minima — so sealed alarm
  * rows are bit-equal to ts17 (PageHinkleyStreamSpec pins it). Per-key
  * state is FIVE exact numbers — O(1) in stream length.
  */
object PageHinkleyStream {

  /** The PH accumulators — cents sum / count for the running mean, and
    * the scale-12 running deviation sums with their inclusive prefix
    * minima (None = no sealed row yet; the first M initializes its own
    * min). Unbounded integers ride as strings (the [[CusumStream]]
    * encoder discipline).
    */
  case class Sums(sumCents: String, n: Long, mp: String, mn: String,
      minMp: Option[String], minMn: Option[String])

  case class Alarm(user_id: Long, event_id: Long, ts: Timestamp,
      value: Double, ph_pos: Double, ph_neg: Double, side: String)

  /** Emit drift alarms on a stream. `lambda` carries scale ≤ 2 and is
    * compared at the state's scale 12 exactly; `delta` is the batch
    * operator's double slack. Semantics per key in (ts, event_id)
    * order: M± accumulate the quantized deviations against the
    * inclusive running mean; alarm when M − min(prefix M) > λ,
    * labelled hi/lo/both exactly as ts17.
    */
  def alarms(
      spark: SparkSession,
      events: DataFrame,
      timeCol: String,
      valueCol: String,
      delta: Double,
      lambda: java.math.BigDecimal,
      watermark: String = "1 hour"): Dataset[Alarm] = {
    require(delta >= 0, s"delta must be >= 0, got $delta")
    require(lambda.signum > 0, s"lambda must be > 0, got $lambda")
    require(lambda.scale <= 2,
      "lambda must have scale <= 2 (compared exactly at scale 12)")

    val lambda12 = lambda.movePointRight(12).toBigIntegerExact
    // the batch side's exact quantization: double → scale-12 HALF_UP
    // (Spark's Decimal cast rounding)
    def q12(d: Double): BigInteger =
      JBigDecimal.valueOf(d).setScale(12, RoundingMode.HALF_UP)
        .unscaledValue()
    def r6(d: Double): Double =
      JBigDecimal.valueOf(d).setScale(6, RoundingMode.HALF_UP)
        .doubleValue() + 0.0

    SealedSeries.fold(spark, events, timeCol, valueCol, watermark,
      Sums("0", 0L, "0", "0", None, None)) { (acc, o) =>
      val sum = new BigInteger(acc.sumCents).add(BigInteger.valueOf(o.cents))
      val n = acc.n + 1
      // identical double chain to the batch plan: decimal→double casts
      // are correctly rounded in both, then (x − mean) − δ
      val x = new JBigDecimal(BigInteger.valueOf(o.cents), 2).doubleValue()
      val mean = new JBigDecimal(sum, 2).doubleValue() / n.toDouble
      val mp = new BigInteger(acc.mp).add(q12(x - mean - delta))
      val mn = new BigInteger(acc.mn).add(q12(mean - x - delta))
      // inclusive prefix min, NO virtual zero (the ts17 frame)
      val minMp = acc.minMp.fold(mp)(m => mp.min(new BigInteger(m)))
      val minMn = acc.minMn.fold(mn)(m => mn.min(new BigInteger(m)))
      val php = mp.subtract(minMp)
      val phn = mn.subtract(minMn)
      val hi = php.compareTo(lambda12) > 0
      val lo = phn.compareTo(lambda12) > 0
      (Sums(sum.toString, n, mp.toString, mn.toString,
        Some(minMp.toString), Some(minMn.toString)),
        Option.when(hi || lo)(Alarm(o.user_id, o.event_id, o.ts, o.value,
          r6(new JBigDecimal(php, 12).doubleValue()),
          r6(new JBigDecimal(phn, 12).doubleValue()),
          if (hi && lo) "both" else if (hi) "hi" else "lo")))
    }
  }
}
