package graft.streaming

import java.math.BigInteger
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** Streaming two-sided CUSUM change-point detection — the stateful
  * counterpart of `Analytics.cusum` (ts2), folded by [[SealedSeries]].
  *
  * Parity contract with the batch operator: the batch side computes the
  * floor-at-zero CUSUM recurrence in closed form (running deviation sum
  * minus its zero-clamped prefix min, all exact DECIMAL); the stream
  * maintains the SAME quantities incrementally — running sums and their
  * prefix minima in exact cents — so over the watermark-sealed range the
  * alarm rows, their s_pos/s_neg decimals, and the side labels are
  * bit-equal to ts2 (CusumStreamSpec pins it). Unlike the z-score
  * detector, CUSUM state never re-reads a trailing window: per key it is
  * FOUR exact numbers — O(1) in stream length, the property that lets
  * one state store follow 100 TB/day.
  */
object CusumStream {

  /** The CUSUM accumulators in exact cents — running deviation sums and
    * their running minima (the closed form's prefix mins). Cents ride as
    * strings: they are unbounded integers (DECIMAL(38,2) territory on
    * the batch side) and a string field survives the encoder without
    * precision negotiation.
    */
  case class Sums(wp: String, wn: String, minWp: String, minWn: String)

  case class Alarm(user_id: Long, event_id: Long, ts: Timestamp,
      value: Double, s_pos: java.math.BigDecimal,
      s_neg: java.math.BigDecimal, side: String)

  /** Emit alarms on a stream. `target`/`slack`/`threshold` carry scale
    * ≤ 2 (they meet DECIMAL(18,2) observations; a finer scale would
    * break cents-exactness). Semantics per key in (ts, event_id) order:
    *
    *   W⁺ += x − (target + slack);  s⁺ = W⁺ − min(0, min prefix W⁺)
    *   W⁻ += (target − slack) − x;  s⁻ = W⁻ − min(0, min prefix W⁻)
    *
    * alarm when either side exceeds `threshold`, labelled hi/lo/both
    * exactly as the batch operator.
    */
  def alarms(
      spark: SparkSession,
      events: DataFrame,
      timeCol: String,
      valueCol: String,
      target: java.math.BigDecimal,
      slack: java.math.BigDecimal,
      threshold: java.math.BigDecimal,
      watermark: String = "1 hour"): Dataset[Alarm] = {
    require(slack.signum >= 0, s"slack must be >= 0, got $slack")
    require(threshold.signum > 0, s"threshold must be > 0, got $threshold")
    require(target.scale <= 2 && slack.scale <= 2 && threshold.scale <= 2,
      "target/slack/threshold must have scale <= 2 (cents-exact contract)")

    val kUp = BigInteger.valueOf(
      target.add(slack).movePointRight(2).longValueExact())
    val kDn = BigInteger.valueOf(
      target.subtract(slack).movePointRight(2).longValueExact())
    val thCents = threshold.movePointRight(2).toBigIntegerExact

    SealedSeries.fold(spark, events, timeCol, valueCol, watermark,
      Sums("0", "0", "0", "0")) { (acc, o) =>
      val c = BigInteger.valueOf(o.cents)
      val wp = new BigInteger(acc.wp).add(c.subtract(kUp))
      val wn = new BigInteger(acc.wn).add(kDn.subtract(c))
      // prefix min clamped at the virtual W_0 = 0 — the minima start at
      // 0 and only decrease, so min(minW, 0) == minW
      val minWp = wp.min(new BigInteger(acc.minWp))
      val minWn = wn.min(new BigInteger(acc.minWn))
      val sPos = wp.subtract(minWp)
      val sNeg = wn.subtract(minWn)
      val hi = sPos.compareTo(thCents) > 0
      val lo = sNeg.compareTo(thCents) > 0
      (Sums(wp.toString, wn.toString, minWp.toString, minWn.toString),
        Option.when(hi || lo)(Alarm(o.user_id, o.event_id, o.ts, o.value,
          new java.math.BigDecimal(sPos, 2),
          new java.math.BigDecimal(sNeg, 2),
          if (hi && lo) "both" else if (hi) "hi" else "lo")))
    }
  }
}
