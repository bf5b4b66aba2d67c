package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** Streaming Holt double exponential smoothing — the stateful
  * counterpart of `Analytics.holt` (ts8), one more state double than
  * [[EwmaStream]] (level AND trend), folded by [[SealedSeries]].
  *
  * Parity contract with the batch operator: the batch side folds
  *   l₁ = x₁, b₁ = 0;
  *   l = α·x + (1−α)·(l′+b′), b = β·(l−l′) + (1−β)·b′
  * over the (ts, event_id)-ordered DECIMAL(18,2)-stabilized series; the
  * stream applies the IDENTICAL IEEE steps to sealed rows, so emitted
  * level/trend doubles are bit-equal to ts8 over the sealed range
  * (HoltStreamSpec pins it). Per-key state is TWO doubles — O(1) in
  * stream length.
  */
object HoltStream {

  case class Point(user_id: Long, event_id: Long, ts: Timestamp,
      value: Double, level: Double, trend: Double)

  def smoothed(
      spark: SparkSession,
      events: DataFrame,
      timeCol: String,
      valueCol: String,
      alpha: Double,
      beta: Double,
      watermark: String = "1 hour"): Dataset[Point] = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0, 1], got $alpha")
    require(beta >= 0 && beta <= 1, s"beta must be in [0, 1], got $beta")

    // computed ONCE, exactly as the batch plan's lit(1.0 - alpha/beta)
    val a1 = 1.0 - alpha
    val g1 = 1.0 - beta

    // accumulator: (level, trend) once the first row sealed
    SealedSeries.fold(spark, events, timeCol, valueCol, watermark,
      Option.empty[(Double, Double)]) { (lt, o) =>
      val x = o.cents / 100.0
      val (level, trend) = lt.fold((x, 0.0)) { case (l, b) =>
        val nl = alpha * x + a1 * (l + b)
        (nl, beta * (nl - l) + g1 * b)
      }
      (Some((level, trend)),
        Some(Point(o.user_id, o.event_id, o.ts, x, level, trend)))
    }
  }
}
