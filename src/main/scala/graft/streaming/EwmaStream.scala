package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** Streaming EWMA — the stateful counterpart of `Analytics.ewma` (ts3),
  * folded by [[SealedSeries]].
  *
  * Parity contract with the batch operator: the batch side folds
  * e₁ = x₁, e = α·x + (1−α)·e over the (ts, event_id)-ordered,
  * DECIMAL(18,2)-stabilized series; the stream applies the IDENTICAL
  * IEEE step to sealed rows, carrying only the previous smoothed value —
  * so the emitted `ewma` doubles are bit-equal to ts3 over the sealed
  * range (EwmaStreamSpec pins it). Per-key state is ONE double — O(1) in
  * stream length.
  */
object EwmaStream {

  case class Point(user_id: Long, event_id: Long, ts: Timestamp,
      value: Double, ewma: Double)

  def smoothed(
      spark: SparkSession,
      events: DataFrame,
      timeCol: String,
      valueCol: String,
      alpha: Double,
      watermark: String = "1 hour"): Dataset[Point] = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0, 1], got $alpha")

    // computed ONCE, exactly as the batch plan's lit(1.0 - alpha)
    val oneMinus = 1.0 - alpha

    SealedSeries.fold(spark, events, timeCol, valueCol, watermark,
      Option.empty[Double]) { (prev, o) =>
      // cents → double is the same correctly-rounded value as the batch
      // side's DECIMAL(18,2) → double cast
      val x = o.cents / 100.0
      val e = prev.fold(x)(p => alpha * x + oneMinus * p)
      (Some(e), Some(Point(o.user_id, o.event_id, o.ts, x, e)))
    }
  }
}
