package graft.streaming

import java.sql.Timestamp

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.LongType

/** The one sealed-series fold behind the streaming detector twins
  * ([[AnomalyStream]], [[CusumStream]], [[EwmaStream]], [[HoltStream]],
  * [[PageHinkleyStream]]). A twin supplies an accumulator and a per-row
  * step; this fold owns everything that makes the twin bit-equal to its
  * batch operator over the watermark-sealed range:
  *
  *  - Projection: `user_id` and `event_id` cast to long, the time column
  *    as `ts`, the measure as a double. A row with any of them null is
  *    dropped, not job-fatal. Null keys cannot enter the typed long key,
  *    while a batch window keeps them as their own partition: filter null
  *    keys on the batch side before comparing.
  *  - Admission: only values that stabilize to DECIMAL(18,2)
  *    ([[toCents]]) enter, the observation contract every batch twin
  *    applies through its stabilizing cast.
  *  - Sealing: a key's pending events fold once the watermark passes
  *    them, strictly below it, in (ts, event_id) order. The engine's
  *    late-row filter drops every row at or below the watermark an
  *    earlier micro-batch sealed under (DetectorContractSpec pins the
  *    at-watermark tie), so a sealed prefix never gains a row and each
  *    event is folded and emitted exactly once.
  *  - Wake: an event-time timeout at the oldest pending event, so sealing
  *    does not wait for new data on the key.
  *
  * Per-key state is the pending events (bounded by the watermark
  * horizon) plus the twin's accumulator. Scale shape: one hash shuffle
  * of narrow rows per micro-batch.
  */
private[streaming] object SealedSeries {

  case class Event(user_id: Long, event_id: Long, ts: Timestamp,
      value: Double)

  /** A sealed, admitted observation: `value` is the raw double, `cents`
    * its DECIMAL(18,2) stabilization. */
  case class Obs(user_id: Long, event_id: Long, us: Long, value: Double,
      cents: Long) {
    def ts: Timestamp = TimeCodec.microsToTs(us)
  }

  /** Pending = (micros, event_id, raw value); cents are re-derived at
    * seal time. */
  case class KeyState[A](pending: List[(Long, Long, Double)], acc: A)

  /** Round a double to exact cents — the value the batch path's
    * non-ANSI CAST(v AS DECIMAL(18,2)) produces, or None where that
    * cast yields null (NaN, ±Inf, |v| beyond DECIMAL(18,2)).
    *
    * Spark casts via the double's SHORTEST decimal representation
    * (BigDecimal.valueOf), not its exact binary expansion: 2.675
    * (binary 2.67499…) must round to 2.68, exactly as the engine does.
    */
  def toCents(v: Double): Option[Long] = {
    if (java.lang.Double.isNaN(v) || java.lang.Double.isInfinite(v))
      return None
    val c = java.math.BigDecimal.valueOf(v)
      .setScale(2, java.math.RoundingMode.HALF_UP)
    if (c.precision - c.scale > 16) None // DECIMAL(18,2) overflow
    else Some(c.unscaledValue().longValueExact())
  }

  /** Fold each key's sealed observations through `step`, starting from
    * `zero`; a step emits zero or one output row. */
  def fold[A: TypeTag, O <: Product : TypeTag](
      spark: SparkSession,
      events: DataFrame,
      timeCol: String,
      valueCol: String,
      watermark: String,
      zero: A)(step: (A, Obs) => (A, Option[O])): Dataset[O] = {
    import spark.implicits._
    import TimeCodec.tsToMicros

    events
      .withWatermark(timeCol, watermark)
      .select(col("user_id").cast(LongType).as("user_id"),
        col("event_id").cast(LongType).as("event_id"),
        col(timeCol).as("ts"),
        col(valueCol).cast("double").as("value"))
      .where(col("user_id").isNotNull && col("event_id").isNotNull &&
        col("ts").isNotNull && col("value").isNotNull)
      .as[Event]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[KeyState[A], O](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, batch: Iterator[Event],
            state: GroupState[KeyState[A]]) =>
          val st = state.getOption.getOrElse(KeyState(Nil, zero))
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val pending = st.pending ++ batch.flatMap(e =>
            toCents(e.value).map(_ =>
              (tsToMicros(e.ts), e.event_id, e.value)))
          val (ready, open) = pending.partition(_._1 < wmUs)
          var acc = st.acc
          val out = ready.sortBy(e => (e._1, e._2)).flatMap {
            case (us, eid, x) =>
              // toCents is Some by construction (filtered at enqueue)
              val (next, row) =
                step(acc, Obs(uid, eid, us, x, toCents(x).get))
              acc = next
              row
          }
          state.update(KeyState(open, acc))
          open.map(_._1).minOption.foreach(us =>
            state.setTimeoutTimestamp(us / 1000L + 1L))
          out.iterator
      }
  }
}
