package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** Streaming rolling z-score anomaly detection — the stateful
  * counterpart of `Analytics.rollingZScoreAnomalies` (ts1), folded by
  * [[SealedSeries]].
  *
  * Parity contract with the batch operator: an event is scored against
  * the trailing `lookback` SEALED events of its key in (ts, event_id)
  * order, itself excluded; values quantize to cents (the batch
  * DECIMAL(18,2) stabilization) and the z chain is the same
  * fixed-order IEEE expression — so for the same sealed prefix the
  * stream flags exactly the rows the batch query flags
  * (AnomalyStreamSpec pins stream == batch on the sealed range).
  *
  * Per-key state: the last `lookback` sealed observations' cents —
  * independent of stream length.
  */
object AnomalyStream {

  case class Anomaly(user_id: Long, event_id: Long, ts: Timestamp,
      value: Double, z: Double)

  /** Score raw `x` against the trailing window's cents — the batch
    * operator's exact z chain: s1/s2 accumulate as exact BigDecimals
    * (cents can square past 2^63; the batch side is DECIMAL(38,4)) and
    * convert to double in ONE correctly-rounded step each, exactly like
    * the engine's decimal→double cast, before the fixed IEEE chain.
    */
  private[streaming] def zOf(x: Double, tail: List[Long],
      minObs: Int): Option[Double] = {
    val n = tail.length
    if (n < minObs) return None
    var s1c = java.math.BigInteger.ZERO
    var s2c = java.math.BigInteger.ZERO
    tail.foreach { c =>
      val b = java.math.BigInteger.valueOf(c)
      s1c = s1c.add(b)
      s2c = s2c.add(b.multiply(b))
    }
    val s1 = new java.math.BigDecimal(s1c, 2).doubleValue()
    val s2 = new java.math.BigDecimal(s2c, 4).doubleValue()
    val variance = (s2 - s1 * s1 / n) / (n - 1)
    if (variance > 0) Some((x - s1 / n) / math.sqrt(variance)) else None
  }

  /** Detect anomalies on a stream. `events` must have `user_id`
    * (castable to long), `event_id` (long, the intra-timestamp
    * tie-break), `timeCol` (timestamp), `valueCol` (double). A null
    * measure carries no anomaly signal, so its row is dropped (unlike
    * the sessionizer's sum, where it counts 0).
    *
    * Batch-parity contract: bit-equal to
    * [[graft.operators.Analytics.rollingZScoreAnomalies]] over the
    * watermark-sealed range for NON-NULL keys only (see
    * [[SealedSeries]]).
    */
  def anomalies(
      spark: SparkSession,
      events: DataFrame,
      timeCol: String,
      valueCol: String,
      lookback: Int,
      zThreshold: Double,
      minObs: Int = 2,
      watermark: String = "1 hour"): Dataset[Anomaly] = {
    require(lookback >= 1 && minObs >= 2 && zThreshold > 0,
      s"need lookback >= 1, minObs >= 2, zThreshold > 0")
    SealedSeries.fold(spark, events, timeCol, valueCol, watermark,
      List.empty[Long]) { (tail, o) =>
      // the RAW value is scored — the batch z chain subtracts the
      // stabilized mean from the unquantized observation
      val hit = zOf(o.value, tail, minObs).filter(z =>
        math.abs(z) > zThreshold)
      ((tail :+ o.cents).takeRight(lookback),
        hit.map(Anomaly(o.user_id, o.event_id, o.ts, o.value, _)))
    }
  }
}
