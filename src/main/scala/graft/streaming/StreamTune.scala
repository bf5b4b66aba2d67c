package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.{AvailableNowTrigger, OneTimeTrigger}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Feed-sized shuffle/state partitioning for streaming queries (r16,
  * guide §2.2: derive partitioning from the input, never a constant).
  *
  * A streaming query freezes `spark.sql.shuffle.partitions` into its
  * checkpoint at first batch, and — because AQE cannot re-plan stateful
  * stages, and cached frames pin their materialized partitioning even
  * under AQE — every stateful operator AND every foreachBatch-internal
  * shuffle of persisted frames runs at that width for the query's
  * life. Inheriting the session default (sized for batch work = cores)
  * makes a kilobyte-scale micro-batch pay
  * (stores × partitions × batches) of state/commit lifecycle: on the
  * r16 profile every micro-batch of every stream entry was a 32-task
  * stage of ~0.2–0.4 s over ~0.4 MB of feed per partition.
  *
  * [[partitionsFor]] sizes the width from the FEED's bytes at ~1 MB
  * per partition (conf `graft.stream.statePartitionBytes`; the target
  * sits far below the batch-shuffle 100 MB–1 GB band because
  * state-store row operations cost ~two orders more per byte than a
  * shuffle copy — the r16 sweep in OPTIMIZATION_r16.md), capped at the
  * session's default parallelism so a cluster-scale feed keeps exactly
  * today's width. An unknown feed size (0 bytes) gets that cap too.
  *
  * [[pinnedStart]] sets the conf only for the query being started and
  * restores it immediately after `start()` returns — safe because the
  * stream's session clone happens SYNCHRONOUSLY inside `start()`
  * (pinned by `StreamConfCloneSpec`; a Spark upgrade that defers the
  * clone fails that spec, not silently this tuning).
  */
object StreamTune {

  /** Sum of `.parquet` bytes under `path` (recursive), resolved through
    * the session's Hadoop FileSystem — the feed-size estimate for
    * file-shipped fixtures and versioned tables alike, on any scheme.
    * 0 when the path is missing or unreadable (size unknown).
    */
  def dirParquetBytes(spark: SparkSession, path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    try {
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(p, true)
      var n = 0L
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.endsWith(".parquet")) n += f.getLen
      }
      n
    } catch { case _: java.io.IOException => 0L }
  }

  /** Feed-sized width: ~`graft.stream.statePartitionBytes` per
    * partition, at least 1, at most the session's default parallelism —
    * which is also the width of an unknown (0-byte) feed.
    */
  def partitionsFor(spark: SparkSession, feedBytes: Long): Int = {
    val cap = spark.sparkContext.defaultParallelism.toLong
    val target = org.apache.spark.network.util.JavaUtils
      .byteStringAsBytes(
        spark.conf.get("graft.stream.statePartitionBytes", "1MB"))
    val byBytes =
      if (feedBytes <= 0) cap else math.ceil(feedBytes.toDouble / target).toLong
    math.max(1L, math.min(cap, byBytes)).toInt
  }

  /** Does `trigger` end the query once the available input is consumed?
    * Only such a run can be sized from its feed: a continuous one would
    * keep its start-time width after the feed grew.
    */
  def bounded(trigger: Trigger): Boolean = trigger match {
    case AvailableNowTrigger | OneTimeTrigger => true
    case _ => false
  }

  private val sessionLocks =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, AnyRef]())

  /** Run `start` (a `writeStream...start()` call) with
    * `spark.sql.shuffle.partitions` pinned to [[partitionsFor]] the
    * given feed size; the session default is restored before
    * returning (the started query keeps the pinned value — its session
    * clone is synchronous inside `start()`). Pinned starts on one
    * session run one at a time: interleaved, one query would clone the
    * other's width and the session would be left at it.
    */
  def pinnedStart(spark: SparkSession, feedBytes: Long)(
      start: => StreamingQuery): StreamingQuery =
    sessionLocks.computeIfAbsent(spark, _ => new Object).synchronized {
      val key = "spark.sql.shuffle.partitions"
      val prev = spark.conf.get(key)
      spark.conf.set(key, partitionsFor(spark, feedBytes).toString)
      try start finally spark.conf.set(key, prev)
    }
}
