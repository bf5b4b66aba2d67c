package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}

import graft.sources.VersionedTable

/** Exactly-once streaming sink into a [[graft.sources.VersionedTable]].
  *
  * Structured Streaming's foreachBatch contract is AT-LEAST-ONCE: after a
  * crash between the sink write and the checkpoint advance, the same
  * batchId is re-offered on restart. Plain `LakeWriter.append` in
  * foreachBatch therefore duplicates rows on recovery. This sink closes
  * the loop the way Delta's streaming sink does: every micro-batch commit
  * records a `(writerId, batchId)` transaction watermark in the table
  * manifest, and [[VersionedTable.appendIdempotent]] turns any replayed
  * batchId into a no-op — the TABLE, not the checkpoint, is the source of
  * truth for what landed. Combined with the table's OCC manifest race,
  * this also survives two zombie instances of the same query racing one
  * batch (exactly one commit wins; the loser drops its staged files).
  *
  * At 100 TB this is the streaming ingestion edge of the lake: each
  * micro-batch is one manifest commit regardless of data volume, readers
  * see atomic snapshot flips, and compaction/z-ordering run concurrently
  * under the same protocol (writer watermarks carry forward through
  * compaction commits).
  *
  * Reference scope: the reference's ingestion jobs append each fetched
  * feed batch to the lake (e.g. ercot_*_to_GCS producers + the
  * `..._BQ_archive_csv.py` append jobs); this is that append made safe
  * under crash-replay.
  */
object VersionedSink {

  /** The foreachBatch function: wire as
    * `df.writeStream.foreachBatch(VersionedSink.exactlyOnce(table, id))`.
    * For a plain append with no per-batch logic, the NATIVE sink is the
    * simpler surface with the same guarantee:
    * `df.writeStream.format("graft-table").start(path)` (see
    * [[graft.sources.GraftTableProvider]]); foreachBatch remains the
    * right tool when the batch needs custom handling (e.g.
    * [[upsertExactlyOnce]], multi-table writes).
    */
  def exactlyOnce(table: String,
      writerId: String): (Dataset[Row], Long) => Unit =
    (batch: Dataset[Row], batchId: Long) => {
      VersionedTable.appendIdempotent(
        batch.sparkSession, batch.toDF(), table, writerId, batchId)
      ()
    }

  /** Exactly-once streaming UPSERT — the CDC-apply sink: each
    * micro-batch MERGES into the table by `key` (latest batch wins for a
    * key) under the same (writerId, batchId) idempotence watermark as
    * [[exactlyOnce]], so crash-replayed batches re-merge as no-ops. This
    * is how a change stream (user profiles, dimension updates, late
    * corrections) lands in the lake: footer-pruned copy-on-write per
    * batch, atomic snapshot flips, exactly-once end to end.
    *
    * Within one micro-batch, rows sharing a key are NOT ordered — apply
    * upstream ordering (e.g. keep the max-timestamp row per key) before
    * the sink if the stream can carry multiple versions of a key per
    * batch.
    */
  def upsertExactlyOnce(table: String, key: String,
      writerId: String): (Dataset[Row], Long) => Unit =
    (batch: Dataset[Row], batchId: Long) => {
      VersionedTable.upsert(batch.sparkSession, batch.toDF(), table, key,
        txn = Some((writerId, batchId)))
      ()
    }

  /** Exactly-once streaming DELETE — the other half of the CDC-apply
    * story: each micro-batch's rows are KEYS to delete, applied as a
    * merge-on-read delete layer ([[VersionedTable.deleteByKeys]] — one
    * metadata commit, nothing rewritten) under the same
    * (writerId, batchId) watermark, so crash-replayed delete batches
    * are no-ops and empty batches still advance the watermark. Pair
    * with a periodic [[VersionedTable.compact]] to materialize
    * accumulated layers. A full CDC stream (upserts + deletes) applies
    * both inside one foreachBatch with [[VersionedTable.merge]]: one
    * copy-on-write commit per batch, no delete layer left behind (see
    * [[startReplicateCDF]]).
    */
  def deleteExactlyOnce(table: String,
      writerId: String): (Dataset[Row], Long) => Unit =
    (batch: Dataset[Row], batchId: Long) => {
      VersionedTable.deleteByKeys(batch.sparkSession, table, batch.toDF(),
        txn = Some((writerId, batchId)))
      ()
    }

  /** Incremental table-to-table pipe with END-TO-END exactly-once: read
    * the source changefeed past the last processed version, transform,
    * and commit to `dst` with the SOURCE VERSION as the idempotence
    * epoch. The destination's own txn watermark is the checkpoint — no
    * external state, so there is nothing to drift: a crash anywhere
    * before the commit leaves the watermark unmoved (the next run
    * re-reads the same range), and a crash after it makes the next run a
    * no-op. This is the materialized-view / log-shipping primitive over
    * the lake: each tick costs what the increment costs, at any table
    * size. Returns the source version now reflected in `dst`.
    *
    * `transform` must be deterministic per input row for the
    * exactly-once claim to be meaningful (the same contract as Spark's
    * own replayed micro-batches).
    */
  def pipe(spark: org.apache.spark.sql.SparkSession, src: String,
      dst: String, writerId: String,
      transform: DataFrame => DataFrame = identity): Long = {
    val from = VersionedTable.lastCommittedEpoch(spark, dst, writerId)
      .getOrElse(0L)
    val (srcV, _) = VersionedTable.latest(spark, src)
    if (srcV <= from) return from
    val changes = VersionedTable
      .readChanges(spark, src, from, srcV)
      .drop("_commit_version")
    VersionedTable.appendIdempotent(spark, transform(changes), dst,
      writerId, epoch = srcV)
    srcV
  }

  /** Incremental MATERIALIZED-VIEW maintenance: [[pipe]] with a keyed
    * MERGE instead of an append. Reads the source changefeed past the
    * destination's watermark, hands the increment to `transform`, and
    * UPSERTS the result into `dst` by `key` under epoch = source
    * version — exactly-once with zero external state, like pipe.
    *
    * This is how an aggregate view stays current for the cost of the
    * increment: `transform` combines the new rows with the view's
    * CURRENT state (read `dst` inside it) and returns the replacement
    * rows for exactly the touched keys. Example — per-user event
    * counts:
    * {{{
    * VersionedSink.pipeUpsert(spark, events, counts, "mv", "user_id",
    *   inc => {
    *     val delta = inc.groupBy("user_id").agg(count("*").as("n"))
    *     val cur = VersionedTable.read(spark, counts)
    *     delta.join(cur.withColumnRenamed("n", "n0"), Seq("user_id"), "left")
    *       .select(col("user_id"),
    *         (col("n") + coalesce(col("n0"), lit(0L))).as("n"))
    *   })
    * }}}
    * Reading `dst` inside `transform` is safe under the single-writer
    * contract a materialized view implies (this writerId is the only
    * mutator): the state it sees is exactly the pre-commit snapshot,
    * and a crash-replay recomputes from the same unmoved watermark.
    * `transform` must be deterministic per input, like pipe's.
    *
    * The source must be append-only over the consumed range (upserts/
    * deletes in the feed throw — resync the view from a snapshot), the
    * one contract an incremental aggregate cannot survive breaking.
    */
  def pipeUpsert(spark: org.apache.spark.sql.SparkSession, src: String,
      dst: String, writerId: String, key: String,
      transform: DataFrame => DataFrame): Long = {
    val from = VersionedTable.lastCommittedEpoch(spark, dst, writerId)
      .getOrElse(0L)
    val (srcV, _) = VersionedTable.latest(spark, src)
    if (srcV <= from) return from
    val changes = VersionedTable
      .readChanges(spark, src, from, srcV)
      .drop("_commit_version")
    VersionedTable.upsert(spark, transform(changes), dst, key,
      txn = Some((writerId, srcV)))
    srcV
  }

  /** Incremental keyed REPLICATION over the true change-data-feed:
    * unlike [[pipe]]/[[pipeUpsert]] (append-only feeds that throw on a
    * row-level source commit), this consumes
    * [[VersionedTable.readChangesCDF]] and applies it to `dst` —
    * inserts/update-postimages upsert by `key`, deletes remove by key —
    * so UPDATE / MERGE / DELETE / merge-on-read commits on the source
    * need NO resync. Exactly-once with zero external state: upserts and
    * deletes land in ONE [[VersionedTable.merge]] commit carrying the
    * `writerId` txn watermark at epoch = source version, so a crash
    * leaves either the whole range applied or none of it. `transform`
    * maps the CDF frame (still carrying `_change_type`) before apply —
    * filter/project but keep the column. Returns the source version now
    * reflected in `dst`.
    *
    * Per-key ordering caveat: within ONE consumed range the apply is
    * last-write-wins by key (a delete then re-insert of a key across
    * separate commits applies in commit order because CDF rows carry
    * `_commit_version` and the apply folds them in version order).
    */
  def replicateCDF(spark: org.apache.spark.sql.SparkSession, src: String,
      dst: String, writerId: String, key: String,
      transform: DataFrame => DataFrame = identity): Long = {
    val from = appliedEpoch(spark, dst, writerId).getOrElse(0L)
    val (srcV, _) = VersionedTable.latest(spark, src)
    if (srcV <= from) return from
    val cdf = transform(
      VersionedTable.readChangesCDF(spark, src, from, srcV))
    applyLast(spark, lastChangePerKey(cdf, key), dst, writerId, key, srcV)
    srcV
  }

  /** The source version `writerId` has applied to `dst`: its watermark,
    * else — for a mirror last written by the two-commit apply — the
    * lower of the legacy `writerId#u` / `writerId#d` ones (a range
    * counts only once both its upserts and its deletes landed).
    */
  private def appliedEpoch(spark: org.apache.spark.sql.SparkSession,
      dst: String, writerId: String): Option[Long] = {
    def epoch(w: String) = VersionedTable.lastCommittedEpoch(spark, dst, w)
    epoch(writerId).orElse(
      for (u <- epoch(writerId + "#u"); d <- epoch(writerId + "#d"))
        yield math.min(u, d))
  }

  /** Each key's LAST action in a CDF frame (commit order; within a
    * commit an update's postimage beats its preimage).
    */
  private def lastChangePerKey(cdf: DataFrame, key: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, row_number}
    val rank = org.apache.spark.sql.expressions.Window
      .partitionBy(col(key))
      .orderBy(col("_commit_version").desc,
        // postimage/insert sorts before preimage/delete at equal version
        col("_change_type").isin("insert", "update_postimage").desc)
    cdf.withColumn("__rn", row_number().over(rank))
      .where(col("__rn") === 1).drop("__rn")
  }

  /** Apply last-change-per-key rows to `dst` as ONE keyed merge commit
    * at `epoch`: inserts/postimages upsert, deletes remove.
    */
  private def applyLast(spark: org.apache.spark.sql.SparkSession,
      last: DataFrame, dst: String, writerId: String, key: String,
      epoch: Long): Unit = {
    import org.apache.spark.sql.functions.col
    val ups = last
      .where(col("_change_type").isin("insert", "update_postimage"))
      .drop("_change_type", "_commit_version")
    val dels = last.where(col("_change_type") === "delete")
      .select(col(key))
    VersionedTable.merge(spark, dst, key, ups, dels,
      txn = Some((writerId, epoch)))
    ()
  }

  /** STREAMING keyed replication: the change-data-feed source piped
    * into [[replicateCDF]]'s apply — a standing query that keeps `dst`
    * equal to `src` through appends, updates, deletes and merge-on-read
    * commits, exactly-once end to end. The CDF batch's own max
    * `_commit_version` is the apply epoch, so the destination's txn
    * watermarks (not the checkpoint) de-duplicate replays — the same
    * contract as every sink here. `src` must have
    * `graft.enableChangeDataFeed=true` so row-level commits stream as
    * typed changes. Each batch is one destination commit.
    *
    * A bounded run (`AvailableNow`/`Once`) pins a feed-sized shuffle
    * width for the mirror's per-batch window/merge shuffles (see
    * [[StreamTune]]), sized from the SOURCE table's bytes — the upper
    * bound of what a full resync batch carries. A continuous trigger
    * keeps the session width: the stream freezes its width into the
    * checkpoint, and a start-time size would outlive the source's growth.
    */
  def startReplicateCDF(spark: org.apache.spark.sql.SparkSession,
      src: String, dst: String, writerId: String, key: String,
      checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    def start = startReplicateCDFUnpinned(spark, src, dst, writerId, key,
      checkpoint, trigger)
    if (StreamTune.bounded(trigger))
      StreamTune.pinnedStart(spark, StreamTune.dirParquetBytes(spark, src))(
        start)
    else start
  }

  private def startReplicateCDFUnpinned(
      spark: org.apache.spark.sql.SparkSession,
      src: String, dst: String, writerId: String, key: String,
      checkpoint: String, trigger: Trigger): StreamingQuery = {
    import org.apache.spark.sql.functions.{col, max}
    spark.readStream.format("graft-table")
      .option("readChangeFeed", "true").load(src)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], _: Long) =>
        // ONE computation of the batch per trigger: the deduped
        // last-change-per-key frame persists, and the apply epoch (its
        // max _commit_version equals the batch's — the key changed at
        // the newest commit keeps that version; null means an empty
        // batch), upserts and deletes all derive from it
        val s = batch.sparkSession
        val last = lastChangePerKey(batch.toDF(), key)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val top = last.agg(max(col("_commit_version"))).head()
          // the merge re-checks its own watermark; this also honors the
          // legacy #u/#d pair of a mirror written by the two-commit apply
          if (!top.isNullAt(0) &&
              !appliedEpoch(s, dst, writerId).exists(_ >= top.getLong(0)))
            applyLast(s, last, dst, writerId, key, top.getLong(0))
        } finally { last.unpersist(false); () }
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()
  }

  /** Start a streaming append of `df` into `table` with exactly-once
    * micro-batch commits. `writerId` must be stable across restarts of
    * the same logical query (it scopes the replay-detection watermark).
    */
  def start(df: DataFrame, table: String, writerId: String,
      checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val w: DataStreamWriter[Row] = df.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch(exactlyOnce(table, writerId))
    w.start()
  }
}
