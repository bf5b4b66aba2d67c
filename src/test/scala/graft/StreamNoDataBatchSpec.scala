package graft

import java.sql.Timestamp

import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Pins the engine contract the stream twins' two-batch protocol rests
  * on (`SparkEntry.streamTwinSource`): when one data batch carries both
  * the real rows and a far-future marker, the watermark advances at
  * that batch's end, the engine runs a NO-DATA batch on the watermark
  * move, that batch fires every event-time timeout, and
  * `processAllAvailable` returns only after it. If a Spark upgrade
  * drops or defers the no-data batch, this spec fails instead of the
  * twins silently returning nothing.
  */
class StreamNoDataBatchSpec extends SparkTestBase {
  import spark.implicits._

  test("a watermark advanced inside a data batch fires the event-time " +
      "timeouts in a no-data batch that processAllAvailable waits for") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_nodata").toString
    def ts(s: Long) = new Timestamp(s * 1000L)
    val rows = Seq((1L, ts(10), 1.0), (1L, ts(20), 2.0), (2L, ts(15), 5.0),
      (3L, ts(30), 7.0))
    val marker = (-1L, ts(100000), 0.0)
    (rows :+ marker).toDF("k", "ts", "v").coalesce(1)
      .write.parquet(root + "/in")
    val sums = spark.readStream.schema("k LONG, ts TIMESTAMP, v DOUBLE")
      .parquet(root + "/in")
      .withWatermark("ts", "10 seconds")
      .as[(Long, Timestamp, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout()) {
        (k: Long, it: Iterator[(Long, Timestamp, Double)],
            st: GroupState[(Double, Long)]) =>
          if (st.hasTimedOut) {
            val (sum, _) = st.get
            st.remove()
            Iterator((k, sum))
          } else {
            val (sum0, maxTs0) = st.getOption.getOrElse((0.0, 0L))
            val seen = it.toSeq
            val maxTs = (maxTs0 +: seen.map(_._2.getTime)).max
            st.update((sum0 + seen.map(_._3).sum, maxTs))
            st.setTimeoutTimestamp(maxTs + 1000L)
            Iterator.empty
          }
      }
      .toDF("k", "sum")
    val q = sums.writeStream.format("memory").queryName("graft_nodata")
      .outputMode("append")
      .option("checkpointLocation", root + "/ck").start()
    try {
      q.processAllAvailable()
      val got = spark.table("graft_nodata").where($"k" >= 0)
        .as[(Long, Double)].collect().sortBy(_._1).toSeq
      assert(got === Seq((1L, 3.0), (2L, 5.0), (3L, 7.0)))
      val progress = q.recentProgress
      // batch 0 read every row (and emitted nothing: no timeout can
      // fire under the previous watermark); batch 1 read nothing
      val inputRows = progress.map(p => p.batchId -> p.numInputRows).toMap
      assert(inputRows.get(0L) === Some(5L))
      assert(inputRows.get(1L) === Some(0L))
    } finally {
      q.stop()
      spark.catalog.dropTempView("graft_nodata")
    }
  }
}
