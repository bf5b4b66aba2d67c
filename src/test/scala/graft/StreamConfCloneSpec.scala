package graft

import org.apache.spark.sql.Row

/** Pins the Spark behavior `StreamTune.pinnedStart` depends on: a
  * streaming query clones the session conf SYNCHRONOUSLY inside
  * `start()`, so a conf set before `start()` and restored immediately
  * after is still the one the query runs with. If a Spark upgrade
  * defers the clone, this spec fails loudly instead of the tuning
  * silently reverting to session defaults.
  */
class StreamConfCloneSpec extends SparkTestBase {
  import spark.implicits._

  test("conf pinned around start() is the conf the stream runs with") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_clonespec").toString
    (1 to 100).map(i => (i.toLong, i % 7)).toDF("id", "k")
      .coalesce(1).write.parquet(root + "/in")
    val st = spark.readStream.schema("id LONG, k INT")
      .parquet(root + "/in")
    @volatile var innerParts = ""
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "3")
    val q = try {
      st.writeStream.foreachBatch {
        (b: org.apache.spark.sql.Dataset[Row], _: Long) =>
          innerParts = b.sparkSession.conf.get(key)
          ()
      }.option("checkpointLocation", root + "/ck").start()
    } finally spark.conf.set(key, prev) // restore IMMEDIATELY
    q.processAllAvailable()
    q.stop()
    assert(innerParts === "3",
      "the stream saw the restored conf: the session clone is no " +
        "longer synchronous inside start() — StreamTune.pinnedStart " +
        "and the twin state sizing must restore after stop() instead")
    assert(spark.conf.get(key) === prev)
  }

  test("partitionsFor: feed-sized, floored at 1, capped at parallelism") {
    val f = graft.streaming.StreamTune.partitionsFor _
    // 0 bytes is an unknown feed size: the session parallelism
    assert(f(spark, 0L) === spark.sparkContext.defaultParallelism)
    assert(f(spark, 1L) === 1)
    assert(f(spark, (2.5 * (1 << 20)).toLong) === 3)
    assert(f(spark, Long.MaxValue / 4) ===
      spark.sparkContext.defaultParallelism)
  }

  test("dirParquetBytes resolves through the Hadoop FileSystem: a file: " +
      "URI sizes like the bare path; an empty or missing directory is " +
      "unknown and gets the session parallelism") {
    import graft.streaming.StreamTune
    val root = java.nio.file.Files
      .createTempDirectory("graft_tune").toString
    (1 to 100).map(i => (i.toLong, i % 7)).toDF("id", "k")
      .coalesce(1).write.parquet(root + "/in")
    val want = new java.io.File(root + "/in").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length).sum
    assert(want > 0L)
    assert(StreamTune.dirParquetBytes(spark, root + "/in") === want)
    assert(StreamTune.dirParquetBytes(spark, "file:" + root + "/in") === want)
    assert(StreamTune.dirParquetBytes(spark, root) === want) // recursive
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(root, "empty"))
    val empty = StreamTune.dirParquetBytes(spark, "file:" + root + "/empty")
    assert(empty === 0L)
    assert(StreamTune.dirParquetBytes(spark, root + "/missing") === 0L)
    assert(StreamTune.partitionsFor(spark, empty) ===
      spark.sparkContext.defaultParallelism)
  }

  test("startReplicateCDF: a ProcessingTime mirror keeps the session " +
      "width; an AvailableNow run is feed-sized") {
    import graft.sources.VersionedTable
    val root = java.nio.file.Files
      .createTempDirectory("graft_tune_mirror").toString
    val src = root + "/src"
    VersionedTable.append(spark, Seq((1L, "a"), (2L, "b")).toDF("k", "v"),
      src)
    VersionedTable.alterProperties(spark, src,
      Map(VersionedTable.CdcProperty -> "true"))
    /** The shuffle width the stream froze into its first offset entry. */
    def frozenWidth(ckpt: String): Int = {
      val log = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(ckpt, "offsets", "0")), "UTF-8")
      "\"spark.sql.shuffle.partitions\":\"(\\d+)\"".r
        .findFirstMatchIn(log).get.group(1).toInt
    }
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "3")
    try {
      val q = graft.streaming.VersionedSink.startReplicateCDF(spark, src,
        root + "/dst", "mirror", "k", root + "/ck",
        org.apache.spark.sql.streaming.Trigger.ProcessingTime("100 milliseconds"))
      try q.processAllAvailable() finally q.stop()
      assert(frozenWidth(root + "/ck") === 3)
      val q2 = graft.streaming.VersionedSink.startReplicateCDF(spark, src,
        root + "/dst2", "mirror", "k", root + "/ck2")
      q2.awaitTermination(120000)
      assert(frozenWidth(root + "/ck2") === 1) // a kilobyte-scale feed
      assert(spark.conf.get(key) === "3")
      assert(VersionedTable.read(spark, root + "/dst").count() === 2L)
    } finally spark.conf.set(key, prev)
  }

  test("pinnedStart serializes per session: two racing pinned starts " +
      "each keep their own width and the session keeps its own") {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    import graft.streaming.StreamTune
    val root = java.nio.file.Files
      .createTempDirectory("graft_tune_race").toString
    (1 to 100).map(i => (i.toLong, i % 7)).toDF("id", "k")
      .coalesce(1).write.parquet(root + "/in")
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    val widths = new java.util.concurrent.ConcurrentHashMap[String, String]()
    def startQuery(name: String): org.apache.spark.sql.streaming.StreamingQuery =
      spark.readStream.schema("id LONG, k INT").parquet(root + "/in")
        .writeStream.foreachBatch {
          (b: org.apache.spark.sql.Dataset[Row], _: Long) =>
            widths.put(name, b.sparkSession.conf.get(key))
            ()
        }.option("checkpointLocation", s"$root/ck_$name").start()
    val narrowInside = new CountDownLatch(1)
    val wideInside = new CountDownLatch(1)
    val wideBytes = 3L << 20
    assert(StreamTune.partitionsFor(spark, 1L) === 1)
    assert(StreamTune.partitionsFor(spark, wideBytes) === 3)
    // the narrow start holds its window open until the wide start gets
    // inside its own (or 2 s pass): unserialized, the wide pin lands
    // between the narrow pin and the narrow query's session clone
    val narrow = new Thread(() => {
      val q = StreamTune.pinnedStart(spark, 1L) {
        narrowInside.countDown()
        wideInside.await(2, TimeUnit.SECONDS)
        startQuery("narrow")
      }
      try q.processAllAvailable() finally q.stop()
    })
    val wide = new Thread(() => {
      narrowInside.await()
      val q = StreamTune.pinnedStart(spark, wideBytes) {
        wideInside.countDown()
        startQuery("wide")
      }
      try q.processAllAvailable() finally q.stop()
    })
    try {
      narrow.start(); wide.start()
      narrow.join(120000); wide.join(120000)
      assert(widths.get("narrow") === "1")
      assert(widths.get("wide") === "3")
      assert(spark.conf.get(key) === prev)
    } finally spark.conf.set(key, prev)
  }
}
