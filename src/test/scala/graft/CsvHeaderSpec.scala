package graft

import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.sources.LakeReader

/** `LakeReader.csvFolderRaw` resolves a folder's header the way Spark's
  * own `header=true` inference does: same schema, same rows, on folders
  * crafted around the rules of that inference (which file's line wins,
  * what counts as blank, how names are made safe). Neither the header
  * nor `LakeReader.parquetRows` starts a Spark job.
  */
class CsvHeaderSpec extends SparkTestBase {

  private def folder(files: (String, String)*): String = {
    val dir = Files.createTempDirectory("graft_csvhdr")
    files.foreach { case (n, body) =>
      Files.write(dir.resolve(n), body.getBytes(StandardCharsets.UTF_8))
    }
    dir.toString
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("\u0001")).sorted.toSeq

  private def assertParity(dir: String): Unit = {
    val spark0 = spark.read.option("header", "true").csv(dir)
    val ours = LakeReader.csvFolderRaw(spark, dir)
    assert(ours.schema === spark0.schema)
    assert(rows(ours) === rows(spark0))
  }

  private val cases: Seq[(String, Seq[(String, String)])] = Seq(
    "unequal sizes, different headers" -> Seq(
      "a_small.csv" -> "a,b\n1,2\n",
      "z_large.csv" -> "x,y,z\n1,2,3\n4,5,6\n7,8,9\n",
      "m_mid.csv" -> "p\n1\n2\n"),
    "leading blank lines" -> Seq(
      "z_blank_first.csv" -> "\n\n   \nk,v\n1,2\n3,4\n",
      "a_other.csv" -> "m,n\n5,6\n"),
    "byte-order mark" -> Seq(
      "z_bom.csv" -> "\uFEFFid,name\n1,x\n2,y\n",
      "a_plain.csv" -> "q\n3\n"),
    "CRLF line endings" -> Seq(
      "crlf.csv" -> "a,b\r\nc,d\r\ne,f\r\n",
      "lf.csv" -> "g\nh\n"),
    "quoted names with commas" -> Seq(
      "quoted.csv" -> "\"x,1\",\"y\"\"q\",z\n1,2,3\n4,5,6\n"),
    "duplicate and empty names" -> Seq(
      "dups.csv" -> "a,a,,b,A,\n1,2,3,4,5,6\n"),
    "empty file beside a non-empty one" -> Seq(
      "empty.csv" -> "",
      "data.csv" -> "u,v\n1,2\n"),
    "largest file all blank" -> Seq(
      "m_blank.csv" -> "\n\n  \n\n\n\n\n\n\n\n\n\n",
      "z_real.csv" -> "r,s\n1,2\n",
      "a_small.csv" -> "t\n1\n"),
    "equal sizes, different headers" -> Seq(
      "one.csv" -> "a,b\n1,2\n",
      "two.csv" -> "c,d\n3,4\n",
      "three.csv" -> "e,f\n5,6\n"),
    "hidden files" -> Seq(
      "_side.csv" -> "hidden_a,hidden_b\n1,2\n3,4\n5,6\n7,8\n",
      ".dot.csv" -> "dot_a,dot_b\n1,2\n3,4\n5,6\n7,8\n",
      "seen.csv" -> "s\n1\n"))

  cases.foreach { case (name, files) =>
    test(s"csvFolderRaw header matches Spark's inference: $name") {
      assertParity(folder(files: _*))
    }
  }

  /** Spark jobs started while `body` runs. A sentinel job run after it
    * marks where the listener's events for `body` end.
    */
  private def jobsStartedBy(body: => Unit): Int = {
    val sc = spark.sparkContext
    val seen = new AtomicInteger
    val sentinel = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(
            _.getProperty("graft.spec.sentinel") == "1")) sentinel.countDown()
        else { seen.incrementAndGet(); () }
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setLocalProperty("graft.spec.sentinel", "1")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty("graft.spec.sentinel", null)
      assert(sentinel.await(60, TimeUnit.SECONDS))
      seen.get
    } finally sc.removeSparkListener(listener)
  }

  test("header resolution and the footer row count start no Spark job") {
    val dir = folder("a.csv" -> "k,v\n1,2\n3,4\n", "b.csv" -> "k,v\n5,6\n")
    var schema: org.apache.spark.sql.types.StructType = null
    assert(jobsStartedBy {
      schema = LakeReader.csvFolderRaw(spark, dir).schema
    } === 0)
    assert(schema.fieldNames.toSeq === Seq("k", "v"))
    val lake = Files.createTempDirectory("graft_rows").resolve("lake").toString
    LakeReader.csvFolderRaw(spark, dir).write.parquet(lake)
    spark.read.parquet(lake).repartition(2).write.mode("append").parquet(lake)
    var rows = -1L
    assert(jobsStartedBy {
      rows = LakeReader.parquetRows(spark, lake, schema)
    } === 0)
    assert(rows === 6 && rows === spark.read.parquet(lake).count())
  }
}
