package graft

import java.nio.file.{Files, Paths}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

import graft.sources.VersionedTable

/** Table-driven parity of every reader of the commit log. Three table
  * histories cover each op kind; the spec renders what the log's readers
  * return (rows or the error) and compares the transcript with
  * `log-reader-parity.txt`:
  *   - `opsInRange` and `insertOnlyRange` for every window `(from, to]`;
  *   - `readChanges` (with and without `ignoreRowLevel`),
  *     `readChangesCDF` and the DSv2 batch CDF for each single-commit,
  *     prefix and suffix window (a full square of row-reading windows
  *     costs minutes);
  *   - both DSv2 AvailableNow streams (plain changefeed and CDF, with and
  *     without `ignoreRowLevelChanges`) from version 0 (and table A's
  *     last commit on its own), at most 4 versions per trigger;
  *   - `history()` and `fileVersions` per table (files are named by
  *     their sorted rows, as their names are random).
  * Table A has the change data feed on; table B keeps it off (the
  * derivation and the "no CDC file" branches); table C has vacuumed
  * manifests. On a mismatch the actual transcript is written next to
  * the build output for a diff.
  */
class LogReaderParitySpec extends SparkTestBase {
  import spark.implicits._

  private def kv(rows: (Long, String)*): DataFrame =
    rows.toDF("k", "v").coalesce(1)

  private def tableA(t: String): Unit = {
    VersionedTable.append(spark, kv((1L, "a"), (2L, "b"), (3L, "c")), t)  // 1
    VersionedTable.alterProperties(spark, t,
      Map(VersionedTable.CdcProperty -> "true"))                         // 2
    VersionedTable.append(spark, kv((4L, "d"), (5L, "e")), t)             // 3
    VersionedTable.upsert(spark, kv((1L, "A"), (9L, "i")), t, "k")        // 4
    VersionedTable.upsert(spark, kv((100L, "x")), t, "k")                 // 5
    VersionedTable.merge(spark, t, "k", kv((2L, "B")),
      Seq(5L).toDF("k"))                                                  // 6
    VersionedTable.update(spark, t, col("k") === 3L,
      Map("v" -> lit("C")))                                               // 7
    VersionedTable.delete(spark, t, col("k") === 4L)                      // 8
    VersionedTable.replaceWhere(spark, kv((100L, "X")), t,
      col("k") === 100L)                                                  // 9
    VersionedTable.deleteByKeys(spark, t, Seq(9L).toDF("k"))              // 10
    VersionedTable.deleteByKeys(spark, t, Seq.empty[Long].toDF("k"),
      txn = Some(("w", 1L)))                                              // 11
    VersionedTable.deleteWhereMergeOnRead(spark, t, col("k") === 1L)      // 12
    VersionedTable.compact(spark, t, 1)                                   // 13
    VersionedTable.tag(spark, t, "t1")                                    // 14
    VersionedTable.restore(spark, t, 7L)                                  // 15
  }

  /** Table A's last commit. It is rendered on its own: after it, every
    * read of the earlier files runs under the new declared schema.
    */
  private def replaceA(t: String): Unit = {
    val sc = StructType(Seq(StructField("k", LongType),
      StructField("w", IntegerType)))
    VersionedTable.replaceTable(spark,
      Seq((7L, 70), (8L, 80)).toDF("k", "w").coalesce(1), t, sc)          // 16
  }

  private def tableB(t: String): Unit = {
    VersionedTable.append(spark, kv((1L, "a"), (2L, "b"), (3L, "c")), t)  // 1
    VersionedTable.append(spark, kv((4L, "d"), (5L, "e")), t)             // 2
    VersionedTable.upsert(spark, kv((1L, "A"), (9L, "i")), t, "k")        // 3
    VersionedTable.upsert(spark, kv((100L, "x")), t, "k")                 // 4
    VersionedTable.update(spark, t, col("k") === 2L,
      Map("v" -> lit("B")))                                               // 5
    VersionedTable.delete(spark, t, col("k") === 4L)                      // 6
    VersionedTable.deleteByKeys(spark, t, Seq(9L).toDF("k"))              // 7
    VersionedTable.deleteByKeys(spark, t, Seq.empty[Long].toDF("k"),
      txn = Some(("w", 1L)))                                              // 8
    VersionedTable.deleteWhereMergeOnRead(spark, t, col("k") === 3L)      // 9
    VersionedTable.compact(spark, t, 1)                                   // 10
    VersionedTable.restore(spark, t, 8L)                                  // 11
    VersionedTable.replaceWhere(spark, kv((100L, "X")), t,
      col("k") === 100L)                                                  // 12
  }

  private def tableC(t: String): Unit = {
    VersionedTable.append(spark, kv((1L, "a")), t)                        // 1
    VersionedTable.append(spark, kv((2L, "b")), t)                        // 2
    VersionedTable.append(spark, kv((3L, "c")), t)                        // 3
    VersionedTable.vacuum(spark, t, keepFrom = 3L, retentionMs = 0L)
  }

  private def render(v: Any): String = v match {
    case null => "null"
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (a, b) => s"${render(a)}=${render(b)}" }
        .sorted.mkString("{", ",", "}")
    case other => other.toString
  }

  private def rows(df: DataFrame): String =
    df.collect().map(render).sorted.mkString("[", " ", "]")

  private def rootCause(e: Throwable): Throwable =
    if (e.getCause == null || e.getCause == e) e else rootCause(e.getCause)

  private def err(e: Throwable): String = {
    val c = rootCause(e)
    s"ERR ${c.getClass.getSimpleName}: " +
      String.valueOf(c.getMessage).linesIterator.nextOption().getOrElse("")
  }

  /** Windows `(from, to]`: each single commit, every prefix `(0, to]`,
    * every suffix `(from, latest]`, and one past the latest version.
    * Windows ending before `minTo` are left out.
    */
  private def windows(latest: Long, minTo: Long): Seq[(Long, Long)] =
    ((1L to latest).flatMap(v => Seq((v - 1, v), (0L, v), (v - 1, latest))) :+
      ((0L, latest + 2))).distinct.filter(_._2 >= minTo).sorted

  private def transcript(t: String, label: String, minTo: Long = 0L,
      streamsFrom: Long => Seq[Long]): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    def line(what: String)(body: => String): Unit = {
      val s = Try(body) match {
        case Success(r) => r
        case Failure(e) => err(e)
      }
      out += s"$label $what -> ${s.replace(t, "<t>")}"
    }
    val latest = VersionedTable.latest(spark, t)._1
    line("history")(rows(VersionedTable.history(spark, t)))
    line("fileVersions") {
      VersionedTable.fileVersions(spark, t).toSeq.map { case (n, v) =>
        s"$v:${rows(spark.read.parquet(s"$t/$n"))}"
      }.sorted.mkString(" ")
    }
    for (from <- 0L to latest; to <- from + 1 to latest + 2 if to >= minTo) {
      val w = s"($from,$to]"
      line(s"opsInRange $w")(
        VersionedTable.opsInRange(spark, t, from, to).mkString(","))
      line(s"insertOnlyRange $w")(
        VersionedTable.insertOnlyRange(spark, t, from, to).toString)
    }
    // windows render concurrently (read-only; a serial run costs
    // minutes), in window order
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val rendered = try Await.result(Future.sequence(
      windows(latest, minTo).map { case (from, to) => Future {
        val w = s"($from,$to]"
        Seq(
          s"readChanges $w" -> Try(
            rows(VersionedTable.readChanges(spark, t, from, to))),
          s"readChanges ignoreRowLevel $w" -> Try(rows(
            VersionedTable.readChanges(spark, t, from, to,
              ignoreRowLevel = true))),
          s"readChangesCDF $w" -> Try(
            rows(VersionedTable.readChangesCDF(spark, t, from, to))),
          s"dsv2 batch CDF $w" -> Try(rows(spark.read.format("graft-table")
            .option("readChangeFeed", "true").option("startingVersion", from)
            .option("endingVersion", to).load(t))))
      }}), Duration(20, "min")) finally pool.shutdown()
    rendered.flatten.foreach { case (what, r) => line(what)(r.get) }
    for (from <- streamsFrom(latest); cdf <- Seq(false, true);
         ignore <- Seq(false, true)) {
      val ckpt = Files.createTempDirectory("parity_ckpt").toString
      val got = scala.collection.mutable.ArrayBuffer.empty[String]
      line(s"dsv2 stream${if (cdf) " CDF" else ""}" +
          s"${if (ignore) " ignoreRowLevel" else ""} from $from") {
        val reader = spark.readStream.format("graft-table")
          .option("startingVersion", from)
          .option("maxVersionsPerTrigger", 4)
          .option("ignoreRowLevelChanges", ignore)
        val q = (if (cdf) reader.option("readChangeFeed", "true") else reader)
          .load(t).writeStream
          .foreachBatch { (b: org.apache.spark.sql.Dataset[Row], id: Long) =>
            val r = rows(b.toDF())
            got.synchronized { got += s"#$id $r" }
            ()
          }
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow()).start()
        val done = Try(q.awaitTermination(120000))
        q.stop()
        val batches = got.synchronized(got.mkString(" "))
        done match {
          case Success(true) => batches
          case Success(false) => s"TIMEOUT $batches"
          case Failure(e) => s"$batches then ${err(e)}"
        }
      }
    }
    out.toSeq
  }

  test("a feed window ending before a replaceTable reads under the " +
      "schema declared at its end version") {
    val t = Files.createTempDirectory("parity").toString + "/t"
    VersionedTable.append(spark, kv((1L, "a"), (2L, "b")), t)             // 1
    VersionedTable.alterProperties(spark, t,
      Map(VersionedTable.CdcProperty -> "true"))                         // 2
    VersionedTable.upsert(spark, kv((1L, "A")), t, "k")                   // 3
    def windows(): Seq[String] = Seq(
      rows(VersionedTable.readChanges(spark, t, 0L, 1L)),
      rows(VersionedTable.readChangesCDF(spark, t, 0L, 1L)),
      rows(VersionedTable.readChangesCDF(spark, t, 1L, 3L)))
    val before = windows()
    replaceA(t)                                                          // 4
    assert(windows() === before)
  }

  test("every commit-log reader's output and errors match the pinned " +
      "transcript over every window of three table histories") {
    def table(build: String => Unit): String = {
      val t = Files.createTempDirectory("parity").toString + "/t"
      build(t)
      t
    }
    val a = table(tableA)
    val beforeReplace = transcript(a, "A", streamsFrom = _ => Seq(0L))
    replaceA(a)
    val actual = beforeReplace ++
      transcript(a, "A", minTo = 16L, streamsFrom = l => Seq(l - 1)) ++
      transcript(table(tableB), "B", streamsFrom = _ => Seq(0L)) ++
      transcript(table(tableC), "C", streamsFrom = _ => Seq(0L))
    val golden = Option(getClass.getResourceAsStream("/log-reader-parity.txt"))
      .map(in => try scala.io.Source.fromInputStream(in, "UTF-8")
        .getLines().toVector finally in.close())
      .getOrElse(Vector.empty)
    if (actual != golden) {
      val dump = Paths.get("target", "log-reader-parity.actual.txt")
      Files.createDirectories(dump.getParent)
      Files.write(dump, actual.mkString("", "\n", "\n").getBytes("UTF-8"))
      val firstDiff = actual.zipAll(golden, "<none>", "<none>")
        .find { case (a, g) => a != g }
      fail(s"log reader transcript differs from log-reader-parity.txt " +
        s"(actual written to $dump); first difference: $firstDiff")
    }
  }
}
