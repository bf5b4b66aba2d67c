package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.SparkSession

import graft.jobs.Jobs
import graft.schemas.Schemas

/** The reference's scheduled ELT as sequential ticks on one lake that
  * starts empty: each tick delivers one fetch per feed as CSV drops, and
  * the four jobs clean, join, append and archive them. After the last tick
  * the jobs run again on the archived inputs (untimed) and must add
  * nothing. One lake root holds the source folders, the archive and the
  * lake tables.
  */
final class EltTicks(ctx: Ctx) extends Workload {
  private val feeds = Seq("load", "fm_load", "fuel_mix", "spp", "weather",
    "hist_weather")
  private val ticks = ctx.plan.get("ticks").elements().asScala.toSeq
  private val warmups = ctx.plan.get("warmup").elements().asScala.toSeq
  private var lake: Lake = _
  private val totals = new Array[Long](4)
  private var deliveredBytes = 0L

  private final class Lake(val root: String) {
    def src(f: String) = s"$root/src/$f"
    def arch(f: String) = s"$root/archive/$f"
    def lake(t: String) = s"$root/lake/$t"
    feeds.foreach(f => new File(src(f)).mkdirs())
  }

  private def csvs(dir: String): Seq[File] =
    Option(new File(dir).listFiles()).map(_.toSeq).getOrElse(Nil)
      .filter(_.getName.endsWith(".csv"))

  /** A drop arriving: copies the drop's files into the source folders. */
  private def deliver(lake: Lake, drop: JsonNode): Seq[String] =
    feeds.flatMap { f =>
      csvs(s"${ctx.inputs}/${drop.get("dir").asText}/$f").map { c =>
        Files.copy(c.toPath, new File(lake.src(f), c.getName).toPath,
          StandardCopyOption.REPLACE_EXISTING)
        s"$f/${c.getName}"
      }
    }

  private def total(r: Jobs.Result): Long = r.getOrElse(-1L)

  /** The four per-tick jobs as timed ops, each checked against the
    * generator's lake totals. `before` holds the lake totals before.
    */
  private def tickJobs(spark: SparkSession, lake: Lake, drop: JsonNode,
      before: Array[Long], only: Int => Boolean = _ => true): Unit = {
    def job(name: String, i: Int, key: String)(run: => Jobs.Result): Unit =
      if (only(i)) ctx.op("job", name) {
        val n = ctx.tracer.span(s"jobs.$name")(total(run))
        val want = drop.get(key).asLong
        ctx.check(n == want, s"lake holds $n rows, expected $want")
        val added = n - before(i)
        before(i) = n
        added
      }
    job("singleFolderElt", 0, "load_total")(Jobs.singleFolderElt(spark,
      lake.src("load"), lake.arch("load"), lake.lake("load"),
      Schemas.castsOf(Schemas.load), dedup = true, dedupAgainstLake = true))
    job("fmLoadMerge", 1, "fm_total")(Jobs.fmLoadMerge(spark,
      lake.src("fuel_mix"), lake.src("fm_load"), lake.arch("fuel_mix"),
      lake.arch("fm_load"), lake.lake("fm_load")))
    job("sppWeatherMerge", 2, "sw_total")(Jobs.sppWeatherMerge(spark,
      lake.src("spp"), lake.src("weather"), lake.arch("spp"),
      lake.arch("weather"), lake.lake("spp_weather")))
    job("historicalWeatherUnion", 3, "hist_total")(
      Jobs.historicalWeatherUnion(spark, lake.src("hist_weather"),
        lake.lake("hist_weather")))
  }

  /** Every delivered file left the source folders for the archive. */
  private def checkArchived(lake: Lake, delivered: Seq[String],
      keep: Set[String] = Set.empty): Unit =
    delivered.foreach { p =>
      val Array(f, n) = p.split("/", 2)
      if (!keep(f)) {
        ctx.check(!new File(lake.src(f), n).exists, s"$p was not archived")
        ctx.check(new File(lake.arch(f), n).exists, s"$p missing from archive")
      }
    }

  /** Re-running the jobs after a tick: the sources are empty, so nothing
    * is added; a load file delivered again under a new name is
    * anti-joined away. Untimed.
    */
  private def checkRerun(spark: SparkSession, lake: Lake,
      totals: Array[Long]): Unit = {
    val again = csvs(lake.arch("load")).sortBy(_.getName).lastOption
    again.foreach(a => Files.copy(a.toPath,
      new File(lake.src("load"), "again_" + a.getName).toPath))
    val load = Jobs.singleFolderElt(spark, lake.src("load"), lake.arch("load"),
      lake.lake("load"), Schemas.castsOf(Schemas.load), dedup = true,
      dedupAgainstLake = true)
    ctx.check(again.isEmpty || load.contains(totals(0)),
      s"re-delivered load file changed the lake: $load vs ${totals(0)}")
    val fm = Jobs.fmLoadMerge(spark, lake.src("fuel_mix"), lake.src("fm_load"),
      lake.arch("fuel_mix"), lake.arch("fm_load"), lake.lake("fm_load"))
    val sw = Jobs.sppWeatherMerge(spark, lake.src("spp"), lake.src("weather"),
      lake.arch("spp"), lake.arch("weather"), lake.lake("spp_weather"))
    ctx.check(fm.isEmpty && sw.isEmpty,
      s"re-run on archived inputs wrote rows: fmLoadMerge $fm, sppWeatherMerge $sw")
  }

  /** Data files per lake table (parquet parts). */
  private def lakeFiles(lake: Lake): Double = {
    val tables = Option(new File(s"${lake.root}/lake").listFiles())
      .map(_.toSeq).getOrElse(Nil)
    if (tables.isEmpty) 0.0
    else tables.map(t => Option(t.listFiles()).map(_.count(
      _.getName.endsWith(".parquet"))).getOrElse(0)).sum.toDouble / tables.size
  }

  override def setup(spark: SparkSession, rep: Int): Unit = {
    val l = new Lake(s"${ctx.work}/elt_warm$rep")
    val drop = warmups(rep % warmups.size)
    deliver(l, drop)
    tickJobs(spark, l, drop, new Array[Long](4),
      only = i => Workload.slice(0 until 4, rep).contains(i))
  }

  override def load(spark: SparkSession): Unit =
    lake = new Lake(s"${ctx.work}/elt")

  override def round(spark: SparkSession, r: Int): Boolean = {
    if (r >= ticks.size) return false
    val delivered = deliver(lake, ticks(r))
    deliveredBytes += delivered.map { p =>
      val Array(f, n) = p.split("/", 2)
      new File(lake.src(f), n).length
    }.sum
    tickJobs(spark, lake, ticks(r), totals)
    // the union job reads its folder in place and does not archive
    checkArchived(lake, delivered, keep = Set("hist_weather"))
    true
  }

  override def finish(spark: SparkSession): Unit = checkRerun(spark, lake, totals)

  override def counters(spark: SparkSession): Map[String, Double] =
    Map("lake.files" -> lakeFiles(lake),
      "written_bytes" -> Disk.du(s"${lake.root}/lake")._1.toDouble,
      "user_bytes" -> deliveredBytes.toDouble)
}
