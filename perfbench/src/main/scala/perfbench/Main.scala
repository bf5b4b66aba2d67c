package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

/** One timed engine call. Times are epoch milliseconds ([[Clock]]). */
final case class Op(id: Long, round: Int, kind: String, name: String,
    start: Double, end: Double, ok: Boolean, rows: Long, traced: Boolean,
    error: String)

/** What a workload sees of the run: the op timer, the tracer, the input
  * directory and plan, and a scratch directory for everything it writes.
  */
final class Ctx(val inputs: String, val work: String, val plan: JsonNode,
    val seed: Long) {
  var tracer: Tracer = _
  var spark: SparkSession = _
  val ops = ArrayBuffer.empty[Op]
  val failures = ArrayBuffer.empty[String]
  var round = -1
  private var current: Option[ArrayBuffer[String]] = None

  /** Times `body` as one operation. `body` returns the rows it produced
    * or committed; an exception, or a failed [[check]] inside it, marks
    * the op failed.
    */
  def op(kind: String, name: String)(body: => Long): Unit = {
    val id = ops.size.toLong
    val errs = ArrayBuffer.empty[String]
    current = Some(errs)
    val t0 = Clock.nowMs
    val rows =
      try tracer.span(s"op.$kind", id)(body)
      catch { case e: Throwable =>
        errs += s"${e.getClass.getSimpleName}: ${Option(e.getMessage)
          .getOrElse("").linesIterator.take(1).mkString.take(300)}"
        -1L
      }
    val t1 = Clock.nowMs
    current = None
    ops += Op(id, round, kind, name, t0, t1, errs.isEmpty, rows,
      tracer.enabled, errs.headOption.getOrElse(""))
  }

  /** An output check. Inside an op a failure fails that op; outside one
    * it is a run-level failure (`failures`).
    */
  def check(ok: Boolean, msg: => String): Unit = if (!ok) current match {
    case Some(errs) => errs += msg
    case None => failures += s"round $round: $msg"
  }
}

/** A workload: set-up, timed as `setup_s`, then rounds of timed
  * operations until the time is up. Set-up is one warm-up of every op,
  * split into [[Workload.SetupReps]] slices that each start a fresh
  * session.
  */
trait Workload {
  /** Slice `rep` (from 0) of the warm-up, on a fresh session. */
  def setup(spark: SparkSession, rep: Int): Unit
  /** Untimed loading of the state the rounds start from (timed as
    * `load_s`, once), after the last set-up.
    */
  def load(spark: SparkSession): Unit = ()
  /** One round of operations; false once the inputs are used up. */
  def round(spark: SparkSession, r: Int): Boolean
  /** Untimed work after the last round: final ops and output dumps. */
  def finish(spark: SparkSession): Unit = ()
  /** Layer counters read after the run (files, bytes, versions). */
  def counters(spark: SparkSession): Map[String, Double] = Map.empty
}

object Disk {
  /** Bytes and files under a directory tree. */
  def du(dir: String): (Long, Long) = {
    def walk(f: File): Iterator[File] =
      if (f.isDirectory) Option(f.listFiles()).iterator.flatten.flatMap(walk)
      else Iterator(f)
    val fs = walk(new File(dir)).toSeq
    (fs.map(_.length).sum, fs.size.toLong)
  }
}

object Workload {
  val SetupReps = 3
  /** The elements of `xs` that belong to set-up slice `rep`. */
  def slice[T](xs: Seq[T], rep: Int): Seq[T] =
    xs.zipWithIndex.collect { case (x, i) if i % SetupReps == rep => x }
}

object Main {
  private def arg(args: Array[String], k: String): String = {
    val i = args.indexOf(s"--$k")
    require(i >= 0 && i + 1 < args.length, s"missing --$k")
    args(i + 1)
  }

  def session(work: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def workload(name: String, ctx: Ctx): Workload = name match {
    case "dashboard" => new Dashboard(ctx)
    case "elt_lake" => new EltLake(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private def plan(inputs: String): JsonNode =
    new ObjectMapper().readTree(new File(s"$inputs/plan.json"))

  /** Runs every workload's set-up in this one JVM, so that a class-data
    * archive written when it exits holds the classes all of them load.
    * `specs` is `workload=inputs,...`.
    */
  private def train(specs: String, work: String): Unit =
    specs.split(",").foreach { spec =>
      val Array(name, inputs) = spec.split("=", 2)
      val ctx = new Ctx(inputs, s"$work/$name", plan(inputs), 0L)
      val wl = workload(name, ctx)
      for (rep <- 0 until Workload.SetupReps) {
        val spark = session(ctx.work)
        ctx.spark = spark
        ctx.tracer = new Tracer(spark)
        wl.setup(spark, rep)
        spark.stop()
      }
    }

  def main(args: Array[String]): Unit =
    if (args.contains("--train")) train(arg(args, "train"), arg(args, "work"))
    else run(args)

  private def run(args: Array[String]): Unit = {
    val name = arg(args, "workload")
    val seed = arg(args, "seed").toLong
    val seconds = arg(args, "seconds").toDouble
    val trace = arg(args, "trace") == "1"
    val inputs = arg(args, "inputs")
    val work = arg(args, "work")
    val out = arg(args, "out")
    val mapper = new ObjectMapper()
    val ctx = new Ctx(inputs, work, plan(inputs), seed)
    val wl = workload(name, ctx)

    // set-up: session start plus a slice of the warm-up, on fresh sessions
    val setupS = ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (rep <- 0 until Workload.SetupReps) {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(work)
      ctx.spark = spark
      ctx.tracer = new Tracer(spark)
      wl.setup(spark, rep)
      setupS += (System.nanoTime() - t0) / 1e9
    }
    ctx.failures.clear() // warm-up outcomes are not measured
    ctx.ops.clear()
    val l0 = System.nanoTime()
    wl.load(spark)
    val loadS = (System.nanoTime() - l0) / 1e9

    // timed phase: whole rounds until `seconds` have passed. With tracing
    // on, rounds alternate traced / untraced, so the per-layer numbers come
    // from the same first round an untraced run measures, and the round
    // after each traced one gives the tracing overhead.
    val gc0 = gcMs()
    val t0 = Clock.nowMs
    val rounds = ArrayBuffer.empty[(Int, Double, Double, Boolean)]
    var r = 0
    var more = true
    // a traced run needs the untraced round after its traced one
    val minRounds = if (trace) 2 else 1
    while (more && (Clock.nowMs - t0 < seconds * 1000 || r < minRounds)) {
      val traced = trace && r % 2 == 0
      if (traced) ctx.tracer.start()
      ctx.round = r
      val r0 = Clock.nowMs
      more = wl.round(spark, r)
      val r1 = Clock.nowMs
      if (traced) ctx.tracer.stop()
      rounds += ((r, r0, r1, traced))
      r += 1
    }
    val timedMs = Clock.nowMs - t0
    val gcS = (gcMs() - gc0) / 1000.0
    ctx.round = r
    if (trace) ctx.tracer.start()
    wl.finish(spark)
    ctx.tracer.stop()
    val counters = wl.counters(spark)
    spark.stop()

    val res = mapper.createObjectNode()
    res.put("workload", name)
    res.put("seed", seed)
    res.put("trace", trace)
    res.put("timed_s", timedMs / 1000.0)
    res.put("load_s", loadS)
    res.put("gc_s", gcS)
    res.put("peak_rss_mb", peakRssMb())
    res.put("jvm_version", System.getProperty("java.vm.version"))
    res.put("jvm_max_heap_mb", Runtime.getRuntime.maxMemory / 1048576.0)
    res.put("cpus", Runtime.getRuntime.availableProcessors)
    val su = res.putArray("setup_s")
    setupS.foreach(su.add(_))
    val rs = res.putArray("rounds")
    rounds.foreach { case (i, a, b, tr) =>
      rs.addObject().put("round", i).put("start", a).put("end", b)
        .put("traced", tr)
    }
    val os = res.putArray("ops")
    ctx.ops.foreach { o =>
      os.addObject().put("id", o.id).put("round", o.round).put("kind", o.kind)
        .put("name", o.name).put("start", o.start).put("end", o.end)
        .put("ok", o.ok).put("rows", o.rows).put("traced", o.traced)
        .put("error", o.error)
    }
    val fs = res.putArray("failures")
    ctx.failures.foreach(fs.add)
    val cs = res.putObject("counters")
    counters.foreach { case (k, v) => cs.put(k, v) }
    val sp = res.putArray("spans")
    ctx.tracer.recorded.foreach { s =>
      val n = sp.addObject().put("id", s.id).put("name", s.name)
        .put("start", s.start).put("end", s.end).put("parent", s.parent)
        .put("op", s.op)
      if (s.attrs.nonEmpty) {
        val a = n.putObject("attrs")
        s.attrs.foreach { case (k, v) => a.put(k, v) }
      }
    }
    Files.writeString(Paths.get(out), mapper.writeValueAsString(res))
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum

  /** Peak resident set of this process (VmHWM), in MiB. */
  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
}
