package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. `start`/`end` are epoch milliseconds with a
  * fractional part (benchmark spans) or whole milliseconds (events the
  * Spark listeners report). `op` is the id of the operation the span
  * belongs to (-1 when it is assigned later, by time), `parent` the id of
  * the enclosing span (-1 for a root). `attrs` carries listener counters.
  */
final case class Span(id: Long, name: String, start: Double, end: Double,
    parent: Long, op: Long, attrs: Map[String, Double] = Map.empty)

/** Clock shared by every span: epoch milliseconds at nanoTime resolution,
  * so benchmark spans line up with the listener event timestamps.
  */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

/** In-memory span recorder. Benchmark spans come from [[span]]; Spark's
  * own work arrives through three public listeners (scheduler, query
  * execution, streaming) that are registered only while tracing is on.
  * Spans are written out once, when the run ends.
  */
final class Tracer(spark: SparkSession) {
  private val spans = ArrayBuffer.empty[Span]
  private var nextId = 0L
  private var stack = List.empty[(Long, Long)] // (span id, op id)
  @volatile private var lastEventMs = 0.0
  @volatile private var jobsOpen = 0
  private var on = false

  def enabled: Boolean = on

  /** Times `body` as a span. While tracing is off the span is still
    * returned to the caller's timing but not kept.
    */
  def span[T](name: String, op: Long = -1L)(body: => T): T = {
    val id = synchronized { nextId += 1; nextId }
    val parent = stack.headOption.map(_._1).getOrElse(-1L)
    val opId = if (op >= 0) op else stack.headOption.map(_._2).getOrElse(-1L)
    stack = (id, opId) :: stack
    val t0 = Clock.nowMs
    try body
    finally {
      val t1 = Clock.nowMs
      stack = stack.tail
      if (on) add(Span(id, name, t0, t1, parent, opId))
    }
  }

  private def add(s: Span): Unit = synchronized { spans += s }

  private def event(name: String, start: Double, end: Double,
      attrs: Map[String, Double] = Map.empty): Unit = {
    lastEventMs = Clock.nowMs
    val id = synchronized { nextId += 1; nextId }
    add(Span(id, name, start, end, -1L, -1L, attrs))
  }

  private val scheduler = new SparkListener {
    private val jobStart = scala.collection.concurrent.TrieMap.empty[Int, Long]
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobsOpen += 1
      jobStart.put(e.jobId, e.time)
      lastEventMs = Clock.nowMs
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      jobsOpen -= 1
      jobStart.remove(e.jobId).foreach(t0 =>
        event("spark.job", t0.toDouble, e.time.toDouble))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val t1 = i.completionTime.getOrElse(System.currentTimeMillis())
      event("spark.stage", i.submissionTime.getOrElse(t1).toDouble,
        t1.toDouble, Map("tasks" -> i.numTasks.toDouble))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val info = e.taskInfo
      val attrs =
        if (m == null) Map.empty[String, Double]
        else Map(
          "run_ms" -> m.executorRunTime.toDouble,
          "scan_bytes" -> m.inputMetrics.bytesRead.toDouble,
          "shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead.toDouble,
          "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten.toDouble,
          "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      event("spark.task", info.launchTime.toDouble, info.finishTime.toDouble,
        attrs)
    }
  }

  private val queries = new QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit =
      qe.tracker.phases.foreach { case (phase, p) =>
        event(s"catalyst.$phase", p.startTimeMs.toDouble, p.endTimeMs.toDouble)
      }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      phases(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      phases(qe)
  }

  private val streams = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val ms = Option(p.durationMs.get("triggerExecution"))
        .map(_.longValue.toDouble).getOrElse(0.0)
      val end = java.time.Instant.parse(p.timestamp).toEpochMilli + ms
      event("streaming.batch", end - ms, end,
        Map("input_rows" -> p.numInputRows.toDouble))
    }
  }

  def start(): Unit = if (!on) {
    spark.sparkContext.addSparkListener(scheduler)
    spark.listenerManager.register(queries)
    spark.streams.addListener(streams)
    on = true
  }

  /** Waits until the asynchronous listener buses have delivered the
    * events of the work just done, then detaches the listeners.
    */
  def stop(): Unit = if (on) {
    val deadline = Clock.nowMs + 3000
    while (Clock.nowMs < deadline &&
        (jobsOpen > 0 || Clock.nowMs - lastEventMs < 250)) Thread.sleep(25)
    spark.sparkContext.removeSparkListener(scheduler)
    spark.listenerManager.unregister(queries)
    spark.streams.removeListener(streams)
    on = false
  }

  def recorded: Seq[Span] = synchronized(spans.toList)
}
