package applybench

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One traced interval. Times are epoch microseconds so benchmark spans
  * (nanoTime-based) and Spark listener events (epoch ms) share one clock.
  */
final case class Span(id: Long, name: String, layer: String, startUs: Long, endUs: Long,
    parent: Long, batch: Long) {
  def durUs: Long = endUs - startUs
}

/** Streaming progress of one micro-batch, as a `StreamingQueryListener`
  * reports it. Kept in every run: freshness and the exactly-once check read it.
  */
final case class BatchProgress(batchId: Long, startMs: Long, rows: Long,
    durationMs: Map[String, Long])

/** In-memory span recorder plus the Spark listeners of the traced run.
  *
  * Spans come from three sources, each a measurement with its own clock
  * readings: [[span]] around each call the benchmark makes into a layer; the
  * engine's own `GRAFT_TIMING` timers inside `CdcPipeline.applyBatch`,
  * `MergeInto` and `SinkOpState` (the traced JVM runs with `GRAFT_TIMING`
  * set; [[arm]] turns each `[timing] <tag> <secs>s` stderr line into a span
  * ending when the line is printed); and SQL executions from a
  * `SparkListener`. Until [[arm]] (never, with tracing off) [[span]] only
  * runs its body and no Spark or SQL listener is registered; the streaming
  * progress listener is registered either way.
  */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] { override def initialValue() = Nil }
  private val epochOffsetUs = System.currentTimeMillis() * 1000L - System.nanoTime() / 1000L
  def nowUs: Long = System.nanoTime() / 1000L + epochOffsetUs

  // listener-side records, all timestamped (epoch ms) for window attribution
  final case class TaskRec(endMs: Long, runMs: Long, shuffleWrite: Long)
  final case class PlanRec(startMs: Long, endMs: Long)
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  val jobs = new ConcurrentLinkedQueue[java.lang.Long]()
  val plans = new ConcurrentLinkedQueue[PlanRec]()
  val progress = new ConcurrentLinkedQueue[BatchProgress]()
  private val sqlStarts = new java.util.concurrent.ConcurrentHashMap[Long, (Long, String)]()

  @volatile private var armed = false
  /** Wall time spent in tracing code (listener callbacks, span records,
    * timer-line parsing) on any thread since [[arm]].
    */
  private val tracingNs = new AtomicLong(0)
  def tracingSecs: Double = tracingNs.get / 1e9
  private def accounted[T](f: => T): T = {
    val t0 = System.nanoTime()
    try f finally tracingNs.addAndGet(System.nanoTime() - t0)
  }

  def span[T](name: String, layer: String, batch: Long = -1L)(f: => T): T = {
    if (!armed) return f
    val id = ids.incrementAndGet()
    val parents = stack.get()
    stack.set(id :: parents)
    val t0 = nowUs
    try f finally accounted {
      spans.add(Span(id, name, layer, t0, nowUs, parents.headOption.getOrElse(0L), batch))
      stack.set(parents)
    }
  }

  /** Adds a span measured elsewhere (listener events, progress phases). */
  def record(name: String, layer: String, startUs: Long, endUs: Long, parent: Long = 0L,
      batch: Long = -1L): Long = {
    val id = ids.incrementAndGet()
    if (armed) spans.add(Span(id, name, layer, startUs, endUs, parent, batch))
    id
  }

  def allSpans: Seq[Span] = spans.asScala.toSeq.sortBy(s => (s.startUs, s.id))

  /** Registers the progress listener every run needs. */
  def attach(spark: SparkSession): Unit = {
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        progress.add(BatchProgress(p.batchId,
          java.time.Instant.parse(p.timestamp).toEpochMilli, p.numInputRows,
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
      }
    })
  }

  /** Traced runs only, after warm-up: start recording spans and register
    * the job/task, SQL-execution and query-planning listeners.
    */
  def arm(spark: SparkSession): Unit = {
    if (!enabled || armed) return
    armed = true
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = accounted(jobs.add(e.time))
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = accounted {
        val m = e.taskMetrics
        if (m != null) tasks.add(TaskRec(e.taskInfo.finishTime, m.executorRunTime,
          m.shuffleWriteMetrics.bytesWritten))
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = accounted(e match {
        case s: SparkListenerSQLExecutionStart =>
          sqlStarts.put(s.executionId, (s.time, s.description))
        case d: SparkListenerSQLExecutionEnd =>
          val st = sqlStarts.remove(d.executionId)
          // the layer is the enclosing call's, set when spans are linked
          if (st != null)
            record(s"sql:${st._2.take(60)}", "", st._1 * 1000L, d.time * 1000L)
        case _ =>
      })
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        accounted(qe.tracker.phases.foreach { case (phase, p) =>
          if (phase != "parsing") plans.add(PlanRec(p.startTimeMs, p.endTimeMs))
        })
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    System.setErr(new java.io.PrintStream(new EngineTimers(System.err), true))
  }

  /** Passes stderr through and records each engine timer line as a span. */
  private final class EngineTimers(orig: java.io.PrintStream) extends java.io.OutputStream {
    private val line = new java.io.ByteArrayOutputStream()
    override def write(b: Int): Unit = write(Array(b.toByte), 0, 1)
    override def write(b: Array[Byte], off: Int, len: Int): Unit = {
      orig.write(b, off, len)
      var i = off
      while (i < off + len) {
        if (b(i) == '\n') { val end = nowUs; accounted(parse(line.toString("UTF-8"), end)); line.reset() }
        else line.write(b(i).toInt)
        i += 1
      }
    }
    override def flush(): Unit = orig.flush()
    private def parse(text: String, endUs: Long): Unit = text match {
      case Tracer.TimerLine(tag, secs) =>
        val (name, batch) = tag match {
          case Tracer.EpochTag(t, epoch) => (t, epoch.toLong)
          case t => (t, -1L)
        }
        val layer = if (name == "applyBatch") "streaming" else "merge"
        val d = (secs.replace(',', '.').toDouble * 1e6).toLong // the engine formats in the default locale
        record(s"engine.$name", layer, endUs - d, endUs, batch = batch)
      case _ =>
    }
  }

  /** Waits until every listener event posted so far has been delivered. */
  def drain(spark: SparkSession): Unit = org.apache.spark.ApplyBenchBridge.drainListeners(spark)

  /** Code-generation compile time so far, in ms (the histogram keeps every
    * sample up to its 1028-entry reservoir, far above one run's compiles).
    */
  def codegenMs: Double =
    CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getValues.map(_.toDouble).sum
  def codegenCount: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  // ------------------------------------------------------------ reporting

  /** Per-window sums over listener records: windows are epoch-us intervals. */
  final case class WindowStats(jobs: Long, tasks: Long, taskRunS: Double,
      shuffleBytes: Long, planMs: Double)

  def windowStats(windows: Seq[(Long, Long)]): WindowStats = {
    def in(ms: Long): Boolean = { val us = ms * 1000L; windows.exists { case (a, b) => us >= a && us <= b } }
    val ts = tasks.asScala.filter(t => in(t.endMs)).toSeq
    WindowStats(
      jobs = jobs.asScala.count(j => in(j)).toLong,
      tasks = ts.size.toLong,
      taskRunS = ts.map(_.runMs).sum / 1e3,
      shuffleBytes = ts.map(_.shuffleWrite).sum,
      planMs = plans.asScala.filter(p => in(p.startMs)).map(p => (p.endMs - p.startMs).toDouble).sum)
  }

  /** Parent links for spans recorded without one: the smallest enclosing
    * span (engine timers and SQL executions land inside the call that ran
    * them; a nested SQL execution inside its root execution). A SQL
    * execution takes the layer of the call it ran in.
    */
  private def linked: Seq[Span] = {
    val all = allSpans
    val withParents = all.map { s =>
      if (s.parent != 0L) s
      else {
        // listener times have ms resolution: allow 2 ms of slack
        val enclosing = all.filter(p => p.id != s.id &&
          p.startUs <= s.startUs + 2000L && p.endUs + 2000L >= s.endUs && p.durUs > s.durUs)
        if (enclosing.isEmpty) s else s.copy(parent = enclosing.minBy(_.durUs).id)
      }
    }
    val byId = withParents.map(s => s.id -> s).toMap
    def layerOf(s: Span): String =
      if (s.layer.nonEmpty) s.layer
      else byId.get(s.parent).map(layerOf).getOrElse("spark")
    withParents.map(s => if (s.layer.nonEmpty) s else s.copy(layer = layerOf(s)))
  }

  private def covered(children: Seq[Span], a: Long, b: Long): Long = {
    var total = 0L; var end = a
    children.map(c => (math.max(a, c.startUs), math.min(b, c.endUs))).filter(x => x._2 > x._1)
      .sortBy(_._1).foreach { case (s, e) =>
        if (e > end) { total += e - math.max(s, end); end = e }
      }
    total
  }

  /** Self time per layer: each span's time minus the part its children
    * cover.
    */
  def selfTimes: Map[String, Double] = {
    val all = linked
    val kids = all.groupBy(_.parent)
    val self = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    all.foreach { s =>
      self(s.layer) += (s.durUs - covered(kids.getOrElse(s.id, Nil), s.startUs, s.endUs)) / 1e6
    }
    self.toMap
  }

  /** The share of the apply wall that measured layer calls cover. Each batch
    * is a search interval `(fromUs, toUs)` holding the apply and its wall
    * (µs). Counted are engine timers, benchmark spans around a layer call and
    * SQL executions that hold no such call; not spans that only group others
    * (the micro-batch's own SQL execution holds the whole apply), nor
    * streaming phases placed from progress durations.
    */
  def coverage(batches: Seq[((Long, Long), Long)]): Double = {
    val all = linked
    val holdsCall = all.filterNot(_.name.startsWith("sql:")).map(_.parent).toSet
    val calls = all.filterNot(s => Tracer.Containers(s.name) || s.name.startsWith("streaming.") ||
      (s.name.startsWith("sql:") && holdsCall(s.id)))
    val wall = batches.map(_._2).sum
    val cov = batches.map { case ((a, b), w) => math.min(w, covered(calls, a, b)) }.sum
    if (wall > 0) cov.toDouble / wall else 0.0
  }

  /** Seconds inside `windows` covered by the engine's timers of `layer`. */
  def engineTime(layer: String, windows: Seq[(Long, Long)]): Double = {
    val timers = allSpans.filter(s => s.name.startsWith("engine.") && s.layer == layer)
    windows.map { case (a, b) => covered(timers, a, b) }.sum / 1e6
  }

  def writeJsonl(path: Path): Unit = {
    Files.createDirectories(path.getParent)
    val lines = linked.map(s => Harness.json(mutable.LinkedHashMap[String, Any](
      "id" -> s.id, "name" -> s.name, "layer" -> s.layer, "start_us" -> s.startUs,
      "end_us" -> s.endUs, "parent" -> s.parent, "batch" -> s.batch)))
    Files.write(path, lines.asJava)
  }
}

object Tracer {
  /** `[timing]   mor-write 1.234s` and `[timing] applyBatch(7) 2.345s (at …)`. */
  val TimerLine = """\[timing\]\s+(\S+)\s+([0-9]+[.,][0-9]+)s\b.*""".r
  val EpochTag = """(\w+)\((\d+)\)""".r
  /** Spans that only group layer calls: their own time is no layer's work. */
  val Containers = Set("streaming.batch", "bench.batch", "config.drain",
    "engine.applyBatch", "engine.merge", "engine.sinkop-merge")
}
