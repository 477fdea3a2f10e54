package graft.perfbench

import java.lang.management.ManagementFactory
import java.time.Instant
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. `parent` is the enclosing span's id (0 = none). */
final class Span(val id: Int, val parent: Int, val name: String,
                 val startMs: Long, val startNs: Long) {
  var endMs: Long = startMs
  var endNs: Long = startNs
  val counters: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap()
  def wallMs: Double = (endNs - startNs) / 1e6
}

/** Spans around the benchmark's calls into the engine, with per-span
  * counters collected by listeners registered from benchmark code only:
  * a SparkListener (jobs, stages, task time, shuffle and spill bytes,
  * idle time), a QueryExecutionListener (planning phases, join output
  * rows of the executed plan), a StreamingQueryListener (micro-batch
  * `durationMs` entries) and Spark's code generator compile time.
  *
  * Events are attributed to spans by their own timestamps, so a span's
  * counters cover exactly its interval; nested spans count into their
  * parents too. Spans stay in memory until [[write]].
  *
  * The listeners are attached only while [[enabled]]; with tracing off
  * a span is a plain call. */
final class Tracer(spark: SparkSession, val runId: String) {
  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer[Span]()
  private var open = List.empty[Span]
  private var nextId = 1
  private var attached = false

  private final case class TaskEv(launch: Long, finish: Long, runMs: Long,
                                  shuffleBytes: Long, spillBytes: Long)
  private final case class PlanEv(time: Long, func: String, phases: Map[String, Long],
                                  topJoinRows: Long)
  private final case class ProgressEv(time: Long, rows: Long, durations: Map[String, Long])

  private val jobStarts = new ConcurrentLinkedQueue[Long]()
  private val stageSubmits = new ConcurrentLinkedQueue[Long]()
  private val tasks = new ConcurrentLinkedQueue[TaskEv]()
  private val plans = new ConcurrentLinkedQueue[PlanEv]()
  private val progress = new ConcurrentLinkedQueue[ProgressEv]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobStarts.add(e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      e.stageInfo.submissionTime.foreach(stageSubmits.add(_))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val (run, sh, sp) =
        if (m == null) (0L, 0L, 0L)
        else (m.executorRunTime, m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled)
      tasks.add(TaskEv(e.taskInfo.launchTime, e.taskInfo.finishTime, run, sh, sp))
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases.map { case (k, p) => k -> p.durationMs }
      val time = qe.tracker.phases.get("planning").map(_.endTimeMs)
        .getOrElse(System.currentTimeMillis())
      plans.add(PlanEv(time, func, phases, topJoinRows(qe.executedPlan)))
    }
    override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      progress.add(ProgressEv(Instant.parse(p.timestamp).toEpochMilli, p.numInputRows,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
    }
  }

  /** Number of spans recorded so far whose name is `name`. */
  def count(name: String): Int = spans.count(_.name == name)

  def enabled: Boolean = attached

  /** Attaches (true) or detaches (false) every listener. */
  def setEnabled(on: Boolean): Unit = if (on != attached) {
    if (on) {
      sc.addSparkListener(sparkListener)
      spark.listenerManager.register(planListener)
      spark.streams.addListener(streamListener)
    } else {
      PerfbenchBus.drain(sc)
      sc.removeSparkListener(sparkListener)
      spark.listenerManager.unregister(planListener)
      spark.streams.removeListener(streamListener)
    }
    attached = on
  }

  /** Runs `body` inside a span named `name` when tracing is enabled. */
  def span[T](name: String)(body: => T): T =
    if (!attached) body
    else {
      val s = new Span(nextId, open.headOption.fold(0)(_.id), name,
        System.currentTimeMillis(), System.nanoTime())
      nextId += 1
      spans += s
      open = s :: open
      val gc0 = gcMs(); val cg0 = CodeGenerator.compileTime
      try body
      finally {
        s.endNs = System.nanoTime(); s.endMs = System.currentTimeMillis()
        s.counters("gc_ms") = (gcMs() - gc0).toDouble
        s.counters("codegen_compile_ms") = (CodeGenerator.compileTime - cg0) / 1e6
        open = open.tail
      }
    }

  /** Adds `v` to counter `key` of the innermost open span. */
  def add(key: String, v: Double): Unit =
    open.headOption.foreach(s => s.counters(key) = s.counters.getOrElse(key, 0.0) + v)

  /** Fills every span's event-derived counters; call once, at the end. */
  def finish(): Unit = {
    PerfbenchBus.drain(sc)
    val js = jobStarts.asScala.toVector
    val ss = stageSubmits.asScala.toVector
    val ts = tasks.asScala.toVector
    val ps = plans.asScala.toVector
    val pr = progress.asScala.toVector
    spans.foreach { s =>
      def in(t: Long) = t >= s.startMs && t <= s.endMs
      val st = ts.filter(t => in(t.launch))
      val c = s.counters
      c("wall_ms") = s.wallMs
      c("jobs") = js.count(in).toDouble
      c("stages") = ss.count(in).toDouble
      c("task_ms") = st.map(_.runMs).sum.toDouble
      c("shuffle_bytes") = st.map(_.shuffleBytes).sum.toDouble
      c("spill_bytes") = st.map(_.spillBytes).sum.toDouble
      c("idle_ms") = math.max(0.0, (s.endMs - s.startMs) - busyMs(ts, s.startMs, s.endMs))
      val sp = ps.filter(p => in(p.time))
      Seq("analysis", "optimization", "planning").foreach { ph =>
        c(s"plan_${ph}_ms") = sp.map(_.phases.getOrElse(ph, 0L)).sum.toDouble
      }
      sp.filter(_.func == "collect").lastOption.foreach(p => c("top_join_rows") = p.topJoinRows.toDouble)
      val batches = pr.filter(p => in(p.time) && p.rows > 0)
      if (batches.nonEmpty) {
        c("batches") = batches.size.toDouble
        Seq("addBatch", "queryPlanning", "walCommit", "commitOffsets", "latestOffset",
          "getBatch", "triggerExecution").foreach { k =>
          c(s"stream_${k}_ms") = batches.map(_.durations.getOrElse(k, 0L)).sum.toDouble
        }
      }
    }
  }

  /** Spans named `name` (after [[finish]]). */
  def spansNamed(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  /** Mean of counter `key` over the spans named `name`, 0 when none ran. */
  def mean(name: String, key: String): Double = {
    val xs = spansNamed(name).map(_.counters.getOrElse(key, 0.0))
    if (xs.isEmpty) 0.0 else xs.sum / xs.size
  }

  /** Sum of counter `key` over the spans named `name`. */
  def total(name: String, key: String): Double =
    spansNamed(name).map(_.counters.getOrElse(key, 0.0)).sum

  /** Writes the header and every span, one JSON object per line. */
  def write(path: java.nio.file.Path, header: String): Unit = {
    val lines = header +: spans.toSeq.map { s =>
      Json.obj("run_id" -> runId, "span_id" -> s.id, "parent_id" -> s.parent,
        "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "counters" -> s.counters)
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }

  /** Milliseconds of [from, to] during which at least one task ran. */
  private def busyMs(ts: Seq[TaskEv], from: Long, to: Long): Double = {
    val iv = ts.map(t => (math.max(t.launch, from), math.min(t.finish, to)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var busy = 0L; var curA = -1L; var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { busy += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    (busy + (curB - curA)).toDouble
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum

  /** Output rows of the join nearest the root of an executed plan
    * (through adaptive and query-stage wrappers) that has no residual
    * condition, i.e. the rows its keys matched: the candidates a
    * filtering join above it then verifies. -1 when there is none. */
  private def topJoinRows(root: SparkPlan): Long = {
    def kids(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec        => Seq(q.plan)
      case r: ReusedExchangeExec    => Seq(r.child)
      case o                        => o.children
    }
    var level = Seq(root)
    while (level.nonEmpty) {
      level.collectFirst { case j: BaseJoinExec if j.condition.isEmpty => j } match {
        case Some(j) => return j.metrics.get("numOutputRows").fold(-1L)(_.value)
        case None    => level = level.flatMap(kids)
      }
    }
    -1L
  }
}

/** JVM heap use across all heap pools, for the traced run's peak. */
object Heap {
  private def pools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
  def resetPeak(): Unit = pools.foreach(_.resetPeakUsage())
  def peakMb: Double = pools.map(_.getPeakUsage.getUsed).sum / 1048576.0
}
