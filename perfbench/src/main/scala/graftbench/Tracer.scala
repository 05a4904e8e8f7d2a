package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. `parent` is the enclosing span's id
  * (-1 at the top); every span of one run shares the tracer's run id.
  */
final case class Span(id: Int, name: String, parent: Int,
    startNs: Long, startMs: Long, var endNs: Long = 0L, var endMs: Long = 0L) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans recorded from outside the program, around the benchmark's
  * calls into each layer, plus the Spark-side counts charged to them.
  *
  * Jobs, stages and task metrics reach the open span through a
  * `setLocalProperty` tag that the scheduler copies onto every job the
  * client thread submits. Catalyst phase times arrive through a
  * `QueryExecutionListener`; each phase is charged to the innermost
  * span open at the phase's start time, so analysis done while a frame
  * is built is charged where it ran, and optimization where the action
  * ran. Everything stays in memory until the run is reported.
  *
  * A disabled tracer registers nothing and runs each body directly:
  * untraced runs pay one branch per call.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean, val runId: String) {
  import Tracer._

  private val spans = ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil // one client thread
  // (span id, counter) -> value; written from the listener bus thread
  private val counts = new ConcurrentHashMap[(Int, String), Double]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  @volatile private var jobsStarted = 0L
  @volatile private var jobsEnded = 0L
  // (phase start ms, counter, value) from the QueryExecutionListener,
  // resolved to spans at report time
  private val planEvents = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String, Double)]()

  private def add(span: Int, key: String, v: Double): Unit =
    counts.merge((span, key), v, (a: Double, b: Double) => a + b)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobsStarted += 1
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
        .map(_.toInt).getOrElse(-1)
      add(span, "jobs", 1)
      e.stageIds.foreach(s => stageSpan.putIfAbsent(s, span))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobsEnded += 1
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      add(stageSpan.getOrDefault(e.stageInfo.stageId, -1), "stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val span = stageSpan.getOrDefault(e.stageId, -1)
      add(span, "tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        add(span, "task_cpu_s", m.executorCpuTime / 1e9)
        add(span, "executor_run_s", m.executorRunTime / 1e3)
        add(span, "gc_s", m.jvmGCTime / 1e3)
        add(span, "shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add(span, "shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add(span, "spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        add(span, "input_records", m.inputMetrics.recordsRead.toDouble)
        add(span, "input_bytes", m.inputMetrics.bytesRead.toDouble)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases
      def start(p: String) = phases.get(p).map(_.startTimeMs)
      val actionAt = start("planning").orElse(start("optimization"))
        .orElse(start("analysis")).getOrElse(System.currentTimeMillis())
      planEvents.add((actionAt, "actions", 1.0))
      Seq("analysis" -> "analysis_ms", "optimization" -> "optimization_ms",
        "planning" -> "planning_ms").foreach { case (p, key) =>
        phases.get(p).foreach(s => planEvents.add((s.startTimeMs, key, s.durationMs.toDouble)))
      }
      // graft's own optimizer and planner rules run in the optimization
      // phase (or analysis, for a frame that was never optimized)
      val graftNs = qe.tracker.rules.collect {
        case (name, r) if name.startsWith("graft.") => r.totalTimeNs
      }.sum
      planEvents.add((start("optimization").getOrElse(actionAt), "graft_rules_ms", graftNs / 1e6))
      scala.util.Try(qe.executedPlan).foreach { root =>
        val nodes = walk(root)
        def metric(name: String) =
          nodes.flatMap(_.metrics.get(name).map(_.value)).sum.toDouble
        Seq("snapFilesPlanned" -> "snap_files_planned",
          "snapFilesSkipped" -> "snap_files_skipped",
          "snapDvRowsSubtracted" -> "snap_dv_rows",
          "numFiles" -> "files_read").foreach { case (m, key) =>
          planEvents.add((actionAt, key, metric(m)))
        }
      }
    }
  }

  if (enabled) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Time `body` as a span named `name`, nested in the open span. */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, name, open.headOption.map(_.id).getOrElse(-1),
        System.nanoTime(), System.currentTimeMillis())
      spans += s
      open = s :: open
      val sc = spark.sparkContext
      sc.setLocalProperty(SpanKey, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        open = open.tail
        sc.setLocalProperty(SpanKey, open.headOption.map(_.id.toString).orNull)
      }
    }

  /** Charge a count measured by the benchmark itself to the open span. */
  def count(key: String, v: Double): Unit =
    if (enabled) add(open.headOption.map(_.id).getOrElse(-1), key, v)

  /** Wait until every job the listener saw start has ended and the
    * bus has gone quiet, so task-end events are all counted.
    */
  def settle(): Unit = if (enabled) {
    val deadline = System.nanoTime() + 30e9.toLong
    var quiet = 0
    var last = -1L
    while (quiet < 3 && System.nanoTime() < deadline) {
      Thread.sleep(100)
      val now = jobsEnded + planEvents.size
      if (jobsStarted == jobsEnded && now == last) quiet += 1 else quiet = 0
      last = now
    }
  }

  def allSpans: Seq[Span] = spans.toSeq

  def cores: Int = spark.sparkContext.defaultParallelism

  /** Counter totals per span id, with plan events resolved to the
    * innermost span open when they started.
    */
  def spanCounts: Map[Int, Map[String, Double]] = {
    val byStart = spans.toSeq
    def at(ms: Long): Int = byStart
      .filter(s => s.startMs <= ms && ms <= s.endMs)
      .sortBy(s => -depth(s)).headOption.map(_.id).getOrElse(-1)
    planEvents.asScala.foreach { case (ms, key, v) => add(at(ms), key, v) }
    planEvents.clear()
    counts.asScala.toSeq.groupBy(_._1._1).map { case (span, kvs) =>
      span -> kvs.map { case ((_, k), v) => k -> v }.toMap
    }
  }

  private def depth(s: Span): Int =
    if (s.parent < 0) 0 else 1 + depth(spans(s.parent))
}

object Tracer {
  val SpanKey = "graftbench.span"

  /** Every physical node that ran: through AQE wrappers and stages,
    * not into reused exchanges (their subtree is counted where it ran).
    */
  def walk(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
    case q: QueryStageExec => walk(q.plan)
    case _: ReusedExchangeExec => Nil
    case other => other.children.flatMap(walk) ++ other.subqueries.flatMap(walk)
  })
}
