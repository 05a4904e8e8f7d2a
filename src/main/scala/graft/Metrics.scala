package graft

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.util.QueryExecutionListener

/** Lightweight run observability: one record per completed Dataset
  * action, queryable back as a DataFrame — the "what ran, how long,
  * how big" feed a production deployment scrapes into its dashboard,
  * kept engine-side so every entry point (SQL, DataFrame, streaming
  * foreachBatch bodies) is covered uniformly. Per layer, a record
  * carries: the action (callback name, wall duration, root operator
  * and its `numOutputRows` when it has one, failure); the Catalyst
  * phases' summed `planMs`; the `jobs`, `stages` and `tasks` run under
  * its SQL execution id (bare RDD actions have none); their executor
  * CPU `taskCpuMs` and longest task `maxTaskMs`; and `shuffleBytes`.
  *
  * Register per session via [[Metrics.install]]; the buffer is
  * bounded (oldest dropped) so a long-lived session can't leak.
  * Listener delivery rides the async listener bus — tests must wait,
  * not assert immediately (see MetricsSpec).
  */
final case class QueryRecord(action: String, rootOp: String,
    durationMs: Long, outputRows: Long, shuffleBytes: Long,
    failed: Boolean, planMs: Long = 0L, jobs: Int = 0, stages: Int = 0,
    tasks: Int = 0, taskCpuMs: Long = 0L, maxTaskMs: Long = 0L)

/** `onSuccess`/`onFailure` write a record per action; the scheduler
  * callbacks fold jobs, stages and tasks into per-execution counters.
  * On the bus's shared queue the session's execution-listener bus
  * (registered first by [[Metrics.install]]) hands an execution's end
  * event to `onSuccess`/`onFailure` just before `onOtherEvent` sees
  * it, which completes that newest record with the execution's
  * counters — whole, as its task ends were queued before its end.
  */
class GraftMetricsListener(maxRecords: Int = 10000)
    extends SparkListener with QueryExecutionListener {

  private final class Work {
    var jobs, stages, tasks = 0
    var cpuNs, maxTaskMs = 0L
  }

  // guarded by `this`: bus events arrive on one thread, readers on others
  private val buf = new java.util.ArrayDeque[QueryRecord]()
  private val work = mutable.HashMap.empty[Long, Work] // by execution id
  private val stageWork = mutable.HashMap.empty[Int, Work] // by stage id
  private var newestAwaitsWork = false

  private def add(r: QueryRecord): Unit = synchronized {
    buf.addLast(r)
    if (buf.size > maxRecords) buf.pollFirst()
    newestAwaitsWork = true
  }

  private def record(funcName: String, qe: QueryExecution,
      durationNs: Long, failed: Boolean): Unit = {
    val planMs = qe.tracker.phases.values.map(_.durationMs).sum
    // a query that died during analysis/planning has no executedPlan —
    // the lazy val rethrows. Those are exactly the failed=true records
    // the feature exists for, so fall back to a placeholder instead of
    // letting the listener bus swallow the rethrow (and the record)
    scala.util.Try(qe.executedPlan).toOption match {
      case None =>
        add(QueryRecord(funcName, "unplanned", durationNs / 1000000L,
          -1L, 0L, failed, planMs))
      case Some(root) =>
        // under AQE the plan nests behind AdaptiveSparkPlanExec and each
        // materialized stage behind a leaf QueryStageExec — walk through
        // both so the exchange metrics that actually ran are summed
        def walk(p: org.apache.spark.sql.execution.SparkPlan)
            : Seq[org.apache.spark.sql.execution.SparkPlan] = p +: (p match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            walk(a.executedPlan)
          case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
            walk(q.plan)
          case other => other.children.flatMap(walk)
        })
        val shuffleBytes = walk(root)
          .flatMap(_.metrics.get("shuffleBytesWritten").map(_.value))
          .sum
        add(QueryRecord(funcName, root.nodeName, durationNs / 1000000L,
          root.metrics.get("numOutputRows").map(_.value).getOrElse(-1L),
          shuffleBytes, failed, planMs))
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = record(funcName, qe, durationNs, failed = false)

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = record(funcName, qe, 0L, failed = true)

  private def workOf(props: java.util.Properties): Option[Work] =
    Option(props).flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
      .map(id => work.getOrElseUpdate(id.toLong, new Work))

  override def onJobStart(e: SparkListenerJobStart): Unit =
    synchronized(workOf(e.properties).foreach(_.jobs += 1))

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized(workOf(e.properties).foreach { w =>
      w.stages += 1
      stageWork(e.stageInfo.stageId) = w
    })

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    synchronized(stageWork.get(e.stageId).foreach { w =>
      w.tasks += 1
      Option(e.taskMetrics).foreach(w.cpuNs += _.executorCpuTime)
      Option(e.taskInfo).filter(_.finished)
        .foreach(t => w.maxTaskMs = math.max(w.maxTaskMs, t.duration))
    })

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case end: SparkListenerSQLExecutionEnd => synchronized {
      work.remove(end.executionId).foreach { w =>
        stageWork.filterInPlace((_, sw) => sw ne w)
        if (newestAwaitsWork)
          buf.addLast(buf.pollLast().copy(jobs = w.jobs, stages = w.stages,
            tasks = w.tasks, taskCpuMs = w.cpuNs / 1000000L,
            maxTaskMs = w.maxTaskMs))
      }
      newestAwaitsWork = false
    }
    case _ => ()
  }

  def records: Seq[QueryRecord] = synchronized(buf.asScala.toSeq)
}

/** Cursor-based attribution of listener records to the action that
  * produced them: `attribute(body)` runs the body, waits — bounded —
  * for the record stream to go quiet, and charges exactly the records
  * enqueued since the previous call. The cursor advances on the
  * FAILURE path too: a crashed run's partial jobs still enqueued
  * listener events, and without consuming them here they would bleed
  * into the NEXT query's measurement — the counts of record must not
  * inherit a stranger's jobs, CPU or bytes.
  *
  * `records` is pulled lazily so the helper is testable against a
  * plain growing buffer (see MetricsSpec); Bench wires it to a
  * [[GraftMetricsListener]].
  */
final class Attribution(records: () => Seq[QueryRecord],
    quietNs: Long = 50000000L, capNs: Long = 2000000000L) {
  private var cursor = 0

  private def settle(): Int = {
    val deadline = System.nanoTime() + capNs
    var last = records().size
    var quietSince = System.nanoTime()
    while (System.nanoTime() < deadline &&
      System.nanoTime() - quietSince < quietNs) {
      Thread.sleep(5)
      val now = records().size
      if (now != last) { last = now; quietSince = System.nanoTime() }
    }
    last
  }

  /** Run `body`; return (result, the records it enqueued). Rethrows
    * the body's exception after consuming its records.
    */
  def attribute[T](body: => T): (T, Seq[QueryRecord]) =
    try {
      val r = body
      val after = settle()
      val charged = records().slice(cursor, after)
      cursor = after
      (r, charged)
    } catch {
      case e: Throwable => cursor = settle(); throw e
    }
}

object Metrics {

  /** Install a listener on `spark` and return it (caller keeps the
    * handle to read or uninstall). Registration order matters: see
    * [[GraftMetricsListener]].
    */
  def install(spark: SparkSession,
      maxRecords: Int = 10000): GraftMetricsListener = {
    val l = new GraftMetricsListener(maxRecords)
    spark.listenerManager.register(l)
    spark.sparkContext.addSparkListener(l)
    l
  }

  def uninstall(spark: SparkSession, l: GraftMetricsListener): Unit = {
    spark.listenerManager.unregister(l)
    spark.sparkContext.removeSparkListener(l)
  }

  /** The captured records as a queryable frame. */
  def asDataFrame(spark: SparkSession,
      l: GraftMetricsListener): DataFrame = {
    import spark.implicits._
    l.records.toDF()
  }
}
