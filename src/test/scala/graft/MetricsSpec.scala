package graft

import org.scalatest.funsuite.AnyFunSuite

/** The observability listener: actions are captured with sane
  * durations and row counts, failures are flagged, uninstall stops
  * the feed. Listener delivery is async — poll, don't assert
  * immediately.
  */
class MetricsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def await(cond: => Boolean, ms: Long = 15000): Boolean = {
    val deadline = System.nanoTime() + ms * 1000000L
    while (!cond && System.nanoTime() < deadline) Thread.sleep(50)
    cond
  }

  test("actions land as records; rows and duration are sane") {
    val l = Metrics.install(spark)
    try {
      val n = Tables(spark, "/root/testdata/sf0.001", "nation").count()
      assert(await(l.records.exists(r =>
        r.action == "count" && !r.failed)), l.records.toString)
      val rec = l.records.filter(r => r.action == "count").last
      assert(rec.durationMs >= 0)
      assert(n == 25L)
      // the frame view round-trips the records
      val df = Metrics.asDataFrame(spark, l)
      assert(df.columns.toSeq == Seq("action", "rootOp", "durationMs",
        "outputRows", "shuffleBytes", "failed", "planMs", "jobs", "stages",
        "tasks", "taskCpuMs", "maxTaskMs"))
      assert(df.count() >= 1)
    } finally Metrics.uninstall(spark, l)
  }

  test("a shuffling action reports nonzero shuffle bytes") {
    import org.apache.spark.sql.functions._
    val l = Metrics.install(spark)
    try {
      Tables(spark, "/root/testdata/sf0.001", "lineitem")
        .groupBy("l_partkey").agg(sum("l_quantity"))
        .write.format("noop").mode("overwrite").save()
      assert(await(l.records.exists(r => !r.failed && r.shuffleBytes > 0)),
        l.records.toString)
    } finally Metrics.uninstall(spark, l)
  }

  test("a shuffling action's record carries its jobs, stages, task CPU and planning time") {
    import org.apache.spark.sql.functions._
    val l = Metrics.install(spark)
    try {
      // a fixed input: 4 range partitions, no data files
      spark.range(0L, 2000000L, 1L, 4).groupBy((col("id") % 7).as("k"))
        .agg(sum("id")).write.format("noop").mode("overwrite").save()
      assert(await(l.records.exists(_.jobs > 0)), l.records.toString)
      val rec = l.records.filter(_.jobs > 0)
      assert(rec.size == 1, rec)
      // under AQE the shuffle map stage runs as its own job, then the
      // result job runs the final stage and skips the materialized one
      assert(rec.head.jobs == 2 && rec.head.stages == 2, rec)
      assert(rec.head.tasks >= 5 && rec.head.taskCpuMs > 0 &&
        rec.head.maxTaskMs > 0 && rec.head.planMs > 0, rec)
    } finally Metrics.uninstall(spark, l)
  }

  test("a runtime action failure lands as a failed record") {
    import org.apache.spark.sql.functions._
    val l = Metrics.install(spark)
    try {
      intercept[Exception] {
        Tables(spark, "/root/testdata/sf0.001", "region")
          .select(assert_true(lit(false)).as("boom"))
          .write.format("noop").mode("overwrite").save()
      }
      assert(await(l.records.exists(_.failed)), l.records.toString)
    } finally Metrics.uninstall(spark, l)
  }

  test("a query that dies before planning still records (rootOp=unplanned)") {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.plans.logical.{OneRowRelation, Project}
    import org.apache.spark.sql.graft.PlanShim
    val l = new GraftMetricsListener()
    // unresolvable plan: executedPlan rethrows the analysis error —
    // the record must survive with the placeholder root, not vanish
    val qe = PlanShim.queryExecution(spark,
      Project(Seq(UnresolvedAttribute("no_such_column")), OneRowRelation()))
    intercept[Throwable](qe.executedPlan) // sanity: it really rethrows
    l.onFailure("collect", qe, new Exception("analysis"))
    val rec = l.records
    assert(rec.size == 1 && rec.head.failed &&
      rec.head.rootOp == "unplanned" && rec.head.action == "collect")
  }

  test("uninstall stops the feed") {
    val l = Metrics.install(spark)
    Metrics.uninstall(spark, l)
    val before = l.records.size
    Tables(spark, "/root/testdata/sf0.001", "region").count()
    Thread.sleep(500)
    assert(l.records.size == before)
  }

  test("Attribution charges each body only its own records — including after a failure") {
    val buf = scala.collection.mutable.ArrayBuffer.empty[QueryRecord]
    def rec(bytes: Long, jobs: Int = 1, cpuMs: Long = 10L) =
      QueryRecord("save", "op", 1L, 1L, bytes, failed = false,
        jobs = jobs, taskCpuMs = cpuMs)
    // tiny quiet window: the buffer is appended synchronously inside
    // the bodies, so settle returns as soon as it sees no growth
    val attr = new Attribution(() => buf.toSeq,
      quietNs = 1000000L, capNs = 100000000L)

    val (_, a) = attr.attribute { buf += rec(100); buf += rec(20) }
    assert(a.map(_.shuffleBytes).sum == 120L)
    assert(a.map(_.jobs).sum == 2 && a.map(_.taskCpuMs).sum == 20L)

    // a FAILED body still enqueued partial-job records; its exception
    // propagates but its records must be consumed, not left for the
    // next query's measurement
    val boom = intercept[RuntimeException](attr.attribute[Unit] {
      buf += rec(777, jobs = 7, cpuMs = 7000L)
      throw new RuntimeException("query failed")
    })
    assert(boom.getMessage == "query failed")

    val (_, b) = attr.attribute { buf += rec(5) }
    assert(b.map(_.shuffleBytes).sum == 5L,
      s"failed run's 777 bytes bled into the next query: $b")
    assert(b.map(_.jobs).sum == 1 && b.map(_.taskCpuMs).sum == 10L,
      s"failed run's jobs or CPU bled into the next query: $b")
  }
}
