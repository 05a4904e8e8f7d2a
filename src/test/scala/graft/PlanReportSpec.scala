package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.tools.PlanReport

/** The plan-shape differ that gates rounds against the committed
  * PLANS_r{N}.md — parse, compare, and the intentional-regression
  * case — and the quadratic-join audit over the same plans.
  */
class PlanReportSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val baselineMd =
    """# Physical-plan shape per contract query
      |
      || query | shuffles | broadcasts | sorts | wscg | scans | pushed |
      ||---|---|---|---|---|---|---|
      || q01_count | 1 | 0 | 0 | 2 | 1 | 1 |
      || q02_filter | 0 | 1 | 1 | 3 | 2 | 2 |
      || q03_broken | plan failed: boom |
      |""".stripMargin

  test("parseBaseline reads numeric rows and skips failed ones") {
    val m = PlanReport.parseBaseline(baselineMd)
    assert(m == Map(
      "q01_count" -> Seq(1, 0, 0, 2, 1, 1),
      "q02_filter" -> Seq(0, 1, 1, 3, 2, 2)))
  }

  test("identical shapes produce no regressions") {
    val m = PlanReport.parseBaseline(baselineMd)
    assert(PlanReport.regressions(m, m).isEmpty)
  }

  test("an added shuffle, an added sort, and lost pushdown are flagged") {
    val base = PlanReport.parseBaseline(baselineMd)
    val worse = Map(
      "q01_count" -> Seq(2, 0, 0, 2, 1, 1), // +1 shuffle
      "q02_filter" -> Seq(0, 1, 2, 3, 2, 1)) // +1 sort, -1 pushed
    val r = PlanReport.regressions(base, worse)
    assert(r.exists(_.startsWith("q01_count: shuffles 1 -> 2")), r)
    assert(r.exists(_.startsWith("q02_filter: sorts 1 -> 2")), r)
    assert(r.exists(_.contains("pushed 2 -> 1 (lost pushdown)")), r)
    assert(r.size == 3, r)
  }

  test("benign moves (fewer shuffles, broadcast/wscg drift, new queries) pass") {
    val base = PlanReport.parseBaseline(baselineMd)
    val better = Map(
      "q01_count" -> Seq(0, 2, 0, 1, 1, 2), // fewer shuffles, wscg drop
      "q02_filter" -> Seq(0, 0, 0, 3, 2, 2), // sort gone
      "q99_new" -> Seq(9, 9, 9, 0, 9, 0)) // not in baseline
    assert(PlanReport.regressions(base, better).isEmpty)
  }

  // ranges this long are never broadcast by size; the plans below are
  // only planned, never run
  private def huge = spark.range(0L, 1L << 40)

  test("a nested-loop join whose build side is a keyless aggregate passes") {
    val one = spark.range(0, 10).agg(count(lit(1)).as("n"))
    val plan = huge.crossJoin(broadcast(one)).queryExecution.executedPlan
    assert(plan.toString.contains("BroadcastNestedLoopJoin"), plan)
    assert(PlanReport.audit("q99_probe", plan).isEmpty)
  }

  test("a nested-loop join over a reused bounded broadcast passes") {
    val one = broadcast(spark.range(0, 10).agg(count(lit(1)).as("n")))
    // the report plans with AQE off, where exchange reuse is applied
    // at planning time
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val plan = try huge.crossJoin(one)
      .union(huge.filter(col("id") > 5).crossJoin(one))
      .queryExecution.executedPlan
    finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert(plan.toString.contains("ReusedExchange"), plan)
    assert(PlanReport.audit("q99_probe", plan).isEmpty)
  }

  test("a nested-loop join over a keyed aggregate is flagged") {
    val keyed = spark.range(0, 10).groupBy((col("id") % 3).as("k")).count()
    val plan = huge.crossJoin(broadcast(keyed)).queryExecution.executedPlan
    assert(PlanReport.audit("q99_probe", plan) ==
      Some(("q99_probe: UNEXPECTED BroadcastNestedLoopJoin", true)))
  }

  private def cartesian =
    huge.crossJoin(huge.select(col("id").as("id2"))).queryExecution.executedPlan

  test("a CartesianProduct is flagged") {
    assert(PlanReport.audit("q99_probe", cartesian) ==
      Some(("q99_probe: UNEXPECTED CartesianProduct", true)))
  }

  test("a whitelisted name is reported but does not fail") {
    assert(PlanReport.audit("q07_cross_join", cartesian) ==
      Some(("q07_cross_join: whitelisted CartesianProduct", false)))
  }
}
