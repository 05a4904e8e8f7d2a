package graft.tools

import org.apache.spark.sql.catalyst.optimizer.BuildLeft
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}

import graft.{GraftSession, SparkEntry}

/** Dev harness: emit a markdown table of physical-plan shape metrics
  * for EVERY contract query — shuffle exchanges, broadcasts, sorts,
  * whole-stage-codegen spans, parquet scans, and whether any scan
  * carries pushed filters. The committed artifact (`PLANS_r{N}.md`)
  * is the round's scale-design evidence: reviewers can see at a
  * glance which queries shuffle, which broadcast, and that scans
  * receive pushdown. Not driver contract.
  *
  * The same plans are audited for quadratic joins ([[audit]]): an
  * unexpected one, or a query that fails to plan, exits non-zero.
  *
  * With a second argument — a PREVIOUS round's committed file — the
  * run also DIFFS the fresh table against it and exits non-zero on a
  * plan regression (more shuffles, more sorts, lost pushdown): the
  * deterministic gate that catches a plan change even when box noise
  * hides it in bench wall time. Intentional changes are absorbed by
  * regenerating the committed artifact, which happens every round.
  */
object PlanReport {

  val columns: Seq[String] =
    Seq("shuffles", "broadcasts", "sorts", "wscg", "scans", "pushed")

  /** The six shape counts of one executed-plan string. */
  def shapeCounts(plan: String): Seq[Int] = {
    def count(pat: String): Int = pat.r.findAllIn(plan).length
    // codegen spans print as "*(id) Operator" — count distinct ids
    val wscg = "\\*\\(([0-9]+)\\)".r.findAllMatchIn(plan)
      .map(_.group(1)).toSet.size
    Seq(count("Exchange hashpartitioning"), count("BroadcastExchange"),
      count("Sort \\["), wscg, count("Scan parquet"),
      count("PushedFilters: \\[[^\\]]"))
  }

  /** Parse a committed PLANS_r{N}.md table back into per-query counts
    * (rows that failed to plan — non-numeric cells — are skipped).
    */
  def parseBaseline(md: String): Map[String, Seq[Int]] =
    md.linesIterator.collect {
      case l if l.startsWith("| q") =>
        l.split("\\|").map(_.trim).filter(_.nonEmpty).toSeq
    }.collect {
      case name +: cells if cells.length == columns.length &&
        cells.forall(_.forall(_.isDigit)) =>
        name -> cells.map(_.toInt)
    }.toMap

  /** Plan regressions of `current` vs `baseline`: queries present in
    * both where the plan got structurally WORSE — more shuffle
    * exchanges, more sorts, more scans, or fewer pushed-filter scans.
    * Broadcast/wscg counts move with benign plan changes, so they
    * inform the table but don't gate.
    */
  def regressions(baseline: Map[String, Seq[Int]],
      current: Map[String, Seq[Int]]): Seq[String] = {
    def idx(c: String) = columns.indexOf(c)
    current.toSeq.sortBy(_._1).flatMap { case (name, cur) =>
      baseline.get(name).toSeq.flatMap { base =>
        Seq("shuffles" -> false, "sorts" -> false, "scans" -> false,
          "pushed" -> true).collect {
          case (c, false) if cur(idx(c)) > base(idx(c)) =>
            s"$name: $c ${base(idx(c))} -> ${cur(idx(c))}"
          case (c, true) if cur(idx(c)) < base(idx(c)) =>
            s"$name: $c ${base(idx(c))} -> ${cur(idx(c))} (lost pushdown)"
        }
      }
    }
  }

  /** Queries where an all-pairs / nested-loop stage over NON-bounded
    * inputs is the documented design (exact baselines over sampled
    * query sides, or frames bounded by construction rather than by
    * plan shape), not an accident.
    */
  val whitelist: Set[String] = Set(
    "q07_cross_join", // member cross product (literal-sized inputs)
    "q35_embed_cosine_pairs", // exact quadratic baseline for q61
    "q36_ann_topk", // brute-force exact baseline (query × corpus)
    "q60_range_join", // non-equi band join: broadcast-NL by design
    "q47_histogram", // literal band table joined non-equi (broadcast)
    "q18_sequence", // × a 12-row generated calendar (broadcast)
    "q102_skyline", // × a broadcast 1-row x-range frame
    "q118_hybrid_rrf", // vector side = q36's exact baseline
    "q125_pq_adc", // × the 4×256 PQ code book (k-bounded by training)
    "q132_sq8_ann", // query sample (vec_id filter) × corpus scan
    "q133_hard_mining", // sampled anchors × corpus, label-fused
    "q160_bm25", // × the bounded query-term table
    "q179_matryoshka_recall", // sampled queries × corpus, both widths
    "q195_knn_label_agreement", // 1-in-50 sample × corpus
    "q200_journey_similarity", // distinct-path frame ≤ |types|^4 all-pairs
    "q210_mutual_nn", // exact 1-NN baseline: corpus × corpus
    "q233_mrr_at10", // 1-in-50 query sample × corpus (q36 shape)
    "q146_source_minhash", // source-signature pairs: |sources|² over the sketch table, never documents
    "q199_kmv_overlap", // KMV sketch pairs: ≤ 64·|types| rows per side by construction
    "q255_binary_hamming_ann", // binary-code exact scan baseline; scale path = 16-bit multi-index banding
    "q262_chi2_independence", // lang × source contingency grid: |langs|·|sources| cells by the statistic's definition
    "q273_kmv_sketch_algebra" // sketch-pair cross: ≤ |types|² rows of 64-long arrays, never events
  )

  /** Is this subtree's OUTPUT provably at most ~1k rows, walking only
    * through cardinality-non-increasing wrappers? Keyless aggregates
    * are exactly 1 row; literal tables, small limits, and small
    * ranges carry their size in the plan. A reused exchange is judged
    * by the exchange it reuses: the pre-adaptive plan this report
    * reads has exchange reuse applied, the adaptive one does not yet.
    */
  private def bounded(p: SparkPlan): Boolean = p match {
    case a: BaseAggregateExec => a.groupingExpressions.isEmpty
    case g: GlobalLimitExec => g.limit <= 1024
    case l: LocalLimitExec => l.limit <= 1024
    case t: LocalTableScanExec => t.rows.size <= 1024
    case r: RangeExec => r.numElements.longValue <= 1024L
    case w: WholeStageCodegenExec => bounded(w.child)
    case i: InputAdapter => bounded(i.child)
    case e: BroadcastExchangeExec => bounded(e.child)
    case e: ShuffleExchangeExec => bounded(e.child)
    case r: ReusedExchangeExec => bounded(r.child)
    case a: AdaptiveSparkPlanExec => bounded(a.executedPlan)
    case _: ProjectExec | _: FilterExec | _: SortExec | _: CoalesceExec =>
      bounded(p.children.head)
    case _ => false
  }

  /** Unexplained quadratic operators in the plan: BNLJ with an
    * unbounded build side, or any CartesianProduct.
    */
  private def offenders(p: SparkPlan): Seq[String] = {
    val inner = p match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    inner.collect {
      case j: BroadcastNestedLoopJoinExec =>
        val build = if (j.buildSide == BuildLeft) j.left else j.right
        if (bounded(build)) None else Some("BroadcastNestedLoopJoin")
      case _: CartesianProductExec => Some("CartesianProduct")
    }.flatten
  }

  /** The audit verdict of one query's plan: None when it has no
    * unexplained quadratic operator, else the line to report and
    * whether it fails the run (it does unless `name` is whitelisted).
    */
  def audit(name: String, plan: SparkPlan): Option[(String, Boolean)] = {
    val hits = offenders(plan)
    val unexpected = !whitelist.contains(name)
    if (hits.isEmpty) None
    else Some((s"$name: ${if (unexpected) "UNEXPECTED" else "whitelisted"} " +
      hits.mkString(","), unexpected))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val out = args.headOption.getOrElse("PLANS_r04.md")
    val baselinePath = args.drop(1).headOption
    val spark = GraftSession.local(8, "graft-plan-report")
    // AQE off for REPORTING only: the pre-adaptive physical plan
    // carries the WholeStageCodegen span annotations the table
    // counts; all contract execution paths keep AQE on.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.sparkContext.setLogLevel("ERROR")
    val sb = new StringBuilder
    sb.append("# Physical-plan shape per contract query\n\n")
    sb.append(s"Generated by `graft.tools.PlanReport` at `$sfDir`. ")
    sb.append("Columns: hash-shuffle exchanges / broadcast exchanges / sort operators / ")
    sb.append("whole-stage-codegen spans / parquet scans / scans with pushed filters.\n\n")
    sb.append(s"| query | ${columns.mkString(" | ")} |\n")
    sb.append("|---|" + columns.map(_ => "---|").mkString + "\n")
    var current = Map.empty[String, Seq[Int]]
    var flagged = Vector.empty[(String, Boolean)] // audit line, fails?
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val plan = fn(spark, sfDir).queryExecution.executedPlan
        val counts = shapeCounts(plan.toString)
        current += name -> counts
        sb.append(s"| $name | ${counts.mkString(" | ")} |\n")
        flagged ++= audit(name, plan)
        spark.catalog.clearCache()
      } catch {
        case e: Exception =>
          sb.append(s"| $name | plan failed: ${e.getMessage.take(60)} |\n")
          flagged :+= (s"$name: plan failed: ${e.getMessage.take(120)}", true)
      }
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), sb.toString)
    println(s"[plan-report] wrote $out")
    spark.stop()
    flagged.foreach { case (line, _) => println(s"[plan-audit] $line") }
    val unexpected = flagged.exists(_._2)
    val regressed = baselinePath.exists { p =>
      val base = parseBaseline(
        new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))))
      val bad = regressions(base, current)
      if (bad.nonEmpty)
        System.err.println("PLAN REGRESSIONS vs " + p + ":\n" + bad.mkString("\n"))
      else println(s"[plan-report] no plan regressions vs $p " +
        s"(${base.keySet.intersect(current.keySet).size} queries compared)")
      bad.nonEmpty
    }
    if (unexpected) System.err.println("UNEXPECTED QUADRATIC PLANS (see [plan-audit])")
    if (unexpected || regressed) sys.exit(1)
  }
}
