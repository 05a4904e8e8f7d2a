package graft.tools

import org.apache.spark.sql.catalyst.optimizer.BuildLeft
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}

import graft.{GraftSession, SparkEntry}

/** Dev harness: sweep EVERY contract query's physical plan for
  * quadratic join shapes (CartesianProduct / BroadcastNestedLoopJoin)
  * and fail on any that is neither (a) provably row-bounded by plan
  * STRUCTURE — a nested-loop whose build side bottoms out in a
  * keyless aggregate (exactly 1 row), a small literal table, a small
  * LIMIT, or a small Range, i.e. the ubiquitous "cross the corpus
  * with one broadcast stats row" probe pattern — nor (b) a documented
  * exact baseline on the name whitelist. Exits non-zero on an
  * unexpected hit, so it can gate a round.
  */
object PlanAudit {

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
    "q273_kmv_sketch_algebra" // sketch-pair cross: ≤ |types|² rows of 64-long arrays, never events
  )

  /** Is this subtree's OUTPUT provably at most ~1k rows, walking only
    * through cardinality-non-increasing wrappers? Keyless aggregates
    * are exactly 1 row; literal tables, small limits, and small
    * ranges carry their size in the plan.
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

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = GraftSession.local(8, "graft-plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    var bad = List.empty[String]
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val hits = offenders(fn(spark, sfDir).queryExecution.executedPlan)
        val flagged = hits.nonEmpty && !whitelist.contains(name)
        if (flagged) bad ::= s"$name: ${hits.mkString(",")}"
        println(f"$name%-28s ${if (hits.isEmpty) "ok"
          else if (flagged) "UNEXPECTED " + hits.mkString(",")
          else "whitelisted " + hits.mkString(",")}")
        spark.catalog.clearCache()
      } catch {
        case e: Exception =>
          bad ::= s"$name: plan failed: ${e.getMessage.take(120)}"
      }
    }
    spark.stop()
    if (bad.nonEmpty) {
      System.err.println("UNEXPECTED QUADRATIC PLANS:\n" + bad.mkString("\n"))
      sys.exit(1)
    }
    println("plan audit clean")
  }
}
