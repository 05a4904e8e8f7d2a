package graft.tools

import graft.{GraftSession, SparkEntry}

/** Dev harness: emit a markdown table of physical-plan shape metrics
  * for EVERY contract query — shuffle exchanges, broadcasts, sorts,
  * whole-stage-codegen spans, parquet scans, and whether any scan
  * carries pushed filters. The committed artifact (`PLANS_r{N}.md`)
  * is the round's scale-design evidence: reviewers can see at a
  * glance which queries shuffle, which broadcast, and that scans
  * receive pushdown. Not driver contract.
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
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val plan = fn(spark, sfDir).queryExecution.executedPlan.toString
        val counts = shapeCounts(plan)
        current += name -> counts
        sb.append(s"| $name | ${counts.mkString(" | ")} |\n")
        spark.catalog.clearCache()
      } catch {
        case e: Exception =>
          sb.append(s"| $name | plan failed: ${e.getMessage.take(60)} |\n")
      }
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), sb.toString)
    println(s"[plan-report] wrote $out")
    spark.stop()
    baselinePath.foreach { p =>
      val base = parseBaseline(
        new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))))
      val bad = regressions(base, current)
      if (bad.nonEmpty) {
        System.err.println("PLAN REGRESSIONS vs " + p + ":\n" + bad.mkString("\n"))
        sys.exit(1)
      }
      println(s"[plan-report] no plan regressions vs $p " +
        s"(${base.keySet.intersect(current.keySet).size} queries compared)")
    }
  }
}
