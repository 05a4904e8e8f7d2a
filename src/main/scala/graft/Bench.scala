package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): times every SparkEntry query on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line.
  */
object Bench {

  /** Run one contract query to completion and return its seconds.
    * Execution is a `noop`-format write so the full plan runs (a bare
    * count() would let Catalyst prune away row-wise computation).
    */
  def exec(spark: SparkSession, sfDir: String, name: String): Double = {
    val t0 = System.nanoTime()
    SparkEntry.queries(name)(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** One JVM/session warmup pass over representative queries (joins +
    * agg + window + strings paths) removes first-query
    * codegen/classload noise from the numbers taken after it.
    */
  def warmUp(spark: SparkSession, sfDir: String): Unit =
    try Seq("q14_multiway_join", "q15_strings").foreach(exec(spark, sfDir, _))
    catch { case _: Throwable => () }

  /** One timed sample (secs -1 when it failed). */
  private final case class Sample(secs: Double, records: Seq[QueryRecord],
      compiles: Long)
  private val failed = Sample(-1.0, Nil, 0L)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.local(cpus, "graft-bench")
    spark.sparkContext.setLogLevel("WARN")

    warmUp(spark, sfDir)

    // observability feed: per-query layer records ride the same
    // listener a production deployment would scrape. Delivery is
    // async; a full bus drain (waitUntilEmpty) can block indefinitely
    // while heartbeat/streaming events keep arriving, so attribution
    // instead waits — bounded — for OUR record count to go quiet:
    // the timed action has completed, so its listener events are
    // already enqueued and only need the bus to cycle once.
    val metrics = Metrics.install(spark, maxRecords = 500000)
    // one settle per run: the previous run's post-settle index doubles
    // as this run's start, so the wait cost is paid once, not twice.
    // Attribution advances its cursor on the failure path too — a
    // crashed run's partial jobs must not bleed into the next query's
    // records (spec'd in MetricsSpec).
    val attr = new Attribution(() => metrics.records)

    // min of two measured runs per query: filters scheduler/GC noise.
    // spark.catalog.clearCache() before each run evicts any frames the
    // query persisted internally (LSH signatures etc.), so both runs
    // compute from cold data — only JIT/codegen warmth carries over.
    // Failures are reported as -1, never as a (fast) fake timing.
    // Each timing also carries the run's listener records and its
    // compile count. The compile counter is JVM-wide, which is sound
    // only because one query runs at a time.
    def timeOnce(name: String): Sample = {
      spark.catalog.clearCache()
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      try {
        val (secs, records) = attr.attribute(exec(spark, sfDir, name))
        Sample(secs, records,
          CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0)
      } catch { case _: Throwable => failed }
    }
    // optional comma-separated substring filter for targeted local perf
    // work (the driver never sets it — it always times the full set)
    val filters = sys.env.get("SPARK_GRAFT_BENCH_FILTER")
      .map(_.split(',').toSeq.filter(_.nonEmpty)).getOrElse(Nil)
    val selected = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => filters.isEmpty || filters.exists(n.contains))
    // Sampling design, shaped by two MEASURED box pathologies:
    //  1. Back-to-back samples share any co-tenant burst — the ±4x
    //     single-sample noise of the r8/r9 byte-identical experiment.
    //  2. Interleaving the two passes across the sweep (so the
    //     samples are separated in time) evicts the whole-stage-
    //     codegen class cache between a query's runs: every pass
    //     recompiles every query and short queries read a SYSTEMATIC
    //     +45% median vs the back-to-back protocol (measured on this
    //     tree against the r10 tree, same box, same plans).
    // So: runs A/B stay BACK-TO-BACK (warm, comparable round over
    // round), and a third full pass sweeps all queries AFTERWARD in
    // the same order — each query's third sample lands one
    // sweep-duration away from its A/B pair, so a burst that hit both
    // warm samples is shed by min(), while the pass's cold-codegen
    // penalty only ever makes it a no-op (min never increases).
    val best2 = selected.map { name =>
      val a = timeOnce(name)
      val b = timeOnce(name)
      val best =
        if (a.secs < 0 || b.secs < 0) failed
        else if (a.secs <= b.secs) a else b
      (name, best, Seq(a.secs, b.secs))
    }
    val timed = best2.map { case (name, best, ab) =>
      if (best.secs < 0) (name, best, ab)
      else {
        val c = timeOnce(name)
        if (c.secs < 0) {
          // two clean runs already exist, so keep the timing — but an
          // intermittent failure must not vanish from the record
          System.err.println(s"[bench] $name: separated third run " +
            "FAILED (intermittent); reporting min of the two clean runs")
          (name, best, ab :+ c.secs)
        } else if (c.secs < best.secs) (name, c, ab :+ c.secs)
        else (name, best, ab :+ c.secs)
      }
    }
    val results = timed.map { case (n, r, _) => n -> r.secs }
    val shuffleBytes =
      timed.map { case (n, r, _) => n -> r.records.map(_.shuffleBytes).sum }
    // every RAW sample (A/B back-to-back, then the separated third
    // pass), in measurement order: the r10↔r11 driver delta was only
    // diagnosable via shuffle-byte cross-checks because min() hides
    // which sample a co-tenant burst hit — the raw triples make a
    // burst visible directly in the artifact
    val samples = timed.map { case (n, _, ss) => n -> ss }
    spark.catalog.clearCache() // release the last query's result cache
    // 3-decimal timings: millisecond precision is all the box's noise
    // floor supports
    def r3(v: Double): String =
      if (v < 0) "-1" else (math.round(v * 1000) / 1000.0).toString
    def mapJson(rs: Seq[(String, Double)]): String =
      rs.map { case (k, v) => "\"" + k + "\":" + r3(v) }.mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    // per-query shuffle bytes (of the min-time run) go to the FULL
    // line only — the regression signal PlanReport's differ can't see
    // (runtime volume, not plan shape); the headline stays timing-only
    val bytesJson = shuffleBytes
      .map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val samplesJson = samples.map { case (k, ss) =>
      "\"" + k + "\":" + ss.map(r3).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    // per-query layers of the min-time run, summed over its records:
    // how much of the wall time was planning, how many jobs, stages
    // and tasks ran, their CPU, the longest task (near the wall time,
    // one task held the query) and the compiles it paid
    val layersJson = timed.map { case (n, Sample(_, rs, compiles), _) =>
      s""""$n":{"plan_ms":${rs.map(_.planMs).sum},"jobs":${rs.map(_.jobs).sum},"stages":${rs.map(_.stages).sum},"tasks":${rs.map(_.tasks).sum},"task_cpu_ms":${rs.map(_.taskCpuMs).sum},"max_task_ms":${rs.map(_.maxTaskMs).maxOption.getOrElse(0L)},"compiles":$compiles}"""
    }.mkString("{", ",", "}")
    val fullLine =
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","runs":3,"queries":${mapJson(results)},"shuffle_bytes":$bytesJson,"samples":$samplesJson,"layers":$layersJson,"sf":"$sfDir"}"""
    // The driver keeps only the LAST ~2000 chars of stdout and the sbt
    // success footer eats ~110 of them, so the FINAL line must be a
    // complete JSON object in well under that budget. With 100+ queries
    // the full per-query map (~2.6 KB) cannot fit, so: the full line
    // goes to the file (robust channel) and to stdout FIRST (for humans
    // / full-log readers), and the last stdout line is a compact
    // headline carrying the slowest queries that fit a 1500-char cap —
    // always parseable from the tail window.
    val byCost = results.sortBy { case (_, v) => if (v < 0) Double.MaxValue else -v }
    val budget = 1500
    val fixedOverhead =
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","runs":3,"queries":{},"n_queries":${results.size},"full":"bench_out.json","sf":"$sfDir"}""".length
    val kept = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    var used = fixedOverhead
    byCost.foreach { case (k, v) =>
      val cost = k.length + r3(v).length + 4 // quotes, colon, comma
      if (used + cost <= budget) { kept += (k -> v); used += cost }
    }
    val headline =
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","runs":3,"queries":${mapJson(kept.sortBy(_._1).toSeq)},"n_queries":${results.size},"full":"bench_out.json","sf":"$sfDir"}"""
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")), fullLine + "\n")
    println(fullLine)
    println(headline)
    spark.stop()
  }
}
