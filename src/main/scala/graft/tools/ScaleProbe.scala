package graft.tools

import graft.{Bench, GraftSession}

/** Scale-growth probe: time a set of queries at TWO scale factors and
  * report per-query growth next to the data's own row-count ratio —
  * the cheap local detector for the failure mode single-SF numbers
  * cannot see: a candidate-set term that is quadratic in corpus size
  * looks fine at sf0.1 and dies at 100 TB. A query whose wall-time
  * growth exceeds `flag_factor × row_ratio` is flagged for plan
  * review; everything near or below the ratio is growing ~linearly.
  *
  * Usage (artifact run, committed as BENCH_SCALE_r{N}.json):
  * {{{
  * sbt "runMain graft.tools.ScaleProbe BENCH_SCALE_r10.json \
  *   q137_leakage_safe_split q206_community_conductance ..."
  * }}}
  * Small/large dirs default to sf0.01/sf0.1; override with
  * SPARK_GRAFT_SF_SMALL / SPARK_GRAFT_SF_LARGE. Timings are
  * min-of-two runs per (query, sf) of Bench's noop-write `exec`,
  * after Bench's `warmUp` on each sf: the
  * Bench discipline. Not driver contract.
  */
object ScaleProbe {

  private val FlagFactor = 1.3

  def main(args: Array[String]): Unit = {
    val out = args.head
    val names = args.tail.toSeq
    require(names.nonEmpty, "pass at least one query name")
    val small = sys.env.getOrElse("SPARK_GRAFT_SF_SMALL",
      "/root/testdata/sf0.01")
    val large = sys.env.getOrElse("SPARK_GRAFT_SF_LARGE",
      "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.local(cpus, "graft-scale-probe")
    spark.sparkContext.setLogLevel("WARN")

    def rows(dir: String): Long =
      Seq("lineitem", "orders", "events", "documents", "embeddings")
        .map(t => graft.Tables(spark, dir, t).count()).sum

    def timeOnce(name: String, dir: String): Double = {
      spark.catalog.clearCache()
      Bench.exec(spark, dir, name)
    }
    def timeMin2(name: String, dir: String): Double =
      math.min(timeOnce(name, dir), timeOnce(name, dir))

    // one warmup per SF dir removes first-query codegen/classload
    // noise from the small-SF numbers (where it would otherwise
    // dominate and UNDERSTATE growth)
    Bench.warmUp(spark, small)
    Bench.warmUp(spark, large)

    val rowRatio = rows(large).toDouble / rows(small)
    def r3(v: Double): Double = math.round(v * 1000) / 1000.0

    val measured = names.map { n =>
      val ts = timeMin2(n, small)
      val tl = timeMin2(n, large)
      val growth = tl / ts
      (n, r3(ts), r3(tl), r3(growth), growth > FlagFactor * rowRatio)
    }
    val qJson = measured.map { case (n, ts, tl, g, flagged) =>
      s""""$n":{"t_small":$ts,"t_large":$tl,"growth":$g,"flagged":$flagged}"""
    }.mkString("{", ",", "}")
    val json =
      s"""{"sf_small":"$small","sf_large":"$large","row_ratio":${r3(rowRatio)},"flag_factor":$FlagFactor,"runs":2,"queries":$qJson}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), json + "\n")
    println(json)
    val flagged = measured.filter(_._5).map(_._1)
    if (flagged.nonEmpty)
      System.err.println(s"[scale-probe] super-linear growth: " +
        flagged.mkString(", "))
    spark.stop()
  }
}
