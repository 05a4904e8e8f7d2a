package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: substring filter over query names, for targeted
    // local debugging (the driver always passes exactly two args)
    val (sfDir, outDir, nameFilter) = args match {
      case Array(s, o)    => (s, o, "")
      case Array(s, o, f) => (s, o, f)
    }
    // the session Bench times: Spark's default ANSI mode, so a silent
    // numeric wrap (the q262 bug class) is a loud error here too
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.local(cpus, "graft-verify")
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(_._1.contains(nameFilter)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // free any result frame a library call persisted (the Dedup ops'
      // documented cache contract: caller owns the returned cache entry)
      spark.catalog.clearCache()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // data-dependent oracles (centroid literals etc.) render against the
    // actual sf dir; a failed render degrades that query to rows-only
    // rather than failing the whole dump
    val dynamic = try SparkEntry.dynamicOracleSql(spark, sfDir) catch {
      case e: Throwable =>
        System.err.println(s"[verify] dynamic oracle render failed: ${e.getMessage}")
        Map.empty[String, String]
    }
    val json = (SparkEntry.oracleSql ++ dynamic)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
