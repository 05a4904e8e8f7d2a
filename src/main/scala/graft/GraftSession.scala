package graft

import org.apache.spark.sql.SparkSession

/** The single place that builds a SparkSession: every main, tool and
  * test session comes from [[local]], a cluster deployment passes its
  * own builder through [[configure]]. The configuration is AQE on,
  * shuffle parallelism matched to cores (never the 200 default), UTC
  * session time, a generated-class cache that holds a cube load's
  * working set, and the graft SQL functions registered via
  * [[GraftExtensions]]; Spark's default ANSI mode is left on.
  *
  * One caller overrides a setting, at runtime right after the session
  * is built: `tools.PlanReport` turns AQE off, because the
  * pre-adaptive plan carries the codegen ids it counts.
  */
object GraftSession {

  /** Bound of Spark's JVM-wide generated-class cache
    * (`spark.sql.codegen.cache.maxEntries`, default 100). One
    * `cube_serve` JVM — a warm-up product, a merged master + sibling
    * group, then serving — generates about 190 distinct sources, and Spark
    * keys each entry by (context classloader, source), so in local mode
    * the planner's compile check and the task each hold one: about 250
    * keys. At 100 the group load evicts what setup compiled and Janino
    * compiles it again. The bound still keeps a long-lived session from
    * leaking generated classes.
    */
  private val CodegenCacheEntries = 1000

  def local(cores: Int = Runtime.getRuntime.availableProcessors(),
      appName: String = "graft"): SparkSession =
    configure(SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString))
      .getOrCreate()

  /** Apply graft's standard configuration to any builder (use this
    * for cluster deployments where master/resources come from
    * spark-submit).
    */
  def configure(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.sql.adaptive.enabled", "true")
      // AQE coalescing targets max(totalBytes/defaultParallelism,
      // minPartitionSize); the default 1 MB floor collapses small-byte
      // but CPU-heavy post-shuffle stages (levenshtein/array_intersect
      // verifies) to ONE task. 64k lets parallelismFirst keep cores
      // busy on small shuffles; at cluster scale bytes/parallelism is
      // far above 64k and the floor never binds.
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      // static: read once, when the first generated class is compiled
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
}
