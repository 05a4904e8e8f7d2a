package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.cube.ServingQueries

/** One benchmark run in one JVM: set up, run the workload's passes
  * for `--seconds`, then write every timing, count and check input to
  * `--out` as JSON. `perfbench/run.py` generates the inputs, starts
  * this process and checks the outputs. With `--trace 1` every pass
  * runs under a recording [[Tracer]] and the JSON carries the trace.
  */
object Main {

  final case class Args(workload: String, stage: String, work: String, out: String,
      seconds: Double, seed: Long, trace: Boolean, cores: Int, sf: String,
      sequence: Seq[Long], warmup: Seq[Long], queries: Seq[String])

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def list(k: String) = m.get(k).toSeq.flatMap(_.split(',')).filter(_.nonEmpty)
    Args(m("workload"), m("stage"), m("work"), m("out"), m("seconds").toDouble,
      m("seed").toLong, m.get("trace").contains("1"), m("cores").toInt,
      m.getOrElse("sf", ""), list("sequence").map(_.toLong), list("warmup").map(_.toLong),
      list("queries"))
  }

  /** One operation's outcome. `batch` marks the workload's batch step
    * (a load, or a whole query pass), whose CPU seconds are also kept;
    * the rest are interactive calls.
    */
  final case class Op(seconds: Double, ok: Boolean, batch: Boolean = false,
      cpuSeconds: Double = 0.0)

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU seconds this JVM has used so far, on all its threads. */
  def cpuSeconds(): Double = os.getProcessCpuTime / 1e9

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val spark = graft.GraftSession.configure(
      SparkSession.builder()
        .master(s"local[${a.cores}]")
        .appName(s"perfbench-${a.workload}")
        .config("spark.sql.shuffle.partitions", a.cores.toString))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val errors = ArrayBuffer.empty[String]
    val result = new java.util.LinkedHashMap[String, Any]()
    try run(spark, a, errors, result)
    catch {
      case e: Exception => errors += s"run: ${e.getClass.getSimpleName}: ${e.getMessage}".take(500)
    } finally {
      result.put("errors", errors.toArray)
      result.put("peak_rss_mb", peakRssMb())
      Files.writeString(Paths.get(a.out),
        new ObjectMapper().writerWithDefaultPrettyPrinter().writeValueAsString(result))
      spark.stop()
    }
  }

  private def run(spark: SparkSession, a: Args, errors: ArrayBuffer[String],
      result: java.util.LinkedHashMap[String, Any]): Unit = {
    val workload: Workload = a.workload match {
      case "cube_serve" => new CubeServeWorkload(spark, a, errors)
      case "query_mix" => new MixWorkload(spark, a, errors)
      case other => sys.error(s"unknown workload $other")
    }
    workload.setup()
    result.put("ready_epoch_ms", System.currentTimeMillis())

    val tracer = new Tracer(spark, enabled = a.trace, runId = s"${a.workload}-seed${a.seed}")
    val ops = ArrayBuffer.empty[Op]
    val start = System.nanoTime()
    do ops ++= workload.pass(tracer)
    while (workload.repeatable && (System.nanoTime() - start) / 1e9 < a.seconds)
    val measured = (System.nanoTime() - start) / 1e9
    tracer.settle()
    result.put("attempted", ops.size)
    result.put("failed", ops.count(!_.ok))
    result.put("measured_s", measured)
    result.put("batch_s", ops.filter(o => o.batch && o.ok).map(_.seconds).toArray)
    result.put("op_s", ops.filter(o => !o.batch && o.ok).map(_.seconds).toArray)
    result.put("batch_cpu_s", ops.filter(o => o.batch && o.ok).map(_.cpuSeconds).toArray)
    result.put("counts", Report.javaMap(workload.counts))
    result.put("checks", workload.checks)
    if (a.trace) result.put("trace", Report.trace(tracer, workload, ops.toSeq, measured))
  }

  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).toArray.map(_.toString)
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)

  private[graftbench] def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}

/** A workload: one-time setup, then passes of its operation sequence. */
trait Workload {
  /** Whether passes repeat until `--seconds` is used up. */
  def repeatable: Boolean
  def setup(): Unit
  def pass(tracer: Tracer): Seq[Main.Op]
  /** Counts measured outside the timed calls (stored bytes and files). */
  def counts: Map[String, Double]
  /** Inputs for the output checks made outside the JVM. */
  def checks: java.util.Map[String, Any]
}

/** cube_serve: the paper's path end to end. Setup loads a tiny staged
  * product into a scratch warehouse, so most of the JVM's first-use
  * costs land in setup. The batch step then loads the staged merged group (master
  * then siblings) into an empty warehouse, and one client runs a
  * closed loop of serving requests against it for `--seconds` (at
  * least MinRequests): PrimaryQuery and RelatedCharts at 4:1, each
  * followed by collect(), with indicator ids drawn from a seeded Zipf
  * (s = 1) over every loaded indicator.
  */
final class CubeServeWorkload(spark: SparkSession, a: Main.Args,
    errors: ArrayBuffer[String]) extends Workload {
  val MinRequests = 6
  val SampleLimit = 20
  private val wh = s"${a.work}/warehouse"
  private val rng = new java.util.Random(a.seed)
  private val sampled = new java.util.ArrayList[Any]()
  private val warnings = ArrayBuffer.empty[String]
  private var loaded = Map.empty[String, Double]

  def repeatable: Boolean = false

  def setup(): Unit = {
    val scratch = s"${a.work}/warmup"
    val off = new Tracer(spark, enabled = false, runId = "")
    a.warmup.foreach(pid =>
      Load.group(spark, a.stage, scratch, new graft.io.ParquetCatalog(spark, scratch), pid, off))
    spark.catalog.clearCache()
    Load.deleteTree(scratch)
  }

  def pass(tracer: Tracer): Seq[Main.Op] = {
    val catalog = new TracingCatalog(spark, wh, tracer)
    val ops = ArrayBuffer.empty[Main.Op]
    val t0 = System.nanoTime()
    val c0 = Main.cpuSeconds()
    val loadOk = a.sequence.forall { pid =>
      try {
        val out = Load.group(spark, a.stage, wh, catalog, pid, tracer)
        warnings ++= out.values.flatMap(_.dguidWarnings.collect().map(_.getString(0)))
        true
      } catch {
        case e: Exception =>
          errors += s"load $pid: ${e.getClass.getSimpleName}: ${e.getMessage}".take(500)
          false
      }
    }
    ops += Main.Op((System.nanoTime() - t0) / 1e9, loadOk, batch = true,
      cpuSeconds = Main.cpuSeconds() - c0)
    spark.catalog.clearCache()
    val (bytes, files) = Load.stored(wh)
    loaded = Map("stored_bytes" -> bytes.toDouble, "stored_files" -> files.toDouble)
    if (loadOk) ops ++= serve(tracer)
    ops.toSeq
  }

  private def serve(tracer: Tracer): Seq[Main.Op] = {
    val catalog = new TracingCatalog(spark, wh, tracer)
    val plain = new graft.io.ParquetCatalog(spark, wh)
    val csv = spark.read.option("header", "true")
    val geoRef = csv.csv(s"${a.stage}/geography_reference.csv").cache()
    val geoLevel = csv.csv(s"${a.stage}/geographic_level.csv").cache()
    val nullReasons = csv.csv(s"${a.stage}/null_reasons.csv")
      .selectExpr("CAST(NullReasonId AS INT) AS NullReasonId", "Symbol",
        "Description_EN", "Description_FR").cache()
    Seq(geoRef, geoLevel, nullReasons).foreach(_.count())
    // Zipf ranks over a seeded permutation of the loaded indicator ids,
    // so the hot indicators are a random subset
    val ids = plain.read("Indicator").select("IndicatorId").collect().map(_.getLong(0)).sorted
    for (i <- ids.indices.reverse) {
      val j = rng.nextInt(i + 1); val t = ids(i); ids(i) = ids(j); ids(j) = t
    }
    val idList = "IN \\(([0-9,]+)\\)".r.unanchored
    val related = plain.read("RelatedCharts").select("RelatedChartId", "Query").collect()
      .map(r => r.getLong(0) -> (r.getString(1) match {
        case idList(list) => list.split(',').toSeq.map(_.toLong)
        case _ => Seq(r.getLong(0))
      })).toMap
    val weights = ids.indices.map(k => 1.0 / (k + 1))
    val cdf = weights.scanLeft(0.0)(_ + _).tail.map(_ / weights.sum).toArray
    def draw(): Long = {
      val k = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
      ids(math.min(if (k >= 0) k else -k - 1, ids.length - 1))
    }

    // every fifth request is a RelatedCharts query, so short runs keep the 80/20 mix
    def request(k: Int): Main.Op = {
      val primary = k % 5 != 4
      val id = draw()
      val reqIds = if (primary) Seq(id) else related.getOrElse(id, Seq(id))
      val t0 = System.nanoTime()
      try {
        val rows = tracer.span("cube.serve.request") {
          val df = tracer.span("cube.serve.plan") {
            val q =
              if (primary) ServingQueries.primaryQuery(spark, catalog, id, geoRef, geoLevel, nullReasons)
              else ServingQueries.relatedChartQuery(spark, catalog, reqIds, nullReasons)
            q.queryExecution.executedPlan
            q
          }
          val rows = tracer.span("cube.serve.exec")(df.collect())
          if (tracer.enabled) {
            tracer.count("rows_returned", rows.length)
            tracer.count("files_read", Tracer.walk(df.queryExecution.executedPlan)
              .flatMap(_.metrics.get("numFiles").map(_.value)).sum)
          }
          rows
        }
        val seconds = (System.nanoTime() - t0) / 1e9
        if (sampled.size < SampleLimit) {
          val m = new java.util.LinkedHashMap[String, Any]()
          m.put("kind", if (primary) "primary" else "related")
          m.put("ids", reqIds.toArray)
          m.put("rows", rows.map(r => r.toSeq.map {
            case v: java.lang.Number => v
            case null => null
            case v => v.toString
          }.toArray).toArray)
          sampled.add(m)
        }
        Main.Op(seconds, ok = true)
      } catch {
        case e: Exception =>
          errors += s"request $reqIds: ${e.getClass.getSimpleName}: ${e.getMessage}".take(500)
          Main.Op((System.nanoTime() - t0) / 1e9, ok = false)
      }
    }

    val out = ArrayBuffer.empty[Main.Op]
    val start = System.nanoTime()
    while (out.size < MinRequests || (System.nanoTime() - start) / 1e9 < a.seconds)
      out += request(out.size)
    out.toSeq
  }

  def counts: Map[String, Double] = loaded

  def products: Int = a.sequence.map(p => graft.cube.ProductRunner.expandSiblings(p,
    Load.readText(a.stage, "products_to_merge.json").map(graft.io.Wds.mergeConfig)
      .getOrElse(Map.empty)).size).sum

  def checks: java.util.Map[String, Any] = {
    val m = new java.util.LinkedHashMap[String, Any]()
    m.put("warehouse", wh)
    m.put("dguid_warnings", warnings.distinct.sorted.toArray)
    m.put("serve_responses", sampled)
    m
  }
}

/** query_mix: one pass runs each listed SparkEntry query in order the
  * way Bench's `exec` does (noop sink, clearCache before each query);
  * passes repeat for `--seconds`. Afterwards one query with a DuckDB
  * oracle, chosen by the seed, runs once more into parquet for the
  * hash check, so every oracled query is checked across seeds.
  */
final class MixWorkload(spark: SparkSession, a: Main.Args,
    errors: ArrayBuffer[String]) extends Workload {
  private val oracles = SparkEntry.oracleSql

  def repeatable: Boolean = true

  private def exec(name: String): Unit =
    SparkEntry.queries(name)(spark, a.sf).write.format("noop").mode("overwrite").save()

  // Bench's warm-up query, so the first pass is not dominated by class loading
  def setup(): Unit = { exec("q14_multiway_join"); spark.catalog.clearCache() }

  def pass(tracer: Tracer): Seq[Main.Op] = {
    val t0 = System.nanoTime()
    val c0 = Main.cpuSeconds()
    val ops = a.queries.map { q =>
      spark.catalog.clearCache()
      val s0 = System.nanoTime()
      try {
        tracer.span(s"queries.$q")(exec(q))
        Main.Op((System.nanoTime() - s0) / 1e9, ok = true)
      } catch {
        case e: Exception =>
          errors += s"query $q: ${e.getClass.getSimpleName}: ${e.getMessage}".take(500)
          Main.Op((System.nanoTime() - s0) / 1e9, ok = false)
      }
    }
    spark.catalog.clearCache()
    Main.Op((System.nanoTime() - t0) / 1e9, ok = ops.forall(_.ok), batch = true,
      cpuSeconds = Main.cpuSeconds() - c0) +: ops
  }

  def counts: Map[String, Double] = Map.empty

  def checks: java.util.Map[String, Any] = {
    val m = new java.util.LinkedHashMap[String, Any]()
    val checkable = a.queries.filter(oracles.contains)
    checkable.lift(math.floorMod(a.seed, checkable.size.toLong max 1L).toInt).foreach { q =>
      val out = s"${a.work}/mix_out/$q"
      m.put("query", q)
      m.put("oracle", oracles(q))
      m.put("output", out)
      try {
        spark.catalog.clearCache()
        SparkEntry.queries(q)(spark, a.sf).write.mode("overwrite").parquet(out)
      } catch {
        case e: Exception =>
          errors += s"query $q (check): ${e.getClass.getSimpleName}: ${e.getMessage}".take(500)
          m.put("output", null)
      }
    }
    m
  }
}
