package graftbench

import scala.jdk.CollectionConverters._

import graft.cube.ProductRunner

/** Turns a traced half-run into per-layer metrics and the trace
  * artifact. Counts are divided by their unit (a product loaded, a
  * serving request, or a batch: one load sequence or one query pass)
  * so runs of different lengths compare.
  */
object Report {

  val ExecKeys = Seq("jobs", "stages", "tasks", "task_cpu_s", "executor_run_s", "gc_s",
    "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "input_records")
  val PlanKeys = Seq("analysis_ms", "optimization_ms", "planning_ms", "graft_rules_ms", "actions")

  def javaMap(m: Map[String, Double]): java.util.Map[String, Any] = {
    val out = new java.util.TreeMap[String, Any]()
    m.foreach { case (k, v) => out.put(k, v) }
    out
  }

  def trace(tracer: Tracer, w: Workload, ops: Seq[Main.Op],
      measured: Double): java.util.Map[String, Any] = {
    val spans = tracer.allSpans
    val counts = tracer.spanCounts
    val children = spans.groupBy(_.parent)
    def selfS(s: Span, excluded: String => Boolean = _ => true): Double =
      s.seconds - children.getOrElse(s.id, Nil).filter(c => excluded(c.name)).map(_.seconds).sum
    def subtree(s: Span): Seq[Span] = s +: children.getOrElse(s.id, Nil).flatMap(subtree)
    def total(ss: Seq[Span], key: String): Double =
      ss.flatMap(s => counts.get(s.id).flatMap(_.get(key))).sum
    def named(n: String) = spans.filter(_.name == n)
    def sumSeconds(n: String) = named(n).map(_.seconds).sum

    // the batch part: everything outside serving requests
    val requests = named("cube.serve.request")
    val reqSpans = requests.flatMap(subtree)
    val reqIds = reqSpans.map(_.id).toSet
    val batchSpans = spans.filterNot(s => reqIds(s.id))
    val batchOps = ops.filter(_.batch)
    val batches = math.max(1, batchOps.size).toDouble
    val batchWall = batchOps.map(_.seconds).sum
    val products = w match {
      case c: CubeServeWorkload => math.max(1, c.products).toDouble
      case _ => 1.0
    }
    val m = scala.collection.mutable.LinkedHashMap.empty[String, Double]

    // cube: per product loaded
    val groups = named("cube.group")
    val isWrite = (n: String) => n.startsWith("cube.write.") || n == "io.delete_product"
    m("cube.group_s") = groups.map(_.seconds).sum / products
    m("cube.self_s") = groups.map(selfS(_, isWrite)).sum / products
    ProductRunner.tableNames.foreach(t => m(s"cube.write_s.$t") = sumSeconds(s"cube.write.$t") / products)
    m("cube.jobs_per_product") = total(groups.flatMap(subtree), "jobs") / products

    // cube.serve: per request
    val nReq = math.max(1, requests.size).toDouble
    m("cube.serve.plan_ms") = Main.median(named("cube.serve.plan").map(_.seconds * 1e3))
    m("cube.serve.exec_ms") = Main.median(named("cube.serve.exec").map(_.seconds * 1e3))
    m("cube.serve.jobs_per_request") = total(reqSpans, "jobs") / nReq
    val returned = total(requests, "rows_returned")
    m("cube.serve.rows_scanned_per_row_returned") =
      if (returned > 0) total(reqSpans, "input_records") / returned else 0.0

    // io: writes per product, serving reads per request
    m("io.wds_parse_s") = sumSeconds("io.wds_parse") / products
    m("io.extract_zip_s") = sumSeconds("io.extract_zip") / products
    val stored = w.counts
    m("io.bytes_written") = stored.getOrElse("stored_bytes", 0.0) / products
    m("io.files_written") = stored.getOrElse("stored_files", 0.0) / products
    m("io.serve_bytes_read_per_request") = total(reqSpans, "input_bytes") / nReq
    m("io.serve_files_read_per_request") = total(requests, "files_read") / nReq

    // plan, exec and sources: per batch (one load sequence, or one mix pass)
    PlanKeys.foreach(k => m(s"plan.$k") = total(batchSpans, k) / batches)
    ExecKeys.foreach(k => m(s"exec.$k") = total(batchSpans, k) / batches)
    m("exec.core_busy_frac") =
      if (batchWall > 0) total(batchSpans, "executor_run_s") / (tracer.cores * batchWall) else 0.0
    Seq("snap_files_planned", "snap_files_skipped", "snap_dv_rows")
      .foreach(k => m(s"sources.$k") = total(batchSpans, k) / batches)

    // queries: per query, over the passes
    spans.filter(_.name.startsWith("queries.")).groupBy(_.name).foreach { case (n, ss) =>
      m(s"${n}_s") = Main.median(ss.map(_.seconds))
      m(s"$n.jobs") = total(ss.flatMap(subtree), "jobs") / ss.size
    }

    val out = new java.util.LinkedHashMap[String, Any]()
    out.put("run_id", tracer.runId)
    out.put("products", products)
    out.put("batches", batches)
    out.put("requests", requests.size)
    out.put("measured_s", measured)
    out.put("layers", javaMap(m.toMap))
    out.put("self_s_by_span", javaMap(spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => selfS(s)).sum
    }))
    out.put("spans", spans.map { s =>
      val j = new java.util.LinkedHashMap[String, Any]()
      j.put("id", s.id); j.put("name", s.name); j.put("parent", s.parent)
      j.put("run", tracer.runId)
      j.put("start_ms", s.startMs); j.put("end_ms", s.endMs)
      j.put("seconds", s.seconds)
      counts.get(s.id).foreach(c => j.put("counts", javaMap(c)))
      j
    }.asJava)
    counts.get(-1).foreach(c => out.put("unattributed", javaMap(c)))
    out
  }
}
