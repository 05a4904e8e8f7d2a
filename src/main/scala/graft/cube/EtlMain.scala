package graft.cube

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.io.{ParquetCatalog, Staging, Wds}

/** The engine's `main.py` equivalent: CLI-compatible entry point over
  * a staged data directory (zero-egress stand-in for the WDS HTTP
  * layer — the staging dir holds what the reference would download).
  *
  * Staging layout, per product:
  *   {stage}/{pid}.zip            zipped observation CSV ({pid}.csv)
  *   {stage}/{pid}-meta.json      getCubeMetadata response body
  *   {stage}/products_to_merge.json   (optional) merge config
  *   {stage}/product_defaults.json    chart defaults w/ "default" entry
  *   {stage}/code_sets.json           (optional) getCodeSets response
  *                                    body (uom + subject descriptions,
  *                                    scwds.py:147-184, main.py:177)
  *   {stage}/jdbc.json                (optional) JDBC mirror target
  *                                    {"url": …, "properties": {…}}
  *                                    (scdb.py:27-30 engine params)
  *   {stage}/geography_reference.csv  GeographyReferenceId lookup
  *   {stage}/null_reasons.csv         NullReasonId,Symbol lookup
  *
  * Usage:
  *   sbt "runMain graft.cube.EtlMain <stageDir> <warehouseDir> -i --prodid P [P2 …]"
  *   sbt "runMain graft.cube.EtlMain <stageDir> <warehouseDir> --prodid P [--minrefyear YYYY]"
  */
object EtlMain {

  private def readText(stage: String, name: String): Option[String] = {
    val p = Paths.get(stage, name)
    if (Files.exists(p)) Some(Files.readString(p)) else None
  }

  def main(argv: Array[String]): Unit = {
    require(argv.length >= 2, "usage: EtlMain <stageDir> <warehouseDir> <flags…>")
    val stage = argv(0)
    val warehouse = argv(1)
    val args = CliArgs.parse(argv.drop(2).toSeq) match {
      case Left(msg) => System.err.println(s"Error: $msg"); sys.exit(2)
      case Right(a) => a
    }
    val spark = graft.GraftSession.local(
      cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt,
      appName = "graft-etl")
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, stage, warehouse, args)
    finally spark.stop()
  }

  def run(spark: SparkSession, stage: String, warehouse: String,
      args: CliArgs): Unit = {
    import spark.implicits._
    val catalog = new ParquetCatalog(spark, warehouse)

    def readText(name: String): Option[String] = EtlMain.readText(stage, name)
    val mergeConfig = readText("products_to_merge.json")
      .map(Wds.mergeConfig).getOrElse(Map.empty)
    val defaultsJson = readText("product_defaults.json").getOrElse(
      """{"default": {"default_breaks_algorithm_id": 1, "default_breaks": "natural",
        |"primary_chart_type_id": 1, "color_to": "#FFFFFF", "color_from": "#000000",
        |"related_chart_type_id": 2}}""".stripMargin)
    val geoRef = spark.read.option("header", "true")
      .csv(s"$stage/geography_reference.csv")
    val nullReasons = spark.read.option("header", "true")
      .csv(s"$stage/null_reasons.csv")
      .selectExpr("CAST(NullReasonId AS INT) AS NullReasonId", "Symbol")

    // E2 date-range mode (main.py:102-121): per-day staged changed-cube
    // lists resolve to the runnable product set; merged pids skipped
    // with a warning (they must be run explicitly).
    if (args.prodIds.isEmpty) {
      val known = Option(new java.io.File(stage).list()).map(_.toSeq).getOrElse(Nil)
        .collect { case n if n.endsWith("-meta.json") => n.stripSuffix("-meta.json") }
        .flatMap(n => scala.util.Try(n.toLong).toOption) // ignore stray files
        .toSet
      val changed = RefDates.dailyRange(args.start.get, args.end.get).flatMap { day =>
        readText(s"changed-$day.json").map(Wds.changedCubeList).getOrElse(Nil)
      }
      val (runnable, skipped) = ProductRunner.resolveChangedProducts(
        changed, known, mergeConfig)
      skipped.foreach(p => System.err.println(
        s"Warning: product $p is part of a merged product and cannot be " +
          "updated automatically in a date range. Run it explicitly."))
      if (runnable.isEmpty) { println("[graft-etl] no changed products to update"); return }
      // per-product isolation (main.py:145-146): one bad staging
      // artifact skips that product, not the rest of the range
      runnable.foreach { pid =>
        try runGroupFromStage(spark, stage, warehouse, catalog, pid, mergeConfig,
          geoRef, nullReasons, defaultsJson, args.minRefYear)
        catch { case e: Exception =>
          System.err.println(s"Warning: product $pid failed and was skipped: ${e.getMessage}")
        }
      }
      return
    }

    val masterPid = args.prodIds.head
    // merged-insert bookkeeping (main.py:55-56): multiple pids with -i
    // define/refresh the merge group
    val effectiveMerge =
      if (args.insertNewTable && args.prodIds.length > 1) {
        // master must not appear in its own sibling list
        // (json_handler.py:89-91)
        val updated = mergeConfig +
          (masterPid -> args.prodIds.tail.filterNot(_ == masterPid).distinct)
        // persist the merge bookkeeping (json_handler.py:87-96)
        Files.writeString(Paths.get(stage, "products_to_merge.json"),
          Wds.mergeConfigJson(updated))
        updated
      } else mergeConfig

    runGroupFromStage(spark, stage, warehouse, catalog, masterPid,
      effectiveMerge, geoRef, nullReasons, defaultsJson, args.minRefYear)
  }

  /** Stage one master (or single) pid's group and run it end to end. */
  private def runGroupFromStage(spark: SparkSession, stage: String,
      warehouse: String, catalog: ParquetCatalog, masterPid: Long,
      mergeConfig: Map[Long, Seq[Long]],
      geoRef: org.apache.spark.sql.DataFrame,
      nullReasons: org.apache.spark.sql.DataFrame,
      defaultsJson: String, minRefYear: Option[Int]): Unit = {
    def readText(name: String): Option[String] = EtlMain.readText(stage, name)
    val order = ProductRunner.expandSiblings(masterPid, mergeConfig)
    val products = order.flatMap { pid =>
      readText(s"$pid-meta.json").map { metaJson =>
        val meta = Wds.cubeMetadata(metaJson)
        val zip = s"$stage/$pid.zip"
        require(Staging.isValidZip(zip), s"not a valid zip: $zip")
        val extracted = Staging.extractZip(zip, s"$warehouse/_staging/$pid")
        val csvPath = extracted.find(_.getFileName.toString == s"$pid.csv")
          .getOrElse(sys.error(s"zip $zip has no $pid.csv member"))
        pid -> ((meta, Staging.readObservations(spark, csvPath.toString, meta)))
      }
    }.toMap

    val defaults = Wds.productDefaults(defaultsJson, masterPid)
    // code sets feed Indicator UOM_EN/FR, IndicatorMetaData field
    // aliases, and IndicatorTheme parent-subject descriptions
    // (main.py:177); without the staged file they stay empty, as when
    // the reference's get_code_sets call fails
    val codeSetsJson = readText("code_sets.json")
    val out = ProductRunner.runGroup(spark, catalog, masterPid,
      products, mergeConfig, geoRef, nullReasons, defaults,
      uomCodeset = codeSetsJson.map(Wds.uomCodeset).getOrElse(Map.empty),
      subjectCodeset = codeSetsJson.map(Wds.subjectCodeset).getOrElse(Nil),
      minRefYear = minRefYear)
    out.toSeq.sortBy(_._1).foreach { case (pid, t) =>
      // values count from the parquet just written (metadata read) —
      // the in-memory frame's caches were already released by runGroup
      // and a count() on it would re-run the whole fact pipeline; the
      // warnings are a local frame collected while the product ran
      println(s"[graft-etl] product $pid loaded: " +
        s"${catalog.readProduct("IndicatorValues", pid).count()} values, " +
        s"${t.dguidWarnings.count()} unmatched DGUIDs")
    }

    // optional JDBC mirror (K1's .jdbc variant): replay each written
    // product partition into the configured database with the same
    // delete-then-append per-product semantics. Partitions the run
    // REMOVED (a sibling's delete-then-skip of Indicator/Theme/… from
    // a pre-merge standalone load) must be deleted from the mirror
    // too, or it silently diverges from the catalog.
    readText("jdbc.json").foreach { cfg =>
      val (jdbcUrl, jdbcProps) = Wds.jdbcConfig(cfg)
      val sink = new graft.io.JdbcSink(spark, jdbcUrl, jdbcProps)
      for {
        table <- ProductRunner.tableNames
        pid <- out.keys.toSeq.sorted
      } {
        if (catalog.hasProduct(table, pid))
          sink.writeProduct(table, catalog.readProduct(table, pid), pid)
        else sink.deleteProduct(table, pid)
      }
      println(s"[graft-etl] mirrored ${out.size} product(s) to $jdbcUrl")
    }
  }
}
