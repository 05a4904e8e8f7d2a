package graft.cube

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.ParquetCatalog

/** Multi-product orchestration (main.py:102-281): changed-cube
  * resolution, merge-config expansion with master-first ordering,
  * sibling indicator reuse under the master pid, id-watermark
  * advancement between products, and catalog writes with per-product
  * overwrite semantics.
  */
object ProductRunner {

  /** The 9 gis table names, in the order [[write]] writes a master's. */
  val tableNames: Seq[String] = ParquetCatalog.schemas.keys.toSeq

  /** E2 changed-cube resolution (main.py:102-121): keep only known
    * products, and drop merged masters/siblings — merged products must
    * be re-run explicitly. Returns (runnable, skippedMerged).
    */
  def resolveChangedProducts(changed: Seq[Long], known: Set[Long],
      mergeConfig: Map[Long, Seq[Long]]): (Seq[Long], Seq[Long]) = {
    val merged: Set[Long] =
      mergeConfig.keySet ++ mergeConfig.values.flatten
    val knownChanged = changed.distinct.filter(known)
    (knownChanged.filterNot(merged), knownChanged.filter(merged))
  }

  /** Master-first sibling expansion (main.py:128-130,
    * helpers.py:39-45): for a master pid, the run list is master then
    * its siblings in config order, deduplicated preserving order.
    */
  def expandSiblings(pid: Long, mergeConfig: Map[Long, Seq[Long]]): Seq[Long] =
    mergeConfig.get(pid) match {
      case Some(siblings) => (pid +: siblings).distinct
      case None => Seq(pid)
    }

  /** MAX(id)+1 watermark from a written table (scdb.py:145-159). */
  private def nextIdFrom(catalog: ParquetCatalog, table: String,
      idCol: String, fallback: Long): Long =
    if (!catalog.exists(table)) fallback
    else catalog.read(table).agg(max(col(idCol))).head() match {
      case row if row.isNullAt(0) => fallback
      case row => row.getLong(0) + 1
    }

  /** Current id watermarks across the whole catalog (the reference's
    * per-insert MAX probes). [[runGroup]] runs it once, at group start.
    */
  def nextIds(catalog: ParquetCatalog): NextIds = NextIds(
    dimensionId = nextIdFrom(catalog, "Dimensions", "DimensionId", 1L),
    dimensionValueId = nextIdFrom(catalog, "DimensionValues", "DimensionValueId", 1L),
    indicatorId = nextIdFrom(catalog, "Indicator", "IndicatorId", 1L),
    indicatorValueId = nextIdFrom(catalog, "IndicatorValues", "IndicatorValueId", 1L))

  /** Preserved chart metadata for a product from the current catalog
    * (get_indicator_chart_info, scdb.py:128-137): metadata/related
    * joined back to IndicatorCode via the Indicator table.
    *
    * Materialized EAGERLY (as the reference's DB read is): the run
    * overwrites these same parquet paths later, and a lazy frame would
    * read from the path being overwritten.
    */
  def existingChartMeta(spark: SparkSession, catalog: ParquetCatalog,
      pid: Long): Option[DataFrame] =
    if (!catalog.exists("IndicatorMetaData") || !catalog.exists("Indicator") ||
      !catalog.exists("RelatedCharts")) None
    else {
      val ind = catalog.readProduct("Indicator", pid)
        .select("IndicatorId", "IndicatorCode")
      val md = catalog.readProduct("IndicatorMetaData", pid)
        .select("IndicatorId", "DefaultBreaksAlgorithmId", "DefaultBreaks",
          "PrimaryChartTypeId", "ColorTo", "ColorFrom")
      val rc = catalog.readProduct("RelatedCharts", pid)
        .select(col("RelatedChartId").as("IndicatorId"), col("ChartTypeId"))
      val joined = md.join(rc, Seq("IndicatorId"), "left")
        .join(ind, Seq("IndicatorId"))
        .drop("IndicatorId")
      val rows = joined.collect()
      Some(spark.createDataFrame(
        java.util.Arrays.asList(rows: _*), joined.schema))
    }

  /** Parent/dummy subject-row existence probe against the catalog
    * (the reference's sc_row_count/scs_row_count checks).
    */
  def themeNeeds(catalog: ParquetCatalog, meta: CubeMetadata): ThemeNeeds =
    if (!catalog.exists("IndicatorTheme")) ThemeNeeds()
    else {
      val existing = catalog.read("IndicatorTheme")
        .select("IndicatorThemeId").distinct()
        .collect().map(_.getLong(0)).toSet
      val sc = meta.subjectCode
      val scs = meta.subjectCodeShort
      ThemeNeeds(
        parentSubject = !existing.contains(sc.toLong),
        dummySubject = !existing.contains((sc + CubeOps.dummySubjectSuffix(sc)).toLong),
        parentShort = !existing.contains(scs.toLong),
        dummyShort = !existing.contains((scs + CubeOps.dummySubjectSuffix(scs)).toLong))
    }

  /** One product group end-to-end: master (or single) first, then each
    * sibling reusing the master's indicator frame and pid, writing
    * every table through the catalog's per-product overwrite. The
    * catalog is probed for id watermarks once, at group start; between
    * products they advance by what the product just wrote (see
    * [[advance]]).
    */
  def runGroup(spark: SparkSession, catalog: ParquetCatalog,
      masterPid: Long,
      products: Map[Long, (CubeMetadata, DataFrame)],
      mergeConfig: Map[Long, Seq[Long]],
      geoRef: DataFrame, nullReasons: DataFrame,
      defaults: ProductDefaults,
      uomCodeset: Map[Int, (String, String)] = Map.empty,
      subjectCodeset: Seq[(String, String, String)] = Nil,
      ids: NextIds = NextIds(),
      minRefYear: Option[Int] = None): Map[Long, GisTables] = {

    val order = expandSiblings(masterPid, mergeConfig)
    var masterIndicators: Option[DataFrame] = None
    // accumulated (IndicatorId, GeographicLevelId) rows across the
    // group: each product anti-joins against ALL rows inserted so far
    // (the reference re-probes the DB per product, main.py:243,
    // scdb.py:108-114), so a later sibling cannot re-insert a pair an
    // earlier sibling already added
    var knownGli: Option[DataFrame] = None
    val persisted = scala.collection.mutable.Buffer.empty[DataFrame]
    // continue from whatever ids the warehouse already holds (the
    // reference's MAX+1 probes); the caller's watermarks set the floor
    val onDisk = nextIds(catalog)
    var watermarks = NextIds(
      math.max(ids.dimensionId, onDisk.dimensionId),
      math.max(ids.dimensionValueId, onDisk.dimensionValueId),
      math.max(ids.indicatorId, onDisk.indicatorId),
      math.max(ids.indicatorValueId, onDisk.indicatorValueId))
    val masterDateDimId = watermarks.dimensionId // master's Date dim is created first
    var dateOrderNext = 1L
    // accumulated date-dimension values across the group: each product
    // anti-joins against ALL dates inserted so far (the reference
    // re-probes the DB per product, main.py:246-254), so a second
    // sibling cannot re-insert a date the first sibling added
    var knownDates = Seq.empty[String]
    val lastLoaded = order.lastIndexWhere(products.contains)
    val out = order.zipWithIndex.flatMap { case (pid, i) =>
      products.get(pid).map { case (meta, csv) =>
        val isSibling = i > 0
        val in = PipelineInputs(
          meta = meta, csv = csv, geoRef = geoRef,
          nullReasons = nullReasons,
          // siblings skip metadata/chart builds entirely — don't pay
          // the preserved-metadata collect for them
          existingMeta = if (isSibling) None else existingChartMeta(spark, catalog, pid),
          existingGeoLevels = knownGli.map(g =>
            g.select(col("IndicatorId").as("IndicatorIdExist"),
              col("GeographicLevelId").as("GeographicLevelIdExist"))),
          existingDates = knownDates,
          defaults = defaults, ids = watermarks,
          minRefYear = minRefYear,
          isSibling = isSibling,
          masterIndicators = if (isSibling) masterIndicators else None,
          functionalPid = if (isSibling) Some(masterPid) else None,
          dateDimensionId = if (isSibling) Some(masterDateDimId) else None,
          nextDateValueOrder = dateOrderNext,
          themeNeeds = if (isSibling) ThemeNeeds() else themeNeeds(catalog, meta))
        val tables = GisPipeline.run(spark, in, uomCodeset, subjectCodeset)
        if (!isSibling) masterIndicators = Some(tables.indicator)
        // persisted BEFORE the write so the write action populates the
        // cache, freezing this frame for later siblings' anti-joins
        val gliNew = tables.geographicLevelForIndicator.persist()
        persisted += gliNew
        write(catalog, pid, tables, isSibling)
        // fold this product's new geo-level rows into the running set
        knownGli = Some(knownGli.fold(gliNew)(_.unionByName(gliNew)))
        // fold this product's new dates (a local frame) into the running
        // set and advance the display-order watermark past them
        val newDates = tables.dateDimensionValues.select("Display_EN").collect()
          .map(_.getString(0)).toSeq
        knownDates ++= newDates
        dateOrderNext += newDates.size
        if (i < lastLoaded)
          watermarks = advance(watermarks, meta, tables, isSibling, newDates.size, minRefYear)
        // per-product caches (prepared CSV, id-frozen values, indicator
        // frame) are no longer needed once the product's tables are on disk
        tables.cached.foreach(_.unpersist())
        pid -> tables
      }
    }.toMap
    persisted.foreach(_.unpersist())
    out
  }

  /** The watermarks after one product, from what it wrote — equal to
    * the catalog's MAX+1 probes without re-reading it:
    *  - a master wrote 1 + |dimensions| Dimensions rows, one value per
    *    non-geo member and the indicator grid, all from the watermarks;
    *  - every product wrote its new dates after its member values;
    *  - the values' ids are dense over the rows BEFORE the FK join, so
    *    their MAX+1 comes from the persisted written frame, not a count.
    * A sibling may delete stale standalone Dimensions or Indicator
    * partitions, but siblings use only the dimension-value and value
    * watermarks, and the next group probes the catalog again.
    */
  private def advance(ids: NextIds, meta: CubeMetadata, t: GisTables,
      isSibling: Boolean, newDates: Int, minRefYear: Option[Int]): NextIds = {
    val maxValue = t.indicatorValues.agg(max(col("IndicatorValueId"))).head()
    def ifMaster(n: => Long): Long = if (isSibling) 0L else n
    NextIds(
      dimensionId = ids.dimensionId + ifMaster(1 + meta.dimensions.size),
      dimensionValueId = ids.dimensionValueId + newDates +
        ifMaster(meta.nonGeoDimensions.map(_.members.size).sum),
      indicatorId = ids.indicatorId + ifMaster(IndicatorBuilder.gridSize(meta,
        RefDates.generate(meta.startDate, meta.endDate, meta.frequencyCode),
        minRefYear, GisPipeline.mixedGeoJusticePids)),
      indicatorValueId =
        if (maxValue.isNullAt(0)) ids.indicatorValueId else maxValue.getLong(0) + 1)
  }

  private def write(catalog: ParquetCatalog, pid: Long,
      t: GisTables, isSibling: Boolean): Unit = {
    catalog.writeProduct("IndicatorValues", t.indicatorValues, pid)
    catalog.writeProduct("GeographyReferenceForIndicator",
      t.geographyReferenceForIndicator, pid)
    catalog.writeProduct("GeographicLevelForIndicator",
      t.geographicLevelForIndicator, pid)
    if (!isSibling) {
      catalog.writeProduct("IndicatorTheme", t.indicatorTheme, pid)
      catalog.writeProduct("Dimensions", t.dimensions, pid)
      catalog.writeProduct("DimensionValues", t.dimensionValues, pid)
      catalog.writeProduct("Indicator", t.indicator, pid)
      catalog.writeProduct("IndicatorMetaData", t.indicatorMetaData, pid)
      catalog.writeProduct("RelatedCharts", t.relatedCharts, pid)
    } else {
      // sibling runs reuse the master's indicator rows and skip
      // Indicator/Metadata/RelatedCharts/Theme/Dimensions
      // (main.py:166-170, 261) — but their NEW reference dates do get
      // inserted into the shared DimensionValues (main.py:246-259),
      // and any stale partitions from a pre-merge standalone load of
      // this pid are removed (delete-then-skip semantics)
      catalog.writeProduct("DimensionValues", t.dateDimensionValues, pid)
      Seq("IndicatorTheme", "Dimensions", "Indicator",
        "IndicatorMetaData", "RelatedCharts").foreach(catalog.deleteProduct(_, pid))
    }
  }
}
