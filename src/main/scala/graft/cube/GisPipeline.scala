package graft.cube

import java.time.LocalDate

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** The 9 output frames of one product load (target star schema,
  * SURVEY.md §1.1; insert column orders match the reference's insert
  * subsets).
  */
final case class GisTables(
    indicatorTheme: DataFrame,
    dimensions: DataFrame,
    dimensionValues: DataFrame,
    indicator: DataFrame,
    indicatorValues: DataFrame,
    geographyReferenceForIndicator: DataFrame,
    geographicLevelForIndicator: DataFrame,
    indicatorMetaData: DataFrame,
    relatedCharts: DataFrame,
    /** Unmatched DGUIDs, collected while the product ran: a local frame. */
    dguidWarnings: DataFrame,
    /** The product's new Date-dimension values: a local frame. */
    dateDimensionValues: DataFrame,
    /** Frames [[GisPipeline.run]] persisted for this product (prepared
      * CSV, id-frozen values, a master's indicator frame). Callers
      * unpersist after the tables are materialized — ProductRunner does
      * so after each catalog write.
      */
    cached: Seq[DataFrame] = Nil)

/** Everything one product append needs (main.py:123-281 environment). */
final case class PipelineInputs(
    meta: CubeMetadata,
    csv: DataFrame,
    geoRef: DataFrame, // [GeographyReferenceId]
    nullReasons: DataFrame, // [NullReasonId, Symbol]
    existingMeta: Option[DataFrame], // preserved chart metadata (scdb.py:128-137)
    existingGeoLevels: Option[DataFrame], // [IndicatorIdExist, GeographicLevelIdExist]
    existingDates: Seq[String], // Display_EN of the Date values the group already holds
    defaults: ProductDefaults,
    ids: NextIds,
    minRefYear: Option[Int] = None,
    isSibling: Boolean = false,
    masterIndicators: Option[DataFrame] = None,
    functionalPid: Option[Long] = None, // sibling rows are stored under the MASTER pid (main.py:143)
    nextDateValueOrder: Long = 1L,
    dateDimensionId: Option[Long] = None, // sibling new dates attach to the MASTER's Date dimension
    themeNeeds: ThemeNeeds = ThemeNeeds())

/** The E1-insert + E3-append dataflow (main.py:53-281) as one lazy
  * DataFrame graph per product: the reference's 20k-row chunk loop,
  * per-chunk MAX(id) probes, and read-back joins all collapse into
  * single plans with deterministic window-assigned ids
  * (SURVEY.md §3, §7.4).
  */
object GisPipeline {

  /** Justice products with mixed geographies (main.py:20). */
  val mixedGeoJusticePids: Set[Long] = Set(35100177L, 35100002L, 35100026L, 35100068L)

  /** setup_chunk_columns (dfhandler.py:669-691), applied to the whole
    * CSV frame at once: codes, DGUID repair, year fix, geo level,
    * min-year filter — one fused codegen projection over the scan.
    */
  def setupColumns(csv: DataFrame, meta: CubeMetadata,
      minRefYear: Option[Int], functionalPid: Option[Long] = None): DataFrame = {
    // siblings of a merged product are coded and stored under the
    // master pid (functional_pid_str, main.py:143, 199-201)
    val fpid = functionalPid.getOrElse(meta.productId)
    val pid = lit(fpid.toString)
    val base = csv
      .withColumn("IndicatorCode",
        CubeOps.indicatorCode(col("COORDINATE"), col("REF_DATE"), pid))
      .drop("COORDINATE")
      .withColumnRenamed("VECTOR", "Vector")
      .withColumnRenamed("UOM", "UOM_EN")
      .withColumn("RefYear", CubeOps.fixRefYear(col("REF_DATE")))
      .withColumn("DGUID",
        CubeOps.fixDguid(col("RefYear"), CubeOps.cleanDguid(col("DGUID")), pid))
      .withColumn("IndicatorThemeID", pid)
      .withColumn("ReleaseIndicatorDate", to_timestamp(lit(meta.releaseTime)))
      .withColumn("ReferencePeriod", CubeOps.refYearToJan1(col("RefYear")))
      .withColumn("Vector", CubeOps.vectorId(col("Vector")))
      .withColumn("GeographicLevelId", CubeOps.geoLevelId(col("DGUID")))
    minRefYear match {
      case Some(y) if !mixedGeoJusticePids.contains(fpid) =>
        base.filter(col("RefYear").cast("int") >= y)
      case _ => base
    }
  }

  /** Mixed-geo justice row predicate (dfhandler.py:434-443, F2); None
    * keeps every row.
    */
  private def justiceKeep(pid: Long, isSibling: Boolean): Option[Column] =
    if (!mixedGeoJusticePids.contains(pid)) None
    else {
      val core = Seq("A0000", "A0001", "A0002")
      val kept = !(col("RefYear").cast("int") < 2017 &&
        !col("GeographicLevelId").isin(core: _*))
      Some(if (isSibling) kept && !col("GeographicLevelId").isin(core: _*) else kept)
    }

  private def justiceGeoFilter(df: DataFrame, pid: Long, isSibling: Boolean): DataFrame =
    justiceKeep(pid, isSibling).fold(df)(df.filter)

  /** gis.IndicatorValues (dfhandler.py:430-462). Ids are assigned
    * before the FK-validation join, as in the reference (dropped rows
    * consume ids). Order: deterministic (IndicatorCode, DGUID) window
    * instead of CSV chunk order.
    */
  def buildIndicatorValues(prepared: DataFrame, geoRef: DataFrame,
      nullReasons: DataFrame, nextId: Long, pid: Long,
      isSibling: Boolean): DataFrame = {
    // Distributed dense-id assignment (ops.Ids): range-partition +
    // per-partition offsets instead of a single-partition global window
    // — id-identical, but survives a 100× fact table.
    val base = graft.ops.Ids.distributedDenseIds(
      justiceGeoFilter(prepared, pid, isSibling)
        .select("DGUID", "IndicatorCode", "STATUS", "VALUE"),
      "IndicatorValueId", nextId, Seq("IndicatorCode", "DGUID"))
    base
      .join(broadcast(geoRef), base("DGUID") === geoRef("GeographyReferenceId"), "inner")
      .withColumn("IndicatorValueCode",
        CubeOps.indicatorValueCode(col("DGUID"), col("IndicatorCode")))
      .join(broadcast(nullReasons), col("STATUS") === col("Symbol"), "left")
      .select("IndicatorValueId", "VALUE", "NullReasonId", "IndicatorValueCode")
  }

  /** gis.GeographyReferenceForIndicator (dfhandler.py:185-207).
    * `prepared` must already be justice-geo-filtered: the reference
    * builds it after the mixed-geo drop (main.py:219-222).
    */
  def buildGeoRefForIndicator(prepared: DataFrame, indicators: DataFrame,
      geoRef: DataFrame, indicatorValues: DataFrame): DataFrame = {
    val base = prepared.select("DGUID", "IndicatorCode", "ReferencePeriod")
      .join(broadcast(indicators.select("IndicatorCode", "IndicatorId")),
        Seq("IndicatorCode"), "left")
      .withColumn("IndicatorValueCode",
        CubeOps.indicatorValueCode(col("DGUID"), col("IndicatorCode")))
    base
      .join(broadcast(geoRef), base("DGUID") === geoRef("GeographyReferenceId"), "left_semi")
      .join(indicatorValues.select("IndicatorValueCode", "IndicatorValueId"),
        Seq("IndicatorValueCode"), "left")
      .na.drop(Seq("IndicatorId", "IndicatorValueId"))
      .select(substring(col("DGUID"), 1, 25).as("GeographyReferenceId"),
        col("IndicatorId"), col("IndicatorValueId"), col("ReferencePeriod"))
  }

  /** Spark's ascending string order: UTF-8 bytes, nulls first. */
  private[cube] val sparkStringOrder: Ordering[String] = (a: String, b: String) =>
    if (a == null || b == null) java.lang.Boolean.compare(b == null, a == null)
    else UTF8String.fromString(a).compareTo(UTF8String.fromString(b))

  /** The driver-side facts of one product, from one pass over its
    * prepared rows: the distinct trimmed REF_DATEs (null included), and
    * the unmatched-DGUID warnings (dfhandler.py:556-559, 694-705) —
    * distinct non-null DGUIDs missing from the geography reference,
    * among the rows `keep` leaves (the reference warns after the
    * mixed-geo drop, main.py:219-222). Both come back sorted.
    */
  def fileFacts(prepared: DataFrame, geoRef: DataFrame,
      keep: Option[Column]): (Seq[String], Seq[String]) = {
    val unmatched = col("__geoRef").isNull && keep.getOrElse(lit(true))
    val row = prepared
      .join(broadcast(geoRef.select(col("GeographyReferenceId").as("__geoRef"))),
        col("DGUID") === col("__geoRef"), "left")
      .agg(collect_set(trim(col("REF_DATE"))), max(col("REF_DATE").isNull),
        collect_set(when(unmatched, col("DGUID"))))
      .head()
    val nullDate = !row.isNullAt(1) && row.getBoolean(1)
    val dates = row.getSeq[String](0) ++ (if (nullDate) Seq(null) else Nil)
    (dates.sorted(sparkStringOrder), row.getSeq[String](2).sorted(sparkStringOrder))
  }

  /** gis.GeographicLevelForIndicator (dfhandler.py:143-182): distinct
    * (level, code) per product, CA→CMA collapse, FK to indicator ids,
    * anti-join against existing rows, plus the synthetic "SSSS"
    * web-display row per indicator (U2).
    */
  def buildGeoLevelForIndicator(prepared: DataFrame, indicators: DataFrame,
      pid: Long, existing: Option[DataFrame], isSibling: Boolean): DataFrame = {
    // the mixed-geo justice drop, without the sibling core-level drop
    val mapped = justiceGeoFilter(
      prepared.select("RefYear", "GeographicLevelId", "IndicatorCode"), pid, isSibling = false)
      .drop("RefYear")
      .withColumn("GeographicLevelId", CubeOps.caToCma(col("GeographicLevelId")))
      .distinct()
      .join(broadcast(indicators.select("IndicatorCode", "IndicatorId")),
        Seq("IndicatorCode"), "left")
      .drop("IndicatorCode")
      .na.drop()
      .filter(col("GeographicLevelId") =!= "")
    val newRows = existing.fold(mapped) { ex =>
      mapped.join(broadcast(ex),
        mapped("IndicatorId") === ex("IndicatorIdExist") &&
          mapped("GeographicLevelId") === ex("GeographicLevelIdExist"),
        "left_anti")
    }
    // one pass over newRows: each indicator's pairs, then its web row
    if (isSibling) newRows.select("IndicatorId", "GeographicLevelId")
    else newRows.groupBy("IndicatorId")
      .agg(collect_list("GeographicLevelId").as("__levels"))
      .select(col("IndicatorId"),
        explode(concat(col("__levels"), array(lit("SSSS")))).as("GeographicLevelId"))
  }

  /** The rows of [[buildDimensions]]. */
  private def dimensionRows(meta: CubeMetadata,
      nextDimId: Long): Seq[(Long, Long, String, String, Long, String)] = {
    val names = ("Date", "Date") +: meta.dimensions.map(d => (d.nameEn, d.nameFr))
    val n = names.size
    names.zipWithIndex.map { case ((en, fr), i) =>
      (nextDimId + i, meta.productId, en, fr, i + 1L,
        if (i == n - 1) "Value" else "Filter")
    }
  }

  /** gis.Dimensions (dfhandler.py:26-40): synthetic Date dimension
    * first, then cube dimensions; last one typed "Value".
    */
  def buildDimensions(spark: SparkSession, meta: CubeMetadata,
      nextDimId: Long): DataFrame = {
    import spark.implicits._
    dimensionRows(meta, nextDimId).toDF("DimensionId", "IndicatorThemeId",
      "Dimension_EN", "Dimension_FR", "DisplayOrder", "DimensionType")
  }

  /** gis.DimensionValues (dfhandler.py:94-110): flatten members, drop
    * Geography, FK to dimension ids, per-dimension display order with
    * zero-padded prefix, 255-char caps. Numbered on the driver: ids in
    * (positionId, memberId) order, then the Dimension_EN name join —
    * a name no dimension carries keeps a null DimensionId, a name
    * several carry ("Date", or a repeated name) yields a row for each —
    * then display orders per DimensionId in the same order.
    */
  def buildDimensionValues(spark: SparkSession, meta: CubeMetadata,
      nextDimId: Long, nextDimValId: Long): DataFrame = {
    import spark.implicits._
    val dimIdsByName = dimensionRows(meta, nextDimId)
      .filter(_._3 != null).groupMap(_._3)(r => Option(r._1))
    // nonGeoDimensions drops exactly the names whose lower case is
    // "geography" (only ASCII letters lower-case to those letters)
    val numbered = meta.nonGeoDimensions
      .flatMap(d => d.members.map(m => (d, m)))
      .sortBy { case (d, m) => (d.positionId, m.memberId) }
      .zipWithIndex
      .flatMap { case ((d, m), i) =>
        dimIdsByName.getOrElse(d.nameEn, Seq(None)).map(dimId => (nextDimValId + i, dimId, m))
      }
    // groupBy keeps numbered's id order within each DimensionId
    val rows = numbered.groupBy(_._2).values.toSeq.flatMap(_.zipWithIndex.map {
      case ((id, dimId, m), ord) => (id, dimId, m.nameEn, m.nameFr, ord + 1L)
    })
    rows.toDF("DimensionValueId", "DimensionId", "__en", "__fr", "ValueDisplayOrder")
      .select(col("DimensionValueId"), col("DimensionId"),
        substring(concat(CubeOps.memberPrefix(col("ValueDisplayOrder")), col("__en")), 1, 255)
          .as("Display_EN"),
        substring(concat(CubeOps.memberPrefix(col("ValueDisplayOrder")), col("__fr")), 1, 255)
          .as("Display_FR"),
        col("ValueDisplayOrder"))
  }

  /** New date-dimension values: the file's distinct trimmed REF_DATEs
    * (see [[fileFacts]]) not already among `existing` (dfhandler.py:114-134,
    * J2 anti-join; a null date never matches), ids and display orders
    * continuing from the watermarks in Spark's date-string order.
    */
  def buildDateDimensionValues(spark: SparkSession, fileDates: Seq[String],
      existing: Seq[String], dateDimId: Long, nextDimValId: Long,
      nextOrder: Long): DataFrame = {
    import spark.implicits._
    val known = existing.filter(_ != null).toSet
    fileDates.filterNot(known).sorted(sparkStringOrder).zipWithIndex.map { case (d, i) =>
      (nextDimValId + i, dateDimId, d, d, nextOrder + i)
    }.toDF("DimensionValueId", "DimensionId", "Display_EN", "Display_FR",
      "ValueDisplayOrder")
  }

  /** gis.IndicatorTheme (dfhandler.py:380-427): the product row plus
    * parent subject / dummy "select a …" rows when missing. Control
    * plane — a handful of rows built driver-side.
    */
  def buildIndicatorTheme(spark: SparkSession, meta: CubeMetadata,
      subjectCodeset: Seq[(String, String, String)],
      needParentSubject: Boolean, needDummySubject: Boolean,
      needParentShort: Boolean, needDummyShort: Boolean): DataFrame = {
    import spark.implicits._
    def subjDesc(code: String, fr: Boolean): String =
      subjectCodeset.collectFirst {
        case (c, en, fre) if c == code => CubeOps.partitionedAfter(if (fr) fre else en, "/")
      }.getOrElse("")
    val sc = meta.subjectCode
    val scs = meta.subjectCodeShort
    val rows = Seq(
      (meta.productId, meta.titleEn, meta.titleFr,
        Option(meta.surveyCode.toLong), Option(sc.toLong))) ++
      (if (needParentSubject && sc.length > 2)
        Seq((sc.toLong, subjDesc(sc, fr = false), subjDesc(sc, fr = true),
          Option.empty[Long], Option(scs.toLong))) else Nil) ++
      (if (needDummySubject && sc.length > 2)
        Seq(((sc + CubeOps.dummySubjectSuffix(sc)).toLong,
          "*...Select a Product", "*...Sélectionnez un produit",
          Option.empty[Long], Option(sc.toLong))) else Nil) ++
      (if (needParentShort)
        Seq((scs.toLong, subjDesc(scs, fr = false), subjDesc(scs, fr = true),
          Option.empty[Long], Option.empty[Long])) else Nil) ++
      (if (needDummyShort)
        Seq(((scs + CubeOps.dummySubjectSuffix(scs)).toLong,
          "*...Select a Theme ", "*...Sélectionnez un thème",
          Option.empty[Long], Option(scs.toLong))) else Nil)
    rows.toDF("IndicatorThemeId", "IndicatorTheme_EN", "IndicatorTheme_FR",
      "StatisticsProgramId", "ParentThemeId")
      .withColumn("IndicatorTheme_EN", substring(col("IndicatorTheme_EN"), 1, 400))
      .withColumn("IndicatorTheme_FR", substring(col("IndicatorTheme_FR"), 1, 400))
      .withColumn("IndicatorThemeDescription_EN", substring(col("IndicatorTheme_EN"), 1, 1000))
      .withColumn("IndicatorThemeDescription_FR", substring(col("IndicatorTheme_FR"), 1, 1000))
      .withColumn("IndicatorThemeStatus", lit("C"))
      .select("IndicatorThemeId", "IndicatorTheme_EN", "IndicatorTheme_FR",
        "StatisticsProgramId", "IndicatorThemeDescription_EN",
        "IndicatorThemeDescription_FR", "ParentThemeId", "IndicatorThemeStatus")
  }

  /** Dimension-unique-key combos (dfhandler.py:43-72): ordered cross
    * product over *stored* dimension values (Date dimension included),
    * keyed by stripped display names ↔ concatenated value ids. The
    * inputs are local frames, so grouping the values per dimension
    * runs on the driver; only the cross product is a Spark plan.
    */
  def dimensionUniqueKeys(dimensions: DataFrame, dimensionValues: DataFrame,
      dateValues: DataFrame): DataFrame = {
    val spark = dimensions.sparkSession
    import spark.implicits._
    val displayOrder = dimensions.select("DimensionId", "DisplayOrder").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val named = Seq(dimensionValues, dateValues).flatMap(_.select(col("DimensionId"),
      CubeOps.stripSortPrefix(col("Display_EN")), col("DimensionValueId")).collect())
      .filter(r => !r.isNullAt(0) && displayOrder.contains(r.getLong(0)))
    val perDim = named.groupBy(_.getLong(0)).toSeq.sortBy { case (id, _) => displayOrder(id) }
      .zipWithIndex.map { case ((_, rows), i) =>
        rows.map(r => (r.getString(1), r.getLong(2))).toDF(s"n_$i", s"k_$i")
      }
    val crossed = perDim.reduce(_ crossJoin _)
    val n = perDim.length
    crossed.select(
      concat_ws("-", (0 until n).map(i => col(s"n_$i")): _*).as("IndicatorFmt"),
      concat_ws("-", (0 until n).map(i => col(s"k_$i")): _*).as("DimensionUniqueKey"))
  }

  private val primaryQueryPrefix =
    "SELECT iv.value AS Value, CASE WHEN iv.value IS NULL THEN nr.symbol ELSE "
  private def primaryQueryBody(enFormat: String, frFormat: String): String =
    enFormat + " END AS FormattedValue_EN,  CASE WHEN iv.value IS NULL THEN " +
      "nr.symbol ELSE " + frFormat + " END AS FormattedValue_FR, " +
      "grfi.GeographyReferenceId, g.DisplayNameShort_EN, g.DisplayNameShort_FR, " +
      "g.DisplayNameLong_EN, g.DisplayNameLong_FR, g.ProvTerrName_EN, g.ProvTerrName_FR, " +
      "g.Shape, i.IndicatorName_EN, i.IndicatorName_FR, i.IndicatorId, i.IndicatorDisplay_EN, " +
      "i.IndicatorDisplay_FR, i.UOM_EN, i.UOM_FR, g.GeographicLevelId, gl.LevelName_EN, " +
      "gl.LevelName_FR, gl.LevelDescription_EN, gl.LevelDescription_FR, g.EntityName_EN, " +
      "g.EntityName_FR, nr.Symbol, nr.Description_EN as NullDescription_EN, nr.Description_FR " +
      "as NullDescription_FR FROM gis.geographyreference AS g INNER JOIN " +
      "gis.geographyreferenceforindicator AS grfi ON g.geographyreferenceid = " +
      "grfi.geographyreferenceid  INNER JOIN (select * from gis.indicator where " +
      "indicatorId = "

  private val primaryQuerySuffix =
    ") AS i ON grfi.indicatorid = " +
      "i.indicatorid  INNER JOIN gis.geographiclevel AS gl ON g.geographiclevelid = " +
      "gl.geographiclevelid  INNER JOIN gis.geographiclevelforindicator AS glfi  ON " +
      "i.indicatorid = glfi.indicatorid  AND gl.geographiclevelid = glfi.geographiclevelid " +
      "INNER JOIN gis.indicatorvalues AS iv  ON iv.indicatorvalueid = grfi.indicatorvalueid  " +
      "INNER JOIN gis.indicatortheme AS it ON i.indicatorthemeid = it.indicatorthemeid  " +
      "LEFT OUTER JOIN gis.indicatornullreason AS nr ON iv.nullreasonid = nr.nullreasonid"

  /** gis.IndicatorMetaData (dfhandler.py:311-377): unique-key match
    * (case-insensitive J8), preserved-metadata left join (J9), default
    * fill (X9), PrimaryQuery generation (X13).
    */
  def buildIndicatorMetadata(indicators: DataFrame, uniqueKeys: DataFrame,
      existingMeta: Option[DataFrame], defaults: ProductDefaults): DataFrame = {
    val keyed = indicators
      .withColumn("__fmtLower", lower(col("IndicatorFmt")))
      .join(broadcast(uniqueKeys
        .withColumn("__fmtLower", lower(col("IndicatorFmt")))
        .select("__fmtLower", "DimensionUniqueKey")),
        Seq("__fmtLower"), "left")
      .select("IndicatorId", "UOM_EN", "UOM_FR", "UOM_ID", "DimensionUniqueKey",
        "IndicatorCode")
    val withExisting = existingMeta match {
      case Some(ex) => keyed.join(broadcast(ex.select("IndicatorCode",
        "DefaultBreaksAlgorithmId", "DefaultBreaks", "PrimaryChartTypeId",
        "ColorTo", "ColorFrom")), Seq("IndicatorCode"), "left")
      case None => keyed
        .withColumn("DefaultBreaksAlgorithmId", lit(null).cast("int"))
        .withColumn("DefaultBreaks", lit(null).cast("string"))
        .withColumn("PrimaryChartTypeId", lit(null).cast("int"))
        .withColumn("ColorTo", lit(null).cast("string"))
        .withColumn("ColorFrom", lit(null).cast("string"))
    }
    val dedup = withExisting
      .withColumn("__rn", row_number().over(
        Window.partitionBy("IndicatorId").orderBy("DimensionUniqueKey")))
      .filter(col("__rn") === 1).drop("__rn")
    dedup
      .withColumn("MetaDataId", col("IndicatorId"))
      .withColumn("DefaultRelatedChartId", col("IndicatorId"))
      .withColumn("DefaultBreaksAlgorithmId",
        coalesce(col("DefaultBreaksAlgorithmId"), lit(defaults.defaultBreaksAlgorithmId)))
      .withColumn("DefaultBreaks", coalesce(col("DefaultBreaks"), lit(defaults.defaultBreaks)))
      .withColumn("PrimaryChartTypeId",
        coalesce(col("PrimaryChartTypeId"), lit(defaults.primaryChartTypeId)))
      .withColumn("ColorTo", substring(coalesce(col("ColorTo"), lit(defaults.colorTo)), 1, 35))
      .withColumn("ColorFrom", substring(coalesce(col("ColorFrom"), lit(defaults.colorFrom)), 1, 35))
      .withColumn("PrimaryQuery", substring(
        concat(
          lit(primaryQueryPrefix +
            primaryQueryBody(CubeOps.uomFormatSql("en"), CubeOps.uomFormatSql("fr"))),
          col("IndicatorId").cast("string"),
          lit(primaryQuerySuffix)), 1, 4000))
      .select(col("MetaDataId"), col("IndicatorId"),
        substring(col("UOM_EN"), 1, 600).as("FieldAlias_EN"),
        substring(col("UOM_FR"), 1, 600).as("FieldAlias_FR"),
        col("UOM_ID").as("DataFormatId"),
        col("DefaultBreaksAlgorithmId"), col("DefaultBreaks"),
        col("PrimaryChartTypeId"), col("PrimaryQuery"),
        col("ColorTo"), col("ColorFrom"),
        substring(col("DimensionUniqueKey"), 1, 50).as("DimensionUniqueKey"),
        col("DefaultRelatedChartId"))
  }

  /** gis.RelatedCharts (dfhandler.py:492-541): generic code (X14),
    * top-10 related-id list in id order with self-id fallback (O3),
    * Query generation (X13).
    */
  def buildRelatedCharts(indicators: DataFrame,
      existingMeta: Option[DataFrame], defaults: ProductDefaults): DataFrame = {
    val base = indicators.select("IndicatorId", "IndicatorCode", "UOM_ID",
      "LastIndicatorMember_EN", "LastIndicatorMember_FR", "UOM_EN", "UOM_FR")
      .withColumn("GenericIndicatorCode",
        CubeOps.genericIndicatorCode(col("IndicatorCode")))
    val withExisting = existingMeta match {
      case Some(ex) => base.join(broadcast(
        ex.select("IndicatorCode", "ChartTypeId")), Seq("IndicatorCode"), "left")
      case None => base.withColumn("ChartTypeId", lit(null).cast("int"))
    }
    val w = Window.partitionBy("GenericIndicatorCode").orderBy("IndicatorId")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    withExisting
      .withColumn("RelatedIndicatorIDs",
        when(col("GenericIndicatorCode").isNull, col("IndicatorId").cast("string"))
          .otherwise(array_join(
            slice(collect_list(col("IndicatorId").cast("string")).over(w), 1, 10), ",")))
      .withColumn("ChartTypeId",
        coalesce(col("ChartTypeId"), lit(defaults.relatedChartTypeId)))
      .withColumn("Query", substring(concat(
        lit(primaryQueryPrefix + CubeOps.uomFormatSql("en") +
          " END AS FormattedValue_EN, CASE WHEN iv.value IS NULL THEN nr.symbol ELSE " +
          CubeOps.uomFormatSql("fr") +
          " END AS FormattedValue_FR, i.IndicatorName_EN, i.IndicatorName_FR, " +
          "nr.Description_EN AS NullDescription_EN, nr.Description_FR AS NullDescription_FR FROM " +
          "gis.IndicatorValues AS iv left outer join gis.IndicatorNullReason AS nr on iv.NullReasonId = " +
          "nr.NullReasonId INNER JOIN gis.GeographyReferenceForIndicator AS gfri ON iv.indicatorvalueid = " +
          "gfri.indicatorvalueid INNER JOIN gis.indicator AS i ON i.indicatorid = gfri.indicatorid WHERE " +
          "gfri.indicatorid IN ("),
        col("RelatedIndicatorIDs"), lit(")")), 1, 4000))
      .select(col("IndicatorId").as("RelatedChartId"),
        substring(col("LastIndicatorMember_EN"), 1, 150).as("ChartTitle_EN"),
        substring(col("LastIndicatorMember_FR"), 1, 150).as("ChartTitle_FR"),
        col("Query"), col("ChartTypeId"),
        col("IndicatorId").as("IndicatorMetaDataId"),
        col("UOM_ID").as("DataFormatId"),
        substring(col("UOM_EN"), 1, 150).as("FieldAlias_EN"),
        substring(col("UOM_FR"), 1, 150).as("FieldAlias_FR"))
  }

  /** One product end-to-end (E1 insert + E3 append, main.py:53-281). */
  def run(spark: SparkSession, in: PipelineInputs,
      uomCodeset: Map[Int, (String, String)] = Map.empty,
      subjectCodeset: Seq[(String, String, String)] = Nil,
      refDates: Seq[LocalDate] = Nil): GisTables = {
    import spark.implicits._
    val meta = in.meta
    val dates = if (refDates.nonEmpty) refDates
      else RefDates.generate(meta.startDate, meta.endDate, meta.frequencyCode)

    val fpid = in.functionalPid.getOrElse(meta.productId)
    val prepared = setupColumns(in.csv, meta, in.minRefYear, in.functionalPid).cache()

    val theme = buildIndicatorTheme(spark, meta, subjectCodeset,
      needParentSubject = in.themeNeeds.parentSubject,
      needDummySubject = in.themeNeeds.dummySubject,
      needParentShort = in.themeNeeds.parentShort,
      needDummyShort = in.themeNeeds.dummyShort)
    val dims = buildDimensions(spark, meta, in.ids.dimensionId)
    val dimValues = buildDimensionValues(spark, meta, in.ids.dimensionId,
      in.ids.dimensionValueId)

    // Sibling products reuse the master's indicator rows
    // (main.py:166-170). A master's frame is persisted: it feeds
    // Indicator, IndicatorMetaData, RelatedCharts, GRFI and GLI
    val built = if (in.masterIndicators.isDefined) None
      else Some(IndicatorBuilder.build(spark, meta, dates, uomCodeset,
        in.ids.indicatorId, in.minRefYear, mixedGeoJusticePids).persist())
    val indicators = in.masterIndicators.orElse(built).get

    // persisted so every consumer (the values write, the GRFI join)
    // sees ONE materialization of the dense-id assignment; unpersisted
    // by the caller via GisTables.cached after the write
    val values = buildIndicatorValues(prepared, in.geoRef, in.nullReasons,
      in.ids.indicatorValueId, fpid, in.isSibling).persist()
    // the reference builds GRFI and its DGUID warnings after the
    // mixed-geo justice drop (main.py:219-222) — warnings must not
    // inspect rows that filter removed
    val justiced = justiceGeoFilter(prepared, fpid, in.isSibling)
    val gri = buildGeoRefForIndicator(justiced, indicators, in.geoRef, values)
    val (fileDates, warnings) = fileFacts(prepared, in.geoRef,
      justiceKeep(fpid, in.isSibling))
    val gli = buildGeoLevelForIndicator(prepared, indicators, fpid,
      in.existingGeoLevels, in.isSibling)

    // sibling runs never write non-geo dimension values (main.py:261),
    // so their new date ids continue directly from the watermark
    // (main.py:252 takes MAX+1 with no member offset)
    val nextDimValAfter =
      if (in.isSibling) in.ids.dimensionValueId
      else in.ids.dimensionValueId + meta.nonGeoDimensions.map(_.members.size).sum
    // Date dimension is first for a master; siblings attach to the
    // master's Date dimension id (get_date_dimension_id, scdb.py:108-114)
    val dateDimId = in.dateDimensionId.getOrElse(in.ids.dimensionId)
    val dateValues = buildDateDimensionValues(spark, fileDates, in.existingDates,
      dateDimId, nextDimValAfter, in.nextDateValueOrder)

    // unique-key matching feeds only metadata/charts, which siblings
    // skip — don't pay its crossJoin on sibling runs
    val (metaData, related) =
      if (in.isSibling) (spark.emptyDataFrame, spark.emptyDataFrame)
      else {
        val keys = dimensionUniqueKeys(dims, dimValues, dateValues)
        (buildIndicatorMetadata(indicators, keys, in.existingMeta, in.defaults),
          buildRelatedCharts(indicators, in.existingMeta, in.defaults))
      }

    // date-dimension values are stored in the same gis.DimensionValues
    // table (main.py:246-259)
    GisTables(theme, dims, dimValues.unionByName(dateValues),
      IndicatorBuilder.insertSubset(indicators),
      values, gri, gli, metaData, related, warnings.toDF("DGUID"), dateValues,
      cached = Seq(prepared, values) ++ built)
  }
}
