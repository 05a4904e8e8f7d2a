package graft

import java.time.LocalDate

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.cube._

/** Master + sibling merged-product semantics (SURVEY.md §7.4 risk 5):
  * sibling reuses the master's indicator rows, skips
  * Indicator/Metadata/RelatedCharts writes, and for mixed-geo justice
  * products drops national/prov/regional rows already loaded by the
  * master (main.py:166-170, 261; dfhandler.py:434-443).
  */
class MergedProductSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val justiceMaster = 35100002L // in GisPipeline.mixedGeoJusticePids

  private def meta(pid: Long) = CubeMetadata(
    productId = pid,
    titleEn = s"Justice $pid", titleFr = s"Justice $pid fr",
    startDate = LocalDate.parse("2015-01-01"),
    endDate = LocalDate.parse("2018-01-01"),
    releaseTime = "2022-03-01 08:30:00",
    frequencyCode = 12,
    surveyCode = "3302",
    subjectCode = "3510",
    dimensions = Seq(
      Dimension(1, "Geography", "Géographie", hasUom = false, Seq(
        Member(1, "Canada", "Canada", None))),
      Dimension(2, "Offence", "Infraction", hasUom = true, Seq(
        Member(1, "Total", "Total", Some(223))))))

  // rows across years 2015-2018 at a national level (A0000) and a CMA
  // level (S0503): pre-2017 non-core rows must be dropped everywhere;
  // the sibling must additionally drop core-level rows entirely.
  private def justiceCsv(vecBase: Int) = Seq(
    ("2015", "2016A000011124", "Number", 223.toShort, s"v${vecBase}0", "1.1", "", "", Some(1.0), "Total"),
    ("2015", "2016S0503001",   "Number", 223.toShort, s"v${vecBase}1", "1.1", "", "", Some(2.0), "Total"),
    ("2018", "2018A000011124", "Number", 223.toShort, s"v${vecBase}2", "1.1", "", "", Some(3.0), "Total"),
    ("2018", "2018S0503001",   "Number", 223.toShort, s"v${vecBase}3", "1.1", "", "", Some(4.0), "Total"))
    .toDF("REF_DATE", "DGUID", "UOM", "UOM_ID", "VECTOR", "COORDINATE",
      "STATUS", "SYMBOL", "VALUE", "Offence")

  private val geoRef = Seq("2016A000011124", "2016S0503001",
    "2018A000011124", "2018S0503001").toDF("GeographyReferenceId")
  private val nullReasons = Seq((1, "x")).toDF("NullReasonId", "Symbol")
  private val defaults = ProductDefaults(1, "d", 1, "#fff", "#000", 2)

  private def inputs(pid: Long, sibling: Boolean,
      masterInd: Option[org.apache.spark.sql.DataFrame]) = PipelineInputs(
    meta = meta(pid), csv = justiceCsv(if (sibling) 2 else 1),
    geoRef = geoRef, nullReasons = nullReasons,
    existingMeta = None, existingGeoLevels = None, existingDates = Nil,
    defaults = defaults, ids = NextIds(),
    isSibling = sibling, masterIndicators = masterInd)

  private val siblingPid = 35100026L // also a mixed-geo justice pid

  lazy val master: GisTables = GisPipeline.run(spark,
    inputs(justiceMaster, sibling = false, None),
    uomCodeset = Map(223 -> ("Number", "Nombre")))

  // sibling runs under its own metadata pid but is coded/stored under
  // the master pid (functional_pid_str, main.py:143)
  lazy val sibling: GisTables = GisPipeline.run(spark,
    inputs(siblingPid, sibling = true, Some(master.indicator))
      .copy(functionalPid = Some(justiceMaster)),
    uomCodeset = Map(223 -> ("Number", "Nombre")))

  test("master keeps pre-2017 rows only at core geo levels (F2)") {
    // 2015 A0000 row kept; 2015 S0503 row dropped; both 2018 rows kept
    val vals = master.indicatorValues.select("VALUE").as[Option[Double]]
      .collect().flatten.toSet
    assert(vals == Set(1.0, 3.0, 4.0))
  }

  test("sibling additionally drops core-level rows (dedup vs master)") {
    // sibling: 2015 S0503 dropped (pre-2017 non-core), A0000 rows
    // dropped entirely -> only the 2018 S0503 row remains
    val vals = sibling.indicatorValues.select("VALUE").as[Option[Double]]
      .collect().flatten.toSet
    assert(vals == Set(4.0))
  }

  test("sibling reuses master indicator ids and skips metadata/charts") {
    assert(sibling.indicator.select("IndicatorId").as[Long].collect().toSet ==
      master.indicator.select("IndicatorId").as[Long].collect().toSet)
    // functional pid: sibling GRI rows resolve against MASTER codes
    assert(sibling.geographyReferenceForIndicator
      .filter($"IndicatorId".isNull).count() == 0)
    assert(sibling.geographyReferenceForIndicator.count() > 0)
    assert(sibling.indicatorMetaData.isEmpty)
    assert(sibling.relatedCharts.isEmpty)
    assert(sibling.geographicLevelForIndicator
      .filter($"GeographicLevelId" === "SSSS").count() == 0)
  }

  test("sibling new-date ids continue directly from the watermark (main.py:252)") {
    // siblings never write non-geo dimension values, so their date
    // DimensionValueIds must NOT skip ahead by the member count — the
    // reference takes MAX+1 directly. Fixture: watermark 1, one non-geo
    // member; a gap would start the date ids at 2.
    val ids = sibling.dateDimensionValues
      .select("DimensionValueId").as[Long].collect().sorted.toSeq
    assert(ids == Seq(1L, 2L), s"sibling date ids not contiguous from watermark: $ids")
  }

  test("DGUID warnings scoped to the justice-filtered frame (main.py:219-222)") {
    // one pre-2017 non-core row with an unknown DGUID: the justice
    // filter drops it before the reference ever probes GeographyReference,
    // so it must NOT warn. A kept 2018 row with an unknown DGUID must.
    val csv = Seq(
      ("2015", "2016S9988001", "Number", 223.toShort, "v900", "1.1", "", "", Some(1.0), "Total"),
      ("2018", "2018S9977001", "Number", 223.toShort, "v901", "1.1", "", "", Some(2.0), "Total"),
      ("2018", "2018A000011124", "Number", 223.toShort, "v902", "1.1", "", "", Some(3.0), "Total"))
      .toDF("REF_DATE", "DGUID", "UOM", "UOM_ID", "VECTOR", "COORDINATE",
        "STATUS", "SYMBOL", "VALUE", "Offence")
    val out = GisPipeline.run(spark,
      inputs(justiceMaster, sibling = false, None).copy(csv = csv),
      uomCodeset = Map(223 -> ("Number", "Nombre")))
    val warned = out.dguidWarnings.select("DGUID").as[String].collect().toSet
    assert(warned == Set("2018S9977001"),
      s"warnings must exclude rows dropped by the justice filter: $warned")
  }

  test("in-group watermarks equal the catalog's MAX+1 after each product (scdb.py:145-159)") {
    // sibling 1 loads the mini cube, whose last value row in
    // (IndicatorCode, DGUID) order has a DGUID missing from the geography
    // reference: the FK join drops it after it used up an id. Sibling 2
    // adds a 2022 row, so it writes a new date value
    val masterPid = MiniCube.meta.productId
    val (s1, s2) = (masterPid + 1, masterPid + 2)
    val extra = Seq(("2022", "2021A000011124", "Number", 223.toShort, "v104", "1.1.1",
      "", "", Option(2.0), "All ages", "Count"))
      .toDF("REF_DATE", "DGUID", "UOM", "UOM_ID", "VECTOR", "COORDINATE",
        "STATUS", "SYMBOL", "VALUE", "Age group", "Estimate")
    val products = Map(
      masterPid -> ((MiniCube.meta, MiniCube.csv(spark))),
      s1 -> ((MiniCube.meta.copy(productId = s1), MiniCube.csv(spark))),
      s2 -> ((MiniCube.meta.copy(productId = s2), MiniCube.csv(spark).union(extra))))
    def load(pids: Set[Long]): graft.io.ParquetCatalog = {
      val dir = java.nio.file.Files.createTempDirectory("graft_watermarks").toString
      val catalog = new graft.io.ParquetCatalog(spark, dir)
      ProductRunner.runGroup(spark, catalog, masterPid,
        products = products.filter { case (pid, _) => pids(pid) },
        mergeConfig = Map(masterPid -> Seq(s1, s2)),
        geoRef = MiniCube.geoRef(spark),
        nullReasons = MiniCube.nullReasons(spark),
        defaults = MiniCube.defaults,
        uomCodeset = MiniCube.uomCodeset,
        subjectCodeset = MiniCube.subjectCodeset)
      catalog
    }
    def ids(df: org.apache.spark.sql.DataFrame, c: String): Seq[Long] =
      df.select(c).as[Long].collect().toSeq
    val afterS1 = load(Set(masterPid, s1))
    val probedValueId = ids(afterS1.read("IndicatorValues"), "IndicatorValueId").max + 1
    val probedDimValueId = ids(afterS1.read("DimensionValues"), "DimensionValueId").max + 1
    val s1Ids = ids(afterS1.readProduct("IndicatorValues", s1), "IndicatorValueId")
    val s1Rows = MiniCube.csv(spark).count()
    assert(probedValueId != s1Ids.min + s1Rows,
      "fixture: the dropped row must sort last, so MAX+1 is not nextId + row count")

    val all = load(Set(masterPid, s1, s2))
    assert(ids(all.readProduct("IndicatorValues", s2), "IndicatorValueId").min == probedValueId)
    val s2Dates = all.readProduct("DimensionValues", s2)
    assert(s2Dates.select("Display_EN").as[String].collect().toSeq == Seq("2022"))
    assert(ids(s2Dates, "DimensionValueId") == Seq(probedDimValueId))
  }

  test("justice DGUID re-vintage applied in master values path") {
    // 2018 CMA row: DGUID untouched (not 2011-vintage), geo level S0503
    val gl = master.geographicLevelForIndicator
      .select("GeographicLevelId").distinct().as[String].collect().toSet
    assert(gl.contains("S0503") && gl.contains("A0000"))
  }
}
