package graft

import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.cube._

/** Mini-cube fixture (FIXTURES.md §A): 1 product, Geography + 2
  * non-geo dimensions (2×1 members), 3 annual reference periods.
  */
object MiniCube {

  val meta: CubeMetadata = CubeMetadata(
    productId = 99100001L,
    titleEn = "Mini cube", titleFr = "Mini cube fr",
    startDate = LocalDate.parse("2019-01-01"),
    endDate = LocalDate.parse("2021-01-01"),
    releaseTime = "2022-03-01 08:30:00",
    frequencyCode = 12,
    surveyCode = "5000",
    subjectCode = "9910",
    dimensions = Seq(
      Dimension(1, "Geography", "Géographie", hasUom = false, Seq(
        Member(1, "Canada", "Canada", None),
        Member(2, "Ontario", "Ontario", None))),
      Dimension(2, "Age group", "Groupe d'âge", hasUom = false, Seq(
        Member(1, "All ages", "Tous les âges", None),
        Member(2, "Youth", "Jeunes", None))),
      Dimension(3, "Estimate", "Estimation", hasUom = true, Seq(
        Member(1, "Count", "Nombre", Some(223))))))

  val uomCodeset: Map[Int, (String, String)] =
    Map(223 -> ("Number", "Nombre"))

  val subjectCodeset: Seq[(String, String, String)] = Seq(
    ("99", "Test subject", "Sujet test"),
    ("9910", "Test/Nested subject", "Test/Sujet imbriqué"))

  val defaults: ProductDefaults =
    ProductDefaults(1, "default", 1, "#FFFFFF", "#000000", 2)

  /** Observation rows: (REF_DATE, DGUID, UOM, UOM_ID, VECTOR,
    * COORDINATE, STATUS, SYMBOL, VALUE, AgeGroup, Estimate).
    * One DGUID ("2016A9999") is absent from GeographyReference to
    * exercise the warning split; one VALUE is null with a status
    * symbol to exercise the null-reason join.
    */
  def csv(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val rows = Seq(
      ("2019", "2021A000011124", "Number", 223.toShort, "v100", "1.1.1", "", "", Some(10.0), "All ages", "Count"),
      ("2019", "2021A000011124", "Number", 223.toShort, "v101", "1.2.1", "", "", Some(4.0), "Youth", "Count"),
      ("2019", "2016.A.000235", "Number", 223.toShort, "v102", "2.1.1", "", "", Some(6.0), "All ages", "Count"),
      ("2020", "2021A000011124", "Number", 223.toShort, "v100", "1.1.1", "", "", Some(11.0), "All ages", "Count"),
      ("2020", "2016A000235", "Number", 223.toShort, "v102", "2.1.1", "x", "x", None, "All ages", "Count"),
      ("2021", "2021A000011124", "Number", 223.toShort, "v100", "1.1.1", "", "", Some(12.0), "All ages", "Count"),
      ("2021", "2016A9999", "Number", 223.toShort, "v103", "2.2.1", "", "", Some(1.0), "Youth", "Count"))
    rows.toDF("REF_DATE", "DGUID", "UOM", "UOM_ID", "VECTOR", "COORDINATE",
      "STATUS", "SYMBOL", "VALUE", "Age group", "Estimate")
  }

  def geoRef(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq("2021A000011124", "2016A000235").toDF("GeographyReferenceId")
  }

  def nullReasons(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq((1, "x"), (2, "F")).toDF("NullReasonId", "Symbol")
  }

  def inputs(spark: SparkSession): PipelineInputs = PipelineInputs(
    meta = meta,
    csv = csv(spark),
    geoRef = geoRef(spark),
    nullReasons = nullReasons(spark),
    existingMeta = None,
    existingGeoLevels = None,
    existingDates = Nil,
    defaults = defaults,
    ids = NextIds())
}
