package graft.cube

import java.time.LocalDate

import org.apache.spark.sql.types._

/** Logical data model of a StatCan WDS "cube" product, as consumed by
  * the pipeline (reference: scwds.py:11-32 `build_metadata_dict`,
  * FIXTURES.md §A2).
  */
final case class Member(
    memberId: Int,
    nameEn: String,
    nameFr: String,
    uomCode: Option[Int])

final case class Dimension(
    positionId: Int,
    nameEn: String,
    nameFr: String,
    hasUom: Boolean,
    members: Seq[Member])

final case class CubeMetadata(
    productId: Long,
    titleEn: String,
    titleFr: String,
    startDate: LocalDate,
    endDate: LocalDate,
    releaseTime: String,
    frequencyCode: Int,
    surveyCode: String,
    subjectCode: String,
    dimensions: Seq[Dimension]) {

  /** First 2 digits of the product id (helpers.py:124-126). */
  def subjectCodeShort: String = productId.toString.take(2)

  /** Dimension names excluding Geography (dimension 1 is always
    * Geography and is stripped from indicator space; the reference
    * compares upper-cased, scwds.py:43 — match that so a
    * differently-cased geography dimension cannot desynchronize the
    * dimension-value id watermark arithmetic).
    */
  def nonGeoDimensions: Seq[Dimension] =
    dimensions.filterNot(_.nameEn.equalsIgnoreCase("Geography"))
}

/** Per-product chart defaults (product_defaults.json:498-505,
  * json_handler.py:29-37).
  */
final case class ProductDefaults(
    defaultBreaksAlgorithmId: Int,
    defaultBreaks: String,
    primaryChartTypeId: Int,
    colorTo: String,
    colorFrom: String,
    relatedChartTypeId: Int)

/** Next-id watermarks for the 4 sequential id spaces (scdb.py:145-159).
  * In the Spark engine ids are assigned once per product with a single
  * deterministic window (SURVEY.md §7.4 risk 1), not per 20k chunk.
  */
/** Which parent/dummy subject rows IndicatorTheme still needs — the
  * reference's sc_row_count/scs_row_count DB existence probes
  * (dfhandler.py:392-411); false = the row already exists.
  */
final case class ThemeNeeds(
    parentSubject: Boolean = true,
    dummySubject: Boolean = true,
    parentShort: Boolean = true,
    dummyShort: Boolean = true)

final case class NextIds(
    dimensionId: Long = 1L,
    dimensionValueId: Long = 1L,
    indicatorId: Long = 1L,
    indicatorValueId: Long = 1L)

object CubeSchema {

  /** Fixed 9-column CSV core (dfhandler.py:15-23). */
  val coreFields: Seq[StructField] = Seq(
    StructField("REF_DATE", StringType),
    StructField("DGUID", StringType),
    StructField("UOM", StringType),
    StructField("UOM_ID", ShortType),
    StructField("VECTOR", StringType),
    StructField("COORDINATE", StringType),
    StructField("STATUS", StringType),
    StructField("SYMBOL", StringType),
    StructField("VALUE", DoubleType))

  /** Schema declared per product at runtime: core + one string column
    * per dimension name (never inferred — dfhandler.py:15-23,
    * main.py:195).
    */
  def csvSchema(dimensionNames: Seq[String]): StructType =
    StructType(coreFields ++ dimensionNames.map(StructField(_, StringType)))
}
