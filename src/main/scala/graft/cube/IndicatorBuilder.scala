package graft.cube

import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Builds the gis.Indicator frame: the cross product of all non-geo
  * dimension members × the reference-date series
  * (dfhandler.py:217-308).
  *
  * Alignment note (SURVEY.md §7.4 risk 2): the reference keeps 4
  * parallel dicts aligned by iteration order (dfhandler.py:257-261).
  * Here each per-dimension frame carries (id, nameEN, nameFR, uom,
  * sortOrder) through a struct-free crossJoin, so the attributes can
  * never misalign, and the id-assignment order is made explicit via
  * the per-dimension sort keys.
  *
  * Scale note: per-dimension member frames are tiny (10s of rows);
  * the crossJoin chain is broadcast-nested-loop over literal-sized
  * inputs, and each IndicatorId is a sum of columns over the row's
  * date and member offsets — no sort, shuffle or numbering job. That is
  * exact because the frame is always the complete (kept dates × member
  * combos) grid, so a row's dense rank in (date, member ranks) order is
  * its mixed-radix number.
  *
  * Per-product values — the first id, the offsets, the theme id and
  * the release time — are row data of the local frames, never
  * literals: products with the same number of non-geo dimensions plan
  * the same generated classes, so a load compiles them once.
  */
object IndicatorBuilder {

  /** Cross product of non-geo dimension members (J14). Output:
    * Coordinate, IndicatorNameLong_EN/_FR, UOM_ID, plus `__off_i`
    * id-offset columns: member rank per dimension (memberId order)
    * times the member count of every later dimension, so a combo's
    * rank in (ranks) order is Σ `__off_i`.
    */
  def memberCombos(spark: SparkSession, meta: CubeMetadata): DataFrame = {
    import spark.implicits._
    val dims = meta.nonGeoDimensions.sortBy(_.positionId)
    require(dims.nonEmpty, s"product ${meta.productId} has no non-geo dimensions")
    val strides = dims.map(_.members.size.toLong).scanRight(1L)(_ * _)
    val dfs = dims.zipWithIndex.map { case (dim, i) =>
      val rows = dim.members.sortBy(_.memberId).zipWithIndex.map { case (m, ord) =>
        (m.memberId, m.nameEn, m.nameFr,
          if (dim.hasUom) m.uomCode.map(_.toString).getOrElse("") else "",
          ord * strides(i + 1))
      }
      rows.toDF(s"id_$i", s"en_$i", s"fr_$i", s"uom_$i", s"__off_$i")
    }
    val crossed = dfs.reduce(_ crossJoin _)
    val n = dims.size
    val uomJoined = concat_ws("", (0 until n).map(i => col(s"uom_$i")): _*)
    crossed.select(
      (Seq(
        concat_ws(".", (0 until n).map(i => col(s"id_$i")): _*).as("Coordinate"),
        concat_ws(" _ ", (0 until n).map(i => col(s"en_$i")): _*).as("IndicatorNameLong_EN"),
        concat_ws(" _ ", (0 until n).map(i => col(s"fr_$i")): _*).as("IndicatorNameLong_FR"),
        // "nan nan 229.0"-style cleanup (dfhandler.py:263-265): with the
        // struct-carried combos only the hasUom dimension contributes.
        when(uomJoined === "", lit(null).cast("short"))
          .otherwise(uomJoined.cast("double").cast("short")).as("UOM_ID")) ++
        (0 until n).map(i => col(s"__off_$i"))): _*)
  }

  /** Reference dates the min-year gate keeps
    * (copy_data_frames_for_date_range, dfhandler.py:562-580); justice
    * products keep every date.
    */
  private def keptDates(meta: CubeMetadata, refDates: Seq[LocalDate],
      minRefYear: Option[Int], justicePids: Set[Long]): Seq[LocalDate] =
    refDates.filter(d =>
      minRefYear.forall(y => d.getYear >= y) || justicePids.contains(meta.productId))

  /** Rows (and ids) [[build]] gives out: kept dates × Π member counts. */
  def gridSize(meta: CubeMetadata, refDates: Seq[LocalDate],
      minRefYear: Option[Int], justicePids: Set[Long]): Long =
    keptDates(meta, refDates, minRefYear, justicePids).size.toLong *
      meta.nonGeoDimensions.map(_.members.size.toLong).product

  /** Full gis.Indicator frame for one product (master/single path). */
  def build(spark: SparkSession, meta: CubeMetadata,
      refDates: Seq[LocalDate], uomCodeset: Map[Int, (String, String)],
      nextId: Long, minRefYear: Option[Int],
      justicePids: Set[Long]): DataFrame = {
    import spark.implicits._
    val combos = memberCombos(spark, meta)
    val nOrd = meta.nonGeoDimensions.size

    // J15: × reference dates, with the min-year gate. IndicatorId =
    // nextId + the row's dense rank in (date, member ranks) order.
    // Every (kept date, combo) pair has exactly one row — the uom join
    // below is a left join on a unique key — so that rank is
    // datePos·Π|Mᵢ| + Σ `__off_i`; each date row carries its first id
    val combosPerDate = meta.nonGeoDimensions.map(_.members.size.toLong).product
    val dates = keptDates(meta, refDates, minRefYear, justicePids).zipWithIndex
      .map { case (d, i) =>
        (d.toString, nextId + i * combosPerDate, meta.productId, meta.releaseTime)
      }
      .toDF("__refDateStr", "__firstId", "IndicatorThemeID", "__release")
    val indicatorId = (0 until nOrd).foldLeft(col("__firstId")) { (id, i) =>
      id + col(s"__off_$i")
    }

    val pid = meta.productId.toString
    val uomDf = uomCodeset.toSeq.map { case (k, (en, fr)) => (k, en, fr) }
      .toDF("__uom_code", "UOM_EN", "UOM_FR")

    combos.crossJoin(broadcast(dates))
      .withColumn("RefYear", substring(col("__refDateStr"), 1, 4))
      .withColumn("ReferencePeriod", to_timestamp(col("__refDateStr")))
      .withColumn("IndicatorCode",
        substring(concat(lit(pid), lit("."), col("Coordinate"), lit("."),
          col("__refDateStr")), 1, 100))
      .withColumn("IndicatorDisplay_EN",
        CubeOps.dimensionUl(col("RefYear"), col("IndicatorNameLong_EN")))
      .withColumn("IndicatorDisplay_FR",
        CubeOps.dimensionUl(col("RefYear"), col("IndicatorNameLong_FR")))
      .withColumn("IndicatorFmt",
        concat(col("RefYear"), lit("-"),
          regexp_replace(col("IndicatorNameLong_EN"), " _ ", "-")))
      .withColumn("IndicatorName_EN",
        CubeOps.nthFromDelimited(col("IndicatorNameLong_EN"), " _ ", -2))
      .withColumn("IndicatorName_FR",
        CubeOps.nthFromDelimited(col("IndicatorNameLong_FR"), " _ ", -2))
      .withColumn("LastIndicatorMember_EN",
        CubeOps.nthFromDelimited(col("IndicatorNameLong_EN"), " _ ", -1))
      .withColumn("LastIndicatorMember_FR",
        CubeOps.nthFromDelimited(col("IndicatorNameLong_FR"), " _ ", -1))
      .join(broadcast(uomDf), col("UOM_ID") === col("__uom_code"), "left")
      .withColumn("ReleaseIndicatorDate", to_timestamp(col("__release")))
      .withColumn("Vector", lit(null).cast("int"))
      .withColumn("IndicatorId", indicatorId)
      .drop((Seq("__refDateStr", "__firstId", "__release", "__uom_code") ++
        (0 until nOrd).map(i => s"__off_$i")): _*)
  }

  /** Insert subset, column order per dfhandler.py:303-308. */
  def insertSubset(idf: DataFrame): DataFrame =
    idf.select("IndicatorId", "IndicatorName_EN", "IndicatorName_FR",
      "IndicatorThemeID", "ReleaseIndicatorDate", "ReferencePeriod",
      "IndicatorCode", "IndicatorDisplay_EN", "IndicatorDisplay_FR",
      "UOM_EN", "UOM_FR", "Vector",
      "IndicatorNameLong_EN", "IndicatorNameLong_FR")
}
