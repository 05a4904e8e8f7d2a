package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.cube._

/** End-to-end mini-cube pipeline (SURVEY.md §7.2 thin vertical):
  * member cross product, date sequence, id assignment, lookup joins,
  * anti-join, window numbering, query generation.
  */
class GisPipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  lazy val tables: GisTables = GisPipeline.run(
    spark, MiniCube.inputs(spark),
    uomCodeset = MiniCube.uomCodeset,
    subjectCodeset = MiniCube.subjectCodeset)

  test("member combos: 2 non-geo combos (J14, dfhandler.py:77-79 semantics)") {
    val combos = IndicatorBuilder.memberCombos(spark, MiniCube.meta)
    val rows = combos.select("Coordinate", "IndicatorNameLong_EN", "UOM_ID")
      .as[(String, String, Short)].collect().sortBy(_._1)
    assert(rows.toSeq == Seq(
      ("1.1", "All ages _ Count", 223.toShort),
      ("2.1", "Youth _ Count", 223.toShort)))
  }

  test("indicator: combos × dates with contiguous ids and codes") {
    val ind = tables.indicator
    assert(ind.count() == 6) // 2 combos × 3 annual dates
    val ids = ind.select("IndicatorId").as[Long].collect().sorted
    assert(ids.toSeq == (1L to 6L))
    val codes = ind.select("IndicatorCode").as[String].collect().toSet
    assert(codes.contains("99100001.1.1.2019-01-01"))
    assert(codes.contains("99100001.2.1.2021-01-01"))
    val disp = ind.filter($"IndicatorCode" === "99100001.1.1.2019-01-01")
      .select("IndicatorDisplay_EN").as[String].head()
    assert(disp == "<ul><li>2019<li>All ages<li>Count</li></ul>")
    val uom = ind.select("UOM_EN").distinct().as[String].collect().toSet
    assert(uom == Set("Number"))

    // ids are the dense rank over (date index, member ranks), from nextId:
    // 3 non-geo dimensions with member ids out of order, a min year that
    // drops the leading dates, and a justice pid that keeps every date
    val members = Seq(Seq(5, 2, 9), Seq(3, 1), Seq(7, 4, 6, 1))
    val dims = Dimension(1, "Geography", "G", hasUom = false,
      Seq(Member(1, "Canada", "Canada", None))) +:
      members.zipWithIndex.map { case (ms, i) =>
        Dimension(i + 2, s"Dim$i", s"DimFr$i", hasUom = false,
          ms.map(m => Member(m, s"m$i.$m", s"mf$i.$m", None)))
      }
    val dates = RefDates.generate(java.time.LocalDate.of(2017, 1, 1),
      java.time.LocalDate.of(2021, 1, 1), 12)
    val minYear = Some(2019)
    val nextId = 41L
    Seq(MiniCube.meta.productId -> 3, 35100002L -> 5).foreach { case (pid, keptDates) =>
      val meta = MiniCube.meta.copy(productId = pid, dimensions = dims)
      val built = IndicatorBuilder.build(spark, meta, dates, Map.empty, nextId,
        minYear, GisPipeline.mixedGeoJusticePids)
      val ranks = members.map(ms => ms.sorted.zipWithIndex.toMap)
      val keyed = built.select("Coordinate", "IndicatorCode", "IndicatorId")
        .as[(String, String, Long)].collect().toSeq.map { case (coord, code, id) =>
          val ords = coord.split('.').map(_.toInt).zip(ranks).map { case (m, r) => r(m) }
          (dates.map(_.toString).indexOf(code.split('.').last), ords(0), ords(1), ords(2), id)
        }.toDF("dateIdx", "o0", "o1", "o2", "IndicatorId")
      val expected = graft.ops.Ids.globalDenseIds(keyed, "expected", nextId,
        Seq("dateIdx", "o0", "o1", "o2"))
      assert(expected.filter($"expected" =!= $"IndicatorId").isEmpty, s"pid $pid")
      val n = keptDates.toLong * members.map(_.size).product
      assert(keyed.select("IndicatorId").as[Long].collect().sorted.toSeq ==
        (nextId until nextId + n), s"pid $pid")
      assert(IndicatorBuilder.gridSize(meta, dates, minYear,
        GisPipeline.mixedGeoJusticePids) == n)
    }
  }

  test("dimensions: Date first, last typed Value (dfhandler.py:26-40)") {
    val dims = tables.dimensions.orderBy("DisplayOrder")
      .select("Dimension_EN", "DimensionType").as[(String, String)].collect()
    assert(dims.map(_._1).toSeq == Seq("Date", "Geography", "Age group", "Estimate"))
    assert(dims.map(_._2).toSeq == Seq("Filter", "Filter", "Filter", "Value"))
  }

  test("dimension values: geography dropped, prefixed order, dates appended (W1/X7)") {
    val dv = tables.dimensionValues.orderBy("DimensionValueId")
      .select("Display_EN", "ValueDisplayOrder").as[(String, Long)].collect()
    // member values first (ids 1-3), then the Date dimension's values
    // (REF_DATE strings, ids continuing; main.py:246-259)
    assert(dv.toSeq == Seq(
      ("01. All ages", 1L), ("02. Youth", 2L), ("01. Count", 1L),
      ("2019", 1L), ("2020", 2L), ("2021", 3L)))
  }

  test("indicator values: FK-validated, null reason joined (J5/J6)") {
    val iv = tables.indicatorValues
    assert(iv.count() == 6) // 7 csv rows - 1 unknown DGUID
    val nullRow = iv.filter($"VALUE".isNull)
    assert(nullRow.count() == 1)
    assert(nullRow.select("NullReasonId").as[Int].head() == 1)
    // ids dense over the pre-filter frame: the dropped row consumes an id
    val ids = iv.select("IndicatorValueId").as[Long].collect().sorted
    assert(ids.length == 6 && ids.distinct.length == 6)
  }

  test("geography reference for indicator + warning split (J3/J5/J7)") {
    val (gri, warn) = (tables.geographyReferenceForIndicator, tables.dguidWarnings)
    assert(gri.count() == 6)
    assert(warn.select("DGUID").as[String].collect().toSeq == Seq("2016A9999"))
    // every GRI row carries real ids
    assert(gri.filter($"IndicatorId".isNull || $"IndicatorValueId".isNull).count() == 0)
  }

  test("geographic level for indicator incl. SSSS rows (U2)") {
    val gli = tables.geographicLevelForIndicator
    val levels = gli.select("GeographicLevelId").distinct().as[String].collect().toSet
    // "A9999" comes from the unknown DGUID: the reference's GLI path has
    // no GeographyReference validation (dfhandler.py:155-182), only the
    // indicator-id dropna — faithful here.
    assert(levels == Set("A0000", "A0002", "A9999", "SSSS"))
    val ssss = gli.filter($"GeographicLevelId" === "SSSS").count()
    assert(ssss == gli.filter($"GeographicLevelId" =!= "SSSS")
      .select("IndicatorId").distinct().count())
  }

  test("Geography dimension excluded case-insensitively (scwds.py:43)") {
    // the reference upper-cases before comparing; a differently-cased
    // geography dimension must not leak into indicator space or shift
    // the dimension-value id watermark arithmetic
    val cased = MiniCube.meta.copy(dimensions = MiniCube.meta.dimensions.map(d =>
      if (d.nameEn == "Geography") d.copy(nameEn = "GEOGRAPHY") else d))
    assert(cased.nonGeoDimensions.map(_.nameEn) == Seq("Age group", "Estimate"))
    val combos = IndicatorBuilder.memberCombos(spark, cased)
    assert(combos.count() == 2) // 2×1 non-geo members; geography stays out
  }

  test("indicator theme: product + parent/dummy rows (dfhandler.py:380-427)") {
    val t = tables.indicatorTheme
    assert(t.count() == 5)
    val ids = t.select("IndicatorThemeId").as[Long].collect().toSet
    assert(ids == Set(99100001L, 9910L, 99109999L, 99L, 999999L))
  }

  test("metadata: unique keys matched, defaults filled, PrimaryQuery per id (J8/J9/X13)") {
    val md = tables.indicatorMetaData
    assert(md.count() == 6)
    assert(md.filter($"DimensionUniqueKey".isNull).count() == 0)
    val q = md.filter($"IndicatorId" === 3).select("PrimaryQuery").as[String].head()
    assert(q.contains("indicatorId = 3"))
    assert(q.contains("Format(iv.value, 'N', 'en-US')"))
    assert(md.select("DefaultBreaksAlgorithmId").distinct().as[Int].head() == 1)
  }

  test("related charts: top-10 list in id order, generic-code groups (O3/X14)") {
    val rc = tables.relatedCharts
    assert(rc.count() == 6)
    // generic code wildcard groups age members: indicators 1,2 (2019) share
    // "99100001.%.1.2019-01-01"
    val r1 = rc.filter($"RelatedChartId" === 1).select("Query").as[String].head()
    assert(r1.contains("IN (1,2)"))
    val titles = rc.select("ChartTitle_EN").distinct().as[String].collect().toSet
    assert(titles == Set("Count"))
  }
}
