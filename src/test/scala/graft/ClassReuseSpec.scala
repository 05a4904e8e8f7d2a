package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.debug.codegenStringSeq
import org.scalatest.funsuite.AnyFunSuite

import graft.cube._

/** Products that differ only in per-product values — pid, release
  * time, member counts, id watermarks — but not in their number of
  * non-geo dimensions plan the same whole-stage sources, so a load
  * compiles each generated class once.
  */
class ClassReuseSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** Whole-stage sources of a plan and of every cached plan it reads. */
  private def sources(plan: SparkPlan): Set[String] =
    codegenStringSeq(plan).map(_._2).toSet ++
      plan.collect { case s: InMemoryTableScanExec => s.relation.cacheBuilder.cachedPlan }
        .flatMap(sources)

  private def sources(t: GisTables): Set[String] =
    (Seq(t.indicatorTheme, t.dimensions, t.dimensionValues, t.indicator,
      t.indicatorValues, t.geographyReferenceForIndicator,
      t.geographicLevelForIndicator, t.indicatorMetaData, t.relatedCharts) ++ t.cached)
      .flatMap((df: DataFrame) => sources(df.queryExecution.executedPlan)).toSet

  test("two products with the same non-geo dimension count share every generated class") {
    // observations from a file scan, as a load reads them: a local
    // frame would fold setupColumns into a LocalRelation
    val csvDir = java.nio.file.Files.createTempDirectory("graft_reuse").resolve("csv").toString
    MiniCube.csv(spark).write.parquet(csvDir)
    val base = MiniCube.inputs(spark).copy(csv = spark.read.parquet(csvDir))
    val first = base.copy(
      meta = MiniCube.meta.copy(productId = 99100003L, releaseTime = "2022-05-02 08:30:00"),
      ids = NextIds(3, 5, 7, 11))
    val m = MiniCube.meta
    val second = base.copy(
      meta = m.copy(productId = 99100004L, releaseTime = "2023-11-20 10:00:00",
        dimensions = m.dimensions.map {
          case d if d.nameEn == "Age group" =>
            d.copy(members = d.members :+ Member(3, "Seniors", "Aînés", None))
          case d if d.nameEn == "Estimate" =>
            d.copy(members = d.members :+ Member(2, "Rate", "Taux", Some(239)))
          case d => d
        }),
      ids = NextIds(40, 400, 4000, 40000))
    assert(second.meta.nonGeoDimensions.map(_.members.size) == Seq(3, 2))
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    // without AQE the whole-stage subtrees are planned up front, not
    // per query stage at run time
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val Seq(a, b) = Seq(first, second).map(in =>
        GisPipeline.run(spark, in, MiniCube.uomCodeset, MiniCube.subjectCodeset))
      try {
        val (sa, sb) = (sources(a), sources(b))
        assert(sa.nonEmpty)
        if (sa != sb) fail(s"${(sa -- sb).size} sources only in the first product, " +
          s"${(sb -- sa).size} only in the second; the first of them:\n${(sa -- sb).head}")
      } finally Seq(a, b).foreach(_.cached.foreach(_.unpersist()))
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }
}
