package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.cube._
import graft.io.ParquetCatalog

/** Orchestration semantics: changed-list resolution, master-first
  * expansion, catalog round-trip of a master+sibling group.
  */
class ProductRunnerSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  import TestSpark.jobsOf

  test("resolveChangedProducts filters unknown and merged pids (E2)") {
    val merge = Map(100L -> Seq(101L, 102L))
    val (run, skipped) = ProductRunner.resolveChangedProducts(
      changed = Seq(100L, 101L, 200L, 300L, 200L),
      known = Set(100L, 101L, 200L),
      mergeConfig = merge)
    assert(run == Seq(200L))
    assert(skipped == Seq(100L, 101L))
  }

  private def runMiniGroup(catalog: ParquetCatalog): Map[Long, GisTables] = {
    val masterPid = MiniCube.meta.productId
    val siblingPid = masterPid + 1
    ProductRunner.runGroup(spark, catalog, masterPid,
      products = Map(
        masterPid -> ((MiniCube.meta, MiniCube.csv(spark))),
        siblingPid -> ((MiniCube.meta.copy(productId = siblingPid), MiniCube.csv(spark)))),
      mergeConfig = Map(masterPid -> Seq(siblingPid)),
      geoRef = MiniCube.geoRef(spark),
      nullReasons = MiniCube.nullReasons(spark),
      defaults = MiniCube.defaults,
      uomCodeset = MiniCube.uomCodeset,
      subjectCodeset = MiniCube.subjectCodeset)
  }

  test("DGUID warnings are materialized before runGroup releases its caches") {
    val dir = java.nio.file.Files.createTempDirectory("graft_runner_warn").toString
    val out = runMiniGroup(new ParquetCatalog(spark, dir))
    var warned = Map.empty[Long, Set[String]]
    val jobs = jobsOf {
      warned = out.map { case (pid, t) =>
        pid -> t.dguidWarnings.collect().map(_.getString(0)).toSet
      }
    }
    assert(jobs == 0, s"collecting the warnings ran $jobs Spark jobs")
    assert(warned.values.toSet == Set(Set("2016A9999")), s"$warned")
  }

  test("a master + sibling group load runs at most 64 Spark jobs") {
    // job counts do not drift between runs, so this pins the load's
    // plan count: it fails if a change adds per-product jobs back
    val dir = java.nio.file.Files.createTempDirectory("graft_runner_jobs").toString
    val jobs = jobsOf(runMiniGroup(new ParquetCatalog(spark, dir)))
    println(s"[ProductRunnerSpec] master + sibling runGroup: $jobs jobs")
    assert(jobs <= 64, s"runGroup ran $jobs jobs")
  }

  test("reloading a master + sibling group into its own catalog runs 79 Spark jobs") {
    // the reload reads 4 id watermarks, the master's preserved chart
    // metadata (3 tables) and the theme rows back from the catalog;
    // under the declared schemas none of those 8 reads runs a
    // schema-inference job
    val dir = java.nio.file.Files.createTempDirectory("graft_runner_reload").toString
    val catalog = new ParquetCatalog(spark, dir)
    runMiniGroup(catalog)
    val jobs = jobsOf(runMiniGroup(catalog))
    println(s"[ProductRunnerSpec] master + sibling reload: $jobs jobs")
    assert(jobs == 79, s"the reload ran $jobs jobs")
  }

  test("expandSiblings: master first, deduplicated") {
    val merge = Map(100L -> Seq(101L, 100L, 102L))
    assert(ProductRunner.expandSiblings(100L, merge) == Seq(100L, 101L, 102L))
    assert(ProductRunner.expandSiblings(999L, merge) == Seq(999L))
  }

  test("runGroup writes master + sibling through the catalog") {
    val dir = java.nio.file.Files.createTempDirectory("graft_runner").toString
    val catalog = new ParquetCatalog(spark, dir)
    val masterPid = MiniCube.meta.productId
    val siblingPid = masterPid + 1
    val siblingMeta = MiniCube.meta.copy(productId = siblingPid)
    val out = ProductRunner.runGroup(
      spark, catalog, masterPid,
      products = Map(
        masterPid -> (MiniCube.meta, MiniCube.csv(spark)),
        siblingPid -> (siblingMeta, MiniCube.csv(spark))),
      mergeConfig = Map(masterPid -> Seq(siblingPid)),
      geoRef = MiniCube.geoRef(spark),
      nullReasons = MiniCube.nullReasons(spark),
      defaults = MiniCube.defaults,
      uomCodeset = MiniCube.uomCodeset,
      subjectCodeset = MiniCube.subjectCodeset)

    assert(out.keySet == Set(masterPid, siblingPid))
    // master wrote Indicator; sibling did not (reuses master's)
    assert(catalog.readProduct("Indicator", masterPid).count() == 6)
    assert(!new java.io.File(s"$dir/Indicator/ProductPartitionId=$siblingPid").exists())
    // both wrote their values, with disjoint id ranges (watermarks
    // advance between products — scdb.py:145-159 MAX+1 semantics)
    val masterIds = catalog.readProduct("IndicatorValues", masterPid)
      .select("IndicatorValueId").as[Long].collect().toSet
    val siblingIds = catalog.readProduct("IndicatorValues", siblingPid)
      .select("IndicatorValueId").as[Long].collect().toSet
    assert(masterIds.size == 6 && siblingIds.size == 6)
    assert((masterIds intersect siblingIds).isEmpty,
      s"id collision: ${masterIds intersect siblingIds}")
    // re-running the master replaces, not duplicates
    ProductRunner.runGroup(spark, catalog, masterPid,
      products = Map(masterPid -> (MiniCube.meta, MiniCube.csv(spark))),
      mergeConfig = Map.empty,
      geoRef = MiniCube.geoRef(spark),
      nullReasons = MiniCube.nullReasons(spark),
      defaults = MiniCube.defaults,
      uomCodeset = MiniCube.uomCodeset,
      subjectCodeset = MiniCube.subjectCodeset)
    assert(catalog.readProduct("IndicatorValues", masterPid).count() == 6)
  }

  test("sibling GLI anti-join accumulates across the group (main.py:243)") {
    // master loads only national-level (A0000) rows; both siblings load
    // the full CSV, so they share (IndicatorId, GeographicLevelId)
    // pairs the master never wrote. The second sibling must anti-join
    // against the FIRST sibling's rows (the reference re-probes the DB
    // per product) — not just the master's — or the shared pairs land
    // twice in the combined table.
    val dir = java.nio.file.Files.createTempDirectory("graft_runner_gli").toString
    val catalog = new ParquetCatalog(spark, dir)
    val masterPid = MiniCube.meta.productId
    val s1 = masterPid + 1
    val s2 = masterPid + 2
    val masterCsv = MiniCube.csv(spark).filter($"DGUID".startsWith("2021"))
    ProductRunner.runGroup(spark, catalog, masterPid,
      products = Map(
        masterPid -> ((MiniCube.meta, masterCsv)),
        s1 -> ((MiniCube.meta.copy(productId = s1), MiniCube.csv(spark))),
        s2 -> ((MiniCube.meta.copy(productId = s2), MiniCube.csv(spark)))),
      mergeConfig = Map(masterPid -> Seq(s1, s2)),
      geoRef = MiniCube.geoRef(spark),
      nullReasons = MiniCube.nullReasons(spark),
      defaults = MiniCube.defaults,
      uomCodeset = MiniCube.uomCodeset,
      subjectCodeset = MiniCube.subjectCodeset)
    val gli = catalog.read("GeographicLevelForIndicator")
      .groupBy("IndicatorId", "GeographicLevelId").count()
    val dupes = gli.filter($"count" > 1)
      .as[(Long, String, Long)].collect().toSeq
    assert(dupes.isEmpty, s"duplicate (IndicatorId, GeographicLevelId) rows: $dupes")
    // the non-national pairs exist exactly once — written by sibling 1
    assert(catalog.readProduct("GeographicLevelForIndicator", s1)
      .filter($"GeographicLevelId" =!= "A0000").count() > 0)
  }

  test("a product with no matched geography leaves tables readable for the next load") {
    // every DGUID is missing from the geography reference: the product
    // writes no IndicatorValues rows, leaving a table directory with
    // no data files — the next load's MAX(id) probe must treat it as
    // empty instead of failing to infer its schema
    val dir = java.nio.file.Files.createTempDirectory("graft_runner_empty").toString
    val catalog = new ParquetCatalog(spark, dir)
    val unmatched = MiniCube.meta.productId
    val normal = unmatched + 1
    def load(pid: Long, geoRef: org.apache.spark.sql.DataFrame) =
      ProductRunner.runGroup(spark, catalog, pid,
        products = Map(pid -> ((MiniCube.meta.copy(productId = pid),
          MiniCube.csv(spark)))),
        mergeConfig = Map.empty,
        geoRef = geoRef,
        nullReasons = MiniCube.nullReasons(spark),
        defaults = MiniCube.defaults,
        uomCodeset = MiniCube.uomCodeset,
        subjectCodeset = MiniCube.subjectCodeset)
    load(unmatched, Seq("2099A000000000").toDF("GeographyReferenceId"))
    assert(catalog.read("IndicatorValues").count() == 0,
      "a table directory without data files reads as empty")
    val afterFirst = ProductRunner.nextIds(catalog)
    assert(afterFirst.indicatorValueId == 1L)
    load(normal, MiniCube.geoRef(spark))
    val tables = Seq("IndicatorTheme", "Dimensions", "DimensionValues",
      "Indicator", "IndicatorValues", "GeographyReferenceForIndicator",
      "GeographicLevelForIndicator", "IndicatorMetaData", "RelatedCharts")
    tables.foreach(t => assert(catalog.read(t).count() > 0, s"$t has no rows"))
    assert(catalog.readProduct("IndicatorValues", normal).count() == 6)
    // each watermark is the table's MAX(id) + 1, and the second load's
    // ids continue past the first load's
    def maxId(t: String, c: String): Long =
      catalog.read(t).agg(org.apache.spark.sql.functions.max(c))
        .head().getLong(0)
    val ids = ProductRunner.nextIds(catalog)
    assert(ids == NextIds(
      dimensionId = maxId("Dimensions", "DimensionId") + 1,
      dimensionValueId = maxId("DimensionValues", "DimensionValueId") + 1,
      indicatorId = maxId("Indicator", "IndicatorId") + 1,
      indicatorValueId = maxId("IndicatorValues", "IndicatorValueId") + 1))
    assert(ids.indicatorValueId == 7L)
    val firstIndicators = catalog.readProduct("Indicator", unmatched)
      .select("IndicatorId").as[Long].collect()
    val secondIndicators = catalog.readProduct("Indicator", normal)
      .select("IndicatorId").as[Long].collect()
    assert(firstIndicators.nonEmpty &&
      firstIndicators.max < secondIndicators.min)
  }
}
