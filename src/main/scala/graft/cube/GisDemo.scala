package graft.cube

import java.time.LocalDate

import org.apache.spark.sql.SparkSession

/** Runnable end-to-end example of the cube pipeline: builds a small
  * in-memory product (metadata + observations + lookups), runs the
  * full E1+E3 dataflow, and writes all 9 gis.* tables as parquet under
  * the output dir given as arg(0) (default /tmp/gis_demo).
  *
  * Usage: sbt "runMain graft.cube.GisDemo /tmp/gis_demo"
  */
object GisDemo {

  /** The demo product fixture, exposed so GoldenPipelineSpec can run
    * the identical pipeline and diff its 9 output tables against the
    * committed golden rendering.
    */
  def demoMeta: CubeMetadata = {
    val meta = CubeMetadata(
      productId = 99100001L,
      titleEn = "Demo cube", titleFr = "Cube démo",
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
    meta
  }

  /** Runs the full E1+E3 pipeline on the demo fixture into a parquet
    * catalog at `out` and returns the catalog.
    */
  def runDemo(spark: SparkSession, out: String): graft.io.ParquetCatalog = {
    import spark.implicits._
    val meta = demoMeta

    val csv = Seq(
      ("2019", "2021A000011124", "Number", 223.toShort, "v100", "1.1.1", "", "", Some(10.0), "All ages", "Count"),
      ("2019", "2016A000235", "Number", 223.toShort, "v102", "2.1.1", "", "", Some(6.0), "All ages", "Count"),
      ("2020", "2021A000011124", "Number", 223.toShort, "v100", "1.1.1", "x", "x", Option.empty[Double], "All ages", "Count"),
      ("2021", "2021A000011124", "Number", 223.toShort, "v101", "1.2.1", "", "", Some(3.0), "Youth", "Count"))
      .toDF("REF_DATE", "DGUID", "UOM", "UOM_ID", "VECTOR", "COORDINATE",
        "STATUS", "SYMBOL", "VALUE", "Age group", "Estimate")

    val in = PipelineInputs(
      meta = meta,
      csv = csv,
      geoRef = Seq("2021A000011124", "2016A000235").toDF("GeographyReferenceId"),
      nullReasons = Seq((1, "x"), (2, "F")).toDF("NullReasonId", "Symbol"),
      existingMeta = None, existingGeoLevels = None, existingDates = Nil,
      defaults = ProductDefaults(1, "default", 1, "#FFFFFF", "#000000", 2),
      ids = NextIds())

    // run through the orchestrator + catalog (per-product directory
    // replace), exactly as a multi-product load would
    val catalog = new graft.io.ParquetCatalog(spark, out)
    ProductRunner.runGroup(spark, catalog, meta.productId,
      products = Map(meta.productId -> ((meta, in.csv))),
      mergeConfig = Map.empty,
      geoRef = in.geoRef, nullReasons = in.nullReasons,
      defaults = in.defaults,
      uomCodeset = Map(223 -> ("Number", "Nombre")),
      subjectCodeset = Seq(("99", "Demo subject", "Sujet démo"),
        ("9910", "Demo/Nested", "Démo/Imbriqué")))
    catalog
  }

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/tmp/gis_demo")
    val spark = graft.GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt, "gis-demo")
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val catalog = runDemo(spark, out)
    ProductRunner.tableNames.foreach { name =>
      println(s"[gis-demo] $name: ${catalog.read(name).count()} rows")
    }

    // serve indicator 1 through the executable PrimaryQuery join
    val geoRefLookup = Seq(
      ("2021A000011124", "A0000"), ("2016A000235", "A0002"))
      .toDF("GeographyReferenceId", "GeographicLevelId")
    val geoLevelLookup = Seq(
      ("A0000", "Country", "Pays"), ("A0002", "Province", "Province"))
      .toDF("GeographicLevelId", "LevelName_EN", "LevelName_FR")
    val nullReasonLookup = Seq((1, "x", "suppressed", "supprimé"))
      .toDF("NullReasonId", "Symbol", "Description_EN", "Description_FR")
    ServingQueries.primaryQuery(spark, catalog, 1L,
      geoRefLookup, geoLevelLookup, nullReasonLookup)
      .select("GeographyReferenceId", "FormattedValue_EN", "FormattedValue_FR",
        "LevelName_EN", "IndicatorDisplay_EN")
      .collect()
      .foreach(r => println(s"[gis-demo] serve: $r"))
    spark.stop()
  }
}
