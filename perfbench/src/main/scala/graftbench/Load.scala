package graftbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.cube.{GisTables, ProductRunner}
import graft.io.{ParquetCatalog, Staging, Wds}

/** A catalog that records one span per table write, so the time
  * runGroup spends in each of the 9 writes is separable from its own.
  */
final class TracingCatalog(spark: SparkSession, root: String, tracer: Tracer)
    extends ParquetCatalog(spark, root) {
  override def writeProduct(table: String, df: DataFrame, productId: Long): Unit =
    tracer.span(s"cube.write.$table")(super.writeProduct(table, df, productId))
  override def deleteProduct(table: String, productId: Long): Unit =
    tracer.span("io.delete_product")(super.deleteProduct(table, productId))
  override def read(table: String): DataFrame =
    tracer.span("io.catalog_read")(super.read(table))
  override def readProduct(table: String, productId: Long): DataFrame =
    tracer.span("io.catalog_read")(super.readProduct(table, productId))
}

/** The load path of `EtlMain.runGroupFromStage` (Wds.cubeMetadata →
  * Staging.extractZip → Staging.readObservations → ProductRunner.runGroup),
  * called step by step so each step can be timed from outside.
  */
object Load {

  def readText(stage: String, name: String): Option[String] = {
    val p = Paths.get(stage, name)
    if (Files.exists(p)) Some(Files.readString(p)) else None
  }

  /** Load one master (or standalone) pid and its staged siblings into
    * `catalog`. Returns runGroup's tables.
    */
  def group(spark: SparkSession, stage: String, warehouse: String,
      catalog: ParquetCatalog, masterPid: Long, tracer: Tracer): Map[Long, GisTables] = {
    val mergeConfig = readText(stage, "products_to_merge.json")
      .map(Wds.mergeConfig).getOrElse(Map.empty)
    val geoRef = spark.read.option("header", "true")
      .csv(s"$stage/geography_reference.csv")
    val nullReasons = spark.read.option("header", "true")
      .csv(s"$stage/null_reasons.csv")
      .selectExpr("CAST(NullReasonId AS INT) AS NullReasonId", "Symbol")
    val products = ProductRunner.expandSiblings(masterPid, mergeConfig).flatMap { pid =>
      readText(stage, s"$pid-meta.json").map { metaJson =>
        val meta = tracer.span("io.wds_parse")(Wds.cubeMetadata(metaJson))
        val zip = s"$stage/$pid.zip"
        require(Staging.isValidZip(zip), s"not a valid zip: $zip")
        val extracted = tracer.span("io.extract_zip")(
          Staging.extractZip(zip, s"$warehouse/_staging/$pid"))
        val csvPath = extracted.find(_.getFileName.toString == s"$pid.csv")
          .getOrElse(sys.error(s"zip $zip has no $pid.csv member"))
        pid -> ((meta, tracer.span("io.read_observations")(
          Staging.readObservations(spark, csvPath.toString, meta))))
      }
    }.toMap
    val defaults = Wds.productDefaults(readText(stage, "product_defaults.json").get, masterPid)
    val codeSets = readText(stage, "code_sets.json")
    tracer.span("cube.group")(ProductRunner.runGroup(spark, catalog, masterPid,
      products, mergeConfig, geoRef, nullReasons, defaults,
      uomCodeset = codeSets.map(Wds.uomCodeset).getOrElse(Map.empty),
      subjectCodeset = codeSets.map(Wds.subjectCodeset).getOrElse(Nil)))
  }

  /** Bytes and files of the warehouse's tables (staging excluded). */
  def stored(warehouse: String): (Long, Long) = {
    val root = Paths.get(warehouse)
    if (!Files.exists(root)) (0L, 0L)
    else {
      val s = Files.walk(root)
      try {
        val files = s.filter(p => Files.isRegularFile(p) &&
          !root.relativize(p).toString.startsWith("_staging")).toArray.map(_.asInstanceOf[Path])
        (files.map(Files.size).sum, files.count(_.getFileName.toString.endsWith(".parquet")).toLong)
      } finally s.close()
    }
  }

  def deleteTree(dir: String): Unit = {
    val root = Paths.get(dir)
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
      finally s.close()
    }
  }
}
