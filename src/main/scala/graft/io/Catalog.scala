package graft.io

import scala.collection.immutable.ListMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Managed parquet catalog of the 9 declared `gis.*` tables. Replaces
  * the reference's cascading transactional delete (scdb.py:32-72, K2):
  * "update product" = replace that product's `ProductPartitionId=<pid>`
  * directory of each table, leaving other products' data untouched;
  * [[readProduct]] prunes to it. Like the reference's SQL Server tables,
  * each table has fixed columns: every read passes them (no schema-
  * inference job; a table without data files reads as empty), and
  * [[writeProduct]] refuses a frame that differs.
  */
class ParquetCatalog(spark: SparkSession, root: String) {
  import ParquetCatalog._

  private def fs(path: Path) = path.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def present(path: String): Boolean = { val p = new Path(path); fs(p).exists(p) }

  /** Replace the rows of one product in `table` with `df` — an empty
    * `df` empties the product. A frame whose (name, type) columns, in
    * order, are not the declared ones is refused before any write. The
    * frame is written to a `.`-prefixed staging directory beside the
    * product's, which Spark's file index does not read; then the old
    * directory is deleted and the staging directory renamed into its
    * place (the delete-then-rename of Spark's dynamic partition
    * overwrite commit). A write that fails leaves the previous rows in
    * place. The plan carries no product id, so every product's write
    * reuses the same generated classes.
    */
  def writeProduct(table: String, df: DataFrame, productId: Long): Unit = {
    def columns(s: StructType) = s.fields.map(f => s"${f.name} ${f.dataType.sql}").mkString(", ")
    require(columns(df.schema) == columns(schema(table)),
      s"$table: the frame's columns ${columns(df.schema)} are not the declared ${columns(schema(table))}")
    val dest = new Path(s"$root/$table/$PartCol=$productId")
    val staging = new Path(s"$root/$table/.$PartCol=$productId")
    val fileSystem = fs(dest)
    try df.write.mode(SaveMode.Overwrite).parquet(staging.toString)
    catch { case e: Throwable => fileSystem.delete(staging, true); throw e }
    if (fileSystem.exists(dest)) fileSystem.delete(dest, true)
    if (!fileSystem.rename(staging, dest))
      throw new java.io.IOException(s"could not rename $staging to $dest")
  }

  /** A partition written before a declared column existed reads it as NULL. */
  def read(table: String): DataFrame = scan(table).drop(PartCol)

  def readProduct(table: String, productId: Long): DataFrame =
    scan(table).filter(col(PartCol) === productId).drop(PartCol)

  private def scan(table: String): DataFrame =
    spark.read.schema(schema(table).add(PartCol, "bigint")).parquet(s"$root/$table")

  /** Remove one product from a table (K2 delete path without a re-append). */
  def deleteProduct(table: String, productId: Long): Unit = {
    val path = new Path(s"$root/$table/$PartCol=$productId")
    if (fs(path).exists(path)) { fs(path).delete(path, true); () }
  }

  /** True iff `table`'s directory is present: false until a product
    * first writes it, and reading it then fails with PATH_NOT_FOUND.
    */
  def exists(table: String): Boolean = present(s"$root/$table")

  /** True iff `table` holds a partition for this product. */
  def hasProduct(table: String, productId: Long): Boolean =
    present(s"$root/$table/$PartCol=$productId")

  /** Write `df` as a bucketed managed table (hash-bucketed and sorted
    * by `bucketCol`). Two tables bucketed the same way join and
    * aggregate on that key with NO shuffle exchange — the co-location
    * primitive for repeated fact⋈fact joins at warehouse scale
    * (bucketing metadata requires the session catalog, hence
    * saveAsTable rather than a path write).
    */
  def writeBucketed(table: String, df: DataFrame, bucketCol: String,
      numBuckets: Int): Unit =
    df.write
      .bucketBy(numBuckets, bucketCol)
      .sortBy(bucketCol)
      .mode(SaveMode.Overwrite)
      .option("path", s"$root/$table")
      .saveAsTable(table)

  def readTable(table: String): DataFrame = spark.table(table)
}

object ParquetCatalog {

  private val PartCol = "ProductPartitionId"

  /** The reference's `gis.*` tables, in the order `ProductRunner.write` writes a master's. */
  val schemas: ListMap[String, StructType] = ListMap("""
    |IndicatorValues: IndicatorValueId BIGINT, VALUE DOUBLE, NullReasonId INT, IndicatorValueCode STRING;
    |GeographyReferenceForIndicator: GeographyReferenceId STRING, IndicatorId BIGINT,
    |  IndicatorValueId BIGINT, ReferencePeriod TIMESTAMP;
    |GeographicLevelForIndicator: IndicatorId BIGINT, GeographicLevelId STRING;
    |IndicatorTheme: IndicatorThemeId BIGINT, IndicatorTheme_EN STRING, IndicatorTheme_FR STRING,
    |  StatisticsProgramId BIGINT, IndicatorThemeDescription_EN STRING,
    |  IndicatorThemeDescription_FR STRING, ParentThemeId BIGINT, IndicatorThemeStatus STRING;
    |Dimensions: DimensionId BIGINT, IndicatorThemeId BIGINT, Dimension_EN STRING, Dimension_FR STRING,
    |  DisplayOrder BIGINT, DimensionType STRING;
    |DimensionValues: DimensionValueId BIGINT, DimensionId BIGINT, Display_EN STRING, Display_FR STRING,
    |  ValueDisplayOrder BIGINT;
    |Indicator: IndicatorId BIGINT, IndicatorName_EN STRING, IndicatorName_FR STRING,
    |  IndicatorThemeID BIGINT, ReleaseIndicatorDate TIMESTAMP, ReferencePeriod TIMESTAMP,
    |  IndicatorCode STRING, IndicatorDisplay_EN STRING, IndicatorDisplay_FR STRING, UOM_EN STRING,
    |  UOM_FR STRING, Vector INT, IndicatorNameLong_EN STRING, IndicatorNameLong_FR STRING;
    |IndicatorMetaData: MetaDataId BIGINT, IndicatorId BIGINT, FieldAlias_EN STRING, FieldAlias_FR STRING,
    |  DataFormatId SMALLINT, DefaultBreaksAlgorithmId INT, DefaultBreaks STRING, PrimaryChartTypeId INT,
    |  PrimaryQuery STRING, ColorTo STRING, ColorFrom STRING, DimensionUniqueKey STRING,
    |  DefaultRelatedChartId BIGINT;
    |RelatedCharts: RelatedChartId BIGINT, ChartTitle_EN STRING, ChartTitle_FR STRING, Query STRING,
    |  ChartTypeId INT, IndicatorMetaDataId BIGINT, DataFormatId SMALLINT, FieldAlias_EN STRING,
    |  FieldAlias_FR STRING""".stripMargin.split(';').toSeq.map { t =>
    val (name, ddl) = t.span(_ != ':')
    name.trim -> StructType.fromDDL(ddl.drop(1))
  }: _*)

  /** `table`'s declared columns; an undeclared name is refused. */
  def schema(table: String): StructType = {
    require(schemas.contains(table), s"$table is not a declared gis table")
    schemas(table)
  }
}
