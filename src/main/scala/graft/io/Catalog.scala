package graft.io

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Managed parquet table catalog with per-product overwrite semantics.
  *
  * Replaces the reference's cascading transactional delete
  * (scdb.py:32-72, K2): "update product" = replace that product's
  * directory `ProductPartitionId=<pid>` of each table, leaving other
  * products' data untouched. The directory name is the partition
  * column, so reads get partition pruning for the serving queries.
  */
class ParquetCatalog(spark: SparkSession, root: String) {

  private val PartCol = "ProductPartitionId"

  private def fs(path: Path) = path.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Replace the rows of one product in `table` with `df` — an empty
    * `df` empties the product. The frame is written to a `.`-prefixed
    * staging directory beside the product's, which neither Spark's file
    * index nor [[exists]] reads; then the old directory is deleted and
    * the staging directory renamed into its place (the delete-then-
    * rename of Spark's dynamic partition overwrite commit). A write
    * that fails leaves the previous rows in place. The plan carries no
    * product id, so every product's write reuses the same generated
    * classes.
    */
  def writeProduct(table: String, df: DataFrame, productId: Long): Unit = {
    val dest = new Path(s"$root/$table/$PartCol=$productId")
    val staging = new Path(s"$root/$table/.$PartCol=$productId")
    val fileSystem = fs(dest)
    try df.write.mode(SaveMode.Overwrite).parquet(staging.toString)
    catch { case e: Throwable => fileSystem.delete(staging, true); throw e }
    // Spark writes a schema-only file when the first task has no rows;
    // drop it, so an emptied product holds no data file (see exists)
    val conf = spark.sparkContext.hadoopConfiguration
    fileSystem.listStatus(staging).filter(f => isData(f.getPath.getName)).foreach { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf))
      val rows = try reader.getRecordCount finally reader.close()
      if (rows == 0) fileSystem.delete(f.getPath, false)
    }
    if (fileSystem.exists(dest)) fileSystem.delete(dest, true)
    if (!fileSystem.rename(staging, dest))
      throw new java.io.IOException(s"could not rename $staging to $dest")
  }

  def read(table: String): DataFrame =
    spark.read.parquet(s"$root/$table").drop(PartCol)

  /** Read with parquet schema merging: per-product writes may evolve
    * (a later product version adds a column), and the default read
    * takes one footer's schema — whichever file it samples — silently
    * dropping the new column for every product. `mergeSchema` unions
    * all footers (older partitions surface the new column as null).
    * Costs a footer read per file, so it is the explicit
    * evolution-aware path, not the default.
    */
  def readMerged(table: String): DataFrame =
    spark.read.option("mergeSchema", "true")
      .parquet(s"$root/$table").drop(PartCol)

  def readProduct(table: String, productId: Long): DataFrame =
    spark.read.parquet(s"$root/$table")
      .filter(col(PartCol) === productId).drop(PartCol)

  /** Remove one product from a table (K2 delete path without a
    * re-append).
    */
  def deleteProduct(table: String, productId: Long): Unit = {
    val path = new Path(s"$root/$table/$PartCol=$productId")
    if (fs(path).exists(path)) { fs(path).delete(path, true); () }
  }

  /** Spark's file index skips these names: _SUCCESS, .crc files, and
    * staging or _temporary directories.
    */
  private def isData(name: String): Boolean = !name.startsWith("_") && !name.startsWith(".")

  /** True iff `table` holds at least one data file. A directory
    * without any — a product that wrote no rows, or `deleteProduct` of
    * the table's last product — reads as absent: Spark cannot infer a
    * schema from it, so readers such as the id watermarks must skip it.
    */
  def exists(table: String): Boolean = {
    val path = new Path(s"$root/$table")
    val base = path.toUri.getPath
    fs(path).exists(path) && {
      val files = fs(path).listFiles(path, true)
      var found = false
      while (!found && files.hasNext) {
        found = files.next().getPath.toUri.getPath.stripPrefix(base)
          .split('/').forall(isData)
      }
      found
    }
  }

  /** True iff `table` holds a partition for this product (cheap fs
    * probe — no file listing or scan).
    */
  def hasProduct(table: String, productId: Long): Boolean = {
    val path = new Path(s"$root/$table/$PartCol=$productId")
    fs(path).exists(path)
  }

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
