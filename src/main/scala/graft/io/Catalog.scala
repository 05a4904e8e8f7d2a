package graft.io

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Managed parquet table catalog with per-product overwrite semantics.
  *
  * Replaces the reference's cascading transactional delete
  * (scdb.py:32-72, K2): "update product" = dynamically overwrite that
  * product's partition of each table, leaving other products' data
  * untouched. Partitioning by product id also gives partition pruning
  * on the read side for the serving queries.
  */
class ParquetCatalog(spark: SparkSession, root: String) {

  private val PartCol = "ProductPartitionId"

  /** Append-or-replace the rows of one product in `table`.
    * Dynamic partition overwrite: only the written partition is
    * replaced — the Spark-native equivalent of delete-then-append
    * inside one transaction.
    */
  def writeProduct(table: String, df: DataFrame, productId: Long): Unit =
    df.withColumn(PartCol, lit(productId))
      .write
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(PartCol)
      .mode(SaveMode.Overwrite)
      .parquet(s"$root/$table")

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
    val path = new org.apache.hadoop.fs.Path(s"$root/$table/$PartCol=$productId")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(path)) { fs.delete(path, true); () }
  }

  /** True iff `table` holds at least one data file. A directory
    * without any — a product that wrote no rows, or `deleteProduct` of
    * the table's last product — reads as absent: Spark cannot infer a
    * schema from it, so readers such as the id watermarks must skip it.
    */
  def exists(table: String): Boolean = {
    val path = new org.apache.hadoop.fs.Path(s"$root/$table")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val base = path.toUri.getPath
    fs.exists(path) && {
      val files = fs.listFiles(path, true)
      var found = false
      while (!found && files.hasNext) {
        // skip _SUCCESS, .crc and anything under _temporary
        found = files.next().getPath.toUri.getPath.stripPrefix(base)
          .split('/').forall(s => !s.startsWith("_") && !s.startsWith("."))
      }
      found
    }
  }

  /** True iff `table` holds a partition for this product (cheap fs
    * probe — no file listing or scan).
    */
  def hasProduct(table: String, productId: Long): Boolean = {
    val path = new org.apache.hadoop.fs.Path(s"$root/$table/$PartCol=$productId")
    path.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(path)
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
