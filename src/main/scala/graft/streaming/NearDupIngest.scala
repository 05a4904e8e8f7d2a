package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.ops.Dedup

/** Online near-duplicate filtering: documents stream in, and each
  * micro-batch is admitted or suppressed against EVERYTHING that
  * arrived before it — the ingest-time dedup gate a training-data
  * pipeline runs so duplicates never land in the corpus at all.
  *
  * The admission rule is deliberately order-independent: a document is
  * suppressed iff SOME lower-id document (arrival order = id order) is
  * exact-Jaccard-similar at the threshold — whether or not that
  * earlier document was itself suppressed. Because the rule never
  * consults earlier VERDICTS, only earlier CONTENT, any trigger
  * slicing of the input produces identical decisions, and the whole
  * history is replayable as one batch SQL statement (the q135 oracle).
  * The keep-the-canonical-representative policy (which does need
  * verdict recursion) stays a batch job ([[Dedup]] → components →
  * keep-best, q95).
  *
  * Scale shape per batch: shingles are a row-local generate; the
  * batch-vs-history candidate join is equi-keyed on the shingle (the
  * inverted-index shape of [[Dedup.jaccardPairs]]); history accretes
  * append-only as (doc, shingle, set-size) rows — O(batch) new state
  * per trigger, never a rescan of the corpus text. At corpus scale the
  * plain-parquet history scan per batch becomes the bottleneck; the
  * store then writes BUCKETED by shingle hash (the
  * [[graft.io.Catalog]] bucketing path) so each batch's join reads
  * only the buckets its own shingles map to, and the join is
  * shuffle-free on the history side.
  */
object NearDupIngest {

  private val shingleStoreSchema = StructType(Seq(
    StructField("e_id", LongType), StructField("shingle", StringType),
    StructField("e_ns", LongType)))

  /** One micro-batch of admission decisions: compute batch shingles,
    * join against history ∪ earlier-id batch rows, suppress at
    * `threshold`, land decisions and the batch's shingle rows.
    */
  private[graft] def processBatch(spark: SparkSession, batch: DataFrame,
      shStore: String, decStore: String, n: Int, threshold: Double): Unit = {
    val shB = Dedup.shingleRows(batch, "doc_id", "text", n)
      .select(col("doc_id").as("d_id"), col("shingle")).persist()
    val sizesB = shB.groupBy("d_id").agg(count(lit(1)).as("d_ns"))
    val landed =
      if (java.nio.file.Files.exists(java.nio.file.Paths.get(shStore)))
        spark.read.schema(shingleStoreSchema).parquet(shStore)
      else spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], shingleStoreSchema)
    val batchRows = shB.join(sizesB, Seq("d_id"))
      .select(col("d_id").as("e_id"), col("shingle"), col("d_ns").as("e_ns"))
    val earlier = landed.unionByName(batchRows)
    val inter = shB.join(earlier, Seq("shingle"))
      .filter(col("e_id") < col("d_id"))
      .groupBy("d_id", "e_id", "e_ns").agg(count(lit(1)).as("i"))
    val suppressed = inter.join(sizesB, Seq("d_id"))
      .filter(col("i") * lit(1.0) / (col("d_ns") + col("e_ns") - col("i"))
        >= threshold)
      .select(col("d_id")).distinct()
    batch.select(col("doc_id"))
      .join(suppressed.withColumn("__hit", lit(1L)),
        col("doc_id") === col("d_id"), "left")
      .select(col("doc_id"),
        when(col("__hit").isNull, 1L).otherwise(0L).as("kept"))
      .write.mode("append").parquet(decStore)
    batchRows.write.mode("append").parquet(shStore)
    shB.unpersist()
    ()
  }

  /** The q135 gate path: stream the documents dump through the
    * admission gate, then read the landed decisions back. With the
    * order-independent rule, the result is the same for ANY batch
    * slicing — spec'd by splitting the corpus across files — so the
    * single-file AvailableNow run the gate performs is representative.
    */
  def ingestedKeepDecisions(spark: SparkSession, dir: String,
      n: Int = 3, threshold: Double = 0.5): DataFrame = {
    val base = java.nio.file.Paths.get(graft.io.SnapIo.scratchDir("neardup"))
    val shStore = base.resolve("shingles").toString
    val decStore = base.resolve("decisions").toString
    val ck = base.resolve("ck").toString
    val stream = spark.readStream
      .schema(EventStream.documentsSchema)
      .option("pathGlobFilter", "documents.parquet")
      .option("maxFilesPerTrigger", 1)
      .parquet(dir)
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        processBatch(spark, batch, shStore, decStore, n, threshold)
      }
      .option("checkpointLocation", ck)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.read.parquet(decStore)
  }
}
