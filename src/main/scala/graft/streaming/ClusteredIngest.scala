package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.ops.ZOrder

/** Layout-maintaining streaming ingest: every micro-batch is appended
  * Z-ORDER-CLUSTERED (Morton key over two columns, range-partitioned,
  * sorted within files — [[graft.ops.ZOrder.clusterByZ]]), so the
  * files a continuous pipeline accretes stay min/max-prunable in BOTH
  * dimensions from the moment they land, instead of needing an
  * offline re-cluster pass.
  *
  * Scale note: clustering is per-batch, so each batch's files cover
  * tight 2-D boxes but different batches' boxes overlap. Readers still
  * prune against every file's footer; a periodic compaction (read a
  * partition, re-run clusterByZ, overwrite) tightens the global
  * layout — the same maintenance trade Delta/Iceberg OPTIMIZE ZORDER
  * makes. Delivery is at-least-once: a replayed batch rewrites
  * identical files, which downstream exact-dedup reads absorb.
  */
object ClusteredIngest {

  /** Run an AvailableNow pass of `stream`, appending each micro-batch
    * z-clustered on (`xCol`, `yCol`) into `filesPerBatch` files at
    * `sinkPath`. The checkpoint makes successive calls incremental
    * (only unseen source files are processed).
    */
  def runOnce(stream: DataFrame, sinkPath: String, checkpointDir: String,
      xCol: String, yCol: String, filesPerBatch: Int): Unit = {
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        ZOrder.clusterByZ(batch, xCol, yCol, filesPerBatch)
          .write.mode("append").parquet(sinkPath)
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** The q115 gate path: stream the documents dump through a
    * z-clustered ingest (cluster key = (doc_id, n_chars)) into a fresh
    * sink, then aggregate the LANDED files per language — so the gate
    * checks the full stream→cluster→append→read-back loop, not just
    * the transform. Equality with the batch aggregation proves the
    * ingest is loss- and duplication-free.
    */
  /** Streaming ANN-index maintenance (the q129 gate path): stream the
    * embeddings dump through a foreachBatch that runs the frozen
    * trained artifacts' assign+encode projection
    * ([[graft.ops.Pq.encodeResidualWithCells]] — cell id + residual
    * PQ codes in one map, O(batch) work) and appends the CODES to the
    * index store; then read the landed index back. Equality with the
    * batch encode proves incremental index build ≡ build-at-once —
    * the property that lets a 100 TB embedding corpus index accrete
    * per-arrival instead of re-encoding the world. Codes are emitted
    * as a joined string (the q52 array-hashing convention).
    */
  def ingestedIndexCodes(spark: SparkSession, dir: String,
      ivf: graft.ops.Ivf.Index, rcb: graft.ops.Pq.ResidualCodebooks): DataFrame = {
    val base = java.nio.file.Paths.get(graft.io.SnapIo.scratchDir("idxingest"))
    val sink = base.resolve("data").toString
    val ck = base.resolve("ck").toString
    val stream = spark.readStream
      .schema(EventStream.embeddingsSchema)
      .option("pathGlobFilter", "embeddings.parquet")
      .parquet(dir)
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.ops.Pq.encodeResidualWithCells(batch, ivf, rcb, "vec_id", "embedding")
          .write.mode("append").parquet(sink)
        ()
      }
      .option("checkpointLocation", ck)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.read.parquet(sink)
      .select(col("id").as("vec_id"), col("cell_id"),
        array_join(transform(col("codes"), c => c.cast("string")), ",")
          .as("codes"))
  }

  def ingestedLangCounts(spark: SparkSession, dir: String): DataFrame = {
    val base = java.nio.file.Paths.get(graft.io.SnapIo.scratchDir("zingest"))
    val sink = base.resolve("data").toString
    val ck = base.resolve("ck").toString
    val stream = spark.readStream
      .schema(EventStream.documentsSchema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(dir)
    runOnce(stream, sink, ck, "doc_id", "n_chars", filesPerBatch = 8)
    spark.read.parquet(sink)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("total_chars"))
  }
}
