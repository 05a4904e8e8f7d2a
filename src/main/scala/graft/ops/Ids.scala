package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Dense sequential id assignment (reference semantics W2,
  * helpers.py:64-66: contiguous ids continuing from a watermark).
  *
  * [[globalDenseIds]] uses one global row_number window — exact and
  * simple, but the window collapses to a single partition; fine for
  * small control-plane frames, wrong for a 100 TB fact table.
  *
  * [[distributedDenseIds]] is the scale path — and the one the
  * pipeline uses for fact-value ids: range-partition
  * by the ordering key, sort within partitions, then zipWithIndex
  * (count-per-partition job + offset map — the standard distributed
  * dense-numbering scheme). Ids are identical to the global window's.
  *
  * Why the RDD hop: DataFrame `repartitionByRange` re-samples its
  * range boundaries on EVERY job (the sampling seed involves the new
  * RDD id), so two separate executions see different partitionings —
  * a counts pass and an output pass computed from the lazy frame would
  * disagree and corrupt the offsets (verified empirically). At the RDD
  * layer the RangePartitioner is created once per RDD graph, its
  * boundaries are frozen on the driver, and the second job reuses the
  * first job's shuffle files — consistent AND persist-free, so library
  * calls leak no cache entries.
  */
object Ids {

  def globalDenseIds(df: DataFrame, idName: String, startId: Long,
      orderCols: Seq[String]): DataFrame =
    df.withColumn(idName,
      row_number().over(Window.orderBy(orderCols.map(col): _*)) + lit(startId - 1))

  /** Contract: calling this runs one eager Spark job (zipWithIndex's
    * per-partition count). For the id→row mapping to be stable across
    * re-evaluations of the RESULT, either `orderCols` must be a total
    * order (the pipeline's call sites are) or the caller should persist
    * the result — GisPipeline.run persists its values frame, and
    * ProductRunner unpersists it after the write.
    */
  def distributedDenseIds(df: DataFrame, idName: String, startId: Long,
      orderCols: Seq[String], numPartitions: Int = 0): DataFrame = {
    val spark = df.sparkSession
    val parts = if (numPartitions > 0) numPartitions
      else spark.sessionState.conf.numShufflePartitions
    val ranged = df
      .repartitionByRange(parts, orderCols.map(col): _*)
      .sortWithinPartitions(orderCols.map(col): _*)
    val withId = ranged.rdd.zipWithIndex().map { case (row, idx) =>
      Row.fromSeq(row.toSeq :+ (startId + idx))
    }
    // withColumn-replace semantics: when df already carries idName
    // (renumbering), append under a temp name, swap, and restore the
    // original column ORDER — a plain schema.add would produce two
    // same-named columns (AMBIGUOUS_REFERENCE downstream), and a bare
    // drop+rename would move the id to the end, silently misaligning
    // positional consumers (union, insertInto)
    val outName = if (df.columns.contains(idName)) s"__${idName}_renum" else idName
    val out = spark.createDataFrame(withId,
      ranged.schema.add(outName, LongType, nullable = false))
    if (outName == idName) out
    else out.drop(idName).withColumnRenamed(outName, idName)
      .select(df.columns.toSeq.map(col): _*)
  }
}
