package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Z-order (Morton) multi-dimensional clustering: interleave the bits
  * of two key columns so rows close in BOTH dimensions land close in
  * the one-dimensional sort order.
  *
  * Why it matters at 100 TB: parquet footer min/max pruning is
  * one-dimensional — sorting by `(a, b)` clusters `a` perfectly and
  * `b` not at all, so a predicate on `b` alone scans every file.
  * Range-partitioning + sorting by the z-value gives every file a
  * TIGHT min/max envelope on BOTH dimensions, so selective predicates
  * on either column (or both) skip most files at the scan. This is
  * the layout technique behind Delta/Iceberg `ZORDER BY`, expressed
  * here as plain codegen'd column arithmetic + `repartitionByRange`.
  *
  * The z-value is pure bit arithmetic (shifts/masks, no UDF) and the
  * same formula is emitted as portable SQL for the oracle.
  */
object ZOrder {

  /** Morton-interleave the low `bits` bits of two non-negative longs:
    * bit b of `x` → bit 2b, bit b of `y` → bit 2b+1. 2·bits ≤ 62 so
    * the result fits a signed long.
    */
  def zValue2(x: Column, y: Column, bits: Int = 16): Column = {
    require(bits >= 1 && bits <= 31, "bits must be in [1, 31]")
    val terms = (0 until bits).flatMap { b =>
      Seq(
        shiftleft(shiftright(x, b).bitwiseAND(lit(1L)), 2 * b),
        shiftleft(shiftright(y, b).bitwiseAND(lit(1L)), 2 * b + 1))
    }
    terms.reduce(_ bitwiseOR _)
  }

  /** Morton-interleave the low `bits` bits of N ≥ 2 non-negative
    * longs: bit b of column i → bit N·b + i. N·bits ≤ 62 keeps the
    * result in a signed long. Two columns reproduce [[zValue2]]
    * exactly; three or four buy file skipping on a third/fourth
    * dimension at the price of coarser per-dimension resolution —
    * the trade every multi-dim clustering layout makes.
    */
  def zValueN(cs: Seq[Column], bits: Int): Column = {
    require(cs.size >= 2 && cs.size <= 4,
      s"z-order interleaves 2-4 columns, got ${cs.size}")
    require(bits >= 1 && cs.size * bits <= 62,
      s"${cs.size} columns x $bits bits exceeds a signed long")
    val n = cs.size
    val terms = (0 until bits).flatMap { b =>
      cs.zipWithIndex.map { case (c, i) =>
        shiftleft(shiftright(c, b).bitwiseAND(lit(1L)), n * b + i)
      }
    }
    terms.reduce(_ bitwiseOR _)
  }

  /** The identical interleave as ANSI/DuckDB SQL text (`>>`, `&`, `|`
    * operators), for oracle replay of [[zValue2]].
    */
  def zValueSql(x: String, y: String, bits: Int = 16): String = {
    val terms = (0 until bits).flatMap { b =>
      Seq(
        s"((($x >> $b) & 1) << ${2 * b})",
        s"((($y >> $b) & 1) << ${2 * b + 1})")
    }
    terms.mkString("(", " | ", ")")
  }

  /** Cluster `df` for two-dimensional scan pruning: range-partition on
    * the z-value of (xCol, yCol) into `numFiles` partitions and sort
    * within each, so each written file covers a compact z-range (and
    * therefore a tight min/max box in both dimensions).
    */
  def clusterByZ(df: DataFrame, xCol: String, yCol: String,
      numFiles: Int, bits: Int = 16): DataFrame = {
    val z = zValue2(col(xCol).cast("long"), col(yCol).cast("long"), bits)
    df.withColumn("__z", z)
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
  }
}
