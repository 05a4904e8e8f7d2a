package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, CollationFactory}
import org.apache.spark.sql.graft.ColumnShim
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Merge-count of two SORTED string arrays' set intersection.
  *
  * `sorted_intersect_count(a, b)` over arrays sorted ascending in
  * UTF8String binary order (i.e. `sort_array(...)`) equals
  * `size(array_intersect(a, b))` cast to long — including the
  * null-is-an-element and duplicates-count-once semantics — but runs
  * as a single allocation-free merge pass instead of building a
  * hash set and materializing the intersection array per row. On the
  * candidate-verify stages of the Jaccard dedup family the
  * intersection count is the only thing ever used; the materialized
  * intersection array was pure garbage-collector load. EXACT: element
  * comparisons are byte comparisons of the strings themselves, never
  * hashes, so the verify stage's oracle contract is untouched.
  *
  * The per-doc `sort_array` that feeds it is paid once per document
  * per join side; candidate pairs (the multiplier) then pay only the
  * linear merge.
  */
object IntersectAlgebra {
  /** Set-intersection cardinality of two ascending-sorted arrays
    * (nulls first, as `sort_array` produces). Duplicate elements
    * count once; a null element shared by both sides counts once —
    * `array_intersect` semantics exactly.
    */
  def count(a: ArrayData, b: ArrayData): Long = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var hadNullA = false
    var hadNullB = false
    while (i < na && a.isNullAt(i)) { hadNullA = true; i += 1 }
    while (j < nb && b.isNullAt(j)) { hadNullB = true; j += 1 }
    var c = if (hadNullA && hadNullB) 1L else 0L
    var prev: UTF8String = null
    while (i < na && j < nb) {
      val va = a.getUTF8String(i)
      val vb = b.getUTF8String(j)
      val cmp = va.compareTo(vb)
      if (cmp < 0) i += 1
      else if (cmp > 0) j += 1
      else {
        if (prev == null || va.compareTo(prev) != 0) { c += 1; prev = va }
        i += 1
        j += 1
      }
    }
    c
  }
}

/** Inputs must be string arrays under UTF8_BINARY: the merge compares
  * raw bytes, which is the collation's order only for that collation.
  */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def dataType: DataType = LongType

  override def inputTypes: Seq[ArrayType] =
    Seq(ArrayType(StringType), ArrayType(StringType))

  override def checkInputDataTypes(): TypeCheckResult =
    children.map(_.dataType).collectFirst {
      case ArrayType(st: StringType, _)
          if st.collationId != CollationFactory.UTF8_BINARY_COLLATION_ID =>
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName compares UTF-8 bytes and needs UTF8_BINARY " +
            s"strings, got ${st.catalogString}")
    }.getOrElse(super.checkInputDataTypes())

  override def nullSafeEval(a: Any, b: Any): Any =
    IntersectAlgebra.count(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.IntersectAlgebra.count($a, $b);")

  override def prettyName: String = "sorted_intersect_count"
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object IntersectFunctions {
  /** Set-intersection count of two `sort_array`-sorted string array
    * columns; equals `size(array_intersect(a, b))` as a long.
    */
  def sorted_intersect_count(a: Column, b: Column): Column =
    ColumnShim.column(SortedIntersectCount(
      ColumnShim.expression(a), ColumnShim.expression(b)))
}
