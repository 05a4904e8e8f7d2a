package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.IntegerType

import graft.functions.{DotProduct, KmvBottomK, KmvEstimate, KmvUnion, MinHashSig, SimHash64}

/** SparkSessionExtensions entry point: registers the library's custom
  * Catalyst expressions with the SQL function registry, so
  * `SELECT dot_product(a, b)` works from plain Spark SQL.
  *
  * [[GraftSession]] installs it on every session it builds; a
  * spark-submit deployment enables it with
  * `--conf spark.sql.extensions=graft.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(GraftExtensions.dotProductDescriptor)
    ext.injectFunction(GraftExtensions.simHashDescriptor)
    ext.injectFunction(GraftExtensions.minHashSigDescriptor)
    ext.injectFunction(GraftExtensions.kmvBottomKDescriptor)
    ext.injectFunction(GraftExtensions.kmvUnionDescriptor)
    ext.injectFunction(GraftExtensions.kmvEstimateDescriptor)
    ext.injectOptimizerRule(_ => graft.plans.OverlapRewrite)
    ext.injectOptimizerRule(_ => graft.plans.TopKRewrite)
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    ext.injectPlannerStrategy(_ => graft.plans.TopKPerKeyStrategy)
  }
}

object GraftExtensions {
  val dotProductDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("dot_product"),
    new ExpressionInfo(classOf[DotProduct].getName, "dot_product"),
    (children: Seq[Expression]) => {
      require(children.size == 2, "dot_product takes exactly 2 array<double> arguments")
      DotProduct(children.head, children(1))
    })

  val simHashDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("simhash64"),
    new ExpressionInfo(classOf[SimHash64].getName, "simhash64"),
    (children: Seq[Expression]) => {
      require(children.size == 1, "simhash64 takes exactly 1 array<string> argument")
      SimHash64(children.head)
    })

  val minHashSigDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("minhash_sig"),
    new ExpressionInfo(classOf[MinHashSig].getName, "minhash_sig"),
    (children: Seq[Expression]) => {
      require(children.size == 2,
        "minhash_sig takes (array<string> shingles, int-literal numHashes)")
      val k = children(1) match {
        case Literal(v: Int, IntegerType) => v
        case other => throw new IllegalArgumentException(
          s"minhash_sig numHashes must be an integer literal, got $other")
      }
      MinHashSig(children.head, k)
    })

  val kmvBottomKDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("kmv_bottomk"),
    new ExpressionInfo(classOf[KmvBottomK].getName, "kmv_bottomk"),
    (children: Seq[Expression]) => {
      require(children.size == 2,
        "kmv_bottomk takes (bigint values, int-literal k)")
      val k = children(1) match {
        case Literal(v: Int, IntegerType) => v
        case other => throw new IllegalArgumentException(
          s"kmv_bottomk k must be an integer literal, got $other")
      }
      KmvBottomK(children.head, k)
    })

  private def intLit(e: Expression, fn: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$fn k must be an integer literal, got $other")
  }

  val kmvUnionDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("kmv_union"),
    new ExpressionInfo(classOf[KmvUnion].getName, "kmv_union"),
    (children: Seq[Expression]) => children match {
      case Seq(a, b) => KmvUnion(a, b, Int.MaxValue) // exact merge
      case Seq(a, b, kk) => KmvUnion(a, b, intLit(kk, "kmv_union"))
      case _ => throw new IllegalArgumentException(
        "kmv_union takes (sketch, sketch[, int-literal k])")
    })

  val kmvEstimateDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("kmv_estimate"),
    new ExpressionInfo(classOf[KmvEstimate].getName, "kmv_estimate"),
    (children: Seq[Expression]) => children match {
      case Seq(a) => KmvEstimate(a, -1) // assume saturated
      case Seq(a, kk) => KmvEstimate(a, intLit(kk, "kmv_estimate"))
      case _ => throw new IllegalArgumentException(
        "kmv_estimate takes (sketch[, int-literal k])")
    })
}
