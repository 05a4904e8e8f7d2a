package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{IntersectAlgebra, IntersectFunctions}

/** `sorted_intersect_count(sort_array(a), sort_array(b))` must equal
  * `size(array_intersect(a, b))` (as long) for EVERY input, including
  * duplicates (count once), shared nulls (count once), empty arrays,
  * and multi-byte UTF-8 — the dedup verify stages' oracle contract
  * rides on this identity.
  */
class IntersectCountSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val cases: Seq[(Seq[String], Seq[String])] = Seq(
    (Seq("a", "b", "c"), Seq("b", "c", "d")),
    (Seq("a", "a", "b"), Seq("a", "b", "b")), // dups count once
    (Seq.empty[String], Seq("a")),
    (Seq.empty[String], Seq.empty[String]),
    (Seq("a"), Seq("a")),
    (Seq(null, "a"), Seq(null, "b")), // shared null counts once
    (Seq(null, null, "a"), Seq(null, "a")),
    (Seq("a"), Seq(null, "a")), // null on one side only: not shared
    (Seq("", "a"), Seq("", "b")), // empty string is an element
    (Seq("é", "漢字", "a"), Seq("漢字", "é")), // multi-byte binary order
    (Seq("ab", "abc", "abcd"), Seq("abc", "ab")), // prefix strings
    (Seq("z", "y", "x", "x", "y"), Seq("x", "z", "w")))

  test("sorted_intersect_count == size(array_intersect) on adversarial cases") {
    val df = cases.toDF("a", "b")
      .withColumn("ours", IntersectFunctions
        .sorted_intersect_count(sort_array($"a"), sort_array($"b")))
      .withColumn("ref", size(array_intersect($"a", $"b")).cast("long"))
    val rows = df.select("ours", "ref").as[(Long, Long)].collect()
    rows.zip(cases).foreach { case ((ours, ref), c) =>
      assert(ours == ref, s"mismatch on $c")
    }
  }

  test("random shingle-like property sweep, codegen and interpreted eval") {
    val rnd = new scala.util.Random(42)
    val vocab = Vector("tok", "a", "bb", "ccc", "日本", "", "x y", "zz")
    def arr(): Seq[String] =
      Seq.fill(rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size)))
    val data = Seq.fill(300)((arr(), arr()))
    for (codegen <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
      spark.conf.set("spark.sql.codegen.factoryMode", codegen)
      try {
        val df = data.toDF("a", "b")
          .withColumn("ours", IntersectFunctions
            .sorted_intersect_count(sort_array($"a"), sort_array($"b")))
          .withColumn("ref", size(array_intersect($"a", $"b")).cast("long"))
        val bad = df.filter($"ours" =!= $"ref").count()
        assert(bad == 0, s"$bad mismatches under $codegen")
      } finally spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }

  test("algebra: null-safe eval returns null on null array input") {
    val df = Seq((Some(Seq("a")), Option.empty[Seq[String]]))
      .toDF("a", "b")
      .withColumn("c", IntersectFunctions.sorted_intersect_count($"a", $"b"))
    assert(df.select("c").collect().head.isNullAt(0))
  }

  test("IntersectAlgebra.count direct: interleaved dup runs") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String
    def ad(xs: String*) =
      new GenericArrayData(xs.map(x =>
        if (x == null) null else UTF8String.fromString(x)).toArray[Any])
    assert(IntersectAlgebra.count(ad("a", "a", "b", "b", "c"), ad("a", "b", "b", "d")) == 2L)
    assert(IntersectAlgebra.count(ad(null, "a"), ad(null, "a")) == 2L)
    assert(IntersectAlgebra.count(ad(), ad("a")) == 0L)
  }

  test("input contract: string arrays only, and only under UTF8_BINARY") {
    val collated = spark.sql("SELECT array(collate('a', 'UTF8_LCASE')) AS a, " +
      "array(collate('A', 'UTF8_LCASE')) AS b")
    val e = intercept[org.apache.spark.sql.AnalysisException](collated.select(
      IntersectFunctions.sorted_intersect_count($"a", $"b")).collect())
    assert(e.getMessage.contains("UTF8_BINARY"), e.getMessage)
    intercept[org.apache.spark.sql.AnalysisException](
      Seq((Seq(1, 2), Seq(2))).toDF("a", "b").select(
        IntersectFunctions.sorted_intersect_count($"a", $"b")).collect())
  }
}
