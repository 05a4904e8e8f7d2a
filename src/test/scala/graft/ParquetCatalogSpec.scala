package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.ParquetCatalog

/** Per-product replace semantics of [[ParquetCatalog.writeProduct]]. */
class ParquetCatalogSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def catalog(): (ParquetCatalog, Path) = {
    val dir = Files.createTempDirectory("graft_catalog")
    (new ParquetCatalog(spark, dir.toString), dir)
  }

  test("an empty rewrite leaves no rows of the product's previous version") {
    val (cat, _) = catalog()
    cat.writeProduct("t", (1L to 5L).map(i => (i, s"v$i")).toDF("id", "v"), 100L)
    cat.writeProduct("t", Seq((9L, "other")).toDF("id", "v"), 200L)
    cat.writeProduct("t", Seq.empty[(Long, String)].toDF("id", "v"), 100L)
    assert(cat.readProduct("t", 100L).count() == 0)
    assert(cat.read("t").as[(Long, String)].collect().toSeq == Seq((9L, "other")))
  }

  test("a failed write keeps the previous rows; staging directories stay unread") {
    val (cat, dir) = catalog()
    val before = Seq((1L, "a"), (2L, "b"))
    cat.writeProduct("t", before.toDF("id", "v"), 100L)
    val failing = spark.range(4).select(col("id"),
      when(col("id") === 3, raise_error(lit("boom"))).otherwise(lit("x")).cast("string").as("v"))
    intercept[Exception](cat.writeProduct("t", failing, 100L))
    assert(cat.readProduct("t", 100L).as[(Long, String)].collect().toSet == before.toSet)
    assert(!Files.exists(dir.resolve("t/.ProductPartitionId=100")))

    // a staging directory a crash left behind is neither read nor
    // counted as data, in a table that has data and in one that has none
    Seq("t", "fresh").foreach { table =>
      val stale = dir.resolve(s"$table/.ProductPartitionId=300")
      spark.range(3).toDF("id").write.parquet(stale.toString)
      assert(Files.exists(stale))
    }
    assert(cat.read("t").as[(Long, String)].collect().toSet == before.toSet)
    assert(cat.read("t").columns.toSeq == Seq("id", "v"))
    assert(!cat.exists("fresh"))
  }
}
