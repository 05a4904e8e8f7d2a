package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.cube.ProductRunner
import graft.io.ParquetCatalog

/** Per-product replace semantics of [[ParquetCatalog.writeProduct]],
  * and the declared schemas every read and write goes through.
  */
class ParquetCatalogSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def catalog(): (ParquetCatalog, Path) = {
    val dir = Files.createTempDirectory("graft_catalog")
    (new ParquetCatalog(spark, dir.toString), dir)
  }

  // (IndicatorId BIGINT, GeographicLevelId STRING): the smallest gis table
  private val Gli = "GeographicLevelForIndicator"

  private def gli(rows: (Long, String)*): DataFrame =
    rows.toDF("IndicatorId", "GeographicLevelId")

  test("an empty rewrite leaves no rows of the product's previous version") {
    val (cat, _) = catalog()
    cat.writeProduct(Gli, gli((1L to 5L).map(i => (i, s"v$i")): _*), 100L)
    cat.writeProduct(Gli, gli((9L, "other")), 200L)
    cat.writeProduct(Gli, gli(), 100L)
    assert(cat.readProduct(Gli, 100L).count() == 0)
    assert(cat.read(Gli).as[(Long, String)].collect().toSeq == Seq((9L, "other")))
  }

  test("a failed write keeps the previous rows; staging directories stay unread") {
    val (cat, dir) = catalog()
    val before = Seq((1L, "a"), (2L, "b"))
    cat.writeProduct(Gli, gli(before: _*), 100L)
    val failing = spark.range(4).select(col("id").as("IndicatorId"),
      when(col("id") === 3, raise_error(lit("boom"))).otherwise(lit("x")).cast("string")
        .as("GeographicLevelId"))
    intercept[Exception](cat.writeProduct(Gli, failing, 100L))
    assert(cat.readProduct(Gli, 100L).as[(Long, String)].collect().toSet == before.toSet)
    assert(!Files.exists(dir.resolve(s"$Gli/.ProductPartitionId=100")))

    // a staging directory a crash left behind is not read, in a table
    // that has data and in one that has none
    Seq(Gli, "Dimensions").foreach { table =>
      val stale = dir.resolve(s"$table/.ProductPartitionId=300")
      spark.range(3).toDF("id").write.parquet(stale.toString)
      assert(Files.exists(stale))
    }
    assert(cat.read(Gli).as[(Long, String)].collect().toSet == before.toSet)
    assert(cat.read(Gli).columns.toSeq == Seq("IndicatorId", "GeographicLevelId"))
    assert(cat.read("Dimensions").count() == 0)
  }

  test("building a read of any declared table runs no Spark job") {
    val (cat, _) = catalog()
    ProductRunner.tableNames.foreach { t =>
      val row = ParquetCatalog.schema(t).fields.map(f => lit(null).cast(f.dataType).as(f.name))
      cat.writeProduct(t, spark.range(1).select(row.toIndexedSeq: _*), 100L)
    }
    val jobs = TestSpark.jobsOf(ProductRunner.tableNames.foreach { t =>
      cat.read(t)
      cat.readProduct(t, 100L)
    })
    assert(jobs == 0, s"building the catalog reads ran $jobs Spark jobs")
    assert(ProductRunner.tableNames.forall(t => cat.readProduct(t, 100L).count() == 1))
  }

  test("a frame whose columns differ from the declaration is refused unwritten") {
    val (cat, dir) = catalog()
    val before = Seq((1L, "a"), (2L, "b"))
    cat.writeProduct(Gli, gli(before: _*), 100L)
    val drifted = Seq(
      "a missing column" -> Seq(1L).toDF("IndicatorId"),
      "an extra column" -> Seq((1L, "a", 7L)).toDF("IndicatorId", "GeographicLevelId", "extra"),
      "an int id" -> Seq((1, "a")).toDF("IndicatorId", "GeographicLevelId"))
    drifted.foreach { case (what, df) =>
      val e = intercept[IllegalArgumentException](cat.writeProduct(Gli, df, 100L))
      assert(e.getMessage.contains("are not the declared"), s"$what: ${e.getMessage}")
      assert(cat.readProduct(Gli, 100L).as[(Long, String)].collect().toSet == before.toSet,
        s"$what: the previous rows are gone")
      assert(!Files.exists(dir.resolve(s"$Gli/.ProductPartitionId=100")),
        s"$what: a staging directory was left behind")
    }
    intercept[IllegalArgumentException](cat.read("t"))
  }
}
