package graftbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.cube.{CliArgs, EtlMain, ProductRunner}
import graft.io.ParquetCatalog

/** The benchmark times the load path step by step (Load.group through a
  * span-recording catalog) instead of calling EtlMain. This guard fails
  * when the two drift apart: on a small generated stage, the same
  * sequence of loads (a standalone product, a merged master + sibling
  * group, then the standalone product again on the update path) must
  * leave the same 9 gis tables, compared in GoldenPipelineSpec's
  * canonical rendering.
  */
class DriftGuardSpec extends AnyFunSuite {

  private lazy val spark = graft.GraftSession.configure(
    SparkSession.builder().master("local[4]").appName("perfbench-drift")
      .config("spark.sql.shuffle.partitions", "4")).getOrCreate()

  /** GoldenPipelineSpec.canon: schema header + rows sorted on their
    * rendered form.
    */
  private def canon(df: DataFrame): String = {
    val header = df.schema.fields
      .map(f => s"${f.name}:${f.dataType.simpleString}").mkString("\u001f")
    val rows = df.collect().map(_.toSeq.map {
      case null => "␀"
      case v => v.toString
    }.mkString("\u001f")).sorted
    (header +: rows).mkString("\n") + "\n"
  }

  test("benchmark load path writes the same 9 tables as EtlMain.run") {
    val sf = sys.env.getOrElse("GRAFT_SF_DIR",
      Paths.get(sys.props("user.home"), "testdata", "sf0.1").toString)
    assume(Files.exists(Paths.get(sf, "lineitem.parquet")), s"no sf tables at $sf")
    val (standalone, master, sibling) = (98100011L, 98100012L, 98100013L)
    val stage = Files.createTempDirectory("perfbench_drift_stage").toString
    val spec = Files.createTempFile("perfbench_drift", ".json")
    Files.writeString(spec,
      s"""{"products": [
         | {"pid": $standalone, "per_mille": 2, "dims": ["size"], "estimates": 3, "freq": 13},
         | {"pid": $master, "per_mille": 2, "dims": ["brand"], "estimates": 2, "freq": 12},
         | {"pid": $sibling, "per_mille": 2, "dims": ["brand"], "estimates": 2, "freq": 12,
         |  "salt": "sibling"}],
         | "merge": {"$master": [$sibling]}}""".stripMargin)
    val gen = new ProcessBuilder("python3", "gen_cube.py", sf, stage, "5", spec.toString)
      .inheritIO().start()
    assert(gen.waitFor() == 0, "cube generator failed")

    val sequence = Seq(standalone, master, standalone)
    val viaEtl = Files.createTempDirectory("perfbench_drift_etl").toString
    sequence.foreach(pid => EtlMain.run(spark, stage, viaEtl, CliArgs(prodIds = Seq(pid))))

    val viaBench = Files.createTempDirectory("perfbench_drift_bench").toString
    val tracer = new Tracer(spark, enabled = true, runId = "drift")
    val catalog = new TracingCatalog(spark, viaBench, tracer)
    sequence.foreach(pid => Load.group(spark, stage, viaBench, catalog, pid, tracer))
    assert(tracer.allSpans.exists(_.name == "cube.write.IndicatorValues"))

    val etl = new ParquetCatalog(spark, viaEtl)
    val bench = new ParquetCatalog(spark, viaBench)
    val diverged = ProductRunner.tableNames.filter(t => canon(etl.read(t)) != canon(bench.read(t)))
    assert(diverged.isEmpty, s"tables differ between EtlMain.run and the benchmark: $diverged")
    assert(etl.read("IndicatorValues").count() > 0)
  }
}
