package graft.tools

import org.apache.spark.sql.functions._

import graft.io.SnapTable

/** A/B harness for the snap DSv2 reader tier: the SAME physical
  * parquet files scanned (a) through the connector (manifest
  * resolution + SnapVectorReader) and (b) through `spark.read
  * .parquet` (Spark's native FileSourceScan) — the ratio IS the cost
  * of the connector's decode tier, since both plans decode identical
  * bytes. Two shapes:
  *
  *  - WIDE: every lineitem column decoded and folded into one
  *    xxhash64 sum (forces full-width decode; nothing prunable);
  *  - NARROW: a two-column projection with a row-level filter, the
  *    everyday pruned-scan shape.
  *
  * min-of-5 after a warmup pass per side, A/B interleaved so a
  * co-tenant burst cannot land on one side only. Emits one JSON line
  * (committed as snap_ab_r{N}.json; not driver contract). The r11
  * VERDICT's bar: wide ratio within ~1.5x of native.
  */
object SnapAb {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.GraftSession.local(cpus, "graft-snap-ab")
    spark.sparkContext.setLogLevel("WARN")

    val root = graft.io.SnapIo.scratchDir("snap_ab")
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    SnapTable.commit(li, root, "l_orderkey", filesPerCommit = 8)
    val files = SnapTable.liveFiles(root).map(_.path)
    val cols = li.columns.toSeq

    def viaSnap = spark.read.format("graft.sources.SnapSourceProvider")
      .load(root)
    def viaParquet = spark.read.parquet(files: _*)

    // modulo before the fold keeps the running sum inside BIGINT under
    // ANSI; the hash still forces every column to decode
    def wide(df: org.apache.spark.sql.DataFrame): Long =
      df.agg(sum(xxhash64(cols.map(col): _*) % 1000003L))
        .collect()(0).getLong(0)
    def narrow(df: org.apache.spark.sql.DataFrame): Long =
      df.filter(col("l_quantity") > 25)
        .agg(sum(xxhash64(col("l_orderkey"), col("l_extendedprice"))
          % 1000003L))
        .collect()(0).getLong(0)

    // identical bytes must produce identical answers — the A/B is
    // meaningless if the two sides read different data
    require(wide(viaSnap) == wide(viaParquet), "wide scan answer drift")
    require(narrow(viaSnap) == narrow(viaParquet), "narrow scan answer drift")

    def sample[T](body: => T): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    val rounds = 5
    val acc = scala.collection.mutable.Map.empty[String, List[Double]]
      .withDefaultValue(Nil)
    (1 to rounds).foreach { _ =>
      acc("wide_snap") ::= sample(wide(viaSnap))
      acc("wide_parquet") ::= sample(wide(viaParquet))
      acc("narrow_snap") ::= sample(narrow(viaSnap))
      acc("narrow_parquet") ::= sample(narrow(viaParquet))
    }
    def best(k: String): Double = acc(k).min
    def r3(v: Double): Double = math.round(v * 1000) / 1000.0
    val wideRatio = best("wide_snap") / best("wide_parquet")
    val narrowRatio = best("narrow_snap") / best("narrow_parquet")

    // DV'd scan: mark a point-delete's worth of rows dead via a
    // merge-on-read DV, then time the SAME wide fold through the snap
    // reader (per-task sidecar position filter, row mode; the Scala
    // API's SnapTable.read is this same scan). The ratio against the
    // clean snap scan IS the per-task cost of DV application.
    val (_, dvFiles, dvRows) =
      SnapTable.deleteDv(spark, root, "l_orderkey", 1L, 400L)
    (1 to rounds).foreach { _ =>
      acc("wide_dv_dsv2") ::= sample(wide(viaSnap))
    }

    println(
      s"""{"metric":"snap_ab","rows":${li.count()},"files":${files.size},""" +
        s""""wide_snap_sec":${r3(best("wide_snap"))},""" +
        s""""wide_parquet_sec":${r3(best("wide_parquet"))},""" +
        s""""wide_ratio":${r3(wideRatio)},""" +
        s""""narrow_snap_sec":${r3(best("narrow_snap"))},""" +
        s""""narrow_parquet_sec":${r3(best("narrow_parquet"))},""" +
        s""""narrow_ratio":${r3(narrowRatio)},""" +
        s""""dv_files":$dvFiles,"dv_rows":$dvRows,""" +
        s""""wide_dv_dsv2_sec":${r3(best("wide_dv_dsv2"))},""" +
        s""""wide_dv_ratio":${r3(best("wide_dv_dsv2") / best("wide_snap"))},""" +
        s""""runs":$rounds,"sf":"$sfDir"}""")
    spark.stop()
  }
}
