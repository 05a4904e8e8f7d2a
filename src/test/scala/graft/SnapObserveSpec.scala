package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.io.SnapTable

/** Every `SnapTable` commit writes through the snap task writer: its
  * stats come from the committed task messages, so no job reads the
  * new files back. Checked for each commit shape — single-file,
  * range-partitioned, bloom-column, bucketed and a re-bucketing
  * rewrite — together with the manifest's row counts (the parquet
  * footers') and its path spelling (`input_file_name()`'s).
  */
class SnapObserveSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshRoot(): String =
    Files.createTempDirectory("graft_snap_obs").toString

  private def catalog(): Unit =
    spark.conf.set("spark.sql.catalog.graftsnap",
      classOf[graft.sources.SnapCatalog].getName)

  /** Jobs started, SQL executions finished and the file-scan input
    * paths of those executions while `body` runs.
    */
  private case class Trace(jobs: Int, executions: Seq[String],
      scanned: Seq[String])

  private def trace(body: => Unit): Trace = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val execs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val scanned = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    def walk(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case o => o.children.flatMap(walk)
    })
    val qeListener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = {
        execs.add(funcName)
        walk(qe.executedPlan).foreach {
          case s: FileSourceScanExec =>
            s.relation.location.inputFiles.foreach(scanned.add)
          case _ => ()
        }
      }
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    try {
      body
      val deadline = System.nanoTime() + 5L * 1000 * 1000 * 1000
      var prev = -1
      var quiet = 0
      while (quiet < 2 && System.nanoTime() < deadline) {
        val now = jobs.get() + execs.size
        if (now == prev) quiet += 1 else quiet = 0
        prev = now
        Thread.sleep(200)
      }
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      spark.listenerManager.unregister(qeListener)
    }
    import scala.jdk.CollectionConverters._
    Trace(jobs.get(), execs.asScala.toSeq, scanned.asScala.toSeq)
  }

  private def dirOf(p: String): String =
    SnapTable.normPath(p).substring(0, SnapTable.normPath(p).lastIndexOf('/'))

  /** The shared contract of every shape: the commit ran as a tracked
    * write execution, no execution scanned the commit's new files,
    * and each entry's rows/path agree with the file itself.
    */
  private def assertWrittenInline(t: Trace,
      added: Seq[SnapTable.FileStat]): Unit = {
    assert(added.nonEmpty)
    assert(t.executions.contains("snapWrite"),
      s"the write must stay a tracked SQL execution: ${t.executions}")
    val newDirs = added.map(f => dirOf(f.path)).toSet
    val readBack = t.scanned.filter(p => newDirs.contains(dirOf(p)))
    assert(readBack.isEmpty, s"new files were read back: $readBack")
    added.foreach { f =>
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.path),
          new org.apache.hadoop.conf.Configuration()))
      val footer = try reader.getRecordCount finally reader.close()
      assert(f.rows == footer, s"${f.path}: manifest ${f.rows} vs footer $footer")
      val ifn = spark.read.parquet(f.path).select(input_file_name())
        .distinct().as[String].collect().toSeq
      assert(ifn == Seq(f.path), s"path spelling drifted: ${f.path} vs $ifn")
    }
  }

  /** Jobs the same shaping costs through the no-op sink: a commit that
    * matches it ran no job beyond its write.
    */
  private def noopJobs(shaped: org.apache.spark.sql.DataFrame): Int =
    trace(shaped.write.format("noop").mode("overwrite").save()).jobs

  test("single-file commit: one job, full stats, input_file_name path spelling") {
    val root = freshRoot()
    val df = Seq((1L, "alpha"), (5L, "bravo"), (3L, null: String))
      .toDF("k", "s")
    val t = trace { SnapTable.commit(df, root, "k"); () }
    assert(t.jobs == 1,
      s"single-file no-bloom commit must be the write job alone, saw ${t.jobs}")
    val fs = SnapTable.liveFiles(root)
    assert(fs.size == 1)
    val f = fs.head
    assert(f.rows == 3L && f.min == 1L && f.max == 5L)
    assert(f.nullCount("k").contains(0L))
    assert(f.colSum("k").contains(9L))
    val sb = f.strBox("s").get
    assert(!sb.allNull && sb.nulls == 1L)
    assert(new String(sb.minBytes, "UTF-8") == "alpha")
    assert(new String(sb.maxBytes, "UTF-8") == "bravo")
    assertWrittenInline(t, fs)
    // and the snapshot read resolves it
    assert(SnapTable.read(spark, root).count() == 3)
  }

  test("multi-file commit: no job beyond the range shaping, stats per file") {
    val df = spark.range(1, 101).select(col("id").as("k"),
      concat(lit("v"), col("id")).as("s"))
    val root = freshRoot()
    val t = trace { SnapTable.commit(df, root, "k", filesPerCommit = 2); () }
    val expected = noopJobs(df.repartitionByRange(2, col("k")))
    assert(t.jobs == expected,
      s"a 2-file commit costs its shaping's $expected jobs, saw ${t.jobs}")
    val fs = SnapTable.liveFiles(root)
    assert(fs.size == 2)
    assertWrittenInline(t, fs)
  }

  test("a scheme'd root writes inline too, with the same path spelling") {
    val root = "file:" + freshRoot() + "/t"
    val t = trace {
      SnapTable.commit(spark.range(1, 11).select(col("id").as("k")), root, "k")
      SnapTable.commit(spark.range(11, 41).select(col("id").as("k")), root,
        "k", filesPerCommit = 2); ()
    }
    val fs = SnapTable.liveFiles(root)
    assert(fs.size == 3 && fs.map(_.rows).sum == 40L)
    assertWrittenInline(t, fs)
  }

  test("one-file and two-file commits of the same data fold to the same stats") {
    val df = spark.range(1, 101).select(col("id").as("k"),
      concat(lit("v"), col("id")).as("s"))
    val r1 = freshRoot()
    SnapTable.commit(df, r1, "k")
    val r2 = freshRoot()
    SnapTable.commit(df, r2, "k", filesPerCommit = 2)
    val a = SnapTable.liveFiles(r1).head
    val bs = SnapTable.liveFiles(r2)
    assert(bs.size == 2)
    // fold the two files to table-level stats and compare
    assert(a.rows == bs.map(_.rows).sum)
    assert(a.min == bs.map(_.min).min && a.max == bs.map(_.max).max)
    assert(a.colSum("k").get == bs.map(_.colSum("k").get).sum)
    assert(a.nullCount("k").get == bs.map(_.nullCount("k").get).sum)
    val ab = a.strBox("s").get
    val bbs = bs.map(_.strBox("s").get)
    assert(ab.nulls == bbs.map(_.nulls).sum)
    val foldedMin = bbs.map(_.minBytes)
      .reduce((x, y) => if (SnapTable.StrStat.cmp(x, y) <= 0) x else y)
    assert(SnapTable.StrStat.cmp(ab.minBytes, foldedMin) == 0)
  }

  test("empty commit publishes no file stats") {
    val root = freshRoot()
    SnapTable.commit(spark.range(0).select(col("id").as("k")), root, "k")
    assert(SnapTable.liveFiles(root).isEmpty)
    assert(SnapTable.read(spark, root).count() == 0)
  }

  test("bloom-column commit: one job, per-file and aggregate sidecars written") {
    val root = freshRoot()
    SnapTable.createEmpty(root,
      new org.apache.spark.sql.types.StructType()
        .add("k", "long").add("s", "string"),
      Map("bloomCols" -> "k"))
    val t = trace {
      SnapTable.commit(Seq((1L, "a"), (2L, "b")).toDF("k", "s"), root, "k")
      ()
    }
    assert(t.jobs == 1, s"a one-file bloom commit is one job, saw ${t.jobs}")
    val fs = SnapTable.liveFiles(root).filter(_.rows > 0)
    assert(fs.nonEmpty && fs.forall(_.bloomPath("k").isDefined))
    val bloomDir = dirOf(fs.head.bloomPath("k").get)
    assert(graft.io.SnapIo.isFile(graft.io.SnapIo.child(bloomDir,
      graft.sources.SnapBloomSkip.aggName("k"))))
    assertWrittenInline(t, fs)
  }

  test("bucketed commit and its re-bucketing rewrite write inline") {
    catalog()
    val root = freshRoot() + "/t"
    spark.sql(s"CREATE TABLE graftsnap.`$root` (k BIGINT, v BIGINT) " +
      "PARTITIONED BY (bucket(4, k)) TBLPROPERTIES ('statCols'='k')")
    val batch = spark.range(0, 400).selectExpr("id AS k", "id * 7 AS v")
    val t1 = trace {
      SnapTable.commitStreamBatch(batch, 0L, root, "k"); ()
    }
    assert(t1.jobs == noopJobs(batch.repartition(4, col("k"))),
      s"a bucketed commit costs only its routing, saw ${t1.jobs}")
    val bucketed = SnapTable.liveFiles(root)
    assert(bucketed.size == 4 &&
      bucketed.forall(_.range("k#b4").exists { case (a, b) => a == b }))
    assertWrittenInline(t1, bucketed)
    val t2 = trace {
      spark.sql(s"CALL graftsnap.system.optimize(table => '$root', " +
        "bucket_count => 8)").collect(); ()
    }
    val rebucketed = SnapTable.liveFiles(root)
    assert(rebucketed.nonEmpty &&
      rebucketed.forall(_.range("k#b8").exists { case (a, b) => a == b }))
    assert(rebucketed.map(_.rows).sum == 400L)
    assertWrittenInline(t2, rebucketed)
  }

  test("a rewrite after RENAME COLUMN keys its string box by the logical name") {
    catalog()
    val root = freshRoot() + "/t"
    spark.sql(s"CREATE TABLE graftsnap.`$root` (id BIGINT, tag STRING) " +
      "TBLPROPERTIES ('statCols'='id')")
    spark.sql(s"INSERT INTO graftsnap.`$root` " +
      "SELECT id, concat('t', id) FROM range(1, 51)")
    spark.sql(s"INSERT INTO graftsnap.`$root` " +
      "SELECT id, concat('u', id) FROM range(51, 101)")
    spark.sql(s"ALTER TABLE graftsnap.`$root` RENAME COLUMN tag TO label")
    // the small-file merge rewrites from the raw (physical) files
    spark.sql(s"CALL graftsnap.system.optimize(table => '$root', " +
      "small_files_below => 1000000000)").collect()
    val fs = SnapTable.liveFiles(root)
    assert(fs.size == 1 && fs.head.rows == 100L)
    val box = fs.head.strBox("label")
    assert(box.isDefined && fs.head.strBox("tag").isEmpty,
      s"string box keyed by ${fs.head.strStats.map(_._1)}")
    assert(new String(box.get.minBytes, "UTF-8") == "t1")
    assert(new String(box.get.maxBytes, "UTF-8") == "u99")
    // the box prunes: a label outside it reads nothing
    assert(spark.sql(s"SELECT count(*) FROM graftsnap.`$root` " +
      "WHERE label = 'zzz'").head().getLong(0) == 0L)
    assert(spark.sql(s"SELECT count(*) FROM graftsnap.`$root` " +
      "WHERE label = 'u77'").head().getLong(0) == 1L)
  }

  test("stat columns: narrow integers widen, other types refuse") {
    val root = freshRoot()
    val df = Seq((3.toShort, 7.toByte), ((-2).toShort, 1.toByte))
      .toDF("a", "b")
    SnapTable.commitCols(df, root, Seq("a", "b"))
    val f = SnapTable.liveFiles(root).head
    assert(f.range("a").contains((-2L, 3L)) && f.range("b").contains((1L, 7L)))
    assert(f.colSum("a").contains(1L) && f.colSum("b").contains(8L))
    assert(SnapTable.read(spark, root).schema.map(_.dataType.typeName) ==
      Seq("short", "byte"), "the file keeps the column types")
    val e = intercept[IllegalArgumentException](SnapTable.commit(
      Seq((1.5, 1L)).toDF("x", "k"), freshRoot(), "x"))
    assert(e.getMessage.contains("must be bigint/int/date/timestamp"))
  }
}
