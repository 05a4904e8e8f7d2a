package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.{SnapIo, SnapTable}

/** Round-15 contracts:
  *
  *  - executor-side deletion-vector application (no driver-side
  *    position materialization, no join in the read plan);
  *  - DV'd tables under a scheme'd (file:) root — the path
  *    normalization seam pinned before a second FS backend appears;
  *  - the pluggable conditional-write CLAIM seam (two racing writers
  *    on a conditional backend, no lost commit);
  *  - OPTIMIZE ... ZORDER BY followed by DELETE/MERGE on the primary
  *    stat column (the r14 ADVICE hazard: the rewrite used to record
  *    only the z-columns and range tests keyed on the HEAD box);
  *  - grouped aggregate pushdown refusing a file that mixes NULL keys
  *    with one real key (null-count gate), and generalizing to
  *    multi-column groupings;
  *  - targeted only_dv compaction restoring aggregate pushdown, with
  *    the DV-refusal counter as the visibility signal;
  *  - MERGE WITH SCHEMA EVOLUTION (Spark-native, driven through the
  *    catalog's ALTER ADD COLUMN);
  *  - the named-table warehouse namespace (CREATE/SHOW/RENAME/DROP by
  *    name, no paths in SQL).
  */
class SnapRound15Spec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshRoot(): String =
    Files.createTempDirectory("graft_snap_r15").toString

  private def withCatalog(): Unit =
    spark.conf.set("spark.sql.catalog.graftsnap",
      classOf[graft.sources.SnapCatalog].getName)

  test("executor-side DVs: accumulated deletes apply without a driver join") {
    val root = freshRoot()
    SnapTable.commit((1L to 2000L).toDF("id"), root, "id")
    // three merge-on-read deletes ACCUMULATE positions in one file's
    // successive sidecars — the shape a year of point-deletes takes
    SnapTable.deleteDv(spark, root, "id", 10L, 300L)
    SnapTable.deleteDv(spark, root, "id", 500L, 800L)
    SnapTable.deleteDv(spark, root, "id", 150L, 600L)
    val df = SnapTable.read(spark, root)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"),
      s"DV application must be a local filter, not a join:\n$plan")
    val alive = (1L to 2000L).filterNot(i =>
      (i >= 10 && i <= 300) || (i >= 500 && i <= 800) ||
        (i >= 150 && i <= 600))
    assert(df.agg(count(lit(1)), sum("id")).as[(Long, Long)].head() ==
      ((alive.size.toLong, alive.sum)))
    // re-deleting an overlapping range neither double-counts nor
    // resurrects (old positions subtracted per file)
    val (_, _, d2) = SnapTable.deleteDv(spark, root, "id", 550L, 900L)
    assert(d2 == (801L to 900L).size)
  }

  test("DV'd table under a scheme'd file: root reads exactly (normPath seam)") {
    val bare = freshRoot()
    val root = "file:" + bare
    SnapTable.commit((1L to 500L).toDF("id"), root, "id")
    val (_, files, deleted) = SnapTable.deleteDv(spark, root, "id", 100L, 149L)
    assert(files == 1 && deleted == 50L)
    // manifest path spelling vs _metadata.file_path spelling must
    // round-trip through normPath for the sidecar lookup to hit
    val live = SnapTable.liveFiles(root)
    assert(live.exists(_.dv.isDefined), "expected a DV'd file")
    val got = SnapTable.read(spark, root).agg(count(lit(1)), sum("id"))
      .as[(Long, Long)].head()
    val alive = (1L to 500L).filterNot(i => i >= 100 && i <= 149)
    assert(got == ((alive.size.toLong, alive.sum)))
    // the DSv2 reader applies the same sidecar per task
    val dsv = spark.read.format("graft.sources.SnapSourceProvider")
      .load(root)
    assert(dsv.agg(sum("id")).as[Long].head() == alive.sum)
  }

  test("claim seam: racing writers on a conditional backend lose no commit") {
    val bare = freshRoot()
    val root = "file:" + bare
    // a mock CONDITIONAL CREATE for the file: scheme — the semantics
    // Hadoop 3.4's S3 conditional write (If-None-Match) provides;
    // plain Hadoop file:/s3a: is check-then-create and documented
    // single-writer
    val lock = new Object
    SnapIo.registerClaim("file", new SnapIo.Claim {
      override def createNew(path: String, bytes: Array[Byte]): Unit =
        lock.synchronized {
          java.nio.file.Files.write(
            java.nio.file.Paths.get(path.stripPrefix("file:")), bytes,
            java.nio.file.StandardOpenOption.CREATE_NEW)
          ()
        }
    })
    try {
      val perWriter = 8
      val threads = (0 until 2).map { w =>
        new Thread(() => {
          (0 until perWriter).foreach { i =>
            val base = (w * perWriter + i) * 100L
            SnapTable.commit(
              ((base + 1L) to (base + 100L)).toDF("id"), root, "id")
          }
        })
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
      // every commit landed at its own version; nothing lost
      assert(SnapTable.currentVersion(root) == 2 * perWriter)
      assert(SnapTable.read(spark, root).count() == 2L * perWriter * 100)
    } finally SnapIo.unregisterClaim("file")
  }

  test("ZORDER rewrite keeps DELETE/MERGE by the primary stat column sound") {
    val root = freshRoot()
    val df = (1L to 1000L).map(i => (i, i % 97, i % 89))
      .toDF("k", "a", "b")
    SnapTable.commitCols(df, root, Seq("k"), filesPerCommit = 4)
    // rewrite clustered on (a, b) — NOT the primary stat column
    SnapTable.compactZ(spark, root, Seq("a", "b"), targetFiles = 4)
    // the rewrite still records a k box FIRST (primary stays primary)
    val live = SnapTable.liveFiles(root)
    assert(live.forall(_.stats.head._1 == "k"),
      s"z-ordered files must keep the primary stat box first: " +
        live.map(_.stats.map(_._1)).mkString("; "))
    assert(live.forall(f => f.range("a").isDefined &&
      f.range("b").isDefined), "z-column boxes must be recorded too")
    // DELETE over the primary stat column must still find its rows
    val (_, _, deleted) = SnapTable.delete(spark, root, "k", 100L, 199L)
    assert(deleted == 100L,
      s"post-ZORDER DELETE silently missed rows: deleted=$deleted")
    assert(SnapTable.read(spark, root).count() == 900L)
    // and MERGE still touches only files holding the key
    val (_, touched) = SnapTable.merge(spark, root, "k",
      Seq((500L, 0L, 0L)).toDF("k", "a", "b"))
    assert(touched >= 1)
    assert(SnapTable.read(spark, root).filter(col("k") === 500L)
      .select("a").as[Long].head() == 0L)
  }

  test("grouped pushdown refuses a file mixing NULL keys with one value") {
    withCatalog()
    val root = freshRoot() + "/t"
    spark.sql(s"CREATE TABLE graftsnap.`$root` (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('statCols'='k')")
    // ONE file holding null keys AND a single real key: box min==max
    // (7) but nulls present — the r14 ADVICE trap. Built through the
    // Scala writer (coalesce(1)), the path with no null isolation.
    val mixed = Seq[(java.lang.Long, Long)]((null, 1L), (7L, 2L),
      (null, 3L), (7L, 4L)).toDF("k", "v")
    SnapTable.commit(mixed, root, "k")
    val live = SnapTable.liveFiles(root)
    assert(live.size == 1 && live.head.range("k").contains((7L, 7L)) &&
      live.head.nullCount("k").contains(2L))
    val c0 = graft.sources.SnapSource.filesOpened.get()
    val groups = spark.sql(
      s"SELECT k, count(*) AS n FROM graftsnap.`$root` GROUP BY k")
      .collect().map(r => (if (r.isNullAt(0)) -1L else r.getLong(0),
        r.getLong(1))).toMap
    val opens = graft.sources.SnapSource.filesOpened.get() - c0
    assert(opens > 0, "a null-mixed file must row-scan, not fold")
    assert(groups == Map(-1L -> 2L, 7L -> 2L),
      s"NULL group must survive: $groups")
  }

  test("multi-column grouped pushdown folds from the manifest") {
    withCatalog()
    val root = freshRoot() + "/t"
    spark.sql(s"CREATE TABLE graftsnap.`$root` " +
      "(k1 BIGINT, k2 BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('statCols'='k1,k2,v')")
    // one file per (k1, k2) pair, two files for one pair — per-tuple
    // groups must union whole files
    Seq((1L, 10L, 5L), (1L, 20L, 6L), (2L, 10L, 7L)).foreach {
      case (a, b, v) =>
        SnapTable.commitCols(Seq((a, b, v)).toDF("k1", "k2", "v"),
          root, Seq("k1", "k2", "v"))
    }
    SnapTable.commitCols(Seq((1L, 10L, 9L)).toDF("k1", "k2", "v"),
      root, Seq("k1", "k2", "v"))
    val c0 = graft.sources.SnapSource.filesOpened.get()
    val got = spark.sql(
      s"""SELECT k1, k2, count(*) AS n, sum(v) AS s
         |FROM graftsnap.`$root` GROUP BY k1, k2""".stripMargin)
      .as[(Long, Long, Long, Long)].collect().toSet
    val opens = graft.sources.SnapSource.filesOpened.get() - c0
    assert(opens == 0,
      s"two-column grouped fold must open zero files, opened $opens")
    assert(got == Set((1L, 10L, 2L, 14L), (1L, 20L, 1L, 6L),
      (2L, 10L, 1L, 7L)))
  }

  test("only_dv optimize restores aggregate pushdown; refusals counted") {
    withCatalog()
    val root = freshRoot() + "/t"
    spark.sql(s"CREATE TABLE graftsnap.`$root` (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('statCols'='k,v', 'dv'='true')")
    Seq((1L, 100L), (1001L, 1100L)).foreach { case (a, b) =>
      SnapTable.commitCols((a to b).map(i => (i, i * 3)).toDF("k", "v"),
        root, Seq("k", "v"))
    }
    def minMax(): (Long, Long, Long) = {
      val c0 = graft.sources.SnapSource.filesOpened.get()
      val r = spark.sql(s"SELECT min(v), max(v) FROM graftsnap.`$root`")
        .as[(Long, Long)].head()
      (r._1, r._2, graft.sources.SnapSource.filesOpened.get() - c0)
    }
    assert(minMax() == ((3L, 3300L, 0L))) // clean table: manifest fold
    spark.sql(s"DELETE FROM graftsnap.`$root` WHERE k BETWEEN 1050 AND 1050")
    assert(SnapTable.liveFiles(root).exists(_.dv.isDefined))
    val r0 = graft.sources.SnapSource.aggRefusedByDv.get()
    val (mn1, mx1, opens1) = minMax()
    assert((mn1, mx1) == ((3L, 3300L)))
    assert(opens1 > 0, "a DV'd file must refuse the manifest fold")
    assert(graft.sources.SnapSource.aggRefusedByDv.get() > r0,
      "the DV-caused refusal must be counted")
    val before = SnapTable.liveFiles(root).map(_.path).toSet
    spark.sql(s"CALL graftsnap.system.optimize(table => '$root', " +
      "only_dv => true)").collect()
    val after = SnapTable.liveFiles(root)
    // only the DV'd file was rewritten; the clean one rode along
    assert(after.count(f => before.contains(f.path)) == 1)
    assert(after.forall(_.dv.isEmpty))
    assert(minMax() == ((3L, 3300L, 0L)), "pushdown must be restored")
  }

  test("MERGE WITH SCHEMA EVOLUTION adds the source's new column") {
    withCatalog()
    val root = freshRoot() + "/t"
    spark.sql(s"CREATE TABLE graftsnap.`$root` (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('statCols'='k')")
    Seq((1L, 10L), (2L, 20L)).toDF("k", "v")
      .write.format("graft.sources.SnapSourceProvider")
      .option("statCols", "k").mode("append").save(root)
    Seq((2L, 21L, "b"), (3L, 30L, "c")).toDF("k", "v", "tag")
      .createOrReplaceTempView("r15_evo_src")
    spark.sql(
      s"""MERGE WITH SCHEMA EVOLUTION INTO graftsnap.`$root` t
         |USING r15_evo_src s ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val got = spark.sql(s"SELECT k, v, tag FROM graftsnap.`$root`")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) null else r.getString(2))).toSet
    // old row reads the evolved column as NULL; matched + inserted
    // rows carry it
    assert(got == Set((1L, 10L, null), (2L, 21L, "b"), (3L, 30L, "c")))
  }

  test("named warehouse tables: create/insert/list/rename/drop, no paths in SQL") {
    val wh = freshRoot()
    spark.conf.set("spark.sql.catalog.graftwh",
      classOf[graft.sources.SnapCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftwh.warehouse", wh)
    spark.sql("CREATE TABLE graftwh.db.t (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('statCols'='k')")
    spark.sql("INSERT INTO graftwh.db.t VALUES (1, 10), (2, 20)")
    spark.sql("INSERT INTO graftwh.db.t VALUES (3, 30)")
    // the identifier resolves under the warehouse root
    assert(SnapIo.isDir(SnapIo.child(wh, "db", "t", "_log")))
    assert(spark.sql("SHOW TABLES IN graftwh.db").collect()
      .map(_.getString(1)).toSeq == Seq("t"))
    // time travel by NAME
    assert(spark.sql("SELECT count(*) FROM graftwh.db.t VERSION AS OF 2")
      .as[Long].head() == 2L)
    spark.sql("ALTER TABLE graftwh.db.t RENAME TO db.t2")
    assert(spark.sql("SELECT sum(v) FROM graftwh.db.t2")
      .as[Long].head() == 60L)
    // history survived the move (manifest paths repointed)
    assert(spark.sql("SELECT count(*) FROM graftwh.db.t2 VERSION AS OF 2")
      .as[Long].head() == 2L)
    spark.sql("DROP TABLE graftwh.db.t2")
    assert(spark.sql("SHOW TABLES IN graftwh.db").collect().isEmpty)
    // path-style identifiers keep refusing DROP (history ownership)
    val pr = freshRoot() + "/pt"
    spark.sql(s"CREATE TABLE graftwh.`$pr` (k BIGINT) " +
      "TBLPROPERTIES ('statCols'='k')")
    assertThrows[UnsupportedOperationException] {
      spark.sql(s"DROP TABLE graftwh.`$pr`")
    }
  }

  test("bloom skipping prunes point lookups on a non-clustered column") {
    withCatalog()
    val root = freshRoot() + "/t"
    spark.sql(s"CREATE TABLE graftsnap.`$root` " +
      "(k BIGINT, tag STRING, cents BIGINT) " +
      "TBLPROPERTIES ('statCols'='k', 'bloomCols'='tag')")
    // tag is HIGH-CARDINALITY and unordered: every file's string box
    // spans the hex space, so box pruning keeps everything and only
    // the bloom can narrow a point lookup
    val src = spark.range(1, 2001).selectExpr("id AS k",
      "substr(md5(cast(id AS string)), 1, 12) AS tag",
      "id * 3 AS cents")
    Seq((1L, 500L), (501L, 1000L), (1001L, 1500L), (1501L, 2000L))
      .foreach { case (a, b) =>
        src.filter(col("k") >= a && col("k") <= b)
          .write.format("graft.sources.SnapSourceProvider")
          .option("filesPerCommit", "1").mode("append").save(root)
      }
    val live = SnapTable.liveFiles(root)
    assert(live.size == 4 && live.forall(_.bloomPath("tag").isDefined))
    val probeTag = src.filter(col("k") === 777L)
      .select("tag").as[String].head()
    val c0 = graft.sources.SnapSource.filesOpened.get()
    val got = spark.sql(s"SELECT k, cents FROM graftsnap.`$root` " +
      s"WHERE tag = '$probeTag'").as[(Long, Long)].collect().toSet
    val opens = graft.sources.SnapSource.filesOpened.get() - c0
    assert(got == Set((777L, 2331L)))
    assert(opens < 4, s"bloom must prune some of 4 files, opened $opens")
    // IN over two tags from two different files: both rows, still
    // pruned below a full scan
    val tag2 = src.filter(col("k") === 1600L).select("tag")
      .as[String].head()
    val c1 = graft.sources.SnapSource.filesOpened.get()
    val got2 = spark.sql(s"SELECT k FROM graftsnap.`$root` " +
      s"WHERE tag IN ('$probeTag', '$tag2')").as[Long].collect().toSet
    val opens2 = graft.sources.SnapSource.filesOpened.get() - c1
    assert(got2 == Set(777L, 1600L) && opens2 < 4)
    // a MISSING tag prunes everything (no false negatives)
    val c2 = graft.sources.SnapSource.filesOpened.get()
    assert(spark.sql(s"SELECT k FROM graftsnap.`$root` " +
      "WHERE tag = 'zzzz-not-a-tag'").isEmpty)
    assert(graft.sources.SnapSource.filesOpened.get() - c2 == 0,
      "a bloom-rejected probe must open zero files")
  }

  test("blooms survive Scala commits, rewrites, and vacuum") {
    withCatalog()
    val root = freshRoot() + "/t"
    spark.sql(s"CREATE TABLE graftsnap.`$root` " +
      "(k BIGINT, tag STRING) " +
      "TBLPROPERTIES ('statCols'='k', 'bloomCols'='tag')")
    // Scala-API commit reads the property and blooms its files too
    val df = (1L to 300L)
      .map(i => (i, s"v$i-${(i * 2654435761L).toHexString}"))
      .toDF("k", "tag")
    SnapTable.commit(df, root, "k")
    assert(SnapTable.liveFiles(root).forall(_.bloomPath("tag").isDefined))
    // a MERGE rewrite regenerates sidecars (skipping never silently
    // lost), and compaction + vacuum reclaim the orphaned ones
    spark.sql(s"""MERGE INTO graftsnap.`$root` t
      |USING (SELECT 5L AS k, 'updated' AS tag) u ON t.k = u.k
      |WHEN MATCHED THEN UPDATE SET *""".stripMargin)
    assert(SnapTable.liveFiles(root).forall(_.bloomPath("tag").isDefined))
    val vc = SnapTable.compact(spark, root, "k", targetFiles = 1)
    val reclaimed = SnapTable.vacuum(root, keepFrom = vc, graceMs = 0L)
    assert(reclaimed > 0)
    val live = SnapTable.liveFiles(root)
    assert(live.size == 1 && live.head.bloomPath("tag").isDefined)
    assert(graft.io.SnapIo.isFile(live.head.bloomPath("tag").get),
      "the kept bloom sidecar must survive vacuum")
    // the rewritten table still probes correctly
    assert(spark.sql(s"SELECT k FROM graftsnap.`$root` " +
      "WHERE tag = 'updated'").as[Long].collect().toSeq == Seq(5L))
  }

  test("small-file optimize merges only the small tail") {
    withCatalog()
    val root = freshRoot() + "/t"
    spark.sql(s"CREATE TABLE graftsnap.`$root` (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('statCols'='k')")
    // one big commit then a stream-shaped tail of tiny ones
    SnapTable.commit((1L to 50000L).map(i => (i, i * 2)).toDF("k", "v"),
      root, "k")
    (0 until 5).foreach { i =>
      val base = 50000L + i * 10
      SnapTable.commit(((base + 1) to (base + 10))
        .map(i => (i, i * 2)).toDF("k", "v"), root, "k")
    }
    val before = SnapTable.liveFiles(root)
    assert(before.size == 6)
    val big = before.maxBy(_.rows).path
    spark.sql(s"CALL graftsnap.system.optimize(table => '$root', " +
      "small_files_below => 65536)").collect()
    val after = SnapTable.liveFiles(root)
    assert(after.size == 2, s"expected big + merged tail, got ${after.size}")
    assert(after.exists(_.path == big),
      "the big file must ride along untouched")
    assert(spark.sql(s"SELECT count(*), sum(v) FROM graftsnap.`$root`")
      .as[(Long, Long)].head() ==
      ((50050L, (1L to 50050L).map(_ * 2).sum)))
  }

  test("plain optimize on an identity-partitioned table merges per key") {
    withCatalog()
    val root = freshRoot() + "/t"
    spark.sql(s"CREATE TABLE graftsnap.`$root` (k BIGINT, v BIGINT) " +
      "PARTITIONED BY (k) TBLPROPERTIES ('statCols'='k,v')")
    // two inserts: every key ends with TWO files
    (0 until 2).foreach { i =>
      spark.sql(s"INSERT INTO graftsnap.`$root` " +
        (0 until 4).map(k => s"SELECT ${k}L, ${i * 10 + k}L")
          .mkString(" UNION ALL "))
    }
    assert(SnapTable.liveFiles(root).size == 8)
    spark.sql(s"CALL graftsnap.system.optimize(table => '$root')")
      .collect()
    val after = SnapTable.liveFiles(root)
    // one file per key, each still provably single-key (the SPJ and
    // grouped-pushdown layout) — NOT collapsed across keys
    assert(after.size == 4, s"per-key merge expected 4 files: ${after.size}")
    assert(after.forall(_.range("k").exists { case (mn, mx) => mn == mx }))
    val c0 = graft.sources.SnapSource.filesOpened.get()
    val g = spark.sql(s"SELECT k, count(*) AS n, sum(v) AS s " +
      s"FROM graftsnap.`$root` GROUP BY k")
      .as[(Long, Long, Long)].collect().toSet
    assert(graft.sources.SnapSource.filesOpened.get() - c0 == 0,
      "grouped pushdown must survive the per-key merge")
    assert(g == (0 until 4).map(k =>
      (k.toLong, 2L, (k + 10 + k).toLong)).toSet)
  }

  test("3-column z-order records and prunes on all three dimensions") {
    val root = freshRoot()
    val df = (0L until 4096L).map { i =>
      (i, i % 64, (i / 64) % 64, i % 17)
    }.toDF("k", "a", "b", "c")
    SnapTable.commitCols(df, root, Seq("k"), filesPerCommit = 4)
    SnapTable.compactZ(spark, root, Seq("a", "b", "c"), targetFiles = 8)
    val live = SnapTable.liveFiles(root)
    assert(live.size == 8)
    assert(live.forall(f => Seq("a", "b", "c").forall(
      f.range(_).isDefined)), "boxes on every z dimension")
    // a selective predicate on the THIRD dimension skips files
    val hit = live.count(f => f.range("c").exists { case (mn, mx) =>
      mx >= 3 && mn <= 3 })
    assert(hit <= live.size, s"c-boxes: ${live.map(_.range("c"))}")
    val pruned = SnapTable.readPrunedMulti(spark, root,
      Seq("a" -> ((10L, 12L)), "b" -> ((10L, 12L))))
    assert(pruned.count() ==
      df.filter(col("a").between(10, 12) && col("b").between(10, 12))
        .count())
    val opened = pruned.select(col(graft.sources.SnapSource.FileColumn))
      .distinct().count()
    assert(opened < 8, s"2-of-3-dim rectangle must prune files: $opened")
  }

  test("vacuum dry_run reports without deleting or moving the horizon") {
    withCatalog()
    val root = freshRoot() + "/t"
    spark.sql(s"CREATE TABLE graftsnap.`$root` (k BIGINT) " +
      "TBLPROPERTIES ('statCols'='k')")
    SnapTable.commit((1L to 100L).toDF("k"), root, "k")
    val vc = SnapTable.compact(spark, root, "k", targetFiles = 1)
    val dry = spark.sql(s"CALL graftsnap.system.vacuum(table => '$root', " +
      s"keep_from => $vc, grace_ms => 0, dry_run => true)")
      .collect()(0).getInt(1)
    assert(dry > 0)
    // nothing deleted, horizon unmoved: the pre-compaction version
    // still reads
    assert(SnapTable.retainedFrom(root).isEmpty)
    assert(SnapTable.read(spark, root, Some(vc - 1)).count() == 100L)
    val real = SnapTable.vacuum(root, vc, graceMs = 0L)
    assert(real == dry, s"dry run promised $dry, vacuum removed $real")
    assert(SnapTable.retainedFrom(root).contains(vc))
  }

  test("system.files lists the snapshot inventory; DISTINCT folds from it") {
    withCatalog()
    val root = freshRoot() + "/t"
    spark.sql(s"CREATE TABLE graftsnap.`$root` (k BIGINT, v BIGINT) " +
      "PARTITIONED BY (k) TBLPROPERTIES ('statCols'='k,v', 'dv'='true')")
    (0 until 2).foreach { i =>
      spark.sql(s"INSERT INTO graftsnap.`$root` " +
        (0 until 3).map(k => s"SELECT ${k}L, ${i * 10 + k}L")
          .mkString(" UNION ALL "))
    }
    val inv = spark.sql(
      s"CALL graftsnap.system.files(table => '$root')").collect()
    val live = SnapTable.liveFiles(root)
    assert(inv.length == live.size)
    assert(inv.map(_.getLong(1)).sum == live.map(_.rows).sum)
    assert(inv.forall(r => r.getString(6) == "k" &&
      r.getLong(7) == r.getLong(8))) // one key per file
    // no DVs yet: nothing blocks manifest aggregate pushdown
    assert(inv.forall(r => !r.getBoolean(5)))
    assert(inv.forall(r => !r.isNullAt(3) && r.getLong(3) > 0L))
    // a versioned listing sees the older, smaller snapshot
    val v2 = spark.sql(
      s"CALL graftsnap.system.files(table => '$root', version => 2)")
      .count()
    assert(v2 == 3)
    // SELECT DISTINCT over the partition key answers from the
    // manifest — zero opens (every file provably single-key)
    val c0 = graft.sources.SnapSource.filesOpened.get()
    val ks = spark.sql(s"SELECT DISTINCT k FROM graftsnap.`$root`")
      .as[Long].collect().toSet
    assert(graft.sources.SnapSource.filesOpened.get() - c0 == 0,
      "DISTINCT partition keys must fold from the manifest")
    assert(ks == Set(0L, 1L, 2L))
  }

  test("change feed reads by table NAME through read options") {
    val wh = freshRoot()
    spark.conf.set("spark.sql.catalog.graftwh2",
      classOf[graft.sources.SnapCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftwh2.warehouse", wh)
    spark.sql("CREATE TABLE graftwh2.db.t (k BIGINT) " +
      "TBLPROPERTIES ('statCols'='k', 'dv'='true')")
    spark.sql("INSERT INTO graftwh2.db.t VALUES (1), (2)")
    spark.sql("DELETE FROM graftwh2.db.t WHERE k BETWEEN 2 AND 2")
    val feed = spark.read.option("readChangeFeed", "true")
      .table("graftwh2.db.t")
      .select("k", graft.sources.SnapSource.ChangeTypeColumn,
        graft.sources.SnapSource.CommitVersionColumn)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(feed == Set((1L, "insert", 2L), (2L, "insert", 2L),
      (2L, "delete", 3L)), s"got $feed")
  }

  test("join-driven runtime filtering probes blooms (string-keyed DPP)") {
    withCatalog()
    val root = freshRoot() + "/t"
    spark.sql(s"CREATE TABLE graftsnap.`$root` " +
      "(k BIGINT, tag STRING, cents BIGINT) " +
      "TBLPROPERTIES ('statCols'='k', 'bloomCols'='tag')")
    val src = spark.range(1, 2001).selectExpr("id AS k",
      "substr(md5(cast(id AS string)), 1, 12) AS tag",
      "id * 3 AS cents")
    Seq((1L, 500L), (501L, 1000L), (1001L, 1500L), (1501L, 2000L))
      .foreach { case (a, b) =>
        src.filter(col("k") >= a && col("k") <= b)
          .write.format("graft.sources.SnapSourceProvider")
          .option("filesPerCommit", "1").mode("append").save(root)
      }
    // the dim's keys all live in ONE file (ids 707..797); the filter
    // must survive optimization for DPP to fire (range, not Seq.toDF)
    val dim = spark.range(700, 800).filter(col("id") % 10 === 7)
      .selectExpr("substr(md5(cast(id AS string)), 1, 12) AS tag")
    val fact = spark.read.format("graft.sources.SnapSourceProvider")
      .load(root)
    assert(fact.join(broadcast(dim), "tag").count() == 10)
    val c0 = graft.sources.SnapSource.filesOpened.get()
    val ks = fact.join(broadcast(dim), "tag").select("k")
      .as[Long].collect().toSet
    val opens = graft.sources.SnapSource.filesOpened.get() - c0
    assert(ks == (707L to 797L by 10).toSet)
    assert(opens < 4,
      s"the broadcast keys must bloom-prune files at runtime: $opens")
  }

  test("startingTimestamp parses dates and SQL timestamps in session zone") {
    import graft.sources.SnapSource.parseTsMillis
    assert(parseTsMillis("1723795200000") == 1723795200000L)
    // session zone is UTC in tests (TestSpark) — date-only parses to
    // midnight instead of throwing a raw DateTimeParseException
    val utcMidnight = java.time.LocalDate.parse("2026-08-16")
      .atStartOfDay(java.time.ZoneOffset.UTC).toInstant.toEpochMilli
    assert(parseTsMillis("2026-08-16") == utcMidnight)
    assert(parseTsMillis("2026-08-16 00:00:00") == utcMidnight)
    assert(parseTsMillis("2026-08-16T00:00:00Z") == utcMidnight)
    val e = intercept[IllegalArgumentException] {
      parseTsMillis("not-a-time")
    }
    assert(e.getMessage.contains("startingTimestamp"))
  }

  test("ZORDER refuses on identity-partitioned tables (layout guard)") {
    withCatalog()
    val root = freshRoot() + "/t"
    spark.sql(s"CREATE TABLE graftsnap.`$root` (k BIGINT, v BIGINT) " +
      "PARTITIONED BY (k)")
    spark.sql(s"INSERT INTO graftsnap.`$root` VALUES (1, 1), (2, 2)")
    val e = intercept[Exception] {
      spark.sql(s"CALL graftsnap.system.optimize(table => '$root', " +
        "zorder_by => 'k,v')").collect()
    }
    assert(e.getMessage.contains("identity-partitioned"),
      s"got: ${e.getMessage}")
  }
}
