package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.SnapTable

/** The versioned-snapshot layout's transactional contract: manifest
  * replay (append accretes, overwrite resets), time travel, optimistic
  * version claiming under contention, and manifest-level file
  * skipping staying EXACT.
  */
class SnapTableSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshRoot(): String =
    Files.createTempDirectory("graft_snap_spec").toString

  test("append/append/overwrite replay + time travel to every version") {
    val root = freshRoot()
    val df = (1L to 100L).toDF("id")
    assert(SnapTable.currentVersion(root) == 0)
    val v1 = SnapTable.commit(df.filter(col("id") <= 40), root, "id")
    val v2 = SnapTable.commit(df.filter(col("id") > 40), root, "id")
    val v3 = SnapTable.commit(df.filter(col("id") % 10 === 0), root, "id",
      action = "overwrite")
    assert((v1, v2, v3) == (1, 2, 3))
    assert(SnapTable.read(spark, root, Some(1)).count() == 40)
    assert(SnapTable.read(spark, root, Some(2)).count() == 100)
    assert(SnapTable.read(spark, root, Some(3)).count() == 10)
    // latest == v3; overwrite RESET the list, not merged it
    assert(SnapTable.read(spark, root)
      .agg(sum("id")).head().getLong(0) == (10L to 100L by 10).sum)
    // history remains fully queryable after the overwrite
    assert(SnapTable.read(spark, root, Some(2))
      .agg(sum("id")).head().getLong(0) == (1L to 100L).sum)
  }

  test("a squatted version number is skipped, never clobbered") {
    val root = freshRoot()
    SnapTable.commit((1L to 5L).toDF("id"), root, "id")
    // simulate a concurrent winner holding v2
    val squat = Paths.get(root, "_log", "v00002.manifest")
    Files.createDirectories(squat.getParent)
    Files.write(squat, "action=append\n".getBytes("UTF-8"))
    val v = SnapTable.commit((6L to 9L).toDF("id"), root, "id")
    assert(v == 3, s"commit must retry past the squatted version, got $v")
    assert(Files.readAllLines(squat).get(0) == "action=append",
      "squatted manifest must be untouched")
    assert(SnapTable.read(spark, root).count() == 9)
  }

  test("a concurrent reader never sees a claimed manifest without its bytes") {
    val dir = freshRoot()
    val body = ("action=append\n" * 512).getBytes("UTF-8")
    @volatile var done = false
    val partial = new java.util.concurrent.atomic.AtomicInteger(0)
    val readers = (1 to 3).map(_ => new Thread(() =>
      while (!done) graft.io.SnapIo.listNames(dir)
        .filter(_.endsWith(".manifest")).foreach { n =>
          val got = graft.io.SnapIo.readBytes(graft.io.SnapIo.child(dir, n))
          if (got.length != body.length) partial.incrementAndGet()
        }))
    readers.foreach(_.start())
    (1 to 500).foreach(i => graft.io.SnapIo.createNew(
      graft.io.SnapIo.child(dir, f"v$i%05d.manifest"), body))
    done = true
    readers.foreach(_.join())
    assert(partial.get == 0, s"${partial.get} partial manifest reads")
    intercept[java.nio.file.FileAlreadyExistsException](graft.io.SnapIo
      .createNew(graft.io.SnapIo.child(dir, "v00001.manifest"), Array[Byte](1)))
    assert(graft.io.SnapIo.listNames(dir).size == 500, "no claim file left")
  }

  test("manifest min/max skipping opens only overlapping files, result exact") {
    val root = freshRoot()
    Seq((1L, 100L), (101L, 200L), (201L, 300L)).foreach { case (a, b) =>
      SnapTable.commit((a to b).toDF("id"), root, "id")
    }
    val live = SnapTable.liveFiles(root)
    assert(live.size == 3 && live.map(_.rows).sum == 300)
    val pruned = SnapTable.readPruned(spark, root, "id", 150L, 250L)
    val files = pruned.select(col(graft.sources.SnapSource.FileColumn))
      .distinct().count()
    assert(files == 2, s"expected 2 files opened, got $files")
    assert(pruned.count() == 101) // 150..250 inclusive
    // non-overlapping range: zero rows, schema preserved
    val none = SnapTable.readPruned(spark, root, "id", 500L, 600L)
    assert(none.isEmpty && none.columns.toSeq == Seq("id"))
  }

  test("compact: data identical, fewer files, prior versions still readable") {
    val root = freshRoot()
    (0 until 5).foreach(i =>
      SnapTable.commit(((i * 20 + 1).toLong to (i * 20 + 20).toLong)
        .toDF("id"), root, "id"))
    assert(SnapTable.liveFiles(root).size == 5)
    val v = SnapTable.compact(spark, root, "id", targetFiles = 2)
    assert(v == 6)
    assert(SnapTable.liveFiles(root).size == 2)
    assert(SnapTable.read(spark, root).agg(sum("id")).head().getLong(0) ==
      (1L to 100L).sum)
    // the pre-compaction snapshot is untouched — immutable files
    assert(SnapTable.read(spark, root, Some(5)).count() == 100)
    assert(SnapTable.liveFiles(root, Some(5)).size == 5)
  }

  test("merge: updates override, new keys insert, untouched files survive by path") {
    val root = freshRoot()
    val base = Seq((1L, "a"), (2L, "b"), (50L, "c"), (51L, "d"))
      .toDF("id", "v")
    SnapTable.commit(base.filter(col("id") < 10), root, "id")
    SnapTable.commit(base.filter(col("id") >= 10), root, "id")
    val before = SnapTable.liveFiles(root).map(_.path).toSet
    // update id=2, insert id=3 — both inside file 1's range only
    val updates = Seq((2L, "B"), (3L, "new")).toDF("id", "v")
    val (v, rewritten) = SnapTable.merge(spark, root, "id", updates)
    assert(v == 3 && rewritten == 1, s"v=$v rewritten=$rewritten")
    val got = SnapTable.read(spark, root).as[(Long, String)]
      .collect().toMap
    assert(got == Map(1L -> "a", 2L -> "B", 3L -> "new", 50L -> "c",
      51L -> "d"), got.toString)
    // the untouched file rode into the new manifest by PATH
    val after = SnapTable.liveFiles(root).map(_.path).toSet
    assert(before.intersect(after).size == 1)

    // keys beyond every file's range: pure insert, zero rewrites
    val (_, r2) = SnapTable.merge(spark, root, "id",
      Seq((900L, "z")).toDF("id", "v"))
    assert(r2 == 0, s"insert-only merge rewrote $r2 files")
    assert(SnapTable.read(spark, root).count() == 6)

    // empty update set: a no-op commit, data unchanged
    val (_, r3) = SnapTable.merge(spark, root, "id",
      base.filter(lit(false)))
    assert(r3 == 0 && SnapTable.read(spark, root).count() == 6)
  }

  test("commitStreamBatch: a replayed batch id is skipped, not double-landed") {
    val root = freshRoot()
    val df = (1L to 10L).toDF("id")
    assert(SnapTable.commitStreamBatch(df, 0L, root, "id").contains(1))
    // crash-replay shape: same batch id arrives again
    assert(SnapTable.commitStreamBatch(df, 0L, root, "id").isEmpty)
    assert(SnapTable.commitStreamBatch(df, 1L, root, "id").contains(2))
    assert(SnapTable.read(spark, root).count() == 20)
    assert(SnapTable.manifests(root).flatMap(_.batchId) == Seq(0L, 1L))
  }

  test("vacuum deletes exactly the files unreachable from kept versions") {
    val root = freshRoot()
    SnapTable.commit((1L to 10L).toDF("id"), root, "id")  // v1
    SnapTable.commit((11L to 20L).toDF("id"), root, "id") // v2
    SnapTable.commit((1L to 20L).filter(_ % 2 == 0).toDF("id"), root, "id",
      action = "overwrite")                               // v3
    assert(SnapTable.read(spark, root, Some(2)).count() == 20)
    val removed = SnapTable.vacuum(root, keepFrom = 3, graceMs = 0L)
    assert(removed == 2, s"expected v1+v2 data files removed, got $removed")
    // the retained snapshot is intact...
    assert(SnapTable.read(spark, root).count() == 10)
    // ...and pre-retention time travel is gone, loudly
    intercept[Throwable](SnapTable.read(spark, root, Some(2)).count())
    // vacuum is idempotent
    assert(SnapTable.vacuum(root, keepFrom = 3, graceMs = 0L) == 0)
  }

  test("schema evolution: an added column reads as NULL over old files") {
    val root = freshRoot()
    SnapTable.commit(Seq((1L, "a")).toDF("id", "v"), root, "id")
    SnapTable.commit(Seq((2L, "b", 9L)).toDF("id", "v", "extra"), root, "id")
    val got = SnapTable.read(spark, root)
    assert(got.columns.toSet == Set("id", "v", "extra"))
    val rows = got.orderBy("id")
      .collect().map(r => (r.getLong(0), r.isNullAt(2)))
    assert(rows.toSeq == Seq((1L, true), (2L, false)))
  }

  test("changes(): append is pure inserts; merge cancels to its net effect") {
    val root = freshRoot()
    SnapTable.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), root, "id")
    SnapTable.commit(Seq((10L, "x")).toDF("id", "v"), root, "id")
    // append delta: exactly the new rows, nothing deleted
    val (i1, d1) = SnapTable.changes(spark, root, 1, 2)
    assert(i1.as[(Long, String)].collect().toSet == Set((10L, "x")))
    assert(d1.isEmpty)
    // merge rewrites file 1 (ids 1,2) changing only id=2: the multiset
    // diff cancels the untouched row 1 out of the rewrite
    SnapTable.merge(spark, root, "id", Seq((2L, "B")).toDF("id", "v"))
    val (i2, d2) = SnapTable.changes(spark, root, 2, 3)
    assert(i2.as[(Long, String)].collect().toSet == Set((2L, "B")))
    assert(d2.as[(Long, String)].collect().toSet == Set((2L, "b")))
    // full-span diff composes
    val (i3, d3) = SnapTable.changes(spark, root, 1, 3)
    assert(i3.as[(Long, String)].collect().toSet ==
      Set((10L, "x"), (2L, "B")))
    assert(d3.as[(Long, String)].collect().toSet == Set((2L, "b")))
    // no-op span
    val (i4, d4) = SnapTable.changes(spark, root, 3, 3)
    assert(i4.isEmpty && d4.isEmpty)
  }

  test("multi-column stats round-trip and prune in every dimension") {
    val root = freshRoot()
    val df = (for (x <- 1L to 20L; y <- 1L to 20L) yield (x, y))
      .toDF("x", "y")
    // four quadrant files with boxes in BOTH columns
    for (xl <- Seq(true, false); yl <- Seq(true, false))
      SnapTable.commitCols(
        df.filter((if (xl) col("x") <= 10 else col("x") > 10) &&
          (if (yl) col("y") <= 10 else col("y") > 10)),
        root, Seq("x", "y"))
    val live = SnapTable.liveFiles(root)
    assert(live.size == 4)
    assert(live.forall(f => f.range("x").isDefined && f.range("y").isDefined))
    // a rectangle inside one quadrant opens exactly one file
    val one = SnapTable.readPrunedMulti(spark, root,
      Seq("x" -> (2L, 5L), "y" -> (12L, 15L)))
    assert(one.select(col(graft.sources.SnapSource.FileColumn))
      .distinct().count() == 1)
    assert(one.count() == 4L * 4L)
    // x alone would keep two files; the y bound cuts the second
    val xOnly = SnapTable.readPrunedMulti(spark, root, Seq("x" -> (2L, 5L)))
    assert(xOnly.select(col(graft.sources.SnapSource.FileColumn))
      .distinct().count() == 2)
  }

  test("concurrent committers all land, on distinct versions, none lost") {
    val root = freshRoot()
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val fs = (0 until 4).map { i =>
      Future(SnapTable.commit(
        ((i * 100 + 1).toLong to (i * 100 + 100).toLong).toDF("id"),
        root, "id"))
    }
    val versions = Await.result(Future.sequence(fs), 120.seconds)
    assert(versions.sorted == Seq(1, 2, 3, 4), versions.toString)
    assert(SnapTable.read(spark, root).count() == 400)
    assert(SnapTable.read(spark, root).distinct().count() == 400)
  }

  test("merge REBASES a concurrent non-conflicting append: zero lost rows") {
    val root = freshRoot()
    SnapTable.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), root, "id")
    SnapTable.commit(Seq((50L, "c")).toDF("id", "v"), root, "id")
    // the lost-update interleaving VERDICT r10 flagged: an append lands
    // between the merge's snapshot read and its overwrite publish
    val (v, rewritten) = SnapTable.mergeImpl(spark, root, "id",
      Seq((2L, "B")).toDF("id", "v"), 1,
      beforePublish = () => {
        SnapTable.commit(Seq((100L, "late")).toDF("id", "v"), root, "id")
        ()
      })
    assert(rewritten == 1)
    assert(v == 4, s"merge must publish ABOVE the interleaved append, got $v")
    val got = SnapTable.read(spark, root).as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "a", 2L -> "B", 50L -> "c", 100L -> "late"),
      s"concurrent append must survive the merge's overwrite: $got")
  }

  test("merge REFUSES a concurrent append that intersects its update keys") {
    val root = freshRoot()
    SnapTable.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), root, "id")
    intercept[java.util.ConcurrentModificationException] {
      SnapTable.mergeImpl(spark, root, "id",
        Seq((2L, "B")).toDF("id", "v"), 1,
        beforePublish = () => {
          SnapTable.commit(Seq((2L, "rival")).toDF("id", "v"), root, "id")
          ()
        })
    }
    // the refused merge published nothing: the rival append is intact
    assert(SnapTable.read(spark, root).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b"), (2L, "rival")))
  }

  test("merge and compact REFUSE a concurrent overwrite") {
    val root = freshRoot()
    SnapTable.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), root, "id")
    intercept[java.util.ConcurrentModificationException] {
      SnapTable.mergeImpl(spark, root, "id",
        Seq((1L, "A")).toDF("id", "v"), 1,
        beforePublish = () => {
          SnapTable.commit(Seq((9L, "z")).toDF("id", "v"), root, "id",
            action = "overwrite")
          ()
        })
    }
    assert(SnapTable.read(spark, root).as[(Long, String)].collect().toSet ==
      Set((9L, "z")))
    intercept[java.util.ConcurrentModificationException] {
      SnapTable.compactImpl(spark, root, "id", 1, None,
        beforePublish = () => {
          SnapTable.commit(Seq((8L, "y")).toDF("id", "v"), root, "id",
            action = "overwrite")
          ()
        })
    }
  }

  test("compact REBASES a concurrent append: its file rides along un-compacted") {
    val root = freshRoot()
    (0 until 4).foreach(i =>
      SnapTable.commit(((i * 10 + 1).toLong to (i * 10 + 10).toLong)
        .toDF("id"), root, "id"))
    val v = SnapTable.compactImpl(spark, root, "id", 2, None,
      beforePublish = () => {
        SnapTable.commit((100L to 105L).toDF("id"), root, "id")
        ()
      })
    assert(v == 6)
    val live = SnapTable.liveFiles(root)
    assert(live.size == 3, s"2 compacted + 1 rebased append, got $live")
    assert(SnapTable.read(spark, root).agg(sum("id")).head().getLong(0) ==
      (1L to 40L).sum + (100L to 105L).sum)
  }

  test("merge prunes per-file by KEY MEMBERSHIP, not a global envelope") {
    val root = freshRoot()
    Seq((1L, 100L), (101L, 200L), (201L, 300L), (301L, 400L)).foreach {
      case (a, b) => SnapTable.commit((a to b).map(i => (i, "old"))
        .toDF("id", "v"), root, "id")
    }
    // keys {5, 399} span the whole table; the envelope would rewrite
    // all four files, membership rewrites exactly the two holders
    val (_, rewritten) = SnapTable.merge(spark, root, "id",
      Seq((5L, "NEW"), (399L, "NEW")).toDF("id", "v"))
    assert(rewritten == 2, s"sparse wide-span update rewrote $rewritten files")
    val got = SnapTable.read(spark, root)
    assert(got.count() == 400)
    assert(got.filter(col("v") === "NEW").as[(Long, String)]
      .collect().map(_._1).toSet == Set(5L, 399L))
  }

  test("checkpoint: a snapshot read replays only the log tail") {
    val prev = sys.props.get("graft.snap.checkpointInterval")
    sys.props("graft.snap.checkpointInterval") = "5"
    try {
      val root = freshRoot()
      (1 to 12).foreach(i =>
        SnapTable.commit(Seq(i.toLong).toDF("id"), root, "id"))
      // checkpoints landed at v5 and v10; reading latest must replay
      // only v11, v12 above c10
      SnapTable.manifestFilesRead.set(0L)
      val live = SnapTable.liveFiles(root)
      val reads = SnapTable.manifestFilesRead.get()
      assert(live.size == 12)
      assert(reads == 2, s"expected 2 tail manifest reads above the " +
        s"checkpoint, got $reads")
      assert(SnapTable.read(spark, root).agg(sum("id")).head().getLong(0)
        == (1L to 12L).sum)
      // time travel BELOW the newest checkpoint uses the older one...
      SnapTable.manifestFilesRead.set(0L)
      assert(SnapTable.liveFiles(root, Some(7)).size == 7)
      assert(SnapTable.manifestFilesRead.get() == 2) // v6, v7 above c5
      // ...and below every checkpoint falls back to full replay
      assert(SnapTable.liveFiles(root, Some(3)).size == 3)
    } finally {
      prev match {
        case Some(p) => sys.props("graft.snap.checkpointInterval") = p
        case None => sys.props.remove("graft.snap.checkpointInterval")
      }
    }
  }

  test("checkpoint carries batch ids: replay dedup without a full log scan") {
    val prev = sys.props.get("graft.snap.checkpointInterval")
    sys.props("graft.snap.checkpointInterval") = "3"
    try {
      val root = freshRoot()
      (0L until 6L).foreach(b => assert(SnapTable.commitStreamBatch(
        Seq(b).toDF("id"), b, root, "id").isDefined))
      // batch 0 is recorded only BELOW the newest checkpoint; the
      // dedup must still see it through the checkpoint's batch list
      SnapTable.manifestFilesRead.set(0L)
      assert(SnapTable.commitStreamBatch(Seq(0L).toDF("id"), 0L, root,
        "id").isEmpty)
      assert(SnapTable.manifestFilesRead.get() <= 3,
        "batch-id probe must not replay the whole log")
      assert(SnapTable.read(spark, root).count() == 6)
    } finally {
      prev match {
        case Some(p) => sys.props("graft.snap.checkpointInterval") = p
        case None => sys.props.remove("graft.snap.checkpointInterval")
      }
    }
  }

  test("changes() across a schema-evolving span aligns columns, not throws") {
    val root = freshRoot()
    SnapTable.commit(Seq((1L, "a")).toDF("id", "v"), root, "id")
    SnapTable.commit(Seq((2L, "b", 9L)).toDF("id", "v", "extra"), root, "id",
      action = "overwrite")
    val (ins, del) = SnapTable.changes(spark, root, 1, 2)
    assert(ins.columns.toSet == Set("id", "v", "extra"))
    assert(ins.as[(Long, String, Option[Long])].collect().toSet ==
      Set((2L, "b", Some(9L))))
    assert(del.as[(Long, String, Option[Long])].collect().toSet ==
      Set((1L, "a", None)))
  }

  test("vacuum spares RECENT unreferenced files (in-flight grace window)") {
    val root = freshRoot()
    SnapTable.commit((1L to 10L).toDF("id"), root, "id")
    SnapTable.commit((1L to 5L).toDF("id"), root, "id", action = "overwrite")
    // age the superseded v1 file past the 24 h grace window (the
    // table was built moments ago; production files are days old)
    import scala.jdk.CollectionConverters._
    Files.walk(Paths.get(root, "data")).iterator().asScala
      .filter(p => Files.isRegularFile(p) &&
        p.getFileName.toString.endsWith(".parquet"))
      .foreach(p => Files.setLastModifiedTime(p,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - 25L * 3600L * 1000)))
    // simulate an in-flight commit: data JUST written, manifest not
    // yet published — vacuum must not delete it out from under the
    // writer; the grace window (not an ever-referenced full-log scan)
    // is what protects it
    val inflight = Paths.get(root, "data", "inflight")
    Files.createDirectories(inflight)
    val orphan = inflight.resolve("part-00000.parquet")
    Files.write(orphan, Array[Byte](1, 2, 3))
    val removed = SnapTable.vacuum(root, keepFrom = 2) // default grace
    assert(removed == 1, s"only v1's superseded file should go, got $removed")
    assert(Files.exists(orphan), "an unpublished commit's file must survive")
    // and once past the grace window, an abandoned orphan is
    // reclaimed instead of leaking forever
    Files.setLastModifiedTime(orphan,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 25L * 3600L * 1000))
    assert(SnapTable.vacuum(root, keepFrom = 2) == 1,
      "an aged-out orphan must be reclaimable")
    // grace is PER COMMIT DIR: an old file whose sibling is still
    // being written (one commit = one uuid dir) stays protected —
    // a long write phase must not lose its early files mid-commit
    val slow = Paths.get(root, "data", "slowcommit")
    Files.createDirectories(slow)
    val early = slow.resolve("part-00000.parquet")
    val late = slow.resolve("part-00001.parquet")
    Files.write(early, Array[Byte](1))
    Files.write(late, Array[Byte](2))
    Files.setLastModifiedTime(early,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 25L * 3600L * 1000))
    assert(SnapTable.vacuum(root, keepFrom = 2) == 0,
      "a young sibling must protect the whole commit dir")
    assert(Files.exists(early) && Files.exists(late))
  }

  test("versionAt is O(log n) and vacuum O(tail) in manifest reads") {
    val root = freshRoot()
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType)))
    // 60 zero-file commits: versionAt/vacuum read MANIFESTS, so data
    // files are irrelevant — this keeps the spec fast
    (1 to 60).foreach { _ =>
      SnapTable.publish(root, "append", Nil, frameSchema = Some(schema))
    }
    val t = System.currentTimeMillis() + 1000
    val c0 = SnapTable.manifestFilesRead.get()
    assert(SnapTable.versionAt(root, t).contains(60))
    val versionReads = SnapTable.manifestFilesRead.get() - c0
    assert(versionReads <= 8,
      s"binary search over 60 commits must read ~log2(60) manifests, " +
        s"read $versionReads")
    val c1 = SnapTable.manifestFilesRead.get()
    SnapTable.vacuum(root, keepFrom = 55, graceMs = 0L)
    val vacuumReads = SnapTable.manifestFilesRead.get() - c1
    // live(55) = checkpoint at 40 + replay 41..55, plus manifests
    // 56..60 — well under the 60+ a full-log scan would cost
    assert(vacuumReads <= 25,
      s"vacuum must resolve from checkpoint + tail, read $vacuumReads")
  }

  test("delete: copy-on-write of only the touched files, vacuum reclaims") {
    val root = freshRoot()
    Seq((1L, 100L), (101L, 200L), (201L, 300L)).foreach { case (a, b) =>
      SnapTable.commit((a to b).toDF("id"), root, "id")
    }
    val before = SnapTable.liveFiles(root).map(_.path).toSet
    val (v, touched, nDeleted) = SnapTable.delete(spark, root, "id",
      150L, 250L)
    assert((v, touched, nDeleted) == (4, 2, 101L),
      s"(v=$v touched=$touched deleted=$nDeleted)")
    val after = SnapTable.liveFiles(root).map(_.path).toSet
    assert(before.intersect(after).size == 1, "file 1 must survive by path")
    val got = SnapTable.read(spark, root)
    assert(got.count() == 199)
    assert(got.filter(col("id").between(150, 250)).isEmpty)
    // pre-delete snapshot still readable until vacuumed away
    assert(SnapTable.read(spark, root, Some(3)).count() == 300)
    assert(SnapTable.vacuum(root, keepFrom = 4, graceMs = 0L) == 2)
    intercept[Throwable](SnapTable.read(spark, root, Some(3)).count())

    // extra predicate + no-range-overlap path
    val (_, t2, n2) = SnapTable.delete(spark, root, "id", 500L, 600L)
    assert(t2 == 0 && n2 == 0L)
    val (_, _, n3) = SnapTable.delete(spark, root, "id", 1L, 10L,
      extraPredicate = Some(col("id") % 2 === 0))
    assert(n3 == 5L)
    assert(SnapTable.read(spark, root).count() == 194)
  }

  test("stress: concurrent appenders and mergers — appends never lost, merges atomic") {
    val root = freshRoot()
    SnapTable.commit(Seq((0L, "base")).toDF("id", "v"), root, "id")
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    // 3 appenders on disjoint key ranges race 2 mergers that keep
    // rewriting key 0 — every interleaving either rebases (appends
    // carried) or refuses with CME (nothing published); nothing is
    // ever silently dropped
    val appenders = (1 to 3).map { t =>
      Future {
        (1 to 3).foreach { j =>
          SnapTable.commit(Seq((t * 100L + j, s"a$t$j")).toDF("id", "v"),
            root, "id")
        }
      }
    }
    val mergers = (1 to 2).map { t =>
      Future {
        (1 to 3).foreach { j =>
          try {
            SnapTable.merge(spark, root, "id",
              Seq((0L, s"m$t$j")).toDF("id", "v"))
            ()
          } catch {
            case _: java.util.ConcurrentModificationException => ()
          }
        }
      }
    }
    Await.result(Future.sequence(appenders ++ mergers), 300.seconds)
    val got = SnapTable.read(spark, root).as[(Long, String)]
      .collect().toMap
    for (t <- 1 to 3; j <- 1 to 3)
      assert(got.get(t * 100L + j).contains(s"a$t$j"),
        s"append ($t,$j) lost under concurrent merges: $got")
    assert(got.size == 10, got.toString)
    assert(got(0L) == "base" || got(0L).startsWith("m"), got(0L))
  }

  test("schema rides the manifest: O(1) cold resolution, zero footers") {
    val root = freshRoot()
    (1 to 50).foreach(i => SnapTable.commit(
      Seq((i.toLong, s"v$i")).toDF("id", "s"), root, "id"))
    val before = SnapTable.manifestFilesRead.get()
    val schema = SnapTable.tableSchema(root)
    // ONE manifest read — not O(commits), no parquet footers involved
    assert(SnapTable.manifestFilesRead.get() - before == 1,
      s"read ${SnapTable.manifestFilesRead.get() - before} log files")
    assert(schema.map(_.fieldNames.toSeq).contains(Seq("id", "s")), schema)
    assert(schema.get("id").dataType ==
      org.apache.spark.sql.types.LongType)

    // additive evolution: a commit with an extra column UNIONS
    SnapTable.commit(Seq((99L, "x", 7.5)).toDF("id", "s", "score"),
      root, "id")
    assert(SnapTable.tableSchema(root).map(_.fieldNames.toSeq)
      .contains(Seq("id", "s", "score")))
    // as-of resolution sees the schema of ITS version
    assert(SnapTable.tableSchema(root, Some(50)).map(_.fieldNames.toSeq)
      .contains(Seq("id", "s")))
  }

  test("empty live set stays readable: delete-everything, then read") {
    val root = freshRoot()
    SnapTable.commit((1L to 10L).map(i => (i, s"r$i")).toDF("id", "s"),
      root, "id")
    val (_, _, deleted) = SnapTable.delete(spark, root, "id", 1L, 10L)
    assert(deleted == 10L)
    assert(SnapTable.liveFiles(root).isEmpty)
    val empty = SnapTable.read(spark, root)
    assert(empty.columns.toSeq == Seq("id", "s"))
    assert(empty.count() == 0)
    // and the table accepts data again afterward
    SnapTable.commit(Seq((42L, "back")).toDF("id", "s"), root, "id")
    assert(SnapTable.read(spark, root).count() == 1)
  }

  test("versions beyond the five-digit padding stay visible") {
    val root = freshRoot()
    SnapTable.commit(Seq((1L, "a")).toDF("id", "s"), root, "id")
    // forge a six-digit version the way f"%05d" itself would emit it
    Files.write(Paths.get(root, "_log", "v100000.manifest"),
      "action=append\n".getBytes("UTF-8"))
    assert(SnapTable.currentVersion(root) == 100000)
    assert(SnapTable.read(spark, root).count() == 1) // replay includes it
  }

  test("no-op merge and delete publish NOTHING") {
    val root = freshRoot()
    SnapTable.commit((1L to 10L).toDF("id"), root, "id")
    val v = SnapTable.currentVersion(root)
    // delete range no file intersects
    val (dv, nf, nr) = SnapTable.delete(spark, root, "id", 500L, 600L)
    assert((dv, nf, nr) == (v, 0, 0L))
    // merge with an empty update frame
    val (mv, mf) = SnapTable.merge(spark, root, "id",
      (1L to 10L).toDF("id").filter(lit(false)))
    assert((mv, mf) == (v, 0))
    // the log is untouched: a concurrent reader/stream sees no commit
    assert(SnapTable.currentVersion(root) == v)
    assert(SnapTable.manifests(root).size == v)
  }

  test("publishReplace refuses ANY concurrent commit") {
    val root = freshRoot()
    SnapTable.commit(Seq((1L, "a")).toDF("id", "s"), root, "id")
    val base = SnapTable.currentVersion(root)
    SnapTable.commit(Seq((2L, "b")).toDF("id", "s"), root, "id")
    // a SQL row-level operation's predicate is arbitrary: even a plain
    // concurrent APPEND could hold rows it would have matched, so the
    // replace publish must refuse (unlike merge's key-set rebase)
    intercept[java.util.ConcurrentModificationException] {
      SnapTable.publishReplace(root, base, Seq.empty, None)
    }
  }

  test("multi-file commits carve near-disjoint stat ranges") {
    val root = freshRoot()
    SnapTable.commit((1L to 1000L).toDF("id"), root, "id",
      filesPerCommit = 4)
    val live = SnapTable.liveFiles(root)
    assert(live.size == 4, live.toString)
    // range partitioning: files sorted by min must not overlap
    val sorted = live.sortBy(_.min)
    sorted.sliding(2).foreach {
      case Seq(a, b) => assert(a.max < b.min, s"$a overlaps $b")
      case _ => ()
    }
  }

  test("file:-scheme root drives the log through the Hadoop FileSystem") {
    // same contract as a bare path, but every log/manifest/props/vacuum
    // operation routes through FileSystem.get — the seam a cluster
    // deployment points at hdfs:// or s3a://
    val root = "file:" + freshRoot() + "/t"
    val v1 = SnapTable.commit((1L to 100L).toDF("id"), root, "id")
    val v2 = SnapTable.commit((101L to 200L).toDF("id"), root, "id")
    assert((v1, v2) == ((1, 2)))
    assert(SnapTable.read(spark, root).count() == 200)
    assert(SnapTable.read(spark, root, Some(1)).count() == 100)
    assert(SnapTable.liveFiles(root).size == 2)
    // skipping still prunes through the scheme'd listing
    assert(SnapTable.readPruned(spark, root, "id", 150L, 160L)
      .count() == 11)
    // row-level delete + vacuum, all through the Hadoop API
    val (_, touched, deleted) = SnapTable.delete(spark, root, "id",
      101L, 150L)
    assert(touched == 1 && deleted == 50L)
    assert(SnapTable.read(spark, root).count() == 150)
    assert(SnapTable.vacuum(root,
      keepFrom = SnapTable.currentVersion(root), graceMs = 0L) == 1)
    // the DSv2 connector reads and writes the same scheme'd root
    assert(spark.read.format("graft.sources.SnapSourceProvider")
      .load(root).count() == 150)
    (201L to 250L).toDF("id").write
      .format("graft.sources.SnapSourceProvider")
      .option("statCols", "id").mode("append").save(root)
    assert(SnapTable.read(spark, root).count() == 200)
    // SQL catalog ops against the scheme'd root
    spark.conf.set("spark.sql.catalog.graftsnap",
      classOf[graft.sources.SnapCatalog].getName)
    assert(spark.sql(s"SELECT count(*) FROM graftsnap.`$root`")
      .head().getLong(0) == 200)
  }

  test("null counts ride the manifest; legacy lines parse as unknown") {
    val root = freshRoot()
    SnapTable.commit(
      Seq(Some(1L), Some(5L), None).map(id => (id, "x")).toDF("id", "s"),
      root, "id")
    val f = SnapTable.liveFiles(root).head
    assert(f.rows == 3 && (f.min, f.max) == ((1L, 5L)))
    assert(f.nullCount("id").contains(1L),
      s"the commit must record the null count, got $f")
    // a LEGACY manifest line (col=min:max, no third field) must parse
    // with nullCount UNKNOWN — readers then assume nulls may exist
    val legacyRoot = freshRoot()
    java.nio.file.Files.createDirectories(Paths.get(legacyRoot, "_log"))
    java.nio.file.Files.write(Paths.get(legacyRoot, "_log", "v00001.manifest"),
      "action=append\nfile:/nowhere.parquet\t7\tid=1:5\n".getBytes("UTF-8"))
    val lf = SnapTable.liveFiles(legacyRoot).head
    assert(lf.rows == 7 && (lf.min, lf.max) == ((1L, 5L)))
    assert(lf.nullCount("id").isEmpty,
      "legacy stats must read back as null-count-unknown")
  }

  test("versionAt on a NON-monotonic legacy log falls back to the " +
      "linear reverse scan") {
    def mkLog(ts: Seq[Long]): String = {
      val root = freshRoot()
      val dir = Paths.get(root, "_log")
      Files.createDirectories(dir)
      ts.zipWithIndex.foreach { case (t, i) =>
        Files.write(dir.resolve(f"v${i + 1}%05d.manifest"),
          s"action=append\nts=$t\n".getBytes("UTF-8"))
      }
      root
    }
    // a log copy scrambled the ts= headers. ts = (8000, 1200, 2000,
    // 500, 9000), t = 1500: the blind binary search probes
    // v3 (2000 > t → left half), then v1 (8000) — and 8000 > 2000 at
    // a LOWER index is the probed inversion; without detection the
    // search would conclude NO version has ts <= 1500. The linear
    // reverse scan — what the detection falls back to — finds v4
    // (500 <= 1500), the newest version at or before t.
    val scrambled = mkLog(Seq(8000L, 1200L, 2000L, 500L, 9000L))
    assert(SnapTable.versionAt(scrambled, 1500L).contains(4),
      "detected inversion must fall back to the reverse scan's answer")
    // a MONOTONIC log keeps the O(log n) path and its answers
    val clean = mkLog(Seq(1000L, 2000L, 3000L, 4000L, 5000L))
    assert(SnapTable.versionAt(clean, 3500L).contains(3))
    assert(SnapTable.versionAt(clean, 500L).isEmpty)
    assert(SnapTable.versionAt(clean, 9999L).contains(5))
  }

  test("statCols live inside the v1 manifest; sidecar props file is " +
      "a fast path only") {
    val root = freshRoot()
    SnapTable.createEmpty(root,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.LongType))),
      Map("statCols" -> "k"))
    assert(SnapTable.tableProperty(root, "statCols").contains("k"))
    assert(SnapTable.tableProperty(root, "nope").isEmpty)
    // the catalog resolves statCols WITHOUT the sidecar file — the
    // crash-between-claim-and-props case the advisor flagged
    spark.conf.set("spark.sql.catalog.graftsnap",
      classOf[graft.sources.SnapCatalog].getName)
    spark.sql(s"INSERT INTO graftsnap.`$root` VALUES (7)")
    val f = SnapTable.liveFiles(root).head
    assert(f.stats.map(_._1) == Seq("k"),
      s"INSERT must find statCols from the v1 manifest, got ${f.stats}")
  }

  test("vacuum records the retention horizon; time travel below it " +
      "fails fast at plan time") {
    val root = freshRoot()
    SnapTable.commit((1L to 10L).toDF("id"), root, "id")   // v1
    SnapTable.commit((11L to 20L).toDF("id"), root, "id")  // v2
    SnapTable.commit((1L to 5L).toDF("id"), root, "id",
      action = "overwrite")                                // v3
    assert(SnapTable.retainedFrom(root).isEmpty)
    SnapTable.vacuum(root, keepFrom = 3, graceMs = 0L)
    assert(SnapTable.retainedFrom(root).contains(3))
    // below the horizon: a CLEAR plan-time error naming the earliest
    // retained version — not a mid-scan FileNotFoundException
    val e = intercept[IllegalStateException](
      SnapTable.liveFiles(root, Some(2)))
    assert(e.getMessage.contains("earliest retained version is 3"))
    intercept[IllegalStateException](
      SnapTable.read(spark, root, Some(1)))
    // at and above the horizon, and at the current snapshot: fine
    assert(SnapTable.read(spark, root, Some(3)).count() == 5)
    assert(SnapTable.read(spark, root).count() == 5)
    // the horizon is monotone: a later vacuum with a SMALLER keepFrom
    // refuses (it would resolve a vacuumed snapshot)
    intercept[IllegalStateException](
      SnapTable.vacuum(root, keepFrom = 2, graceMs = 0L))
    // and a larger keepFrom advances it
    SnapTable.commit((6L to 9L).toDF("id"), root, "id")    // v4
    SnapTable.vacuum(root, keepFrom = 4, graceMs = 0L)
    assert(SnapTable.retainedFrom(root).contains(4))
  }

  test("deleteDv: merge-on-read delete marks positions, leaves the " +
      "data file in place") {
    val root = freshRoot()
    Seq((1L, 100L), (101L, 200L), (201L, 300L)).foreach { case (a, b) =>
      SnapTable.commit((a to b).toDF("id"), root, "id")
    }
    val pathsBefore = SnapTable.liveFiles(root).map(_.path).toSet
    val (v, changed, deleted) = SnapTable.deleteDv(spark, root, "id",
      150L, 160L)
    assert((v, changed, deleted) == (4, 1, 11L),
      s"(v=$v changed=$changed deleted=$deleted)")
    val live = SnapTable.liveFiles(root)
    // NO file was rewritten — same paths, one gained a DV reference
    assert(live.map(_.path).toSet == pathsBefore,
      "a DV delete must not rewrite or drop data files")
    val dvd = live.filter(_.dv.isDefined)
    assert(dvd.size == 1 && dvd.head.dv.get._2 == 11L)
    assert(dvd.head.liveRows == 89L && dvd.head.rows == 100L)
    // reads subtract the positions
    val got = SnapTable.read(spark, root)
    assert(got.count() == 289)
    assert(got.filter(col("id").between(150, 160)).isEmpty)
    assert(got.agg(sum("id")).head().getLong(0) ==
      (1L to 300L).sum - (150L to 160L).sum)
    // pruned reads too
    assert(SnapTable.readPruned(spark, root, "id", 140L, 170L)
      .count() == 31 - 11)
    // time travel to the pre-delete snapshot still sees every row
    assert(SnapTable.read(spark, root, Some(3)).count() == 300)
    // a second delete UNIONS into a new sidecar; re-deleting dead
    // rows neither double-counts nor re-marks
    val (_, c2, d2) = SnapTable.deleteDv(spark, root, "id", 155L, 165L)
    assert((c2, d2) == (1, 5L), s"(c=$c2 d=$d2)")
    assert(SnapTable.read(spark, root).count() == 284)
    // no matching rows → no commit
    val (v3, c3, d3) = SnapTable.deleteDv(spark, root, "id", 150L, 160L)
    assert(c3 == 0 && d3 == 0L && v3 == SnapTable.currentVersion(root))
    // CoW merge on the DV'd file keeps deleted rows dead and
    // materializes the DV away
    val (_, nTouched) = SnapTable.merge(spark, root, "id",
      Seq(155L).toDF("id"))
    assert(nTouched == 1)
    val after = SnapTable.read(spark, root)
    assert(after.filter(col("id") === 155L).count() == 1,
      "the merge re-inserts key 155")
    assert(after.count() == 285)
    assert(after.filter(col("id").between(150, 154)).isEmpty,
      "other deleted rows stay dead through the rewrite")
    assert(SnapTable.liveFiles(root).forall(_.dv.isEmpty) ||
      SnapTable.liveFiles(root).filter(_.dv.isDefined)
        .forall(f => f.min > 165 || f.max < 150),
      "the rewrite materializes the touched file's DV")
  }

  test("deleteDv: fully-dead file is dropped; over-limit falls back " +
      "to copy-on-write") {
    val root = freshRoot()
    Seq((1L, 50L), (51L, 100L)).foreach { case (a, b) =>
      SnapTable.commit((a to b).toDF("id"), root, "id")
    }
    // kill every row of file 1 → the file leaves the live set
    val (_, c1, d1) = SnapTable.deleteDv(spark, root, "id", 1L, 50L)
    assert((c1, d1) == (1, 50L))
    val live = SnapTable.liveFiles(root)
    assert(live.size == 1 && live.head.dv.isEmpty)
    assert(SnapTable.read(spark, root).count() == 50)
    // over the position cap: falls back to CoW (file rewritten)
    val old = sys.props.get("graft.snap.dvRowLimit")
    sys.props("graft.snap.dvRowLimit") = "5"
    try {
      val before = SnapTable.liveFiles(root).map(_.path).toSet
      val (_, c2, d2) = SnapTable.deleteDv(spark, root, "id", 51L, 70L)
      assert(d2 == 20L)
      val after = SnapTable.liveFiles(root)
      assert(after.forall(_.dv.isEmpty), "CoW fallback writes no DV")
      assert(after.map(_.path).toSet.intersect(before).isEmpty,
        "CoW fallback rewrites the touched file")
      assert(SnapTable.read(spark, root).count() == 30)
      assert(c2 == 1)
    } finally {
      old match {
        case Some(v) => sys.props("graft.snap.dvRowLimit") = v
        case None => sys.props -= "graft.snap.dvRowLimit"
      }
      ()
    }
  }

  test("changes() nets a DV delete to exactly the deleted rows; " +
      "vacuum reclaims dead sidecars after compaction") {
    val root = freshRoot()
    SnapTable.commit((1L to 100L).toDF("id"), root, "id") // v1
    SnapTable.deleteDv(spark, root, "id", 10L, 12L)       // v2
    val (ins, del) = SnapTable.changes(spark, root, 1, 2)
    assert(ins.isEmpty, "a pure delete inserts nothing")
    assert(del.select("id").as[Long].collect().sorted.toSeq ==
      Seq(10L, 11L, 12L))
    // compact materializes the DV; vacuum then reclaims the sidecar
    // and the superseded file
    SnapTable.compact(spark, root, "id", targetFiles = 1)  // v3
    assert(SnapTable.liveFiles(root).forall(_.dv.isEmpty))
    assert(SnapTable.read(spark, root).count() == 97)
    val removed = SnapTable.vacuum(root,
      keepFrom = SnapTable.currentVersion(root), graceMs = 0L)
    assert(removed == 2, s"old data file + dv sidecar, got $removed")
    assert(SnapTable.read(spark, root).count() == 97)
  }

  test("mergeDv: merge-on-read upsert DVs the preimages and lands " +
      "postimage + insert files") {
    val root = freshRoot()
    Seq((1L, 100L), (101L, 200L)).foreach { case (a, b) =>
      SnapTable.commit((a to b).map(i => (i, i * 10)).toDF("id", "v"),
        root, "id")
    }
    val before = SnapTable.liveFiles(root).map(_.path).toSet
    val updates = Seq((50L, -1L), (60L, -2L), (500L, -3L))
      .toDF("id", "v")
    val (ver, changed, updated) = SnapTable.mergeDv(spark, root, "id",
      updates)
    assert((ver, changed, updated) == (3, 1, 2L),
      s"(v=$ver changed=$changed updated=$updated)")
    val live = SnapTable.liveFiles(root)
    // originals still present by path; one carries a 2-position DV;
    // two fresh files: the postimage (matched keys) and the insert
    assert(before.subsetOf(live.map(_.path).toSet),
      "mergeDv must not rewrite existing files")
    assert(live.count(_.dv.isDefined) == 1)
    assert(live.size == 4)
    val got = SnapTable.read(spark, root)
    assert(got.count() == 201)
    assert(got.filter(col("id").isin(50L, 60L, 500L))
      .select("v").as[Long].collect().sorted.toSeq ==
      Seq(-3L, -2L, -1L))
    // manifest tags: rowop=merge + the postimage file
    val m = SnapTable.manifests(root).last
    assert(m.rowOp.contains("merge"))
    assert(m.postimages.size == 1)
    // upsert of an upserted key: the postimage file gets DV'd in turn
    val (_, c2, u2) = SnapTable.mergeDv(spark, root, "id",
      Seq((50L, -9L)).toDF("id", "v"))
    assert((c2, u2) == (1, 1L))
    assert(SnapTable.read(spark, root)
      .filter(col("id") === 50L).select("v").as[Long].head() == -9L)
    assert(SnapTable.read(spark, root).count() == 201)
  }

  test("StrStat: byte compare, truncation-safe upper bound, prefixes") {
    import SnapTable.StrStat
    def b(s: String) = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    // unsigned byte order: 0xEE 80 80 (U+E000) < 0xF0 9F 98 80 (emoji)
    assert(StrStat.cmp(b(""),
      new String(Character.toChars(0x1F600)).getBytes("UTF-8")) < 0)
    assert(StrStat.cmp(b("a"), b("ab")) < 0) // prefix sorts first
    assert(StrStat.cmp(b("b"), b("ab")) > 0)
    // safeUpper: bump last non-0xFF byte, drop the tail
    assert(StrStat.safeUpper(b("abc")).map(new String(_, "UTF-8"))
      .contains("abd"))
    assert(StrStat.safeUpper(Array(0x61.toByte, 0xff.toByte))
      .map(_.toSeq).contains(Seq(0x62.toByte)))
    assert(StrStat.safeUpper(Array(0xff.toByte, 0xff.toByte)).isEmpty)
    // prefixOfBytes truncates at the byte cap and flags it
    val long = "x" * 100
    val (p, t) = StrStat.prefixOfBytes(b(long))
    assert(t && StrStat.dec(p).length == StrStat.maxLen)
    val (q, u) = StrStat.prefixOfBytes(b("short"))
    assert(!u && new String(StrStat.dec(q), "UTF-8") == "short")
  }

  test("manifests round-trip string boxes, incl. truncated + all-null;" +
      " legacy manifests without them still parse") {
    val root = freshRoot()
    val p = "s" * 70
    SnapTable.commit(Seq((1L, "alpha", p + "1"), (2L, "omega", p + "2"),
      (3L, null.asInstanceOf[String], p + "3"))
      .toDF("id", "a", "b"), root, "id")
    SnapTable.commit(Seq((4L, null.asInstanceOf[String],
      null.asInstanceOf[String])).toDF("id", "a", "b"), root, "id")
    val fs = SnapTable.liveFiles(root).sortBy(_.min)
    assert(fs.length == 2)
    val f1 = fs.head
    val boxA = f1.strBox("a").get
    assert(new String(boxA.minBytes, "UTF-8") == "alpha")
    assert(new String(boxA.maxBytes, "UTF-8") == "omega")
    assert(!boxA.minTrunc && !boxA.maxTrunc && boxA.nulls == 1L &&
      !boxA.allNull)
    val boxB = f1.strBox("b").get
    assert(boxB.minTrunc && boxB.maxTrunc)
    assert(new String(boxB.minBytes, "UTF-8") == "s" * 64)
    assert(boxB.upperExclusive.map(new String(_, "UTF-8"))
      .contains("s" * 63 + "t"))
    val f2 = fs(1)
    assert(f2.strBox("a").exists(b => b.allNull && b.nulls == 1L))
    // a column with no box (legacy manifest shape) reads as None
    assert(f1.strBox("nope").isEmpty)
  }

  test("hasScheme treats one-letter prefixes as drive letters, not " +
      "URI schemes") {
    import graft.io.SnapIo
    assert(!SnapIo.hasScheme("C:\\tables\\t"))
    assert(!SnapIo.hasScheme("C:/tables/t"))
    assert(SnapIo.hasScheme("file:/tmp/t"))
    assert(SnapIo.hasScheme("hdfs://nn/t"))
    assert(SnapIo.hasScheme("s3a://bucket/t"))
    assert(!SnapIo.hasScheme("/abs/path"))
    assert(!SnapIo.hasScheme("rel/path"))
  }

  /** Four single-file commits of k = 1..100 (25 keys each). */
  private def fourFiles(): String = {
    val root = freshRoot()
    (0 until 4).foreach { i =>
      SnapTable.commit(spark.range(i * 25 + 1, i * 25 + 26).select(
        col("id").as("k"), (col("id") * 3).as("v")), root, "k")
    }
    root
  }

  test("building a snap read runs no job, on a clean and on a DV'd table") {
    val root = fourFiles()
    def builds(): Seq[(String, Int)] = {
      val v = SnapTable.currentVersion(root)
      Seq(
        "read" -> TestSpark.jobsOf { SnapTable.read(spark, root); () },
        "readPruned" -> TestSpark.jobsOf {
          SnapTable.readPruned(spark, root, "k", 10L, 40L); () },
        "readPrunedMulti" -> TestSpark.jobsOf {
          SnapTable.readPrunedMulti(spark, root, Seq("k" -> ((10L, 40L))))
          () },
        "changes" -> TestSpark.jobsOf {
          SnapTable.changes(spark, root, v - 1, v); () })
    }
    val clean = builds()
    assert(clean.forall(_._2 == 0), clean)
    SnapTable.deleteDv(spark, root, "k", 3L, 5L)
    assert(SnapTable.liveFiles(root).exists(_.dv.isDefined))
    val dvd = builds()
    assert(dvd.forall(_._2 == 0), dvd)
  }

  test("a DV'd full scan through SnapTable.read is one job") {
    val root = fourFiles()
    SnapTable.deleteDv(spark, root, "k", 3L, 5L)
    val jobs = TestSpark.jobsOf {
      SnapTable.read(spark, root).write.format("noop").mode("overwrite")
        .save()
    }
    assert(jobs == 1, s"one scan job, saw $jobs")
    val viaApi = SnapTable.read(spark, root)
    val viaSql = spark.read.format("graft.sources.SnapSourceProvider")
      .load(root)
    assert(viaApi.count() == 97L && viaApi.exceptAll(viaSql).isEmpty &&
      viaSql.exceptAll(viaApi).isEmpty)
  }

  test("compact, merge and delete pay no schema-inference job") {
    // each count is the operation's shaping and write jobs alone:
    // compact 3 (range sampling + write), merge 4 (key collect +
    // write), delete 2 (emptiness probe + write)
    val r1 = fourFiles()
    assert(TestSpark.jobsOf {
      SnapTable.compact(spark, r1, "k", targetFiles = 2); () } == 3)
    val r2 = fourFiles()
    assert(TestSpark.jobsOf {
      SnapTable.merge(spark, r2, "k", spark.range(20, 31)
        .select(col("id").as("k"), lit(0L).as("v"))); () } == 4)
    val r3 = fourFiles()
    assert(TestSpark.jobsOf {
      SnapTable.delete(spark, r3, "k", 10L, 12L); () } == 2)
    assert(SnapTable.read(spark, r1).count() == 100L)
    assert(SnapTable.read(spark, r2).filter(col("v") === 0L).count() == 11L)
    assert(SnapTable.read(spark, r3).count() == 97L)
  }

  test("rewrites after RENAME COLUMN keep the physical-name mapping") {
    spark.conf.set("spark.sql.catalog.graftsnap",
      classOf[graft.sources.SnapCatalog].getName)
    def renamedTable(extra: String): String = {
      val root = freshRoot() + "/t"
      spark.sql(s"CREATE TABLE graftsnap.`$root` (k BIGINT, a BIGINT, " +
        s"s STRING) $extra TBLPROPERTIES ('statCols'='k')")
      SnapTable.commitStreamBatch(spark.range(1, 201).selectExpr("id AS k",
        "id % 7 AS a", "concat('s', id) AS s"), 0L, root, "k")
      spark.sql(s"ALTER TABLE graftsnap.`$root` RENAME COLUMN s TO label")
      root
    }
    def assertReadable(root: String): Unit = {
      assert(SnapTable.tableSchema(root).get("label").metadata
        .getString("snapPhys") == "s")
      val df = SnapTable.read(spark, root)
      assert(df.filter(col("label").isNull).count() == 0L)
      assert(df.filter(col("label") === "s77").count() == 1L)
    }
    val bucketed = renamedTable("PARTITIONED BY (bucket(8, k))")
    spark.sql(s"CALL graftsnap.system.optimize(table => '$bucketed', " +
      "bucket_count => 4)").collect()
    assertReadable(bucketed)
    val plain = renamedTable("")
    SnapTable.compactZ(spark, plain, Seq("k", "a"), targetFiles = 2)
    assertReadable(plain)
    SnapTable.compact(spark, plain, "k", targetFiles = 2)
    assertReadable(plain)
  }
}
