package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.{ParquetCatalog, Wds}
import graft.ops.Multimodal
import graft.streaming.EventStream

class StreamingMultimodalIoSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("streaming windowed counts equal the batch aggregation") {
    val dir = "/root/testdata/sf0.001"
    val streamed = EventStream.windowedCounts(spark, dir)
      .select("window_start", "event_type", "n")
      .as[(java.sql.Timestamp, String, Long)].collect().toSet
    val batch = Tables(spark, dir, "events")
      .groupBy(date_trunc("hour", col("ts")).as("window_start"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .as[(java.sql.Timestamp, String, Long)].collect().toSet
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("RocksDB state store: same results as the default provider, conf restored") {
    import graft.streaming.StreamState
    val dir = "/root/testdata/sf0.001"
    val key = "spark.sql.streaming.stateStore.providerClass"
    val baseline = spark.conf.get(key)
    // a windowed agg (state-store aggregation) AND a
    // flatMapGroupsWithState sketch — the two stateful machinery
    // families — both run on the spillable provider
    val (win, kmv) = StreamState.withProvider(spark, StreamState.RocksDb) {
      assert(spark.conf.get(key) == StreamState.RocksDb)
      (EventStream.windowedCounts(spark, dir, statePartitions = Some(2))
         .select("window_start", "event_type", "n")
         .as[(java.sql.Timestamp, String, Long)].collect().toSet,
       EventStream.kmvDistinct(spark, dir, statePartitions = Some(2))
         .as[(String, Long, Long, Long)].collect().toSet)
    }
    assert(spark.conf.get(key) == baseline, "provider conf not restored")
    val winDefault = EventStream.windowedCounts(spark, dir,
      statePartitions = Some(2))
      .select("window_start", "event_type", "n")
      .as[(java.sql.Timestamp, String, Long)].collect().toSet
    val kmvDefault = EventStream.kmvDistinct(spark, dir,
      statePartitions = Some(2))
      .as[(String, Long, Long, Long)].collect().toSet
    assert(win == winDefault && win.nonEmpty)
    assert(kmv == kmvDefault && kmv.nonEmpty)
  }

  test("transformWithState leaderboard equals the flatMapGroupsWithState one") {
    val dir = "/root/testdata/sf0.001"
    val key = "spark.sql.streaming.stateStore.providerClass"
    val baseline = spark.conf.get(key)
    val tws = EventStream.topEventsByTypeTws(spark, dir, k = 3,
      statePartitions = Some(2))
      .as[(String, Long, Double, Long)].collect().toSet
    assert(spark.conf.get(key) == baseline, "provider conf not restored")
    val fmgws = EventStream.topEventsByType(spark, dir, k = 3,
      statePartitions = Some(2))
      .as[(String, Long, Double, Long)].collect().toSet
    assert(tws == fmgws && tws.nonEmpty)
  }

  test("stream-static enrichment equals the batch join; durable log matches") {
    val dir = "/root/testdata/sf0.001"
    val dim = Tables(spark, dir, "customer").select("c_custkey", "c_mktsegment")
    val streamed = EventStream
      .enrichedCounts(spark, dir, dim, "c_custkey", "c_mktsegment",
        statePartitions = Some(4))
      .select("c_mktsegment", "n").as[(String, Long)].collect().toSet
    val batch = Tables(spark, dir, "events")
      .join(dim, col("user_id") === col("c_custkey"))
      .groupBy("c_mktsegment").agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().toSet
    assert(streamed == batch && streamed.nonEmpty)
    val sink = java.nio.file.Files.createTempDirectory("graft_enrich").toString + "/log"
    val ckpt = java.nio.file.Files.createTempDirectory("graft_enrich_ckpt").toString
    val durable = EventStream
      .enrichedCountsTo(spark, dir, sink, ckpt, dim, "c_custkey",
        "c_mktsegment", statePartitions = Some(4))
      .select("c_mktsegment", "n").as[(String, Long)].collect().toSet
    assert(durable == batch)
  }

  test("stream-stream attribution join equals the batch time-range join") {
    val dir = "/root/testdata/sf0.001"
    val streamed = EventStream.attributedClicks(spark, dir)
      .as[(Long, Long, Long, Long)].collect().toSet
    val ev = Tables(spark, dir, "events")
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
    val v = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"), col("ts").as("vts"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("cu"), col("event_id").as("click_id"), col("ts").as("cts"))
    val batch = v.join(c, col("user_id") === col("cu") &&
        col("cts") >= col("vts") && col("cts") <= col("vts") + expr("INTERVAL 30 minutes"))
      .select(col("user_id"), col("view_id"), col("click_id"),
        (unix_micros(col("cts")) - unix_micros(col("vts"))).as("lag_us"))
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("streaming dedup checkpoint makes re-runs incremental (0 new files)") {
    val ckpt = java.nio.file.Files.createTempDirectory("graft_dedup_ckpt").toString
    val dir = "/root/testdata/sf0.001"
    val first = graft.streaming.EventStream
      .dedupDocuments(spark, dir, Some(ckpt))
    assert(first.count() > 0)
    // second run over the same checkpoint: the file-source progress
    // marks every file as seen, so AvailableNow runs ZERO batches —
    // O(new)=0 work, and the fresh memory sink stays empty. (A durable
    // sink would still hold the prior complete-mode output; the empty
    // table here is the proof the input was not reprocessed.)
    val second = graft.streaming.EventStream
      .dedupDocuments(spark, dir, Some(ckpt))
    assert(second.isEmpty,
      "re-run with a caught-up checkpoint must not reprocess input")
    // and without a checkpoint each call recomputes the full result
    val fresh = graft.streaming.EventStream.dedupDocuments(spark, dir)
    assert(fresh.count() == first.count())
  }

  test("durable dedup sink: two incremental batches, O(changed) writes") {
    import java.nio.file.{Files, Paths}
    val src = Files.createTempDirectory("graft_dedup_src").toString
    val sink = Files.createTempDirectory("graft_dedup_sink").toString + "/log"
    val ckpt = Files.createTempDirectory("graft_dedup_ckpt2").toString
    def writeDump(name: String, docs: Seq[(Long, String)]): Unit = {
      val stage = Files.createTempDirectory("graft_dump").toString
      docs.toDF("doc_id", "text")
        .withColumn("lang", lit("en")).withColumn("source", lit("t"))
        .withColumn("n_chars", length($"text").cast("long"))
        .coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, Paths.get(s"$src/$name"))
    }
    writeDump("a.parquet", Seq(1L -> "alpha text", 2L -> "beta text", 3L -> "alpha text"))
    val state1 = EventStream
      .dedupDocumentsTo(spark, src, sink, ckpt, glob = "*.parquet")
      .as[(String, Long, Long)].collect()
    assert(state1.length == 2) // alpha (2 copies) + beta
    val batchesAfterFirst = spark.read.parquet(sink)
      .agg(max("__batch")).as[Long].head()
    // second dump: one duplicate of an existing doc, one brand-new doc
    writeDump("b.parquet", Seq(4L -> "alpha text", 5L -> "gamma text"))
    val state2 = EventStream
      .dedupDocumentsTo(spark, src, sink, ckpt, glob = "*.parquet")
    // alpha's count grew through the state store; beta untouched
    val byFp = state2.as[(String, Long, Long)].collect()
      .map { case (_, keep, n) => (keep, n) }.toSet
    assert(byFp == Set((1L, 3L), (2L, 1L), (5L, 1L)))
    // O(changed) writes: the second run appended rows ONLY for the
    // fingerprints batch b touched (alpha updated + gamma new), not a
    // re-emit of the full aggregate — the Complete-mode scale hazard
    val secondRun = spark.read.parquet(sink)
      .filter($"__batch" > batchesAfterFirst)
    assert(secondRun.count() == 2,
      s"expected 2 changed-key rows, got ${secondRun.count()}")
  }

  test("durable attribution join: second run joins new clicks against restored view state") {
    import java.nio.file.{Files, Paths}
    val src = Files.createTempDirectory("graft_join_src").toString
    val sink = Files.createTempDirectory("graft_join_sink").toString + "/log"
    val ckpt = Files.createTempDirectory("graft_join_ckpt").toString
    val t0 = 1704067200L * 1000000000L // 2024-01-01 in nanos
    def writeEvents(name: String, rows: Seq[(Long, Long, Long, String)]): Unit = {
      val stage = Files.createTempDirectory("graft_ev_dump").toString
      rows.toDF("event_id", "ts", "user_id", "event_type")
        .withColumn("value", lit(1.0)).withColumn("props", lit("{}"))
        .coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, Paths.get(s"$src/$name"))
    }
    def min(n: Long) = n * 60L * 1000000000L
    // batch a: one view + one click 10 min later -> one pair
    writeEvents("a.parquet", Seq(
      (1L, t0, 7L, "view"), (2L, t0 + min(10), 7L, "click")))
    val s1 = EventStream.attributedClicksTo(spark, src, sink, ckpt, glob = "*.parquet")
      .select("view_id", "click_id").as[(Long, Long)].collect().toSet
    assert(s1 == Set((1L, 2L)))
    // batch b: ONLY a new click, still inside view 1's window — the
    // pair can only come from join state restored via the checkpoint
    writeEvents("b.parquet", Seq((3L, t0 + min(20), 7L, "click")))
    val s2 = EventStream.attributedClicksTo(spark, src, sink, ckpt, glob = "*.parquet")
      .select("view_id", "click_id").as[(Long, Long)].collect().toSet
    assert(s2 == Set((1L, 2L), (1L, 3L)))
    // O(new) writes: the second run appended only the new pair
    val maxBatch = spark.read.parquet(sink).agg(max("__batch")).as[Long].head()
    val lastRun = spark.read.parquet(sink).filter($"__batch" === maxBatch)
    assert(lastRun.count() == 1, "second run must append only the new join row")
  }

  test("durable zone maps: incremental block updates, O(touched) writes") {
    import java.nio.file.{Files, Paths}
    val src = Files.createTempDirectory("graft_zm_src").toString
    val sink = Files.createTempDirectory("graft_zm_sink").toString + "/log"
    val ckpt = Files.createTempDirectory("graft_zm_ckpt").toString
    def writeDocs(name: String, rows: Seq[(Long, Long)]): Unit = {
      val stage = Files.createTempDirectory("graft_zm_dump").toString
      rows.toDF("doc_id", "n_chars")
        .withColumn("text", lit("t")).withColumn("lang", lit("en"))
        .withColumn("source", lit("s"))
        .select("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, Paths.get(s"$src/$name"))
    }
    // dump a: blocks 0 (ids 0-63) and 1 (id 64)
    writeDocs("a.parquet", Seq(1L -> 100L, 10L -> 9000L, 64L -> 300L))
    val s1 = EventStream.zoneMapsTo(spark, src, sink, ckpt, glob = "*.parquet")
      .select("block", "n_rows", "min_n", "max_n")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(s1 == Set((0L, 2L, 100L, 9000L), (1L, 1L, 300L, 300L)))
    val b1 = spark.read.parquet(sink).agg(max("__batch")).as[Long].head()
    // dump b touches ONLY block 1 — block 0's zone map rides the state
    writeDocs("b.parquet", Seq(70L -> 50L))
    val s2 = EventStream.zoneMapsTo(spark, src, sink, ckpt, glob = "*.parquet")
      .select("block", "n_rows", "min_n", "max_n")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(s2 == Set((0L, 2L, 100L, 9000L), (1L, 2L, 50L, 300L)))
    val secondRun = spark.read.parquet(sink).filter($"__batch" > b1)
    assert(secondRun.count() == 1, "only the touched block may be appended")
  }

  test("durable leaderboard: merged top-k equals batch; untouched types idle") {
    import java.nio.file.{Files, Paths}
    val src = Files.createTempDirectory("graft_topk_src").toString
    val sink = Files.createTempDirectory("graft_topk_sink").toString + "/log"
    val ckpt = Files.createTempDirectory("graft_topk_ckpt").toString
    val t0 = 1704067200L * 1000000000L
    def writeEvents(name: String, rows: Seq[(Long, String, Double)]): Unit = {
      val stage = Files.createTempDirectory("graft_topk_dump").toString
      rows.map { case (id, tpe, v) => (id, t0, id, tpe, v, "{}") }
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, Paths.get(s"$src/$name"))
    }
    writeEvents("a.parquet",
      (1L to 10L).map(i => (i, "view", i.toDouble)) :+ (99L, "click", 5.0))
    val s1 = EventStream.topEventsByTypeTo(spark, src, sink, ckpt,
        glob = "*.parquet")
      .filter($"event_type" === "view")
      .select("event_id").as[Long].collect().toSet
    assert(s1 == Set(10L, 9L, 8L))
    val b1 = spark.read.parquet(sink).agg(max("__batch")).as[Long].head()
    // second dump: a new view leader — click's board must ride the
    // state untouched and NOT re-append
    writeEvents("b.parquet", Seq((200L, "view", 11.0)))
    val s2 = EventStream.topEventsByTypeTo(spark, src, sink, ckpt,
        glob = "*.parquet")
      .filter($"event_type" === "view")
      .orderBy($"rank")
      .select("event_id").as[Long].collect().toSeq
    assert(s2 == Seq(200L, 10L, 9L), s2.toString)
    val secondRun = spark.read.parquet(sink).filter($"__batch" > b1)
    assert(secondRun.filter($"event_type" === "click").isEmpty,
      "an untouched type must not re-append")
    // restart over an unchanged directory appends nothing
    val b2 = spark.read.parquet(sink).agg(max("__batch")).as[Long].head()
    EventStream.topEventsByTypeTo(spark, src, sink, ckpt, glob = "*.parquet")
    assert(spark.read.parquet(sink).filter($"__batch" > b2).isEmpty)
  }

  test("durable sessions: append log equals the memory-sink result; reruns idle") {
    import java.nio.file.Files
    val sink = Files.createTempDirectory("graft_sess_sink").toString + "/log"
    val ckpt = Files.createTempDirectory("graft_sess_ckpt").toString
    val dir = "/root/testdata/sf0.001"
    val durable = EventStream.sessionWindowsTo(spark, dir, sink, ckpt)
    val memory = EventStream.sessionWindows(spark, dir)
    assert(durable.exceptAll(memory).isEmpty &&
      memory.exceptAll(durable).isEmpty)
    val b1 = spark.read.parquet(sink).agg(max("__batch")).as[Long].head()
    EventStream.sessionWindowsTo(spark, dir, sink, ckpt)
    assert(spark.read.parquet(sink).filter($"__batch" > b1).isEmpty,
      "an unchanged directory must append nothing")
  }

  test("durable KMV: state merges across runs and only touched types append") {
    import java.nio.file.{Files, Paths}
    val src = Files.createTempDirectory("graft_kmv_src").toString
    val sink = Files.createTempDirectory("graft_kmv_sink").toString + "/log"
    val ckpt = Files.createTempDirectory("graft_kmv_ckpt").toString
    val t0 = 1704067200L * 1000000000L
    def writeEvents(name: String, rows: Seq[(Long, Long, String)]): Unit = {
      val stage = Files.createTempDirectory("graft_kmv_dump").toString
      rows.zipWithIndex.map { case ((uid, ts, tpe), i) => (i.toLong, ts, uid, tpe) }
        .toDF("event_id", "ts", "user_id", "event_type")
        .withColumn("value", lit(1.0)).withColumn("props", lit("{}"))
        .coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, Paths.get(s"$src/$name"))
    }
    writeEvents("a.parquet",
      (1L to 40L).map(u => (u, t0, "view")) ++ Seq((1L, t0, "click")))
    val s1 = EventStream.kmvDistinctTo(spark, src, sink, ckpt, glob = "*.parquet")
      .select("event_type", "k_used").as[(String, Long)].collect().toMap
    assert(s1("view") == 40L && s1("click") == 1L)
    val b1 = spark.read.parquet(sink).agg(max("__batch")).as[Long].head()
    // second dump: new view users only — click's sketch must ride the
    // state untouched and NOT re-append
    writeEvents("b.parquet", (41L to 80L).map(u => (u, t0, "view")))
    val s2 = EventStream.kmvDistinctTo(spark, src, sink, ckpt, glob = "*.parquet")
      .select("event_type", "k_used").as[(String, Long)].collect().toMap
    assert(s2("view") == 64L && s2("click") == 1L)
    val secondRun = spark.read.parquet(sink).filter($"__batch" > b1)
    assert(secondRun.count() == 1, "only the view sketch may be appended")
    // the merged bottom-64 equals a from-scratch batch over both dumps
    val direct = spark.read.parquet(src)
      .filter($"event_type" === "view")
      .select(shiftrightunsigned(xxhash64($"user_id".cast("string")), 2).as("v"))
      .filter($"v" > 0).distinct().orderBy("v").limit(64)
      .agg(max("v"), count(lit(1))).as[(Long, Long)].head()
    val viewRow = EventStream.kmvDistinctTo(spark, src, sink, ckpt,
      glob = "*.parquet")
      .filter($"event_type" === "view")
      .select("vk", "k_used").as[(Long, Long)].head()
    assert(viewRow == direct, "durable sketch must equal the batch bottom-64")
  }

  test("durable windowed counts equal the memory-sink result") {
    import java.nio.file.Files
    val dir = "/root/testdata/sf0.001"
    val sink = Files.createTempDirectory("graft_win_sink").toString + "/log"
    val ckpt = Files.createTempDirectory("graft_win_ckpt").toString
    val durable = EventStream.windowedCountsTo(spark, dir, sink, ckpt)
      .select("window_start", "event_type", "n", "total_value")
      .as[(java.sql.Timestamp, String, Long, Double)].collect().toSet
    val mem = EventStream.windowedCounts(spark, dir)
      .select("window_start", "event_type", "n", "total_value")
      .as[(java.sql.Timestamp, String, Long, Double)].collect().toSet
    assert(durable == mem && durable.nonEmpty)
  }

  test("left-outer stream-stream join: matches = inner; old lonely views emitted") {
    val dir = "/root/testdata/sf0.001"
    val inner = EventStream.attributedClicks(spark, dir)
      .select("view_id", "click_id").as[(Long, Long)].collect().toSet
    val outer = EventStream.attributedViewsOuter(spark, dir)
      .select(col("view_id"), col("click_id")).as[(Long, Option[Long])]
      .collect().toSet
    val outerMatched = outer.collect { case (v, Some(c)) => (v, c) }
    val lonely = outer.collect { case (v, None) => v }
    // matched rows are EXACTLY the inner join's
    assert(outerMatched == inner, "outer's matched rows must equal inner join")
    // null rows only for views with no attributed click at all
    assert(lonely.intersect(inner.map(_._1)).isEmpty)
    // watermark did release some unmatched views on this fixture
    assert(lonely.nonEmpty)
    // and every released lonely view is old enough that no future
    // click could have matched it (view_ts + attribution < final wm)
    val ev = Tables(spark, dir, "events")
    val maxUs = ev.agg(max(unix_micros(col("ts")))).as[Long].head()
    val lonelyTs = ev.filter(col("event_id").isInCollection(lonely))
      .select(unix_micros(col("ts"))).as[Long].collect()
    val wmUs = maxUs - 2L * 3600 * 1000000 // 2h watermark
    assert(lonelyTs.forall(_ + 30L * 60 * 1000000 < wmUs))
  }

  test("maxFilesPerTrigger bounds micro-batches: one backlog, many batches") {
    import java.nio.file.{Files, Paths}
    val src = Files.createTempDirectory("graft_mft_src").toString
    val sink = Files.createTempDirectory("graft_mft_sink").toString + "/log"
    val ckpt = Files.createTempDirectory("graft_mft_ckpt").toString
    (1 to 3).foreach { i =>
      val stage = Files.createTempDirectory("graft_mft").toString
      Seq((i.toLong, s"text number $i")).toDF("doc_id", "text")
        .withColumn("lang", lit("en")).withColumn("source", lit("t"))
        .withColumn("n_chars", length($"text").cast("long"))
        .coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, Paths.get(s"$src/d$i.parquet"))
    }
    val state = EventStream.dedupDocumentsTo(spark, src, sink, ckpt,
      glob = "*.parquet", maxFilesPerTrigger = Some(1))
    assert(state.count() == 3)
    // the single backlog drained through 3 one-file micro-batches
    val batches = spark.read.parquet(sink)
      .select("__batch").distinct().as[Long].collect().toSet
    assert(batches == Set(0L, 1L, 2L), s"got $batches")
  }

  test("DimSync: streamed snapshots fold into a versioned SCD2 dimension") {
    import java.nio.file.{Files, Paths}
    import org.apache.spark.sql.types.StructType
    import graft.streaming.DimSync
    val src = Files.createTempDirectory("graft_dim_src").toString
    val dim = Files.createTempDirectory("graft_dim").toString + "/dim"
    val ckpt = Files.createTempDirectory("graft_dim_ckpt").toString
    val schema = StructType.fromDDL("k BIGINT, bal DOUBLE, seg STRING")
    def writeSnap(name: String, rows: Seq[(Long, Double, String)]): Unit = {
      val stage = Files.createTempDirectory("graft_snap").toString
      rows.toDF("k", "bal", "seg").coalesce(1)
        .write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, Paths.get(s"$src/$name"))
    }
    def runOnce() = DimSync.run(spark, src, "*.parquet", schema, dim, ckpt,
      Seq("k"), Seq("bal", "seg"), id => f"2021-01-${id + 1}%02d")

    writeSnap("s1.parquet", Seq((1L, 10.0, "A"), (2L, 20.0, "B")))
    val d1 = runOnce()
    assert(d1.count() == 2 && d1.filter(col("is_current")).count() == 2)
    assert(DimSync.currentVersion(spark, dim).contains(0L))

    // update k=1, delete k=2, insert k=3
    writeSnap("s2.parquet", Seq((1L, 11.0, "A"), (3L, 30.0, "C")))
    val d2 = runOnce()
      .select(col("k"), col("bal"), col("valid_to").cast("string"),
        col("is_current"))
      .as[(Long, Double, String, Boolean)].collect().toSet
    assert(d2 == Set(
      (1L, 10.0, "2021-01-02", false),
      (1L, 11.0, null, true),
      (2L, 20.0, "2021-01-02", false),
      (3L, 30.0, null, true)))
    assert(DimSync.currentVersion(spark, dim).contains(1L))

    // caught-up checkpoint: nothing new, version unchanged
    runOnce()
    assert(DimSync.currentVersion(spark, dim).contains(1L))
  }

  test("MvSync: CDC stream maintains a retractable aggregate view") {
    import java.nio.file.{Files, Paths}
    import org.apache.spark.sql.types.StructType
    import graft.streaming.MvSync
    val src = Files.createTempDirectory("graft_mv_src").toString
    val st = Files.createTempDirectory("graft_mv").toString + "/state"
    val ckpt = Files.createTempDirectory("graft_mv_ckpt").toString
    val schema = StructType.fromDDL("op STRING, k STRING, v DOUBLE")
    def writeCdc(name: String, rows: Seq[(String, String, Double)]): Unit = {
      val stage = Files.createTempDirectory("graft_cdc").toString
      rows.toDF("op", "k", "v").coalesce(1)
        .write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, Paths.get(s"$src/$name"))
    }
    def runOnce() = MvSync.run(spark, src, "*.parquet", schema, st, ckpt,
      Seq("k"), Seq("v"))

    writeCdc("c1.parquet", Seq(
      ("I", "a", 1.0), ("I", "a", 2.0), ("I", "b", 10.0), ("I", "c", 5.0)))
    val s1 = runOnce().select(col("k"), col("n"), col("sum_v"))
      .as[(String, Long, Double)].collect().toSet
    assert(s1 == Set(("a", 2L, 3.0), ("b", 1L, 10.0), ("c", 1L, 5.0)))

    // delete one 'a' row, delete ALL of 'c' (group must vanish),
    // insert a correction into 'b'
    writeCdc("c2.parquet", Seq(
      ("D", "a", 1.0), ("D", "c", 5.0), ("I", "b", 2.5)))
    val s2 = runOnce().select(col("k"), col("n"), col("sum_v"))
      .as[(String, Long, Double)].collect().toSet
    assert(s2 == Set(("a", 1L, 2.0), ("b", 2L, 12.5)))

    // caught-up checkpoint: no new files, state unchanged
    val s3 = runOnce().select(col("k"), col("n"), col("sum_v"))
      .as[(String, Long, Double)].collect().toSet
    assert(s3 == s2)

    // replay safety: recomputing the last version from the prior state
    // and the same batch converges on identical state (versionBefore
    // never lets a batch read its own output)
    assert(MvSync.versionBefore(spark, st, 1L).contains(0L))
  }

  test("stateful sessionizer closes sessions on gap timeout") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventStream.Event]
    // NoTimeout keeps the test deterministic: sessions close when a
    // later-than-gap event arrives (production uses the
    // processing-time timeout to flush idle sessions).
    val sessions = EventStream.sessionize(input.toDS(), gapMs = 60000L,
      useTimeout = false)
    val q = sessions.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("graft_sessions_test").start()
    def ev(id: Long, t: Long, uid: Long) =
      EventStream.Event(id, new java.sql.Timestamp(t), uid, "click", 1.0)
    // two bursts for user 7, 5 minutes apart -> first closes when second arrives
    input.addData(ev(1, 1000L, 7), ev(2, 2000L, 7))
    q.processAllAvailable()
    input.addData(ev(3, 300000L, 7))
    q.processAllAvailable()
    val out = spark.table("graft_sessions_test")
      .select("user_id", "n_events").as[(Long, Int)].collect().toSeq
    q.stop()
    assert(out == Seq((7L, 2))) // the first 2-event session closed
  }

  test("near-dup ingest: sliced admission equals whole-corpus admission") {
    import graft.streaming.NearDupIngest
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "text")
    def run(slices: Seq[org.apache.spark.sql.DataFrame]): Map[Long, Long] = {
      val base = java.nio.file.Files.createTempDirectory("graft_ndspec")
      val sh = base.resolve("sh").toString
      val dec = base.resolve("dec").toString
      slices.foreach(b => NearDupIngest.processBatch(spark, b, sh, dec, 3, 0.5))
      spark.read.parquet(dec).as[(Long, Long)].collect().toMap
    }
    val whole = run(Seq(docs))
    val sliced = run(Seq(
      docs.filter($"doc_id" < 170),
      docs.filter($"doc_id" >= 170 && $"doc_id" < 340),
      docs.filter($"doc_id" >= 340)))
    assert(whole.size == 500 && sliced == whole)
    // decisions match the batch rule: suppressed = doc_b side of the
    // exact Jaccard pairs at the same threshold
    val supp = graft.ops.Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.5)
      .select("doc_b").as[Long].collect().toSet
    spark.catalog.clearCache() // jaccardPairs returns a persisted frame
    assert(whole.filter(_._2 == 0L).keySet == supp)
  }

  test("multimodal: pack -> batched stub decode roundtrip, deterministic") {
    val docs = Seq((1L, "hello world of bytes"), (2L, "x")).toDF("doc_id", "text")
    val feats = Multimodal.extractFeatures(
      Multimodal.packAsMedia(docs, "doc_id", "text"), dim = 4, batchSize = 1)
      .collect().sortBy(_.media_id)
    assert(feats.length == 2)
    assert(feats(0).n_bytes == 20)
    assert(feats(0).header_hex == "68656C6C6F20776F") // "hello wo"
    val again = Multimodal.extractFeatures(
      Multimodal.packAsMedia(docs, "doc_id", "text"), dim = 4, batchSize = 64)
      .collect().sortBy(_.media_id)
    assert(feats(0).feature.toSeq == again(0).feature.toSeq) // batch-size independent
  }

  test("multimodal: REAL PNG decode via javax.imageio; non-PNG falls back to stub") {
    // committed 73-byte fixture: 2x2 RGB PNG — white, black / red, blue
    val png = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
      getClass.getResource("/tiny_2x2.png").toURI))
    assert(Multimodal.isPng(png))
    val Some((w, h, feat)) = Multimodal.decodeImage(png, dim = 4)
    assert(w == 2 && h == 2)
    // integer BT.601 luma / 255 at the four row-major pixels
    assert(feat.toSeq == Seq(1.0f, 0.0f, 76 / 255.0f, 29 / 255.0f))

    // through the batched pipeline: the PNG record gets the REAL
    // decode, the text record the stub — in the same partition
    val media = Seq(
      Multimodal.MediaRecord(1L, png, "image/png", png.length),
      Multimodal.MediaRecord(2L, "plain text".getBytes("UTF-8"),
        "text/plain", 10)).toDS()
    val byId = Multimodal.extractFeatures(media, dim = 4, batchSize = 2)
      .collect().map(f => f.media_id -> f).toMap
    assert(byId(1L).feature.toSeq == feat.toSeq)
    assert(byId(1L).header_hex.startsWith("89504E47")) // PNG magic
    assert(byId(2L).feature.toSeq ==
      Multimodal.stubDecode("plain text".getBytes("UTF-8"), 4).toSeq)

    // a torn/corrupt PNG payload must not crash the pipeline
    assert(Multimodal.decodeImage(png.take(20), dim = 4).isEmpty)

    // and a corrupt row flowing through the BATCHED pipeline next to a
    // healthy one falls back to the deterministic stub instead of
    // failing the partition
    val torn = png.take(20)
    val mixed = Seq(
      Multimodal.MediaRecord(3L, png, "image/png", png.length),
      Multimodal.MediaRecord(4L, torn, "image/png", torn.length)).toDS()
    val mixedById = Multimodal.extractFeatures(mixed, dim = 4, batchSize = 2)
      .collect().map(f => f.media_id -> f).toMap
    assert(mixedById(3L).feature.toSeq == feat.toSeq) // healthy row unaffected
    assert(mixedById(4L).feature.toSeq ==
      Multimodal.stubDecode(torn, 4).toSeq) // corrupt row stubbed, not crashed
  }

  test("multimodal: REAL JPEG decode via javax.imageio (encode-decode roundtrip)") {
    // JPEG is lossy, so the fixture is synthesized in-test: encode a
    // uniform mid-gray 4x4 via ImageIO (flat blocks survive the DCT
    // near-exactly), then decode through the same pipeline path.
    val img = new java.awt.image.BufferedImage(
      4, 4, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (x <- 0 until 4; y <- 0 until 4) img.setRGB(x, y, 0x808080)
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "jpg", bos))
    val jpg = bos.toByteArray
    assert(Multimodal.isJpeg(jpg) && !Multimodal.isPng(jpg))

    val Some((w, h, feat)) = Multimodal.decodeImage(jpg, dim = 4)
    assert(w == 4 && h == 4)
    // uniform gray decodes within 2/255 of the encoded level everywhere
    assert(feat.forall(v => math.abs(v - 128 / 255.0f) < 2 / 255.0f))

    // the batched pipeline routes JPEG through the REAL decode path
    val media = Seq(
      Multimodal.MediaRecord(7L, jpg, "image/jpeg", jpg.length)).toDS()
    val out = Multimodal.extractFeatures(media, dim = 4, batchSize = 2)
      .collect().head
    assert(out.header_hex.startsWith("FFD8FF")) // JPEG SOI marker
    assert(out.feature.toSeq == feat.toSeq)

    // torn JPEG: no crash, honest stub fallback via None
    assert(Multimodal.decodeImage(jpg.take(10), dim = 4).isEmpty)
  }

  test("multimodal: REAL PCM16 WAV decode; non-PCM and torn chunks rejected") {
    // canonical little-endian PCM16 WAV built byte-wise in the test:
    // 8000 Hz mono, 5 frames [0, 8192, -8192, 16384, -32768]
    def wav(samples: Seq[Short], ch: Int = 1, rate: Int = 8000,
        audioFormat: Int = 1): Array[Byte] = {
      val dataLen = samples.length * 2
      val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
        .put("WAVE".getBytes("US-ASCII"))
        .put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(audioFormat.toShort).putShort(ch.toShort)
        .putInt(rate).putInt(rate * ch * 2).putShort((ch * 2).toShort)
        .putShort(16)
        .put("data".getBytes("US-ASCII")).putInt(dataLen)
      samples.foreach(s => bb.putShort(s))
      bb.array()
    }
    val mono = wav(Seq[Short](0, 8192, -8192, 16384, -32768))
    assert(Multimodal.isWav(mono))
    val Some((info, feat)) = Multimodal.decodeWav(mono, dim = 5)
    assert(info == Multimodal.WavInfo(8000, 1, 16, 5L))
    assert(feat.toSeq == Seq(0.0f, 0.25f, -0.25f, 0.5f, -1.0f))
    // proportional sampling: dim=3 takes frames 0, 2, 4
    assert(Multimodal.decodeWav(mono, dim = 3).get._2.toSeq ==
      Seq(0.0f, -0.25f, -1.0f))
    // stereo: first channel only, frame-addressed
    val stereo = wav(Seq[Short](100, -100, 200, -200), ch = 2)
    val Some((si, sf)) = Multimodal.decodeWav(stereo, dim = 2)
    assert(si.channels == 2 && si.nFrames == 2L)
    assert(sf.toSeq == Seq(100 / 32768.0f, 200 / 32768.0f))
    // non-PCM (compressed) and torn payloads are honestly undecoded
    assert(Multimodal.decodeWav(wav(Seq[Short](1, 2), audioFormat = 3), 2).isEmpty)
    assert(Multimodal.decodeWav(mono.take(30), 2).isEmpty)

    // through the batched pipeline: WAV takes the real path
    val media = Seq(
      Multimodal.MediaRecord(1L, mono, "audio/wav", mono.length),
      Multimodal.MediaRecord(2L, "plain text".getBytes("UTF-8"),
        "text/plain", 10)).toDS()
    val byId = Multimodal.extractFeatures(media, dim = 5, batchSize = 2)
      .collect().map(f => f.media_id -> f).toMap
    assert(byId(1L).feature.toSeq == feat.toSeq)
    assert(byId(1L).header_hex.startsWith("52494646")) // "RIFF"
    assert(byId(2L).feature.toSeq ==
      Multimodal.stubDecode("plain text".getBytes("UTF-8"), 5).toSeq)
  }

  test("multimodal: frame sampling and resize stubs are deterministic") {
    val docs = Seq((1L, "0123456789abcdef")).toDF("doc_id", "text")
    val media = Multimodal.packAsMedia(docs, "doc_id", "text")
    val frames = Multimodal.frameSample(media, frameBytes = 4, every = 2)
      .collect().sortBy(_.frame_no)
    assert(frames.map(_.frame_no).toSeq == Seq(0, 2))
    assert(new String(frames(0).payload) == "0123")
    assert(new String(frames(1).payload) == "89ab")
    val resized = Multimodal.resizeStub(
      Multimodal.extractFeatures(media, dim = 4), newDim = 6).collect().head
    assert(resized.feature.length == 6)
    assert(resized.feature(4) == resized.feature(0)) // cycle-pad
  }

  test("catalog: old partitions read a new column as NULL") {
    val dir = java.nio.file.Files.createTempDirectory("graft_evo").toString
    val cat = new ParquetCatalog(spark, dir)
    // product 100 was written before IndicatorValueCode was declared
    Seq((1L, 1.5, 0)).toDF("IndicatorValueId", "VALUE", "NullReasonId")
      .write.parquet(s"$dir/IndicatorValues/ProductPartitionId=100")
    cat.writeProduct("IndicatorValues", Seq((2L, 2.5, 0, "code"))
      .toDF("IndicatorValueId", "VALUE", "NullReasonId", "IndicatorValueCode"), 200L)
    val rows = cat.read("IndicatorValues")
      .as[(Long, Double, Int, Option[String])].collect().toSet
    assert(rows == Set((1L, 1.5, 0, None), (2L, 2.5, 0, Some("code"))))
    assert(cat.readProduct("IndicatorValues", 100L).select("IndicatorValueId", "VALUE")
      .as[(Long, Double)].collect().toSeq == Seq((1L, 1.5)))
  }

  test("catalog: per-product dynamic overwrite leaves other products intact") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cat").toString
    val cat = new ParquetCatalog(spark, dir)
    val t = "GeographicLevelForIndicator"
    def write(id: Long, level: String, pid: Long) =
      cat.writeProduct(t, Seq((id, level)).toDF("IndicatorId", "GeographicLevelId"), pid)
    write(1L, "a", 100L)
    write(2L, "b", 200L)
    write(3L, "c", 100L) // replace product 100
    val all = cat.read(t).as[(Long, String)].collect().toSet
    assert(all == Set((3L, "c"), (2L, "b")))
    cat.deleteProduct(t, 200L)
    assert(cat.read(t).as[(Long, String)].collect().toSet == Set((3L, "c")))
  }

  test("Wds parsers: metadata, merge config, defaults, changed list") {
    val metaJson =
      """[{"status":"SUCCESS","object":{"productId":35100002,
        |"cubeTitleEn":"T","cubeTitleFr":"Tf","cubeStartDate":"2018-01-01",
        |"cubeEndDate":"2020-01-01","releaseTime":"2021-01-05 08:30",
        |"frequencyCode":12,"surveyCode":["3302"],"subjectCode":["350102","99"],
        |"dimension":[{"dimensionPositionId":1,"dimensionNameEn":"Geography",
        |"dimensionNameFr":"G","hasUom":false,
        |"member":[{"memberId":1,"memberNameEn":"Canada","memberNameFr":"Canada",
        |"memberUomCode":null}]}]}}]""".stripMargin
    val m = Wds.cubeMetadata(metaJson)
    assert(m.productId == 35100002L)
    assert(m.subjectCode == "350102") // prefix 35 matches pid
    assert(m.subjectCodeShort == "35")
    assert(m.dimensions.head.members.head.uomCode.isEmpty)

    val merge = Wds.mergeConfig(
      """{"35100002": {"linked_tables": ["35100026", "35100068"]}}""")
    assert(merge == Map(35100002L -> Seq(35100026L, 35100068L)))

    val defs = Wds.productDefaults(
      """{"default": {"default_breaks_algorithm_id": 1, "default_breaks": "d",
        |"primary_chart_type_id": 2, "color_to": "#fff", "color_from": "#000",
        |"related_chart_type_id": 3}}""".stripMargin, 123L)
    assert(defs.primaryChartTypeId == 2)

    assert(Wds.changedCubeList(
      """{"status":"SUCCESS","object":[{"productId":101},{"productId":102},{"productId":101}]}""")
      == Seq(101L, 102L))
  }
}
