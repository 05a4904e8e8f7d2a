package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{BloomPrune, IntervalJoin, MaterializedAgg, Mixture, TableProfile, ZOrder}

/** The q105–q109 scale operators: bloom join pruning, single-pass
  * profiling, Z-order clustering, weighted sampling — correctness vs
  * straightforward baselines plus the plan-shape claims their docs
  * make.
  */
class ScaleOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val dir = "/root/testdata/sf0.001"

  test("BloomPrune.prunedSemiJoin ≡ plain left-semi join (FPs removed)") {
    val fact = Tables(spark, dir, "lineitem")
    val dim = Tables(spark, dir, "part").filter(col("p_size") <= 2)
    val pruned = BloomPrune.prunedSemiJoin(
      fact, dim, "l_partkey", "p_partkey", expectedItems = 1000L)
    val plain = fact.join(dim,
      fact("l_partkey") === dim("p_partkey"), "left_semi")
    assert(pruned.count() == plain.count())
    assert(pruned.select("l_orderkey", "l_linenumber")
      .exceptAll(plain.select("l_orderkey", "l_linenumber")).isEmpty)
    // and the prune is real: strictly fewer rows survive the bloom
    // than the fact table holds (the dim filter is selective)
    val afterBloom = fact.filter(BloomPrune.mightContain(
      org.apache.spark.sql.graft.ColumnShim.column(
        org.apache.spark.sql.catalyst.expressions.ScalarSubquery(
          dim.agg(BloomPrune.bloomAgg(col("p_partkey"), 1000L).as("bf"))
            .queryExecution.analyzed)),
      col("l_partkey"))).count()
    assert(afterBloom < fact.count() && afterBloom >= plain.count())
  }

  test("bloom prune sits below the semi join in the physical plan") {
    val fact = Tables(spark, dir, "lineitem")
    val dim = Tables(spark, dir, "part").filter(col("p_size") <= 2)
    val plan = BloomPrune.prunedSemiJoin(
      fact, dim, "l_partkey", "p_partkey", 1000L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"), plan)
    // the filter is a scalar-subquery fold, not a shuffle or NL join
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoop"), plan)
    val filterIdx = plan.indexOf("might_contain")
    val joinIdx = plan.indexOf("LeftSemi")
    assert(joinIdx >= 0 && filterIdx > joinIdx,
      s"bloom filter should appear BELOW (after, in tree print) the semi join:\n$plan")
  }

  test("BloomPrune.prunedAntiJoin ≡ plain anti join; misses skip the join branch") {
    val docs = Tables(spark, dir, "documents").withColumn("fp", md5(col("text")))
    val bench = docs.filter(col("doc_id") % 7 === 0)
    val pruned = BloomPrune.prunedAntiJoin(docs, bench, "fp", "fp", 1000L)
    val plain = docs.join(bench.select(col("fp").as("bfp")).distinct(),
      docs("fp") === col("bfp"), "left_anti")
    assert(pruned.count() == plain.count())
    assert(pruned.select("doc_id").exceptAll(plain.select("doc_id")).isEmpty)
    // shape: the exact anti join exists, and a might_contain filter
    // guards BOTH branches (direct-emit negation + suspect selection)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("LeftAnti"), plan)
    assert("might_contain".r.findAllIn(plan).length >= 2, plan)
  }

  test("TableProfile.profile matches per-column direct aggregates, one row each") {
    val li = Tables(spark, dir, "lineitem")
      .select("l_orderkey", "l_quantity", "l_returnflag")
    val prof = TableProfile.profile(li).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(prof.size == 3)
    val n = li.count()
    val flag = prof("l_returnflag")
    assert(flag.getLong(1) == n)
    assert(flag.getLong(2) == 0) // no nulls in testdata
    assert(flag.getLong(3) ==
      li.select(countDistinct("l_returnflag")).head.getLong(0))
    assert(flag.getString(4) == "A" && flag.getString(5) == "R")
    val qty = prof("l_quantity")
    assert(qty.getString(4) == "1.0" && qty.getString(5) == "50.0")
  }

  test("TableProfile: Expand-free, per-column independent NDV scans") {
    val li = Tables(spark, dir, "lineitem")
      .select("l_orderkey", "l_quantity", "l_returnflag")
    val plan = TableProfile.profile(li).queryExecution.executedPlan.toString
    // no multi-distinct Expand anywhere: each column's exact NDV is
    // its own single-distinct aggregation (no ×ncols row inflation),
    // and the per-aggregation scans are independent so the scheduler
    // runs them concurrently — ncols NDV scans + 1 count + 1 min/max
    assert(!plan.contains("Expand"), s"profile must be Expand-free:\n$plan")
    assert("FileScan parquet".r.findAllIn(plan).length == 3 + 2, plan)
    // string min/max buffers bar HashAggregate but a KEYLESS
    // SortAggregate plans no Sort operator — assert nothing sorts and
    // every sort-agg is keyless (the ~10× sf0.1 regression guard)
    assert(!plan.contains("+- Sort "),
      s"profile must not sort anything:\n$plan")
    assert("SortAggregate".r.findAllIn(plan).length ==
      "SortAggregate\\(key=\\[\\]".r.findAllIn(plan).length,
      s"keyed sort-aggregation crept back into the profile plan:\n$plan")
  }

  test("TableProfile sketch mode: NDV within 5% of exact, ONE scan, no Expand") {
    val li = Tables(spark, "/root/testdata/sf0.01", "lineitem")
      .select("l_orderkey", "l_partkey", "l_quantity", "l_returnflag")
    val sk = TableProfile.profile(li, exact = false)
    val plan = sk.queryExecution.executedPlan.toString
    assert(!plan.contains("Expand"), s"sketch profile must be Expand-free:\n$plan")
    assert("FileScan parquet".r.findAllIn(plan).length == 1,
      s"sketch profile must read the table ONCE:\n$plan")
    val approx = sk.collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    val exact = TableProfile.profile(li).collect()
      .map(r => r.getString(0) -> r.getLong(3)).toMap
    for ((c, e) <- exact) {
      val a = approx(c)
      assert(math.abs(a - e).toDouble <= math.max(1.0, 0.05 * e),
        s"$c: approx NDV $a vs exact $e drifts beyond 5%")
    }
    // non-NDV stats are exact in both modes
    val skFlag = sk.collect().map(r => r.getString(0) -> r).toMap.apply("l_returnflag")
    assert(skFlag.getString(4) == "A" && skFlag.getString(5) == "R")
  }

  test("ZOrder.zValue2 interleaves bits like the reference scalar formula") {
    def zRef(x: Long, y: Long, bits: Int): Long = {
      var z = 0L
      (0 until bits).foreach { b =>
        z |= ((x >> b) & 1L) << (2 * b)
        z |= ((y >> b) & 1L) << (2 * b + 1)
      }
      z
    }
    val rows = Seq((0L, 0L), (1L, 0L), (0L, 1L), (3L, 5L), (65535L, 65535L),
      (12345L, 54321L), (65536L, 1L)) // 65536: bit 16 must be IGNORED at bits=16
    import spark.implicits._
    val got = rows.toDF("x", "y")
      .select(col("x"), col("y"), ZOrder.zValue2(col("x"), col("y"), 16).as("z"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    rows.foreach { case (x, y) =>
      assert(got((x, y)) == zRef(x & 65535L, y & 65535L, 16),
        s"z($x,$y) mismatch")
    }
  }

  test("clusterByZ: each written file covers a tight box in BOTH dimensions") {
    val li = Tables(spark, dir, "lineitem")
    val out = java.nio.file.Files.createTempDirectory("graft_zorder").toString
    ZOrder.clusterByZ(li, "l_partkey", "l_suppkey", numFiles = 8)
      .write.mode("overwrite").parquet(out)
    // read back per-file min/max of both dims; z-clustering must make
    // every file's 2-D box area ≪ the full domain (naive l_partkey
    // sort gives full-range l_suppkey boxes in every file)
    val byFile = spark.read.parquet(out)
      .groupBy(input_file_name().as("f"))
      .agg(min("l_partkey").as("px"), max("l_partkey").as("qx"),
        min("l_suppkey").as("py"), max("l_suppkey").as("qy"))
      .collect()
    assert(byFile.length >= 4)
    val domain = li.agg(
      (max("l_partkey") - min("l_partkey")).cast("double").as("dx"),
      (max("l_suppkey") - min("l_suppkey")).cast("double").as("dy")).head
    val (dx, dy) = (domain.getDouble(0), domain.getDouble(1))
    val avgArea = byFile.map { r =>
      (r.getLong(2) - r.getLong(1)).toDouble / dx *
        ((r.getLong(4) - r.getLong(3)).toDouble / dy)
    }.sum / byFile.length
    assert(avgArea < 0.6,
      f"z-clustered files should cover small 2-D boxes, avg fraction $avgArea%.2f")
  }

  test("IntervalJoin.overlapPairs ≡ brute-force overlap join, exactly once per pair") {
    import spark.implicits._
    // adversarial widths: zero-length, band-width, and 3-band spans
    val a = Seq((1L, "2020-01-05", "2020-01-05"), (2L, "2020-01-20", "2020-02-19"),
      (3L, "2020-03-01", "2020-05-15"), (4L, "2019-12-25", "2020-01-02"))
      .toDF("a_id", "s", "e")
      .select(col("a_id"), to_date(col("s")).as("a_start"), to_date(col("e")).as("a_end"))
    val b = Seq((10L, "2020-01-01", "2020-01-31"), (11L, "2020-02-10", "2020-02-10"),
      (12L, "2020-04-01", "2020-04-02"), (13L, "2021-01-01", "2021-01-05"))
      .toDF("b_id", "s", "e")
      .select(col("b_id"), to_date(col("s")).as("b_start"), to_date(col("e")).as("b_end"))
    val banded = IntervalJoin.overlapPairs(a, b, bandDays = 30)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    val brute = a.crossJoin(b)
      .filter(col("a_start") <= col("b_end") && col("b_start") <= col("a_end"))
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(banded.length == banded.distinct.length, "pair emitted more than once")
    assert(banded.sorted.toSeq == brute.sorted.toSeq)
    // scale shape: the join is equi-keyed on band, never a cross product
    val plan = IntervalJoin.overlapPairs(a, b, 30)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoop"), plan)
  }

  test("MaterializedAgg: merged incremental state ≡ full recompute, any split/order") {
    val li = Tables(spark, dir, "lineitem")
    val keys = Seq("l_returnflag", "l_linestatus")
    val full = MaterializedAgg.fold(li, keys, Seq("l_quantity"))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("l_returnflag", "l_linestatus").collect().toSeq
    val p1 = li.filter(col("l_orderkey") % 3 === 0)
    val p2 = li.filter(col("l_orderkey") % 3 === 1)
    val p3 = li.filter(col("l_orderkey") % 3 === 2)
    val f1 = MaterializedAgg.fold(p1, keys, Seq("l_quantity"))
    val f2 = MaterializedAgg.fold(p2, keys, Seq("l_quantity"))
    val f3 = MaterializedAgg.fold(p3, keys, Seq("l_quantity"))
    assert(canon(MaterializedAgg.merge(f1, f2, f3)) == canon(full))
    assert(canon(MaterializedAgg.merge(f3, f1, f2)) == canon(full))
    assert(canon(MaterializedAgg.merge(MaterializedAgg.merge(f1, f2), f3)) ==
      canon(full))
  }

  test("MaterializedAgg: retraction ≡ recompute; fully-deleted groups vanish") {
    val li = Tables(spark, dir, "lineitem")
      .select(col("l_returnflag"), col("l_linestatus"),
        col("l_orderkey"), col("l_quantity"))
    val keys = Seq("l_returnflag", "l_linestatus")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("l_returnflag", "l_linestatus").collect().toSeq
    // delete a slice, re-insert half of it with a correction
    val del = li.filter(col("l_orderkey") % 5 === 0)
    val ins = del.filter(col("l_orderkey") % 10 === 0)
      .withColumn("l_quantity", col("l_quantity") + 1)
    val viaRetract = MaterializedAgg.retract(
      MaterializedAgg.fold(li, keys, Seq("l_quantity")),
      MaterializedAgg.fold(ins, keys, Seq("l_quantity")),
      MaterializedAgg.negate(MaterializedAgg.fold(del, keys, Seq("l_quantity"))))
    val postBase = li.filter(col("l_orderkey") % 5 =!= 0).unionByName(ins)
    assert(canon(viaRetract) ==
      canon(MaterializedAgg.fold(postBase, keys, Seq("l_quantity"))))

    // a group deleted outright must DISAPPEAR (n=0 tombstone cleanup),
    // exactly matching a recompute over the surviving rows
    val allOfR = li.filter(col("l_returnflag") === "R")
    val afterPurge = MaterializedAgg.retract(
      MaterializedAgg.fold(li, keys, Seq("l_quantity")),
      MaterializedAgg.negate(MaterializedAgg.fold(allOfR, keys, Seq("l_quantity"))))
    assert(afterPurge.filter(col("l_returnflag") === "R").count() == 0)
    assert(canon(afterPurge) == canon(MaterializedAgg.fold(
      li.filter(col("l_returnflag") =!= "R"), keys, Seq("l_quantity"))))
  }

  test("FK audit: orphan counts surface when parent rows go missing") {
    // drop every even customer from the parent side: each order whose
    // o_custkey is even becomes an orphan, counted by the same
    // anti-join shape q154 unions into its report
    val orders = Tables(spark, dir, "orders")
    val parent = Tables(spark, dir, "customer")
      .filter(col("c_custkey") % 2 === 1)
    val orphans = orders.select(col("o_custkey"))
      .join(parent.select(col("c_custkey")),
        col("o_custkey") === col("c_custkey"), "left_anti")
      .count()
    val expected = orders.filter(col("o_custkey") % 2 === 0).count()
    assert(orphans == expected && orphans > 0)
  }

  test("ClusteredIngest: batches land z-clustered; second pass ingests only new files") {
    import java.nio.file.Files
    val srcDir = Files.createTempDirectory("graft_ci_src").toString
    val outDir = Files.createTempDirectory("graft_ci_out").toString + "/data"
    val ckDir = Files.createTempDirectory("graft_ci_ck").toString
    val docs = Tables(spark, dir, "documents").select("doc_id", "n_chars", "lang")
    val a = docs.filter(col("doc_id") % 2 === 0)
    val b = docs.filter(col("doc_id") % 2 === 1)
    a.coalesce(1).write.mode("append").parquet(srcDir)
    def stream = spark.readStream
      .schema("doc_id LONG, n_chars LONG, lang STRING")
      .parquet(srcDir)
    streaming.ClusteredIngest.runOnce(stream, outDir, ckDir,
      "doc_id", "n_chars", filesPerBatch = 4)
    val afterA = spark.read.parquet(outDir).count()
    assert(afterA == a.count())
    b.coalesce(1).write.mode("append").parquet(srcDir)
    streaming.ClusteredIngest.runOnce(stream, outDir, ckDir,
      "doc_id", "n_chars", filesPerBatch = 4)
    assert(spark.read.parquet(outDir).count() == afterA + b.count())
    // every written file covers a tight 2-D box (per-batch clustering)
    val byFile = spark.read.parquet(outDir)
      .groupBy(input_file_name().as("f"))
      .agg(min("doc_id").as("px"), max("doc_id").as("qx"),
        min("n_chars").as("py"), max("n_chars").as("qy"))
      .collect()
    assert(byFile.length >= 6)
    val dom = docs.agg(
      (max("doc_id") - min("doc_id")).cast("double").as("dx"),
      (max("n_chars") - min("n_chars")).cast("double").as("dy")).head
    val avgArea = byFile.map { r =>
      (r.getLong(2) - r.getLong(1)).toDouble / dom.getDouble(0) *
        ((r.getLong(4) - r.getLong(3)).toDouble / dom.getDouble(1))
    }.sum / byFile.length
    assert(avgArea < 0.7, f"expected tight per-file boxes, avg $avgArea%.2f")
  }

  test("Mixture.keepWeighted: deterministic, monotone in weight, saturates at 1") {
    import spark.implicits._
    val df = (1L to 2000L).toDF("id")
    def kept(scale: Double): Long = df.filter(
      Mixture.keepWeighted(col("id"), "s1", lit(scale))).count()
    val k25 = kept(0.25); val k50 = kept(0.5); val k100 = kept(1.0)
    assert(k25 < k50 && k50 < k100)
    assert(k100 == 2000L) // rate 1 keeps everything
    assert(math.abs(k50 - 1000L) < 150, s"rate .5 kept $k50 of 2000")
    // same salt+key ⇒ same verdict on rerun
    assert(kept(0.5) == k50)
  }

  test("prioritySample: exactly k per stratum, deterministic, lowered to native top-k") {
    import graft.ops.Mixture
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
      .select("lang", "doc_id", "n_chars")
    val s1 = Mixture.prioritySample(docs, "lang", "doc_id", "n_chars", "w1:", 5)
    val plan = s1.queryExecution.executedPlan.toString
    // the declarative window inside the op must lower to the heap pair
    assert(plan.contains("TopKPerKey"), plan)
    assert(!plan.contains("Window"), plan)
    val perLang = s1.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val sizes = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    sizes.foreach { case (l, n) =>
      assert(perLang(l) == math.min(5L, n), s"$l: ${perLang.get(l)}")
    }
    // same salt ⇒ identical sample on rerun
    val s2 = Mixture.prioritySample(docs, "lang", "doc_id", "n_chars", "w1:", 5)
    assert(s1.exceptAll(s2).isEmpty && s2.exceptAll(s1).isEmpty)

    // weight dominance: one row 10000x heavier than 200 unit-weight
    // rows lands in the top-5 (deterministic for the fixed salt)
    import spark.implicits._
    val skewed = ((1 to 200).map(i => ("s", i.toLong, 1L)) :+
      (("s", 999L, 10000L))).toDF("g", "id", "w")
    val got = Mixture.prioritySample(skewed, "g", "id", "w", "w1:", 5)
      .select("id").as[Long].collect().toSet
    assert(got.contains(999L), s"heavy row missing from $got")
  }

  test("scratch root is PID-keyed — concurrent processes cannot clobber each other") {
    // the q245-q247/q267 round-trip gates write under this root; a
    // fixed path let a concurrent Verify/Bench JVM delete another's
    // scratch mid-read. Per-process isolation = the PID in the path.
    val root = graft.io.SnapIo.scratchRoot.toString
    assert(root.contains(ProcessHandle.current().pid().toString), root)
    assert(root.startsWith(sys.props("java.io.tmpdir")), root)
  }

  test("streaming ingest gates stage under the scratch root, not java.io.tmpdir") {
    val tmp = java.nio.file.Paths.get(sys.props("java.io.tmpdir"))
    val own = graft.io.SnapIo.scratchRoot.getFileName.toString
    def graftEntries(): Set[String] = {
      val s = java.nio.file.Files.list(tmp)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.map(_.getFileName.toString)
          .filter(n => n.startsWith("graft") && n != own).toSet
      } finally s.close()
    }
    val before = graftEntries()
    assert(streaming.ClusteredIngest.ingestedLangCounts(spark, dir)
      .count() > 0)
    assert(streaming.NearDupIngest.ingestedKeepDecisions(spark, dir)
      .count() > 0)
    val leaked = graftEntries() -- before
    assert(leaked.isEmpty, s"left under $tmp: $leaked")
  }
}
