package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.io.SnapIo.scratchDir
import graft.ops.{BloomPrune, IntervalJoin, MaterializedAgg, Mixture, TableProfile, TextOps, ZOrder}
import graft.queries.Fns.r4

/** Operators whose whole point is 100 TB mechanics, each still exactly
  * checkable against a DuckDB oracle:
  *
  *  - bloom-filter join pruning (kill fact rows before the join
  *    shuffle — the manual InjectRuntimeFilter, q105)
  *  - single-pass table profiling (every column's stats off ONE scan,
  *    q106)
  *  - Z-order clustering (two-dimensional file skipping from a
  *    one-dimensional sort key, q107)
  *  - token co-occurrence mining (explode → map-side-combined count,
  *    the phrase-statistics pass of a corpus pipeline, q108)
  *  - weighted Bernoulli sampling (per-row keep probability as a pure
  *    projection — quality-weighted downsampling with zero shuffles,
  *    q109)
  *  - banded interval-overlap join (equi-join on time band, one
  *    emission per pair by construction, q110)
  *  - aggregate materialized-view maintenance from mergeable state
  *    (O(delta) refresh ≡ full recompute, q111)
  *  - recursive-CTE graph reachability (Spark 4's WITH RECURSIVE,
  *    depth-bounded BFS with min-depth dedup, q112)
  *  - correlated LATERAL top-k (q120) and the per-source corpus
  *    governance report (q121)
  */
object ScaleQueries {

  /** Depth-≤2 BFS from part 1's suppliers over the bipartite
    * customer↔supplier graph (suppliers offset by 10M like q81/q104).
    * Pure ANSI recursive SQL — Spark and DuckDB run the same text.
    */
  private def reachabilitySql(orders: String, lineitem: String): String =
    s"""WITH RECURSIVE pairs AS (
       |  SELECT DISTINCT o_custkey AS c, l_suppkey + 10000000 AS p
       |  FROM $lineitem JOIN $orders ON l_orderkey = o_orderkey),
       |edges AS (
       |  SELECT c AS src, p AS dst FROM pairs
       |  UNION ALL
       |  SELECT p AS src, c AS dst FROM pairs),
       |seeds AS (
       |  SELECT DISTINCT l_suppkey + 10000000 AS node
       |  FROM $lineitem WHERE l_partkey = 1),
       |walk(node, depth) AS (
       |  SELECT node, 0 FROM seeds
       |  UNION ALL
       |  SELECT e.dst, w.depth + 1
       |  FROM walk w JOIN edges e ON e.src = w.node
       |  WHERE w.depth < 2)
       |SELECT node, min(depth) AS depth, count(*) AS n_paths
       |FROM walk GROUP BY node""".stripMargin

  /** Per-supplier top-3 lineitems by price via a correlated LATERAL
    * subquery — identical ANSI text for Spark and DuckDB.
    */
  private def lateralTopkSql(supplier: String, lineitem: String): String =
    s"""SELECT s.s_suppkey, l.l_orderkey, l.l_extendedprice
       |FROM $supplier s, LATERAL (
       |  SELECT l_orderkey, l_extendedprice FROM $lineitem
       |  WHERE l_suppkey = s.s_suppkey
       |  ORDER BY l_extendedprice DESC, l_orderkey LIMIT 3) l""".stripMargin

  private val lineitemCols = Seq(
    "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
    "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
    "l_linestatus", "l_shipdate")

  val queries: Map[String, Q] = Map(

    // Bloom-prune → exact semi join → aggregate. The bloom is built
    // with one mergeable aggregation over the filtered dimension and
    // broadcast as a 1-row frame; fact rows that cannot match die at
    // the scan filter, so the join exchange moves only matches (+fpp).
    // Output ≡ the plain semi join — the oracle doesn't know a bloom
    // was involved, which is the correctness contract.
    "q105_bloom_prune_join" -> Q(
      (s, d) => {
        val dim = Tables(s, d, "part").filter(col("p_size") <= 2)
        BloomPrune.prunedSemiJoin(
          Tables(s, d, "lineitem"), dim, "l_partkey", "p_partkey",
          expectedItems = 100000L)
          .groupBy("l_returnflag")
          .agg(sum("l_quantity").as("sum_qty"), count(lit(1)).as("n"))
      },
      """SELECT l_returnflag, sum(l_quantity) AS sum_qty, count(*) AS n
        |FROM lineitem
        |WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_size <= 2)
        |GROUP BY l_returnflag""".stripMargin),

    // ANALYZE-style profile: rows/nulls/exact-NDV/min/max for every
    // lineitem column from a single scan (one Expand + one combine).
    "q106_table_profile" -> Q(
      (s, d) => TableProfile.profile(
        Tables(s, d, "lineitem").select(lineitemCols.map(col): _*)),
      TableProfile.oracleSql("lineitem", lineitemCols)),

    // Morton-interleaved clustering key: the first 200 rows in z-order
    // (the same key clusterByZ range-partitions on for file skipping).
    "q107_zorder" -> Q(
      (s, d) =>
        Tables(s, d, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"),
            ZOrder.zValue2(col("l_partkey").cast("long"),
              col("l_suppkey").cast("long"), bits = 16).as("z"))
          .orderBy(col("z"), col("l_orderkey"), col("l_linenumber"))
          .limit(200),
      s"""SELECT l_orderkey, l_linenumber,
         | ${ZOrder.zValueSql("l_partkey", "l_suppkey", bits = 16)} AS z
         |FROM lineitem
         |ORDER BY z, l_orderkey, l_linenumber LIMIT 200""".stripMargin),

    // Adjacent-token bigram statistics over the corpus: explode with
    // multiplicity, map-side-combined count, exact deterministic
    // top-40 (count desc, bigram tie-break).
    "q108_cooccur" -> Q(
      (s, d) =>
        Tables(s, d, "documents")
          .select(explode(TextOps.ngramsFromTokens(
            TextOps.whitespaceTokens(lower(col("text"))), 2)).as("bigram"))
          .groupBy("bigram").agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("bigram"))
          .limit(40),
      """WITH toks AS (
        |  SELECT string_split_regex(trim(lower(text)), '\s+') AS w FROM documents),
        |bg AS (
        |  SELECT unnest(list_transform(range(1, greatest(array_length(w), 1)),
        |    i -> w[i] || ' ' || w[i+1])) AS bigram
        |  FROM toks)
        |SELECT bigram, count(*) AS n FROM bg
        |GROUP BY bigram ORDER BY n DESC, bigram LIMIT 40""".stripMargin),

    // Banded interval-overlap join: urgent open orders × low-priority
    // finished orders whose (orderdate .. orderdate + key%30 days)
    // windows intersect. Equi-join on 30-day band; each pair emitted
    // once (in the band of the later start) — no distinct, no
    // quadratic stage, no broadcast range join.
    "q110_interval_overlap" -> Q(
      (s, d) => {
        def side(status: String, prio: String, p: String) =
          Tables(s, d, "orders")
            .filter(col("o_orderstatus") === status &&
              col("o_orderpriority") === prio)
            .select(col("o_orderkey").as(s"${p}_id"),
              to_date(col("o_orderdate")).as(s"${p}_start"),
              date_add(to_date(col("o_orderdate")),
                (col("o_orderkey") % 30).cast("int")).as(s"${p}_end"))
        IntervalJoin.overlapPairs(
          side("O", "1-URGENT", "a"), side("F", "5-LOW", "b"), bandDays = 30)
          .groupBy("a_id").agg(count(lit(1)).as("n_overlaps"))
      },
      """WITH a AS (
        |  SELECT o_orderkey AS a_id, CAST(o_orderdate AS DATE) AS a_start,
        |         CAST(o_orderdate AS DATE) + CAST(o_orderkey % 30 AS INT) AS a_end
        |  FROM orders WHERE o_orderstatus = 'O' AND o_orderpriority = '1-URGENT'),
        |b AS (
        |  SELECT o_orderkey AS b_id, CAST(o_orderdate AS DATE) AS b_start,
        |         CAST(o_orderdate AS DATE) + CAST(o_orderkey % 30 AS INT) AS b_end
        |  FROM orders WHERE o_orderstatus = 'F' AND o_orderpriority = '5-LOW')
        |SELECT a_id, count(*) AS n_overlaps
        |FROM a JOIN b ON a_start <= b_end AND b_start <= a_end
        |GROUP BY a_id""".stripMargin),

    // Aggregate materialized-view maintenance from mergeable state:
    // fold the base (pre-1997) and the delta (1997+) SEPARATELY, then
    // merge by summing per-group partials — the O(delta) refresh path.
    // The oracle aggregates the whole table in one pass: merged state
    // must be indistinguishable from a full recompute.
    "q111_mv_incremental" -> Q(
      (s, d) => {
        val li = Tables(s, d, "lineitem")
        val keys = Seq("l_returnflag", "l_linestatus")
        val base = MaterializedAgg.fold(
          li.filter(col("l_shipdate") < "1997-01-01"), keys, Seq("l_quantity"))
        val delta = MaterializedAgg.fold(
          li.filter(col("l_shipdate") >= "1997-01-01"), keys, Seq("l_quantity"))
        MaterializedAgg.merge(base, delta)
          .withColumn("avg_qty", col("sum_l_quantity") / col("n"))
      },
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        | sum(l_quantity) AS sum_l_quantity,
        | sum(l_quantity) / count(*) AS avg_qty
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin),

    // Bloom-short-circuited ANTI join — decontamination at scale:
    // corpus docs whose content fingerprint is NOT in the benchmark
    // set (every 7th doc, standing in for an external eval set).
    // Definite bloom misses are emitted without touching the join;
    // only suspects shuffle. Exact duplicates of a contaminated text
    // are removed too (fingerprint equality), which is the point.
    "q116_bloom_decontaminate" -> Q(
      (s, d) => {
        val docs = Tables(s, d, "documents")
          .withColumn("fp", md5(col("text")))
        val bench = docs.filter(col("doc_id") % 7 === 0)
        BloomPrune.prunedAntiJoin(docs, bench, "fp", "fp",
          expectedItems = 100000L)
          .select("doc_id", "lang", "n_chars")
      },
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE md5(text) NOT IN
        |  (SELECT md5(text) FROM documents WHERE doc_id % 7 = 0)"""
        .stripMargin),

    // WITH RECURSIVE (Spark 4 front-end surface): depth-bounded BFS
    // over the customer↔supplier purchase graph from one part's
    // suppliers. UNION ALL recursion enumerates paths (bounded depth
    // keeps it linear-ish here); min(depth) collapses to BFS level.
    // The oracle runs the whole thing as ONE recursive statement; the
    // engine side materializes the edge list behind a CACHED view
    // first, because the recursion re-executes its body plan every
    // step — without the cache the lineitem⋈orders distinct runs once
    // per depth (measured ~2× of the query's cost at sf0.1).
    "q112_reachability" -> Q(
      (s, d) => graft.ops.ShuffleWidth.pinned(s, 8) {
        val o = Tables(s, d, "orders").select("o_orderkey", "o_custkey")
        val l = Tables(s, d, "lineitem").select("l_orderkey", "l_suppkey", "l_partkey")
        val pairs = l.join(o, col("l_orderkey") === col("o_orderkey"))
          .select(col("o_custkey").as("c"),
            (col("l_suppkey") + 10000000L).as("p"))
          .distinct()
          .persist()
        val edges = pairs.select(col("c").as("src"), col("p").as("dst"))
          .union(pairs.select(col("p").as("src"), col("c").as("dst")))
        val seeds = l.filter(col("l_partkey") === 1)
          .select((col("l_suppkey") + 10000000L).as("node"))
          .distinct()
        // the WITH RECURSIVE form re-plans AND re-executes the
        // recursion body per step even over the cached view (Spark 4
        // limitation — measured ~1 s of the query at sf0.1); the
        // depth bound is a FIXED 2, so the walk unrolls into two
        // joins over the one persisted pair set — path multiplicity
        // (UNION ALL), BFS level (min depth) and the oracle's
        // recursive statement are matched exactly
        def hop(w: org.apache.spark.sql.DataFrame)
            : org.apache.spark.sql.DataFrame = w
          .join(edges, col("node") === col("src"))
          .select(col("dst").as("node"), (col("depth") + 1).as("depth"))
        val w0 = seeds.select(col("node"), lit(0).as("depth"))
        val w1 = hop(w0)
        val w2 = hop(w1)
        val out = w0.union(w1).union(w2)
          .groupBy("node")
          .agg(min("depth").as("depth"), count(lit(1)).as("n_paths"))
          .persist()
        out.count()
        pairs.unpersist()
        out
      },
      reachabilitySql("orders", "lineitem")),

    // LATERAL correlated subquery with ORDER BY + LIMIT (Spark 4
    // front-end surface; planned as a rewritten join + per-key group
    // limit, not a driver loop). Same SQL text runs on both engines.
    "q120_lateral_topk" -> Q(
      (s, d) => {
        Tables(s, d, "supplier").createOrReplaceTempView("q120_supplier")
        Tables(s, d, "lineitem").createOrReplaceTempView("q120_lineitem")
        s.sql(lateralTopkSql("q120_supplier", "q120_lineitem"))
      },
      lateralTopkSql("supplier", "lineitem")),

    // Dynamic partition pruning: the fact side is the lang-partitioned
    // parquet layout (q247's write), the dim side is a DATA-DEPENDENT
    // lang selection (volume threshold — not a static predicate the
    // optimizer could fold into the scan), so Spark must insert a
    // runtime subquery filter that prunes fact PARTITIONS from the
    // dim's build result. At 100 TB this is the difference between
    // scanning the two joined languages and scanning the lake;
    // PlanShapeSpec pins the dynamicpruning expression in the scan.
    "q267_dynamic_partition_pruning" -> Q(
      (s, d) => {
        val tmp = scratchDir("dpp")
        Tables(s, d, "documents").write.mode("overwrite")
          .partitionBy("lang").parquet(tmp)
        val fact = s.read.parquet(tmp)
        val bigLangs = Tables(s, d, "documents")
          .groupBy("lang").agg(count(lit(1)).as("n_docs"))
          .filter(col("n_docs") >= 50)
          .select("lang")
        fact.join(bigLangs, "lang")
          .groupBy("lang", "source")
          .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("total_chars"))
      },
      """WITH sel AS (
        |  SELECT lang FROM documents GROUP BY lang HAVING count(*) >= 50)
        |SELECT lang, source, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents JOIN sel USING (lang)
        |GROUP BY 1, 2""".stripMargin),

    // DataSource V2 read path end to end: the custom connector
    // (sources/SeqSource.scala) absorbs the id-range predicate into
    // partition planning (rows outside [1000, 90000) are never
    // GENERATED — pushdown as non-production, not produce-then-drop)
    // and materializes only requested columns. The oracle replays the
    // ground truth from DuckDB's range() — the point of a
    // deterministic source: any engine can check the connector.
    "q266_dsv2_pushdown_scan" -> Q(
      (s, d) => {
        s.read.format("graft.sources.SeqSourceProvider")
          .option("rows", "100000").option("slices", "8").load()
          .filter(col("id") >= 1000 && col("id") < 90000)
          .groupBy(col("m7"))
          .agg(count(lit(1)).as("n"), sum("sq").as("sum_sq"),
            min("id").as("min_id"), max("id").as("max_id"))
      },
      """SELECT range % 7 AS m7, count(*) AS n,
        |  CAST(sum(range * range) AS BIGINT) AS sum_sq,
        |  min(range) AS min_id, max(range) AS max_id
        |FROM range(1000, 90000) GROUP BY 1""".stripMargin),

    // q266's static pushdown has a runtime sibling: the V2 connector
    // as the PROBE side of a broadcast join, where the pruning values
    // are the BUILD side's keys — unknowable until the dim has run,
    // so no static filter can express them. SupportsRuntimeFiltering
    // hands the key set to the scan post-broadcast and partition
    // planning re-narrows to just the matching id runs: the source
    // GENERATES ~|dim| rows, not the 1M-row range (SeqSourceSpec pins
    // the scan's numOutputRows; PlanShapeSpec pins the dynamicpruning
    // expression). At warehouse scale this is DPP reaching a custom
    // connector, the most valuable pruning a V2 source can offer.
    "q275_dsv2_runtime_pruning" -> Q(
      (s, d) => {
        val fact = s.read.format("graft.sources.SeqSourceProvider")
          .option("rows", "1000000").option("slices", "8").load()
        val keys = Tables(s, d, "customer")
          .filter(col("c_mktsegment") === "BUILDING")
          .select(col("c_custkey").cast("long").as("id"))
        fact.join(broadcast(keys), "id")
          .groupBy(col("m7"))
          .agg(count(lit(1)).as("n"), sum("sq").as("sum_sq"),
            min("id").as("min_id"), max("id").as("max_id"))
      },
      """WITH k AS (SELECT CAST(c_custkey AS BIGINT) AS id
        |  FROM customer WHERE c_mktsegment = 'BUILDING')
        |SELECT range % 7 AS m7, count(*) AS n,
        |  CAST(sum(range * range) AS BIGINT) AS sum_sq,
        |  min(range) AS min_id, max(range) AS max_id
        |FROM range(0, 1000000) r JOIN k ON r.range = k.id
        |GROUP BY 1""".stripMargin),

    // Deterministic stratified sampling: a fixed-size per-language
    // eval slice drawn by content-hash order (md5 — portable across
    // engines, unlike a seeded RNG whose stream is engine-private).
    // Hash-ordering IS the sample's randomness: any content-uniform
    // hash makes "first 25 by hash" an unbiased draw that every
    // engine, rerun, and the oracle reproduce bit-identically. The
    // engine side deliberately writes the row_number WINDOW idiom —
    // the TopKRewrite optimizer rule turns it into the native heap
    // top-k automatically (no sort, pruned shuffle), which is the
    // whole point of having the rule: sampling code stays declarative.
    "q259_hash_stratified_sample" -> Q(
      (s, d) => {
        val w = Window.partitionBy("lang")
          .orderBy(md5(col("text")), col("doc_id"))
        Tables(s, d, "documents")
          .select(col("doc_id"), col("lang"), col("text"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 25)
          .select("doc_id", "lang")
      },
      """SELECT doc_id, lang FROM documents
        |QUALIFY row_number() OVER (PARTITION BY lang
        |  ORDER BY md5(text), doc_id) <= 25""".stripMargin),

    // q120's semantics on the native per-key top-k operator: the
    // lateral plan runs two sorts plus a Window around its group
    // limits (see PLANS); the heap pair needs neither — the partial
    // pass prunes each map partition to ≤3 rows per supplier before
    // the exchange, and the rank column never existed to begin with
    // (the output doesn't carry it). The supplier side collapses to a
    // broadcast semi join (FK hygiene only — every l_suppkey exists).
    // Same oracle SQL as q120: identical rows, different physics.
    "q254_native_lateral_topk" -> Q(
      (s, d) => {
        val li = Tables(s, d, "lineitem")
          .select("l_suppkey", "l_orderkey", "l_extendedprice")
        graft.ops.TopK.perKey(li, Seq("l_suppkey"),
          Seq(col("l_extendedprice").desc, col("l_orderkey")), k = 3)
          .join(broadcast(Tables(s, d, "supplier").select("s_suppkey")),
            col("l_suppkey") === col("s_suppkey"), "left_semi")
          .select(col("l_suppkey").as("s_suppkey"), col("l_orderkey"),
            col("l_extendedprice"))
      },
      lateralTopkSql("supplier", "lineitem")),

    // Per-source corpus governance report — the "data card" pass a
    // training pipeline runs before mixing: volume, exact-duplicate
    // incidence (docs sharing a content fingerprint), language
    // spread, and mean length, composed as ONE plan (fingerprint
    // groupBy + join back + per-source aggregate). All-integer sums;
    // the one ratio divides two exact integers.
    "q121_source_report" -> Q(
      (s, d) => {
        val docs = Tables(s, d, "documents")
          .withColumn("fp", md5(col("text")))
        val fpCounts = docs.groupBy("fp").agg(count(lit(1)).as("nfp"))
        docs.join(fpCounts, "fp")
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("nfp") > 1, 1L).otherwise(0L)).as("n_dup_docs"),
            sum("n_chars").as("total_chars"),
            countDistinct("lang").as("n_langs"))
          .withColumn("mean_chars",
            col("total_chars").cast("double") / col("n_docs"))
      },
      """WITH fp AS (
        |  SELECT source, lang, n_chars, md5(text) AS fp FROM documents),
        |fpc AS (SELECT fp, count(*) AS nfp FROM fp GROUP BY fp)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN nfp > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  count(DISTINCT lang) AS n_langs,
        |  CAST(sum(n_chars) AS DOUBLE) / count(*) AS mean_chars
        |FROM fp JOIN fpc USING (fp)
        |GROUP BY source""".stripMargin),

    // Phrase mining by association strength: skip-gram pairs (token
    // distance ≤ 2) scored by LIFT — p(ab) / (p(a)·p(b)) — computed
    // log-free as a fixed-order chain of divisions of exact integer
    // counts, so both engines produce bit-identical scores (PMI's log
    // would drag in libm divergence). One explode + three aggregates.
    "q122_skipgram_lift" -> Q(
      (s, d) => {
        val toks = graft.ops.Spread.cpu(Tables(s, d, "documents")
            .select(col("text")))
          .select(TextOps.whitespaceTokens(lower(col("text"))).as("w"))
        val pairs = toks.select(explode(concat(
            zip_with(col("w"), slice(col("w"), lit(2), greatest(size(col("w")) - 1, lit(0))),
              (a, b) => concat_ws(" ", a, b)),
            zip_with(col("w"), slice(col("w"), lit(3), greatest(size(col("w")) - 2, lit(0))),
              (a, b) => concat_ws(" ", a, b)))).as("pair"))
          .filter(size(split(col("pair"), " ")) === 2)
        val tokCounts = toks.select(explode(col("w")).as("tok"))
          .groupBy("tok").agg(count(lit(1)).as("n_tok"))
        val totals = toks.select(
          sum(size(col("w"))).as("n_total")).withColumn("__k", lit(1))
        val pairCounts = pairs.groupBy("pair").agg(count(lit(1)).as("n_pair"))
          .filter(col("n_pair") >= 5)
          .withColumn("__k", lit(1))
        // total pair count as a 1-row aggregate joined on __k (same
        // trick as `totals`) — NOT a driver-side count(), which would
        // force a full extra materialization of the explode pipeline
        // at plan-build time
        val mTot = pairs.agg(count(lit(1)).as("m")).withColumn("__k", lit(1))
        pairCounts.join(totals, "__k").join(mTot, "__k")
          .withColumn("tok_a", split(col("pair"), " ").getItem(0))
          .withColumn("tok_b", split(col("pair"), " ").getItem(1))
          .join(tokCounts.toDF("tok_a", "n_a"), "tok_a")
          .join(tokCounts.toDF("tok_b", "n_b"), "tok_b")
          .withColumn("lift",
            (col("n_pair").cast("double") / col("m")) /
              ((col("n_a").cast("double") / col("n_total")) *
                (col("n_b").cast("double") / col("n_total"))))
          .select("pair", "n_pair", "lift")
          .orderBy(col("lift").desc, col("pair")).limit(30)
      },
      """WITH toks AS (
        |  SELECT string_split_regex(trim(lower(text)), '\s+') AS w FROM documents),
        |pairs AS (
        |  SELECT unnest(
        |    list_transform(range(1, greatest(array_length(w), 1)),
        |      i -> w[i] || ' ' || w[i+1]) ||
        |    list_transform(range(1, greatest(array_length(w) - 1, 1)),
        |      i -> w[i] || ' ' || w[i+2])) AS pair
        |  FROM toks),
        |pairs2 AS (SELECT pair FROM pairs WHERE len(string_split(pair, ' ')) = 2),
        |tc AS (SELECT unnest(w) AS tok FROM toks),
        |tok_counts AS (SELECT tok, count(*) AS n_tok FROM tc GROUP BY tok),
        |totals AS (SELECT count(*) AS n_total FROM tc),
        |m AS (SELECT count(*) AS m FROM pairs2),
        |pc AS (SELECT pair, count(*) AS n_pair FROM pairs2
        |       GROUP BY pair HAVING count(*) >= 5)
        |SELECT pc.pair, pc.n_pair,
        |  (CAST(pc.n_pair AS DOUBLE) / m.m) /
        |    ((CAST(a.n_tok AS DOUBLE) / t.n_total) *
        |     (CAST(b.n_tok AS DOUBLE) / t.n_total)) AS lift
        |FROM pc
        |JOIN tok_counts a ON a.tok = string_split(pc.pair, ' ')[1]
        |JOIN tok_counts b ON b.tok = string_split(pc.pair, ' ')[2]
        |CROSS JOIN totals t CROSS JOIN m
        |ORDER BY lift DESC, pc.pair LIMIT 30""".stripMargin),

    // Equal-allocation stratified sample: exactly `n` docs per
    // language, selected by salted-md5 order (id tie-break) — the
    // deterministic eval-set constructor. One window over the stratum.
    "q123_stratified_eval" -> Q(
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("lang")
          .orderBy(Mixture.uniformHex("eval1", col("doc_id")), col("doc_id"))
        Tables(s, d, "documents")
          .withColumn("pick", row_number().over(w).cast("long"))
          .filter(col("pick") <= 20)
          .select("lang", "pick", "doc_id", "n_chars")
      },
      """SELECT lang, pick, doc_id, n_chars FROM (
        |  SELECT lang, doc_id, n_chars,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY substring(md5('eval1' || CAST(doc_id AS VARCHAR)), 1, 4),
        |               doc_id) AS pick
        |  FROM documents)
        |WHERE pick <= 20""".stripMargin),

    // Quality-weighted Bernoulli sample: keep probability proportional
    // to document length (saturating at 4000 chars) — zero-shuffle
    // projection, md5-replayable keep set.
    "q109_weighted_sample" -> Q(
      (s, d) =>
        Tables(s, d, "documents")
          .filter(Mixture.keepWeighted(
            col("doc_id"), "wsamp", col("n_chars") / lit(4000.0)))
          .select("doc_id", "lang", "n_chars"),
      s"""SELECT doc_id, lang, n_chars FROM documents
         |WHERE ${Mixture.keepWeightedSql("doc_id", "wsamp", "n_chars / 4000.0")}"""
        .stripMargin),

    // Versioned-snapshot storage (io/SnapTable): three commits —
    // append, append, overwrite — then a TIME-TRAVEL read of every
    // version from the manifest log. The replay rule (overwrite
    // resets the live file set, append accretes) is exactly what
    // makes a 100 TB table transactional: readers resolve a manifest
    // list, never a directory listing, so a half-finished writer is
    // invisible and history stays queryable. The oracle recomputes
    // each version's expected contents from the raw table.
    "q278_snapshot_time_travel" -> Q(
      (s, d) => {
        val root = scratchDir("snap")
        val o = Tables(s, d, "orders").select("o_orderkey", "o_totalprice")
        graft.io.SnapTable.commit(
          o.filter(col("o_orderkey") % 3 === 0), root, "o_orderkey")
        graft.io.SnapTable.commit(
          o.filter(col("o_orderkey") % 3 === 1), root, "o_orderkey")
        graft.io.SnapTable.commit(
          o.filter(col("o_totalprice") > 150000.0), root, "o_orderkey",
          action = "overwrite")
        Seq(1, 2, 3).map { v =>
          graft.io.SnapTable.read(s, root, Some(v))
            .agg(count(lit(1)).as("n_rows"),
              sum(expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"))
                .as("sum_cents"))
            .select(lit(v.toLong).as("version"), col("n_rows"),
              col("sum_cents"))
        }.reduce(_.unionAll(_))
      },
      """WITH c AS (
        |  SELECT o_orderkey, o_totalprice,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        |  FROM orders)
        |SELECT CAST(1 AS BIGINT) AS version,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM c WHERE o_orderkey % 3 = 0
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), CAST(count(*) AS BIGINT),
        |  CAST(sum(cents) AS BIGINT)
        |FROM c WHERE o_orderkey % 3 IN (0, 1)
        |UNION ALL
        |SELECT CAST(3 AS BIGINT), CAST(count(*) AS BIGINT),
        |  CAST(sum(cents) AS BIGINT)
        |FROM c WHERE o_totalprice > 150000""".stripMargin),

    // The manifest's per-file min/max as a FILE-SKIPPING index, gated
    // end to end: four disjoint orderkey-range commits (one file
    // each), a pruned read for a range overlapping exactly two of
    // them, and the number of files actually opened REPORTED AS DATA
    // (count of distinct `_snap_file` values). The oracle recomputes the
    // skip decision from the declared layout — so a reader that opens
    // too many (or too few) files hash-fails, not just slows down. At
    // scale this tier prunes the listing before any footer is read.
    "q279_snapshot_file_skipping" -> Q(
      (s, d) => {
        val root = scratchDir("snap2")
        val o = Tables(s, d, "orders").select("o_orderkey", "o_totalprice")
        Seq((0L, 4000L), (4000L, 8000L), (8000L, 12000L),
          (12000L, 100000000L)).foreach { case (a, b) =>
          graft.io.SnapTable.commit(
            o.filter(col("o_orderkey") >= a && col("o_orderkey") < b),
            root, "o_orderkey")
        }
        graft.io.SnapTable.readPruned(s, root, "o_orderkey", 5000L, 10000L)
          .select(col("o_totalprice"),
            col(graft.sources.SnapSource.FileColumn).as("f"))
          .agg(count(lit(1)).as("n_rows"),
            sum(expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"))
              .as("sum_cents"),
            countDistinct(col("f")).as("n_files_read"))
      },
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |    AS BIGINT) AS sum_cents,
        |  (SELECT CAST(count(*) AS BIGINT)
        |   FROM (VALUES (0, 3999), (4000, 7999), (8000, 11999),
        |     (12000, 99999999)) b(mn, mx)
        |   WHERE mx >= 5000 AND mn <= 10000) AS n_files_read
        |FROM orders WHERE o_orderkey BETWEEN 5000 AND 10000""".stripMargin),

    // OPTIMIZE on the snapshot table: four single-file appends (the
    // small-files problem in miniature) compacted into two
    // range-partitioned files by one overwrite commit. Data identity
    // AND the post-compaction file count are both hash-gated; the
    // pre-compaction v4 snapshot stays readable (immutability — the
    // maintenance pass changes the LISTING, never a file a reader
    // might hold).
    "q280_snapshot_compaction" -> Q(
      (s, d) => {
        val root = scratchDir("snap3")
        val o = Tables(s, d, "orders").select("o_orderkey", "o_totalprice")
        Seq((0L, 4000L), (4000L, 8000L), (8000L, 12000L),
          (12000L, 100000000L)).foreach { case (a, b) =>
          graft.io.SnapTable.commit(
            o.filter(col("o_orderkey") >= a && col("o_orderkey") < b),
            root, "o_orderkey")
        }
        graft.io.SnapTable.compact(s, root, "o_orderkey", targetFiles = 2)
        graft.io.SnapTable.read(s, root)
          .select(col("o_totalprice"),
            col(graft.sources.SnapSource.FileColumn).as("f"))
          .agg(count(lit(1)).as("n_rows"),
            sum(expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"))
              .as("sum_cents"),
            countDistinct(col("f")).as("n_files_read"))
      },
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |    AS BIGINT) AS sum_cents,
        |  CAST(2 AS BIGINT) AS n_files_read
        |FROM orders""".stripMargin),

    // MERGE with file-granular copy-on-write: a price correction for
    // keys in [5000, 6000) touches exactly ONE of the four live range
    // files; the other three ride into the new manifest unrewritten.
    // The post-merge snapshot (rows, corrected sum) and the total
    // file count (3 untouched + 1 rewritten = 4) are hash-gated
    // against the oracle's CASE-adjusted recompute — at 100 TB the
    // rewritten-file count IS the merge's cost, so it is checked as
    // data, not trusted.
    "q281_snapshot_merge" -> Q(
      (s, d) => {
        val root = scratchDir("snap4")
        val o = Tables(s, d, "orders").select("o_orderkey", "o_totalprice")
        Seq((0L, 4000L), (4000L, 8000L), (8000L, 12000L),
          (12000L, 100000000L)).foreach { case (a, b) =>
          graft.io.SnapTable.commit(
            o.filter(col("o_orderkey") >= a && col("o_orderkey") < b),
            root, "o_orderkey")
        }
        val updates = o
          .filter(col("o_orderkey") >= 5000L && col("o_orderkey") < 6000L)
          .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
        graft.io.SnapTable.merge(s, root, "o_orderkey", updates)
        graft.io.SnapTable.read(s, root)
          .select(col("o_totalprice"),
            col(graft.sources.SnapSource.FileColumn).as("f"))
          .agg(count(lit(1)).as("n_rows"),
            sum(expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"))
              .as("sum_cents"),
            countDistinct(col("f")).as("n_files_read"))
      },
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(floor(
        |    (CASE WHEN o_orderkey >= 5000 AND o_orderkey < 6000
        |          THEN o_totalprice + 1000.0 ELSE o_totalprice END)
        |    * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents,
        |  CAST(4 AS BIGINT) AS n_files_read
        |FROM orders""".stripMargin),

    // Streaming ingest INTO the snapshot table with EXACTLY-ONCE
    // commit semantics: each micro-batch commits as a manifest
    // carrying its batch id, and a REPLAYED batch (here: the same
    // source driven again from a FRESH checkpoint — the crash-replay
    // shape) is recognized by its id and skipped, not double-landed.
    // The manifest log, not the checkpoint, is the sink's source of
    // truth. n_commits is reported as data: two full drives, one
    // commit. The oracle is the batch recompute — stream-ingested ≡
    // read-at-once proves loss- and duplication-freedom.
    "q282_snapshot_stream_ingest" -> Q(
      (s, d) => {
        val root = scratchDir("snap5")
        def drive(ck: String): Unit = graft.io.SnapTable.streamInto(
          s.readStream
            .schema(graft.streaming.EventStream.documentsSchema)
            .option("pathGlobFilter", "documents.parquet").parquet(d)
            .select("doc_id", "lang", "n_chars"),
          root, "doc_id", ck)
        drive(scratchDir("snap5ck1"))
        drive(scratchDir("snap5ck2")) // fresh checkpoint → replay of batch 0
        graft.io.SnapTable.read(s, root)
          .agg(count(lit(1)).as("n_rows"),
            sum("n_chars").as("sum_chars"))
          .select(col("n_rows"), col("sum_chars"),
            lit(graft.io.SnapTable.currentVersion(root).toLong)
              .as("n_commits"))
      },
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(1 AS BIGINT) AS n_commits
        |FROM documents""".stripMargin),

    // Additive schema evolution on the snapshot table: v2 appends a
    // column v1's files never heard of; the snapshot read unions the
    // file schemas (old rows surface NULL) so history is never
    // rewritten for an ALTER TABLE ADD COLUMN. Both the evolved
    // column's aggregate and the row count are hash-gated against a
    // CASE recompute.
    "q283_snapshot_schema_evolution" -> Q(
      (s, d) => {
        val root = scratchDir("snap6")
        val o = Tables(s, d, "orders").select("o_orderkey", "o_totalprice")
        graft.io.SnapTable.commit(
          o.filter(col("o_orderkey") % 2 === 0), root, "o_orderkey")
        graft.io.SnapTable.commit(
          o.filter(col("o_orderkey") % 2 === 1)
            .withColumn("priority_cents",
              expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")),
          root, "o_orderkey")
        graft.io.SnapTable.read(s, root)
          .agg(count(lit(1)).as("n_rows"),
            count(col("priority_cents")).as("n_evolved"),
            sum(coalesce(col("priority_cents"), lit(0L))).as("sum_evolved"))
      },
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CASE WHEN o_orderkey % 2 = 1 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_evolved,
        |  CAST(sum(CASE WHEN o_orderkey % 2 = 1
        |    THEN CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
        |    ELSE 0 END) AS BIGINT) AS sum_evolved
        |FROM orders""".stripMargin),

    // CDC between snapshot versions from the MANIFEST diff: after a
    // file-granular merge, only the one rewritten file (plus its
    // predecessor) is read — the three untouched files cost nothing —
    // and the row-level multiset diff cancels the rewrite back to its
    // net effect: exactly the updated rows appear as delete+insert
    // pairs. This is the incremental-consumer feed (MV refresh,
    // downstream sync) that replaces re-reading a 100 TB table. The
    // oracle recomputes the expected delta from the update predicate.
    "q284_snapshot_version_cdc" -> Q(
      (s, d) => {
        val root = scratchDir("snap7")
        val o = Tables(s, d, "orders").select("o_orderkey", "o_totalprice")
        Seq((0L, 4000L), (4000L, 8000L), (8000L, 12000L),
          (12000L, 100000000L)).foreach { case (a, b) =>
          graft.io.SnapTable.commit(
            o.filter(col("o_orderkey") >= a && col("o_orderkey") < b),
            root, "o_orderkey")
        }
        val vBase = graft.io.SnapTable.currentVersion(root)
        val updates = o
          .filter(col("o_orderkey") >= 5000L && col("o_orderkey") < 5200L)
          .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
        val (vNew, _) = graft.io.SnapTable.merge(s, root, "o_orderkey", updates)
        val (ins, del) = graft.io.SnapTable.changes(s, root, vBase, vNew)
        def agg(df: org.apache.spark.sql.DataFrame, side: String) =
          df.agg(count(lit(1)).as("n_rows"),
            sum(expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"))
              .as("sum_cents"))
            .select(lit(side).as("side"), col("n_rows"), col("sum_cents"))
        agg(ins, "insert").unionAll(agg(del, "delete"))
      },
      """WITH u AS (
        |  SELECT o_orderkey, o_totalprice FROM orders
        |  WHERE o_orderkey >= 5000 AND o_orderkey < 5200)
        |SELECT 'insert' AS side, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(floor((o_totalprice + 1000.0) * 100 + 0.5)
        |    AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM u
        |UNION ALL
        |SELECT 'delete', CAST(count(*) AS BIGINT),
        |  CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |    AS BIGINT)
        |FROM u""".stripMargin),

    // The full lakehouse maintenance loop in one gate: a merge lands
    // on the snapshot table, q284's manifest-diff CDC extracts its
    // net row delta (reading only the rewritten file), and the
    // aggregate MV refreshes by retractable state algebra —
    // retract(base, fold(inserts), negate(fold(deletes))) — in
    // O(delta). The oracle recomputes the view from scratch over the
    // post-merge data: incremental ≡ recompute is the property that
    // lets a 100 TB view absorb a 200-row correction without
    // re-reading anything but the touched file and the state table.
    "q285_snapshot_incremental_mv" -> Q(
      (s, d) => {
        val root = scratchDir("snap8")
        val o = Tables(s, d, "orders").select("o_orderkey", "o_totalprice")
        Seq((0L, 4000L), (4000L, 8000L), (8000L, 12000L),
          (12000L, 100000000L)).foreach { case (a, b) =>
          graft.io.SnapTable.commit(
            o.filter(col("o_orderkey") >= a && col("o_orderkey") < b),
            root, "o_orderkey")
        }
        val vBase = graft.io.SnapTable.currentVersion(root)
        def toState(df: org.apache.spark.sql.DataFrame) =
          graft.ops.MaterializedAgg.fold(
            df.select((col("o_orderkey") % 7).as("grp"),
              expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")
                .as("cents")),
            Seq("grp"), Seq("cents"))
        val base = toState(graft.io.SnapTable.read(s, root, Some(vBase)))
        val updates = o
          .filter(col("o_orderkey") >= 5000L && col("o_orderkey") < 5200L)
          .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
        val (vNew, _) = graft.io.SnapTable.merge(s, root, "o_orderkey", updates)
        val (ins, del) = graft.io.SnapTable.changes(s, root, vBase, vNew)
        graft.ops.MaterializedAgg.retract(base, toState(ins),
            graft.ops.MaterializedAgg.negate(toState(del)))
          .select(col("grp"), col("n").cast("long").as("n"),
            col("sum_cents").cast("long").as("sum_cents"))
      },
      """SELECT o_orderkey % 7 AS grp, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(floor(
        |    (CASE WHEN o_orderkey >= 5000 AND o_orderkey < 5200
        |          THEN o_totalprice + 1000.0 ELSE o_totalprice END)
        |    * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM orders GROUP BY 1""".stripMargin),

    // MULTI-dimensional file skipping: four quadrant commits over
    // (o_orderkey, o_custkey), each file carrying a tight min/max box
    // in BOTH columns, then a rectangle read that must open exactly
    // ONE quadrant — the key dimension alone would keep two files,
    // the custkey stats cut the second one, which a single-column
    // layout cannot express (the manifest-level analogue of what
    // Z-order buys the footer tier). As in q279, the opened-file
    // count is DATA, hash-checked against the oracle's replay of the
    // box-intersection decision.
    "q286_snapshot_2d_skipping" -> Q(
      (s, d) => {
        val root = scratchDir("snap9")
        val o = Tables(s, d, "orders")
          .select("o_orderkey", "o_custkey", "o_totalprice")
        for (kLow <- Seq(true, false); cLow <- Seq(true, false)) {
          val part = o
            .filter(if (kLow) col("o_orderkey") < 6000
            else col("o_orderkey") >= 6000)
            .filter(if (cLow) col("o_custkey") < 600
            else col("o_custkey") >= 600)
          graft.io.SnapTable.commitCols(part, root,
            Seq("o_orderkey", "o_custkey"))
        }
        graft.io.SnapTable.readPrunedMulti(s, root,
            Seq("o_orderkey" -> (0L, 5000L), "o_custkey" -> (0L, 500L)))
          .select(col("o_totalprice"),
            col(graft.sources.SnapSource.FileColumn).as("f"))
          .agg(count(lit(1)).as("n_rows"),
            sum(expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"))
              .as("sum_cents"),
            countDistinct(col("f")).as("n_files_read"))
      },
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |    AS BIGINT) AS sum_cents,
        |  (SELECT CAST(count(*) AS BIGINT)
        |   FROM (VALUES (0, 5999, 0, 599), (0, 5999, 600, 99999999),
        |     (6000, 99999999, 0, 599), (6000, 99999999, 600, 99999999))
        |     b(kmn, kmx, cmn, cmx)
        |   WHERE kmx >= 0 AND kmn <= 5000 AND cmx >= 0 AND cmn <= 500)
        |    AS n_files_read
        |FROM orders
        |WHERE o_orderkey BETWEEN 0 AND 5000
        |  AND o_custkey BETWEEN 0 AND 500""".stripMargin),

    // The rank()=1 argmax WITH TIES, written declaratively: every doc
    // tied at its language's best score bucket survives — rank()
    // semantics, not row_number's pick-one. TopKRewrite lowers this
    // to the ties-mode native top-1 (no Window, no sort, shuffle
    // pruned to the per-partition winners), exact for any order —
    // the q94 idiom when the caller WANTS the tied set.
    "q287_argmax_rank_ties" -> Q(
      (s, d) => {
        val W = org.apache.spark.sql.expressions.Window
        val w = W.partitionBy("lang")
          .orderBy(col("score").desc)
        Tables(s, d, "documents")
          .select(col("doc_id"), col("lang"),
            expr("n_chars div 1000").as("score"))
          .withColumn("r", rank().over(w))
          .filter(col("r") === 1).drop("r")
      },
      """SELECT doc_id, lang, n_chars // 1000 AS score FROM documents
        |QUALIFY rank() OVER (PARTITION BY lang
        |  ORDER BY n_chars // 1000 DESC) = 1""".stripMargin),

    // q287's general form: rank() <= k for k > 1 — top-3 score
    // buckets per language WITH boundary ties kept whole (rank
    // semantics; row_number would pick arbitrarily inside the tied
    // bucket). Since r11 TopKRewrite lowers this to rank-mode
    // TopKPerKey: per-key tie GROUPS in a bounded tree, no Window, no
    // sort, shuffle pruned to the qualifiers — and a coarse-order tie
    // explosion degrades to a spillable sort-and-scan instead of
    // OOMing (TopKRewriteSpec pins that path). Exact for any order.
    "q290_rank_topk_boundary_ties" -> Q(
      (s, d) => {
        val W = org.apache.spark.sql.expressions.Window
        val w = W.partitionBy("lang").orderBy(col("score").desc)
        Tables(s, d, "documents")
          .select(col("doc_id"), col("lang"),
            expr("n_chars div 1000").as("score"))
          .withColumn("r", rank().over(w))
          .filter(col("r") <= 3).drop("r")
      },
      """SELECT doc_id, lang, n_chars // 1000 AS score FROM documents
        |QUALIFY rank() OVER (PARTITION BY lang
        |  ORDER BY n_chars // 1000 DESC) <= 3""".stripMargin),

    // dense_rank() <= k: the 2 best distinct score buckets per
    // language, every document in them — the "top value tiers" ask
    // (rank() would stop counting tiers after a big tie; dense_rank
    // counts VALUES). Lowered to dense-mode TopKPerKey: at most k
    // groups retained per key.
    "q291_dense_rank_top_tiers" -> Q(
      (s, d) => {
        val W = org.apache.spark.sql.expressions.Window
        val w = W.partitionBy("lang").orderBy(col("score").desc)
        Tables(s, d, "documents")
          .select(col("doc_id"), col("lang"),
            expr("n_chars div 2000").as("score"))
          .withColumn("r", dense_rank().over(w))
          .filter(col("r") <= 2).drop("r")
      },
      """SELECT doc_id, lang, n_chars // 2000 AS score FROM documents
        |QUALIFY dense_rank() OVER (PARTITION BY lang
        |  ORDER BY n_chars // 2000 DESC) <= 2""".stripMargin),

    // q279's manifest file skipping, now reached from the PLANNER:
    // the snap DSv2 connector (sources/SnapSource) pushes the range
    // predicate into the scan builder, prunes non-overlapping files
    // from the listing, and the `_snap_file` metadata column reports
    // the opened-file count AS DATA against the oracle's replay of the
    // skip decision — `spark.read.format(...)` and SQL users get the
    // q279 tier without the bespoke Scala API.
    "q292_snap_dsv2_skipping" -> Q(
      (s, d) => {
        val root = scratchDir("snapd1")
        val o = Tables(s, d, "orders").select("o_orderkey", "o_totalprice")
        Seq((0L, 4000L), (4000L, 8000L), (8000L, 12000L),
          (12000L, 100000000L)).foreach { case (a, b) =>
          graft.io.SnapTable.commit(
            o.filter(col("o_orderkey") >= a && col("o_orderkey") < b),
            root, "o_orderkey")
        }
        s.read.format("graft.sources.SnapSourceProvider").load(root)
          .filter(col("o_orderkey").between(5000L, 10000L))
          .select(col("o_totalprice"),
            col(graft.sources.SnapSource.FileColumn).as("f"))
          .agg(count(lit(1)).as("n_rows"),
            sum(expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"))
              .as("sum_cents"),
            countDistinct(col("f")).as("n_files_read"))
      },
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |    AS BIGINT) AS sum_cents,
        |  (SELECT CAST(count(*) AS BIGINT)
        |   FROM (VALUES (0, 3999), (4000, 7999), (8000, 11999),
        |     (12000, 99999999)) b(mn, mx)
        |   WHERE mx >= 5000 AND mn <= 10000) AS n_files_read
        |FROM orders WHERE o_orderkey BETWEEN 5000 AND 10000""".stripMargin),

    // q275's join-driven runtime pruning pointed at a REAL table: the
    // snap scan probes a broadcast join whose build side (distinct
    // orderkeys of 50-unit lineitems) is unknowable statically;
    // SupportsRuntimeFiltering hands the key set to the scan
    // post-broadcast and partition planning re-prunes the FILE list
    // (PlanShapeSpec pins the dynamicpruning expression on the scan,
    // SnapSourceSpec pins the scan's numOutputRows). The matched-file
    // count is hash-gated as data: files whose manifest box holds at
    // least one build key — replayed by the oracle from the declared
    // layout.
    "q293_snap_dsv2_runtime_pruning" -> Q(
      (s, d) => {
        val root = scratchDir("snapd2")
        val o = Tables(s, d, "orders").select("o_orderkey", "o_totalprice")
        Seq((0L, 4000L), (4000L, 8000L), (8000L, 12000L),
          (12000L, 100000000L)).foreach { case (a, b) =>
          graft.io.SnapTable.commit(
            o.filter(col("o_orderkey") >= a && col("o_orderkey") < b),
            root, "o_orderkey")
        }
        val dim = Tables(s, d, "lineitem")
          .filter(col("l_quantity") === 50)
          .select(col("l_orderkey").cast("long").as("o_orderkey"))
          .distinct()
        s.read.format("graft.sources.SnapSourceProvider").load(root)
          .select(col("o_orderkey"), col("o_totalprice"),
            col(graft.sources.SnapSource.FileColumn).as("f"))
          .join(broadcast(dim), "o_orderkey")
          .agg(count(lit(1)).as("n_rows"),
            sum(expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"))
              .as("sum_cents"),
            countDistinct(col("f")).as("n_files_read"))
      },
      """WITH k AS (SELECT DISTINCT CAST(l_orderkey AS BIGINT) AS id
        |  FROM lineitem WHERE l_quantity = 50)
        |SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |    AS BIGINT) AS sum_cents,
        |  (SELECT CAST(count(*) AS BIGINT)
        |   FROM (VALUES (0, 3999), (4000, 7999), (8000, 11999),
        |     (12000, 99999999)) b(mn, mx)
        |   WHERE EXISTS (SELECT 1 FROM k
        |     WHERE k.id BETWEEN b.mn AND b.mx)) AS n_files_read
        |FROM orders JOIN k ON o_orderkey = k.id""".stripMargin),

    // q278's time travel through the READER OPTION: every version of
    // the manifest log resolved by `option("versionAsOf", v)` on the
    // DSv2 source — history is SQL-visible, not a library call. Same
    // oracle recompute as q278.
    "q294_snap_time_travel_sql" -> Q(
      (s, d) => {
        val root = scratchDir("snapd3")
        val o = Tables(s, d, "orders").select("o_orderkey", "o_totalprice")
        graft.io.SnapTable.commit(
          o.filter(col("o_orderkey") % 3 === 0), root, "o_orderkey")
        graft.io.SnapTable.commit(
          o.filter(col("o_orderkey") % 3 === 1), root, "o_orderkey")
        graft.io.SnapTable.commit(
          o.filter(col("o_totalprice") > 150000.0), root, "o_orderkey",
          action = "overwrite")
        Seq(1, 2, 3).map { v =>
          s.read.format("graft.sources.SnapSourceProvider")
            .option("versionAsOf", v.toString).load(root)
            .agg(count(lit(1)).as("n_rows"),
              sum(expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"))
                .as("sum_cents"))
            .select(lit(v.toLong).as("version"), col("n_rows"),
              col("sum_cents"))
        }.reduce(_.unionAll(_))
      },
      """WITH c AS (
        |  SELECT o_orderkey, o_totalprice,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        |  FROM orders)
        |SELECT CAST(1 AS BIGINT) AS version,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM c WHERE o_orderkey % 3 = 0
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), CAST(count(*) AS BIGINT),
        |  CAST(sum(cents) AS BIGINT)
        |FROM c WHERE o_orderkey % 3 IN (0, 1)
        |UNION ALL
        |SELECT CAST(3 AS BIGINT), CAST(count(*) AS BIGINT),
        |  CAST(sum(cents) AS BIGINT)
        |FROM c WHERE o_totalprice > 150000""".stripMargin),

    // Row-level DELETE on the snapshot table: a key-range purge (the
    // GDPR/retention shape) rewrites ONLY the one live file whose
    // manifest box intersects the range — the other three ride into
    // the new manifest by path — and vacuum then reclaims exactly the
    // superseded pre-image file. Everything observable is hash-gated
    // as data: surviving rows/sum, the post-delete file count
    // (3 untouched + 1 rewritten), the deleted-row count, and the
    // reclaimed-file count. At 100 TB this is the difference between
    // a copy-on-write of the touched files and rewriting the table.
    "q295_snap_delete" -> Q(
      (s, d) => {
        val root = scratchDir("snapd5")
        val o = Tables(s, d, "orders").select("o_orderkey", "o_totalprice")
        Seq((0L, 4000L), (4000L, 8000L), (8000L, 12000L),
          (12000L, 100000000L)).foreach { case (a, b) =>
          graft.io.SnapTable.commit(
            o.filter(col("o_orderkey") >= a && col("o_orderkey") < b),
            root, "o_orderkey")
        }
        val (v, _, nDeleted) = graft.io.SnapTable.delete(
          s, root, "o_orderkey", 5000L, 5999L)
        val reclaimed = graft.io.SnapTable.vacuum(root, keepFrom = v,
          graceMs = 0L) // no concurrent writer in this gate
        s.read.format("graft.sources.SnapSourceProvider").load(root)
          .select(col("o_totalprice"),
            col(graft.sources.SnapSource.FileColumn).as("f"))
          .agg(count(lit(1)).as("n_rows"),
            sum(expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"))
              .as("sum_cents"),
            countDistinct(col("f")).as("n_files_read"))
          .select(col("n_rows"), col("sum_cents"), col("n_files_read"),
            lit(nDeleted).as("n_deleted"),
            lit(reclaimed.toLong).as("n_reclaimed"))
      },
      """SELECT
        |  CAST(sum(CASE WHEN o_orderkey BETWEEN 5000 AND 5999
        |    THEN 0 ELSE 1 END) AS BIGINT) AS n_rows,
        |  CAST(sum(CASE WHEN o_orderkey BETWEEN 5000 AND 5999 THEN 0
        |    ELSE CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) END)
        |    AS BIGINT) AS sum_cents,
        |  CAST(4 AS BIGINT) AS n_files_read,
        |  CAST(sum(CASE WHEN o_orderkey BETWEEN 5000 AND 5999
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_deleted,
        |  CAST(1 AS BIGINT) AS n_reclaimed
        |FROM orders""".stripMargin),

    // The snap connector's WRITE path: df.write.format(...) publishes
    // a manifest commit with per-file stats computed INLINE by the
    // writer tasks (no read-back scan), Spark range-distributing the
    // input on the stat column via RequiresDistributionAndOrdering so
    // files carve skippable ranges. Two disjoint appends, a pruned
    // read-back (file count as data), then mode("overwrite") =
    // truncate-and-replace — history intact, liveness reset. Every
    // observable is hash-gated against the oracle's recompute.
    "q296_snap_dsv2_write" -> Q(
      (s, d) => {
        val root = scratchDir("snapd6")
        val o = Tables(s, d, "orders").select("o_orderkey", "o_totalprice")
        def w(df: org.apache.spark.sql.DataFrame, mode: String): Unit =
          df.write.format("graft.sources.SnapSourceProvider")
            .option("statCols", "o_orderkey").option("filesPerCommit", "1")
            .mode(mode).save(root)
        w(o.filter(col("o_orderkey") < 6000), "append")
        w(o.filter(col("o_orderkey") >= 6000), "append")
        // materialize BEFORE the overwrite truncates the live set —
        // the scan resolves its file list at execution time
        val pruned = s.read.format("graft.sources.SnapSourceProvider")
          .load(root)
          .filter(col("o_orderkey") <= 5000L)
          .select(col("o_totalprice"),
            col(graft.sources.SnapSource.FileColumn).as("f"))
          .agg(count(lit(1)).as("n_rows"),
            sum(expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"))
              .as("sum_cents"),
            countDistinct(col("f")).as("n_files_read"))
          .collect()(0)
        w(o.filter(col("o_totalprice") > 150000.0), "overwrite")
        val after = graft.io.SnapTable.read(s, root).count()
        s.range(1).select(lit(pruned.getLong(0)).as("n_rows"),
          lit(pruned.getLong(1)).as("sum_cents"),
          lit(pruned.getLong(2)).as("n_files_read"),
          lit(after).as("n_after_truncate"))
      },
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |    AS BIGINT) AS sum_cents,
        |  CAST(1 AS BIGINT) AS n_files_read,
        |  (SELECT CAST(count(*) AS BIGINT) FROM orders
        |   WHERE o_totalprice > 150000) AS n_after_truncate
        |FROM orders WHERE o_orderkey <= 5000""".stripMargin),

    // The snap table as a STREAMING SOURCE: offsets are manifest
    // versions, a micro-batch is the files its versions appended —
    // driven twice through one checkpoint, the second drive reads
    // ONLY the commit that landed in between (incremental, no
    // re-scan). The sink is the exactly-once snapshot sink from q282,
    // so stream-out-of ≡ read-at-once proves loss- and
    // duplication-freedom end to end, and the sink's commit count (one
    // per drive) rides along as data.
    "q297_snap_stream_source" -> Q(
      (s, d) => {
        val src = scratchDir("snapd7")
        val sink = scratchDir("snapd8")
        val ck = scratchDir("snapd7ck")
        val docs = Tables(s, d, "documents")
          .select("doc_id", "n_chars")
        graft.io.SnapTable.commit(
          docs.filter(col("doc_id") % 3 === 0), src, "doc_id")
        graft.io.SnapTable.commit(
          docs.filter(col("doc_id") % 3 === 1), src, "doc_id")
        def drive(): Unit = {
          val q = s.readStream.format("graft.sources.SnapSourceProvider")
            .load(src)
            .writeStream
            .foreachBatch {
              (b: org.apache.spark.sql.DataFrame, id: Long) =>
                graft.io.SnapTable.commitStreamBatch(b, id, sink, "doc_id")
                ()
            }
            .option("checkpointLocation", ck)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
        }
        drive()
        graft.io.SnapTable.commit(
          docs.filter(col("doc_id") % 3 === 2), src, "doc_id")
        drive() // incremental: only version 3's file streams
        graft.io.SnapTable.read(s, sink)
          .agg(count(lit(1)).as("n_rows"), sum("n_chars").as("sum_chars"))
          .select(col("n_rows"), col("sum_chars"),
            lit(graft.io.SnapTable.currentVersion(sink).toLong)
              .as("n_sink_commits"))
      },
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(2 AS BIGINT) AS n_sink_commits
        |FROM documents""".stripMargin),

    // q294's time travel with ZERO DataFrame code: the SnapCatalog
    // plugin resolves `catalog.`/path`` identifiers and Spark's own
    // `VERSION AS OF` syntax lands in loadTable(ident, version) — the
    // analyzer's native time-travel hook. The whole query is one SQL
    // string a BI tool could send; same oracle recompute as q278.
    "q298_snap_sql_version_as_of" -> Q(
      (s, d) => {
        val root = scratchDir("snapd9")
        val o = Tables(s, d, "orders").select("o_orderkey", "o_totalprice")
        graft.io.SnapTable.commit(
          o.filter(col("o_orderkey") % 3 === 0), root, "o_orderkey")
        graft.io.SnapTable.commit(
          o.filter(col("o_orderkey") % 3 === 1), root, "o_orderkey")
        graft.io.SnapTable.commit(
          o.filter(col("o_totalprice") > 150000.0), root, "o_orderkey",
          action = "overwrite")
        s.conf.set("spark.sql.catalog.graftsnap",
          classOf[graft.sources.SnapCatalog].getName)
        s.sql(Seq(1, 2, 3).map { v =>
          s"""SELECT CAST($v AS BIGINT) AS version,
             |  count(*) AS n_rows,
             |  sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
             |    AS sum_cents
             |FROM graftsnap.`$root` VERSION AS OF $v""".stripMargin
        }.mkString("\nUNION ALL\n"))
      },
      """WITH c AS (
        |  SELECT o_orderkey, o_totalprice,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        |  FROM orders)
        |SELECT CAST(1 AS BIGINT) AS version,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM c WHERE o_orderkey % 3 = 0
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), CAST(count(*) AS BIGINT),
        |  CAST(sum(cents) AS BIGINT)
        |FROM c WHERE o_orderkey % 3 IN (0, 1)
        |UNION ALL
        |SELECT CAST(3 AS BIGINT), CAST(count(*) AS BIGINT),
        |  CAST(sum(cents) AS BIGINT)
        |FROM c WHERE o_totalprice > 150000""".stripMargin),

    // The snap connector over a TIMESTAMP-carrying schema (the events
    // table's own shape): the r11 reader tier rejected anything beyond
    // bigint/int/double/float/boolean/string/date; the vectorized tier
    // decodes timestamps (and decimals) natively, the manifest carries
    // the schema so resolution opens zero footers, and the aggregates
    // below hash the round-trip as exact epoch-microsecond integers —
    // no cross-engine timestamp formatting in the result at all.
    // (sum is taken over SECONDS offset from a 2020 epoch so it cannot
    // overflow BIGINT at any SF.)
    "q299_snap_typed_read" -> Q(
      (s, d) => {
        val root = scratchDir("snapd10")
        val e = Tables(s, d, "events").select("event_id", "ts", "value")
        graft.io.SnapTable.commit(
          e.filter(col("event_id") % 2 === 0), root, "event_id")
        graft.io.SnapTable.commit(
          e.filter(col("event_id") % 2 === 1), root, "event_id")
        s.read.format("graft.sources.SnapSourceProvider").load(root)
          .agg(count(lit(1)).as("n_rows"),
            min(expr("unix_micros(ts)")).as("min_micros"),
            max(expr("unix_micros(ts)")).as("max_micros"),
            sum(expr("(unix_micros(ts) - 1577836800000000L) div 1000000"))
              .as("sum_sec_off"),
            sum(expr("CAST(floor(value * 100 + 0.5) AS BIGINT)"))
              .as("sum_cents"))
      },
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(min(epoch_us(ts)) AS BIGINT) AS min_micros,
        |  CAST(max(epoch_us(ts)) AS BIGINT) AS max_micros,
        |  CAST(sum((epoch_us(ts) - 1577836800000000) // 1000000)
        |    AS BIGINT) AS sum_sec_off,
        |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |    AS sum_cents
        |FROM events""".stripMargin),

    // CREATE TABLE AS SELECT + INSERT INTO in PLAIN SQL: the catalog
    // publishes v1 (schema in the manifest, zero files) with the
    // declared statCols persisted beside the log, the CTAS write lands
    // v2 through the inline-stats DSv2 writer, and the INSERT finds
    // the table's layout from its properties — no options restated.
    // The commit count (create + CTAS + insert = 3) rides along as
    // data, as does the pruned-read file count over the final table.
    "q300_snap_sql_ctas" -> Q(
      (s, d) => {
        val root = scratchDir("snapd11")
        s.conf.set("spark.sql.catalog.graftsnap",
          classOf[graft.sources.SnapCatalog].getName)
        Tables(s, d, "orders").select("o_orderkey", "o_totalprice")
          .createOrReplaceTempView("q300_orders_src")
        s.sql(
          s"""CREATE TABLE graftsnap.`$root`
             |TBLPROPERTIES ('statCols'='o_orderkey')
             |AS SELECT o_orderkey, o_totalprice FROM q300_orders_src
             |WHERE o_orderkey < 6000""".stripMargin)
        s.sql(
          s"""INSERT INTO graftsnap.`$root`
             |SELECT o_orderkey, o_totalprice FROM q300_orders_src
             |WHERE o_orderkey >= 6000""".stripMargin)
        s.sql(
          s"""SELECT CAST(count(*) AS BIGINT) AS n_rows,
             |  sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
             |    AS sum_cents,
             |  CAST(${graft.io.SnapTable.currentVersion(root)} AS BIGINT)
             |    AS n_commits
             |FROM graftsnap.`$root`""".stripMargin)
      },
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |    AS BIGINT) AS sum_cents,
        |  CAST(3 AS BIGINT) AS n_commits
        |FROM orders""".stripMargin),

    // q295's row-level DELETE with ZERO library calls: plain SQL
    // `DELETE FROM ... WHERE k BETWEEN a AND b` lowers through
    // SupportsDelete onto the same file-granular copy-on-write (one
    // file rewritten, three carried by path, conflict contract
    // intact), and vacuum reclaims exactly the superseded pre-image.
    // Rows, file count, and reclaim count are all hash-gated as data.
    "q301_snap_sql_delete" -> Q(
      (s, d) => {
        val root = scratchDir("snapd12")
        val o = Tables(s, d, "orders").select("o_orderkey", "o_totalprice")
        Seq((0L, 4000L), (4000L, 8000L), (8000L, 12000L),
          (12000L, 100000000L)).foreach { case (a, b) =>
          graft.io.SnapTable.commit(
            o.filter(col("o_orderkey") >= a && col("o_orderkey") < b),
            root, "o_orderkey")
        }
        s.conf.set("spark.sql.catalog.graftsnap",
          classOf[graft.sources.SnapCatalog].getName)
        s.sql(s"DELETE FROM graftsnap.`$root` " +
          "WHERE o_orderkey BETWEEN 5000 AND 5999")
        val reclaimed = graft.io.SnapTable.vacuum(root,
          keepFrom = graft.io.SnapTable.currentVersion(root),
          graceMs = 0L) // no concurrent writer in this gate
        s.read.format("graft.sources.SnapSourceProvider").load(root)
          .select(col("o_totalprice"),
            col(graft.sources.SnapSource.FileColumn).as("f"))
          .agg(count(lit(1)).as("n_rows"),
            sum(expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"))
              .as("sum_cents"),
            countDistinct(col("f")).as("n_files_read"))
          .select(col("n_rows"), col("sum_cents"), col("n_files_read"),
            lit(reclaimed.toLong).as("n_reclaimed"))
      },
      """SELECT
        |  CAST(sum(CASE WHEN o_orderkey BETWEEN 5000 AND 5999
        |    THEN 0 ELSE 1 END) AS BIGINT) AS n_rows,
        |  CAST(sum(CASE WHEN o_orderkey BETWEEN 5000 AND 5999 THEN 0
        |    ELSE CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) END)
        |    AS BIGINT) AS sum_cents,
        |  CAST(4 AS BIGINT) AS n_files_read,
        |  CAST(1 AS BIGINT) AS n_reclaimed
        |FROM orders""".stripMargin),

    // ADMISSION CONTROL on the snap streaming source: a 5-version
    // backlog under maxVersionsPerTrigger=2 drains in exactly three
    // bounded micro-batches (2+2+1 versions) instead of one batch
    // spanning every pending commit — the restart-after-backlog shape
    // where unbounded planning OOMs a real stream. Each batch's row
    // count is hash-gated against the oracle's replay of the slicing.
    "q302_snap_stream_admission" -> Q(
      (s, d) => {
        import s.implicits._
        val src = scratchDir("snapd13")
        val ck = scratchDir("snapd13ck")
        val docs = Tables(s, d, "documents").select("doc_id", "n_chars")
        (0 to 4).foreach(i => graft.io.SnapTable.commit(
          docs.filter(col("doc_id") % 5 === i), src, "doc_id"))
        val batches = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
        val q = s.readStream.format("graft.sources.SnapSourceProvider")
          .option("maxVersionsPerTrigger", "2")
          .load(src)
          .writeStream
          .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
            batches.synchronized { batches += ((id, b.count())) }
            ()
          }
          .option("checkpointLocation", ck)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        batches.sortBy(_._1).toSeq.toDF("batch_idx", "n_rows")
      },
      """SELECT CAST(b AS BIGINT) AS batch_idx,
        |  CAST(count(*) AS BIGINT) AS n_rows
        |FROM (SELECT CASE WHEN doc_id % 5 IN (0, 1) THEN 0
        |             WHEN doc_id % 5 IN (2, 3) THEN 1
        |             ELSE 2 END AS b
        |      FROM documents)
        |GROUP BY b""".stripMargin),

    // COUNT(*)/MIN/MAX answered ENTIRELY from the manifest: the
    // aggregation pushes complete into the snap scan (one partition,
    // one row, ZERO data files opened — the opens counter rides along
    // as data), because per-file row counts and min/max boxes ARE the
    // aggregate at any table size. The same three aggregates under a
    // row filter fall back to the (vectorized) row scan and still
    // hash-match — pushdown changes cost, never answers.
    "q303_snap_agg_pushdown" -> Q(
      (s, d) => {
        val root = scratchDir("snapd15")
        val o = Tables(s, d, "orders").select("o_orderkey", "o_totalprice")
        Seq((0L, 4000L), (4000L, 8000L), (8000L, 12000L),
          (12000L, 100000000L)).foreach { case (a, b) =>
          graft.io.SnapTable.commit(
            o.filter(col("o_orderkey") >= a && col("o_orderkey") < b),
            root, "o_orderkey")
        }
        val before = graft.sources.SnapSource.filesOpened.get()
        val pushed = s.read.format("graft.sources.SnapSourceProvider")
          .load(root)
          .agg(count(lit(1)).as("n"), min(col("o_orderkey")).as("mn"),
            max(col("o_orderkey")).as("mx"))
          .collect()(0)
        val opens = graft.sources.SnapSource.filesOpened.get() - before
        val filtered = s.read.format("graft.sources.SnapSourceProvider")
          .load(root)
          .filter(col("o_orderkey").between(5000L, 10000L))
          .agg(count(lit(1)).as("n"), max(col("o_orderkey")).as("mx"))
          .collect()(0)
        // null-tolerant extraction: at tiny SF the filtered range can
        // be EMPTY (max = NULL) and a bare getLong would throw — the
        // driver gate runs at sf0.01 where all probes are non-null,
        // but the plan report runs this at sf0.001 too
        def gl(r: org.apache.spark.sql.Row, i: Int): Long =
          if (r.isNullAt(i)) -1L else r.getLong(i)
        s.range(1).select(
          lit(gl(pushed, 0)).as("n_rows"),
          lit(gl(pushed, 1)).as("min_key"),
          lit(gl(pushed, 2)).as("max_key"),
          lit(opens).as("n_opens"),
          lit(gl(filtered, 0)).as("n_filtered"),
          lit(gl(filtered, 1)).as("max_filtered"))
      },
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(min(o_orderkey) AS BIGINT) AS min_key,
        |  CAST(max(o_orderkey) AS BIGINT) AS max_key,
        |  CAST(0 AS BIGINT) AS n_opens,
        |  (SELECT CAST(count(*) AS BIGINT) FROM orders
        |   WHERE o_orderkey BETWEEN 5000 AND 10000) AS n_filtered,
        |  (SELECT CAST(max(o_orderkey) AS BIGINT) FROM orders
        |   WHERE o_orderkey BETWEEN 5000 AND 10000) AS max_filtered
        |FROM orders""".stripMargin),

    // SQL MERGE INTO via SupportsRowLevelOperations: the group-based
    // copy-on-write rewrite. The ON keys (5000-5499) live in ONE of
    // the four files; the optimizer's runtime group filter narrows
    // the scan to that file, the replacement write swaps it (carrying
    // the other three by path — n_carried=3 IS the granularity
    // assertion), and NOT-MATCHED rows insert in the same commit.
    // The oracle replays the upsert relationally.
    "q304_snap_sql_merge" -> Q(
      (s, d) => {
        val root = scratchDir("snapd16")
        val o = Tables(s, d, "orders").select("o_orderkey", "o_totalprice")
        Seq((0L, 4000L), (4000L, 8000L), (8000L, 12000L),
          (12000L, 100000000L)).foreach { case (a, b) =>
          graft.io.SnapTable.commit(
            o.filter(col("o_orderkey") >= a && col("o_orderkey") < b),
            root, "o_orderkey")
        }
        s.conf.set("spark.sql.catalog.graftsnap",
          classOf[graft.sources.SnapCatalog].getName)
        o.createOrReplaceTempView("q304_orders_src")
        s.sql(
          """CREATE OR REPLACE TEMP VIEW q304_updates AS
            |SELECT o_orderkey, o_totalprice + 10 AS o_totalprice
            |FROM q304_orders_src WHERE o_orderkey BETWEEN 5000 AND 5499
            |UNION ALL
            |SELECT o_orderkey + 20000000, o_totalprice
            |FROM q304_orders_src WHERE o_orderkey BETWEEN 100 AND 199
            |""".stripMargin)
        val before = graft.io.SnapTable.liveFiles(root).map(_.path).toSet
        s.sql(
          s"""MERGE INTO graftsnap.`$root` t
             |USING q304_updates u ON t.o_orderkey = u.o_orderkey
             |WHEN MATCHED THEN UPDATE SET o_totalprice = u.o_totalprice
             |WHEN NOT MATCHED THEN
             |  INSERT (o_orderkey, o_totalprice)
             |  VALUES (u.o_orderkey, u.o_totalprice)""".stripMargin)
        val after = graft.io.SnapTable.liveFiles(root).map(_.path).toSet
        s.read.format("graft.sources.SnapSourceProvider").load(root)
          .agg(count(lit(1)).as("n_rows"),
            sum(expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"))
              .as("sum_cents"))
          .select(col("n_rows"), col("sum_cents"),
            lit(before.intersect(after).size.toLong).as("n_carried"))
      },
      """WITH base AS (SELECT o_orderkey, o_totalprice FROM orders),
        |upd AS (SELECT o_orderkey AS k, o_totalprice + 10 AS p
        |        FROM base WHERE o_orderkey BETWEEN 5000 AND 5499),
        |ins AS (SELECT o_orderkey + 20000000 AS k, o_totalprice AS p
        |        FROM base WHERE o_orderkey BETWEEN 100 AND 199),
        |final AS (
        |  SELECT CASE WHEN u.k IS NOT NULL THEN u.p
        |              ELSE b.o_totalprice END AS p
        |  FROM base b LEFT JOIN upd u ON b.o_orderkey = u.k
        |  UNION ALL SELECT p FROM ins)
        |SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(floor(p * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |    AS sum_cents,
        |  CAST(3 AS BIGINT) AS n_carried
        |FROM final""".stripMargin),

    // SQL UPDATE through the same group-based machinery, with the
    // WHERE range ALSO statically skipping files from the manifest
    // before group filtering runs: one file rewritten, three carried
    // by path, every non-matching row of the touched file preserved
    // (the rewrite reads matching GROUPS whole — that is the
    // correctness trap of copy-on-write updates, hash-gated here).
    "q305_snap_sql_update" -> Q(
      (s, d) => {
        val root = scratchDir("snapd17")
        val o = Tables(s, d, "orders").select("o_orderkey", "o_totalprice")
        Seq((0L, 4000L), (4000L, 8000L), (8000L, 12000L),
          (12000L, 100000000L)).foreach { case (a, b) =>
          graft.io.SnapTable.commit(
            o.filter(col("o_orderkey") >= a && col("o_orderkey") < b),
            root, "o_orderkey")
        }
        s.conf.set("spark.sql.catalog.graftsnap",
          classOf[graft.sources.SnapCatalog].getName)
        val before = graft.io.SnapTable.liveFiles(root).map(_.path).toSet
        s.sql(s"UPDATE graftsnap.`$root` " +
          "SET o_totalprice = o_totalprice * 2 " +
          "WHERE o_orderkey BETWEEN 9000 AND 9999")
        val after = graft.io.SnapTable.liveFiles(root).map(_.path).toSet
        s.read.format("graft.sources.SnapSourceProvider").load(root)
          .agg(count(lit(1)).as("n_rows"),
            sum(expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"))
              .as("sum_cents"))
          .select(col("n_rows"), col("sum_cents"),
            lit(before.intersect(after).size.toLong).as("n_carried"))
      },
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(floor(
        |    CASE WHEN o_orderkey BETWEEN 9000 AND 9999
        |         THEN o_totalprice * 2 ELSE o_totalprice END
        |    * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents,
        |  CAST(3 AS BIGINT) AS n_carried
        |FROM orders""".stripMargin),

    // SQL ALTER TABLE ADD COLUMN as a PURE LOG operation: one
    // zero-file append manifest extends the schema header — no data
    // file touched, old rows read NULL, history keeps its own schema.
    // The gate drives CTAS → ALTER → INSERT-with-new-column → read,
    // hashing the null split and the new column's sum; the pre-ALTER
    // version still answers with the ORIGINAL two columns (column
    // count at version 2 rides along as data).
    "q306_snap_sql_alter" -> Q(
      (s, d) => {
        val root = scratchDir("snapd19")
        s.conf.set("spark.sql.catalog.graftsnap",
          classOf[graft.sources.SnapCatalog].getName)
        Tables(s, d, "orders").select("o_orderkey", "o_totalprice")
          .createOrReplaceTempView("q306_orders_src")
        s.sql(
          s"""CREATE TABLE graftsnap.`$root`
             |TBLPROPERTIES ('statCols'='o_orderkey')
             |AS SELECT o_orderkey, o_totalprice FROM q306_orders_src
             |WHERE o_orderkey < 6000""".stripMargin)
        s.sql(s"ALTER TABLE graftsnap.`$root` ADD COLUMN half_cents BIGINT")
        s.sql(
          s"""INSERT INTO graftsnap.`$root`
             |SELECT o_orderkey, o_totalprice,
             |  CAST(floor(o_totalprice * 50 + 0.5) AS BIGINT)
             |FROM q306_orders_src WHERE o_orderkey >= 6000""".stripMargin)
        val oldCols = s.sql(
          s"SELECT * FROM graftsnap.`$root` VERSION AS OF 2 LIMIT 0")
          .columns.length.toLong
        s.sql(
          s"""SELECT count(*) AS n_rows,
             |  sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
             |    AS sum_cents,
             |  sum(coalesce(half_cents, 0)) AS sum_half,
             |  sum(CASE WHEN half_cents IS NULL THEN 1 ELSE 0 END)
             |    AS n_pre_alter,
             |  CAST($oldCols AS BIGINT) AS n_cols_v2
             |FROM graftsnap.`$root`""".stripMargin)
      },
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |    AS BIGINT) AS sum_cents,
        |  CAST(sum(CASE WHEN o_orderkey >= 6000
        |    THEN CAST(floor(o_totalprice * 50 + 0.5) AS BIGINT)
        |    ELSE 0 END) AS BIGINT) AS sum_half,
        |  CAST(sum(CASE WHEN o_orderkey < 6000 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_pre_alter,
        |  CAST(2 AS BIGINT) AS n_cols_v2
        |FROM orders""".stripMargin),

    // TIMESTAMP AS OF through the analyzer's native hook
    // (loadTable(ident, micros)): commit times ride the manifest
    // (`ts=` header), resolution picks the newest version at or
    // before the asked instant. The gate captures a wall-clock
    // boundary between two commits and reads both that instant and
    // the present — counts replayed exactly by the oracle.
    "q307_snap_timestamp_as_of" -> Q(
      (s, d) => {
        val root = scratchDir("snapd20")
        val o = Tables(s, d, "orders").select("o_orderkey", "o_totalprice")
        graft.io.SnapTable.commit(
          o.filter(col("o_orderkey") < 6000), root, "o_orderkey")
        Thread.sleep(30) // commit-ts granularity guard
        val t1 = System.currentTimeMillis()
        Thread.sleep(30)
        graft.io.SnapTable.commit(
          o.filter(col("o_orderkey") >= 6000), root, "o_orderkey")
        s.conf.set("spark.sql.catalog.graftsnap",
          classOf[graft.sources.SnapCatalog].getName)
        val asOf = java.time.format.DateTimeFormatter
          .ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
          .withZone(java.time.ZoneOffset.UTC)
          .format(java.time.Instant.ofEpochMilli(t1))
        s.sql(
          s"""SELECT CAST(1 AS BIGINT) AS at, count(*) AS n_rows
             |FROM graftsnap.`$root` TIMESTAMP AS OF '$asOf'
             |UNION ALL
             |SELECT CAST(2 AS BIGINT), count(*)
             |FROM graftsnap.`$root`""".stripMargin)
      },
      """SELECT CAST(1 AS BIGINT) AS at,
        |  CAST(count(*) AS BIGINT) AS n_rows
        |FROM orders WHERE o_orderkey < 6000
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), CAST(count(*) AS BIGINT)
        |FROM orders""".stripMargin),

    // q303 under a WHERE: an aggregate whose range bound fully
    // CONTAINS every surviving file's box (and the column has zero
    // recorded nulls) absorbs the filter EXACTLY, so the aggregation
    // still pushes complete — count/min/max answered from manifest
    // row counts and boxes with ZERO file opens. A bound a file
    // STRADDLES keeps the filter residual and falls back to the
    // vectorized row scan — same answers, different cost. Both open
    // counters ride along as hash-gated data.
    "q308_snap_filtered_agg" -> Q(
      (s, d) => {
        val root = scratchDir("snapd21")
        val o = Tables(s, d, "orders").select("o_orderkey", "o_totalprice")
        Seq((0L, 4000L), (4000L, 8000L), (8000L, 12000L),
          (12000L, 100000000L)).foreach { case (a, b) =>
          graft.io.SnapTable.commit(
            o.filter(col("o_orderkey") >= a && col("o_orderkey") < b),
            root, "o_orderkey")
        }
        def gl(r: org.apache.spark.sql.Row, i: Int): Long =
          if (r.isNullAt(i)) -1L else r.getLong(i)
        val c0 = graft.sources.SnapSource.filesOpened.get()
        // [4000, 7999] contains the second file's box exactly
        val aligned = s.read.format("graft.sources.SnapSourceProvider")
          .load(root)
          .filter(col("o_orderkey").between(4000L, 7999L))
          .agg(count(lit(1)).as("n"), min(col("o_orderkey")).as("mn"),
            max(col("o_orderkey")).as("mx"))
          .collect()(0)
        val alignedOpens = graft.sources.SnapSource.filesOpened.get() - c0
        // [5000, 10000] straddles two files: residual filter, row scan
        val c1 = graft.sources.SnapSource.filesOpened.get()
        val straddle = s.read.format("graft.sources.SnapSourceProvider")
          .load(root)
          .filter(col("o_orderkey").between(5000L, 10000L))
          .agg(count(lit(1)).as("n")).collect()(0)
        val straddleOpens = graft.sources.SnapSource.filesOpened.get() - c1
        s.range(1).select(
          lit(gl(aligned, 0)).as("n_aligned"),
          lit(gl(aligned, 1)).as("min_aligned"),
          lit(gl(aligned, 2)).as("max_aligned"),
          lit(alignedOpens).as("n_opens_aligned"),
          lit(gl(straddle, 0)).as("n_straddle"),
          lit(straddleOpens).as("n_opens_straddle"))
      },
      """SELECT
        |  (SELECT CAST(count(*) AS BIGINT) FROM orders
        |   WHERE o_orderkey BETWEEN 4000 AND 7999) AS n_aligned,
        |  (SELECT CAST(min(o_orderkey) AS BIGINT) FROM orders
        |   WHERE o_orderkey BETWEEN 4000 AND 7999) AS min_aligned,
        |  (SELECT CAST(max(o_orderkey) AS BIGINT) FROM orders
        |   WHERE o_orderkey BETWEEN 4000 AND 7999) AS max_aligned,
        |  CAST(0 AS BIGINT) AS n_opens_aligned,
        |  (SELECT CAST(count(*) AS BIGINT) FROM orders
        |   WHERE o_orderkey BETWEEN 5000 AND 10000) AS n_straddle,
        |  CAST(2 AS BIGINT) AS n_opens_straddle""".stripMargin),

    // CHANGE-DATA-FEED STREAMING: a version-offset stream with
    // option(readChangeFeed) keeps running ACROSS overwrite commits —
    // the SQL DELETE and MERGE the table supports stream as their
    // per-version file diffs tagged _change_type insert/delete with
    // _commit_version, instead of wedging the stream (default) or
    // vanishing (ignoreOverwrites). Two AvailableNow passes share one
    // checkpoint: pass 1 drains the 4 seed commits, an append + a SQL
    // DELETE + a SQL MERGE land mid-stream, pass 2 resumes from the
    // stored offset and emits exactly their changes. The oracle
    // replays every count and cent from the known file layout:
    // rewrites over-report symmetric pairs deterministically (v6
    // re-inserts the kept rows of the touched file; v7 re-inserts the
    // merged file plus its inserts, +10 on each matched price).
    "q309_snap_cdf_stream" -> Q(
      (s, d) => {
        val root = scratchDir("snapd22")
        val ck = scratchDir("snapd22ck")
        val o = Tables(s, d, "orders").select("o_orderkey", "o_totalprice")
        Seq((0L, 4000L), (4000L, 8000L), (8000L, 12000L),
          (12000L, 100000000L)).foreach { case (a, b) =>
          graft.io.SnapTable.commit(
            o.filter(col("o_orderkey") >= a && col("o_orderkey") < b),
            root, "o_orderkey")
        }
        val acc = scala.collection.mutable.ArrayBuffer
          .empty[(Long, String, Long, Long)]
        def drain(): Unit = {
          val q = s.readStream.format("graft.sources.SnapSourceProvider")
            .option("readChangeFeed", "true").load(root)
            .writeStream
            .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
              b.groupBy("_commit_version", "_change_type")
                .agg(count(lit(1)).as("n"),
                  sum(expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"))
                    .as("cents"))
                .collect().foreach(r => acc.synchronized {
                  acc += ((r.getLong(0), r.getString(1), r.getLong(2),
                    r.getLong(3)))
                })
              ()
            }
            .option("checkpointLocation", ck)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
        }
        drain() // v1..v4 seed commits
        // mid-stream: append (v5), SQL DELETE (v6), SQL MERGE (v7)
        graft.io.SnapTable.commit(
          o.filter(col("o_orderkey").between(200L, 299L))
            .select((col("o_orderkey") + 40000000L).as("o_orderkey"),
              col("o_totalprice")), root, "o_orderkey")
        s.conf.set("spark.sql.catalog.graftsnap",
          classOf[graft.sources.SnapCatalog].getName)
        s.sql(s"DELETE FROM graftsnap.`$root` " +
          "WHERE o_orderkey BETWEEN 9000 AND 9999")
        o.createOrReplaceTempView("q309_orders_src")
        s.sql(
          """CREATE OR REPLACE TEMP VIEW q309_updates AS
            |SELECT o_orderkey, o_totalprice + 10 AS o_totalprice
            |FROM q309_orders_src WHERE o_orderkey BETWEEN 5000 AND 5499
            |UNION ALL
            |SELECT o_orderkey + 20000000, o_totalprice
            |FROM q309_orders_src WHERE o_orderkey BETWEEN 100 AND 199
            |""".stripMargin)
        s.sql(
          s"""MERGE INTO graftsnap.`$root` t
             |USING q309_updates u ON t.o_orderkey = u.o_orderkey
             |WHEN MATCHED THEN UPDATE SET o_totalprice = u.o_totalprice
             |WHEN NOT MATCHED THEN
             |  INSERT (o_orderkey, o_totalprice)
             |  VALUES (u.o_orderkey, u.o_totalprice)""".stripMargin)
        drain() // v5..v7 from the SAME checkpoint, across overwrites
        import s.implicits._
        acc.toSeq.toDF("version", "change_type", "n_part", "cents_part")
          .groupBy("version", "change_type")
          .agg(sum("n_part").as("n_rows"),
            sum("cents_part").as("sum_cents"))
      },
      """WITH o AS (SELECT o_orderkey AS k,
        |  CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS c
        |  FROM orders)
        |SELECT CAST(1 AS BIGINT) AS version, 'insert' AS change_type,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(c) AS BIGINT) AS sum_cents
        |FROM o WHERE k < 4000
        |UNION ALL
        |SELECT 2, 'insert', CAST(count(*) AS BIGINT),
        |  CAST(sum(c) AS BIGINT)
        |FROM o WHERE k >= 4000 AND k < 8000
        |UNION ALL
        |SELECT 3, 'insert', CAST(count(*) AS BIGINT),
        |  CAST(sum(c) AS BIGINT)
        |FROM o WHERE k >= 8000 AND k < 12000
        |UNION ALL
        |SELECT 4, 'insert', CAST(count(*) AS BIGINT),
        |  CAST(sum(c) AS BIGINT)
        |FROM o WHERE k >= 12000
        |UNION ALL
        |SELECT 5, 'insert', CAST(count(*) AS BIGINT),
        |  CAST(sum(c) AS BIGINT)
        |FROM o WHERE k BETWEEN 200 AND 299
        |UNION ALL
        |SELECT 6, 'delete', CAST(count(*) AS BIGINT),
        |  CAST(sum(c) AS BIGINT)
        |FROM o WHERE k >= 8000 AND k < 12000
        |UNION ALL
        |SELECT 6, 'insert', CAST(count(*) AS BIGINT),
        |  CAST(sum(c) AS BIGINT)
        |FROM o WHERE k >= 8000 AND k < 12000
        |  AND NOT (k BETWEEN 9000 AND 9999)
        |UNION ALL
        |SELECT 7, 'delete', CAST(count(*) AS BIGINT),
        |  CAST(sum(c) AS BIGINT)
        |FROM o WHERE k >= 4000 AND k < 8000
        |UNION ALL
        |SELECT 7, 'insert',
        |  (SELECT CAST(count(*) AS BIGINT) FROM o
        |   WHERE k >= 4000 AND k < 8000)
        |  + (SELECT CAST(count(*) AS BIGINT) FROM o
        |     WHERE k BETWEEN 100 AND 199),
        |  (SELECT CAST(sum(c) AS BIGINT) FROM o
        |   WHERE k >= 4000 AND k < 8000)
        |  + 1000 * (SELECT CAST(count(*) AS BIGINT) FROM o
        |            WHERE k BETWEEN 5000 AND 5499)
        |  + (SELECT CAST(sum(c) AS BIGINT) FROM o
        |     WHERE k BETWEEN 100 AND 199)""".stripMargin),

    // SUM joins count/min/max in the manifest-answered tier: every
    // commit records a per-file per-stat-column SUM (decimal-safe at
    // write, omitted if it cannot fit a long), so SUM(k) — unfiltered
    // OR under a box-aligned WHERE — folds per-file sums with ZERO
    // file opens, while a straddling bound falls back to the row scan
    // (engine-native overflow semantics preserved by refusing any
    // fold that would not fit). Open counters hash-gated as data.
    "q311_snap_sum_pushdown" -> Q(
      (s, d) => {
        val root = scratchDir("snapd24")
        val o = Tables(s, d, "orders").select("o_orderkey", "o_totalprice")
        Seq((0L, 4000L), (4000L, 8000L), (8000L, 12000L),
          (12000L, 100000000L)).foreach { case (a, b) =>
          graft.io.SnapTable.commit(
            o.filter(col("o_orderkey") >= a && col("o_orderkey") < b),
            root, "o_orderkey")
        }
        def gl(r: org.apache.spark.sql.Row, i: Int): Long =
          if (r.isNullAt(i)) -1L else r.getLong(i)
        val c0 = graft.sources.SnapSource.filesOpened.get()
        val whole = s.read.format("graft.sources.SnapSourceProvider")
          .load(root)
          .agg(sum(col("o_orderkey")).as("s"), count(lit(1)).as("n"))
          .collect()(0)
        val wholeOpens = graft.sources.SnapSource.filesOpened.get() - c0
        val c1 = graft.sources.SnapSource.filesOpened.get()
        val aligned = s.read.format("graft.sources.SnapSourceProvider")
          .load(root)
          .filter(col("o_orderkey").between(4000L, 7999L))
          .agg(sum(col("o_orderkey")).as("s")).collect()(0)
        val alignedOpens = graft.sources.SnapSource.filesOpened.get() - c1
        val c2 = graft.sources.SnapSource.filesOpened.get()
        val straddle = s.read.format("graft.sources.SnapSourceProvider")
          .load(root)
          .filter(col("o_orderkey").between(5000L, 10000L))
          .agg(sum(col("o_orderkey")).as("s")).collect()(0)
        val straddleOpens = graft.sources.SnapSource.filesOpened.get() - c2
        s.range(1).select(
          lit(gl(whole, 0)).as("sum_all"),
          lit(gl(whole, 1)).as("n_all"),
          lit(wholeOpens).as("n_opens_all"),
          lit(gl(aligned, 0)).as("sum_aligned"),
          lit(alignedOpens).as("n_opens_aligned"),
          lit(gl(straddle, 0)).as("sum_straddle"),
          lit(straddleOpens).as("n_opens_straddle"))
      },
      """SELECT CAST(sum(o_orderkey) AS BIGINT) AS sum_all,
        |  CAST(count(*) AS BIGINT) AS n_all,
        |  CAST(0 AS BIGINT) AS n_opens_all,
        |  (SELECT CAST(sum(o_orderkey) AS BIGINT) FROM orders
        |   WHERE o_orderkey BETWEEN 4000 AND 7999) AS sum_aligned,
        |  CAST(0 AS BIGINT) AS n_opens_aligned,
        |  (SELECT CAST(sum(o_orderkey) AS BIGINT) FROM orders
        |   WHERE o_orderkey BETWEEN 5000 AND 10000) AS sum_straddle,
        |  CAST(2 AS BIGINT) AS n_opens_straddle
        |FROM orders""".stripMargin),

    // NESTED TYPES through the snap connector: an array, a struct and
    // a map column ride the DSv2 inline-stats writer into the table
    // and come back through Spark's nested vectorized decode — the
    // complex-type surface (q96/q97) is now storable in the lakehouse
    // tier, not just plain parquet. File skipping still prunes on the
    // flat stat column underneath (opened-file count rides along).
    // Every aggregate folds nested accesses to integers the oracle
    // replays scalar-wise from the base table.
    "q310_snap_nested" -> Q(
      (s, d) => {
        val root = scratchDir("snapd23")
        val o = Tables(s, d, "orders").select(col("o_orderkey"),
          array(col("o_orderkey") % 7, col("o_orderkey") % 11).as("tags"),
          struct(col("o_totalprice").as("p"),
            (col("o_orderkey") % 100).as("m")).as("meta"),
          map(lit("ok"), col("o_orderkey") % 13).as("kv"))
        o.write.format("graft.sources.SnapSourceProvider")
          .option("statCols", "o_orderkey")
          .option("filesPerCommit", "4")
          .mode("append").save(root)
        val snap = s.read.format("graft.sources.SnapSourceProvider")
          .load(root)
        snap.agg(count(lit(1)).as("n_rows"),
          sum(expr("tags[0] + tags[1]")).as("sum_tags"),
          sum(expr("CAST(floor(meta.p * 100 + 0.5) AS BIGINT)"))
            .as("sum_cents"),
          sum(col("meta.m")).as("sum_mod"),
          sum(expr("kv['ok']")).as("sum_kv"),
          countDistinct(col(graft.sources.SnapSource.FileColumn))
            .as("n_files"))
      },
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(o_orderkey % 7 + o_orderkey % 11) AS BIGINT)
        |    AS sum_tags,
        |  CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |    AS BIGINT) AS sum_cents,
        |  CAST(sum(o_orderkey % 100) AS BIGINT) AS sum_mod,
        |  CAST(sum(o_orderkey % 13) AS BIGINT) AS sum_kv,
        |  CAST(4 AS BIGINT) AS n_files
        |FROM orders""".stripMargin),

    // TYPED STAT BOXES: manifests record DateType stats as EPOCH-DAY
    // boxes (timestamps as micros), so the dominant 100 TB filter
    // axis — TIME — prunes files, absorbs exactly, and answers
    // MIN/MAX from the manifest. Four year-ranged commits on
    // o_orderdate: a bound containing the 1994-95 file's box keeps
    // its aggregate manifest-answered (0 opens), a straddling bound
    // falls back to a 2-file row scan, and the unfiltered
    // MIN/MAX(o_orderdate) folds boxes with zero opens. Open counters
    // ride along as hash-gated data.
    "q312_snap_date_stats" -> Q(
      (s, d) => {
        val root = scratchDir("snapd25")
        // physical o_orderdate is TIMESTAMP_NTZ — a DATE stat column
        // is the contract under test, so cast on ingest
        val o = Tables(s, d, "orders").select(col("o_orderkey"),
          col("o_orderdate").cast("date").as("o_orderdate"))
        // testdata order dates span 1995..2001
        Seq(("1990-01-01", "1997-01-01"), ("1997-01-01", "1999-01-01"),
          ("1999-01-01", "2001-01-01"), ("2001-01-01", "2100-01-01"))
          .foreach { case (a, b) =>
            graft.io.SnapTable.commit(
              o.filter(col("o_orderdate") >= lit(a) &&
                col("o_orderdate") < lit(b)), root, "o_orderdate")
          }
        def snap = s.read.format("graft.sources.SnapSourceProvider")
          .load(root)
        val c0 = graft.sources.SnapSource.filesOpened.get()
        val all = snap.agg(min(col("o_orderdate")).as("mn"),
          max(col("o_orderdate")).as("mx")).collect()(0)
        val allOpens = graft.sources.SnapSource.filesOpened.get() - c0
        val c1 = graft.sources.SnapSource.filesOpened.get()
        val aligned = snap
          .filter(col("o_orderdate").between(
            lit("1997-01-01"), lit("1998-12-31")))
          .agg(count(lit(1)).as("n"), min(col("o_orderdate")).as("mn"))
          .collect()(0)
        val alignedOpens = graft.sources.SnapSource.filesOpened.get() - c1
        val c2 = graft.sources.SnapSource.filesOpened.get()
        val straddle = snap
          .filter(col("o_orderdate").between(
            lit("1998-01-01"), lit("1999-12-31")))
          .agg(count(lit(1)).as("n")).collect()(0)
        val straddleOpens = graft.sources.SnapSource.filesOpened.get() - c2
        s.range(1).select(
          lit(all.getDate(0)).as("mn_all"),
          lit(all.getDate(1)).as("mx_all"),
          lit(allOpens).as("n_opens_all"),
          lit(aligned.getLong(0)).as("n_aligned"),
          lit(aligned.getDate(1)).as("mn_aligned"),
          lit(alignedOpens).as("n_opens_aligned"),
          lit(straddle.getLong(0)).as("n_straddle"),
          lit(straddleOpens).as("n_opens_straddle"))
      },
      """WITH od AS (SELECT CAST(o_orderdate AS DATE) AS d FROM orders)
        |SELECT
        |  (SELECT min(d) FROM od) AS mn_all,
        |  (SELECT max(d) FROM od) AS mx_all,
        |  CAST(0 AS BIGINT) AS n_opens_all,
        |  (SELECT CAST(count(*) AS BIGINT) FROM od
        |   WHERE d BETWEEN DATE '1997-01-01'
        |     AND DATE '1998-12-31') AS n_aligned,
        |  (SELECT min(d) FROM od
        |   WHERE d BETWEEN DATE '1997-01-01'
        |     AND DATE '1998-12-31') AS mn_aligned,
        |  CAST(0 AS BIGINT) AS n_opens_aligned,
        |  (SELECT CAST(count(*) AS BIGINT) FROM od
        |   WHERE d BETWEEN DATE '1998-01-01'
        |     AND DATE '1999-12-31') AS n_straddle,
        |  CAST(2 AS BIGINT) AS n_opens_straddle""".stripMargin),

    // DELETION VECTORS (merge-on-read): on a dv=true table, SQL
    // DELETE marks row positions in a sidecar instead of rewriting
    // the touched file — n_files_rewritten is gated to ZERO while the
    // scan hash-matches the oracle (a 1 GB file would have cost 1 GB
    // of writes under copy-on-write for a 100-row delete). compact()
    // then materializes the DV away and vacuum reclaims the sidecar
    // plus the superseded pre-compaction files — all counts gated.
    "q313_snap_deletion_vectors" -> Q(
      (s, d) => {
        val root = scratchDir("snapd26") + "/t"
        val o = Tables(s, d, "orders").select("o_orderkey", "o_totalprice")
        s.conf.set("spark.sql.catalog.graftsnap",
          classOf[graft.sources.SnapCatalog].getName)
        s.sql(s"CREATE TABLE graftsnap.`$root` " +
          "(o_orderkey BIGINT, o_totalprice DOUBLE) " +
          "TBLPROPERTIES ('statCols'='o_orderkey', 'dv'='true')")
        Seq((0L, 4000L), (4000L, 8000L), (8000L, 12000L),
          (12000L, 100000000L)).foreach { case (a, b) =>
          o.filter(col("o_orderkey") >= a && col("o_orderkey") < b)
            .write.format("graft.sources.SnapSourceProvider")
            .option("statCols", "o_orderkey")
            .option("filesPerCommit", "1")
            .mode("append").save(root)
        }
        val before = graft.io.SnapTable.liveFiles(root).map(_.path).toSet
        s.sql(s"DELETE FROM graftsnap.`$root` " +
          "WHERE o_orderkey BETWEEN 5000 AND 5099")
        val live = graft.io.SnapTable.liveFiles(root)
        val rewritten = live.count(f => !before.contains(f.path))
        val dvFiles = live.count(_.dv.isDefined)
        val scan = s.sql(s"SELECT CAST(count(*) AS BIGINT), " +
          "CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) " +
          s"AS BIGINT) FROM graftsnap.`$root`").collect()(0)
        val vc = graft.io.SnapTable.compact(s, root, "o_orderkey",
          targetFiles = 1)
        val reclaimed = graft.io.SnapTable.vacuum(root, keepFrom = vc,
          graceMs = 0L) // no concurrent writer in this gate
        val post = s.sql(s"SELECT CAST(count(*) AS BIGINT) " +
          s"FROM graftsnap.`$root`").collect()(0)
        s.range(1).select(
          lit(scan.getLong(0)).as("n_rows"),
          lit(scan.getLong(1)).as("sum_cents"),
          lit(rewritten.toLong).as("n_files_rewritten"),
          lit(dvFiles.toLong).as("n_dv_files"),
          lit(post.getLong(0)).as("n_rows_post_compact"),
          lit(graft.io.SnapTable.liveFiles(root)
            .count(_.dv.isDefined).toLong).as("n_dv_post_compact"),
          lit(reclaimed.toLong).as("n_reclaimed"))
      },
      """SELECT
        |  (SELECT CAST(count(*) AS BIGINT) FROM orders
        |   WHERE o_orderkey NOT BETWEEN 5000 AND 5099) AS n_rows,
        |  (SELECT CAST(sum(CAST(floor(o_totalprice * 100 + 0.5)
        |     AS BIGINT)) AS BIGINT) FROM orders
        |   WHERE o_orderkey NOT BETWEEN 5000 AND 5099) AS sum_cents,
        |  CAST(0 AS BIGINT) AS n_files_rewritten,
        |  CAST(1 AS BIGINT) AS n_dv_files,
        |  (SELECT CAST(count(*) AS BIGINT) FROM orders
        |   WHERE o_orderkey NOT BETWEEN 5000 AND 5099)
        |    AS n_rows_post_compact,
        |  CAST(0 AS BIGINT) AS n_dv_post_compact,
        |  CAST(5 AS BIGINT) AS n_reclaimed""".stripMargin),

    // ROW-LEVEL CDF: with deletion vectors, a mid-stream merge-on-read
    // DELETE streams ONLY its dead rows and a merge-on-read MERGE
    // streams update_preimage (original values) + update_postimage
    // (new values) + insert — O(changed rows), where q309's
    // copy-on-write ops streamed whole-file cancelling pairs. The
    // stream shares one checkpoint across both passes; every count
    // and cent is replayed by the oracle from the key ranges.
    "q314_snap_rowlevel_cdf" -> Q(
      (s, d) => {
        val root = scratchDir("snapd27")
        val ck = scratchDir("snapd27ck")
        val o = Tables(s, d, "orders").select("o_orderkey", "o_totalprice")
        Seq((0L, 4000L), (4000L, 8000L), (8000L, 12000L),
          (12000L, 100000000L)).foreach { case (a, b) =>
          graft.io.SnapTable.commit(
            o.filter(col("o_orderkey") >= a && col("o_orderkey") < b),
            root, "o_orderkey")
        }
        val acc = scala.collection.mutable.ArrayBuffer
          .empty[(Long, String, Long, Long)]
        def drain(): Unit = {
          val q = s.readStream.format("graft.sources.SnapSourceProvider")
            .option("readChangeFeed", "true").load(root)
            .writeStream
            .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
              b.groupBy("_commit_version", "_change_type")
                .agg(count(lit(1)).as("n"),
                  sum(expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"))
                    .as("cents"))
                .collect().foreach(r => acc.synchronized {
                  acc += ((r.getLong(0), r.getString(1), r.getLong(2),
                    r.getLong(3)))
                })
              ()
            }
            .option("checkpointLocation", ck)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
        }
        drain() // v1..v4 seed commits
        // mid-stream: merge-on-read DELETE (v5) and MERGE (v6)
        graft.io.SnapTable.deleteDv(s, root, "o_orderkey", 9000L, 9049L)
        val updates = o
          .filter(col("o_orderkey").between(5000L, 5049L))
          .select(col("o_orderkey"),
            (col("o_totalprice") + 10).as("o_totalprice"))
          .unionByName(o.filter(col("o_orderkey").between(100L, 199L))
            .select((col("o_orderkey") + 20000000L).as("o_orderkey"),
              col("o_totalprice")))
        graft.io.SnapTable.mergeDv(s, root, "o_orderkey", updates)
        drain() // v5..v6 from the SAME checkpoint
        import s.implicits._
        acc.toSeq.toDF("version", "change_type", "n_part", "cents_part")
          .groupBy("version", "change_type")
          .agg(sum("n_part").as("n_rows"),
            sum("cents_part").as("sum_cents"))
      },
      """WITH o AS (SELECT o_orderkey AS k,
        |  CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS c
        |  FROM orders)
        |SELECT CAST(1 AS BIGINT) AS version, 'insert' AS change_type,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(c) AS BIGINT) AS sum_cents
        |FROM o WHERE k < 4000
        |UNION ALL
        |SELECT 2, 'insert', CAST(count(*) AS BIGINT),
        |  CAST(sum(c) AS BIGINT)
        |FROM o WHERE k >= 4000 AND k < 8000
        |UNION ALL
        |SELECT 3, 'insert', CAST(count(*) AS BIGINT),
        |  CAST(sum(c) AS BIGINT)
        |FROM o WHERE k >= 8000 AND k < 12000
        |UNION ALL
        |SELECT 4, 'insert', CAST(count(*) AS BIGINT),
        |  CAST(sum(c) AS BIGINT)
        |FROM o WHERE k >= 12000
        |UNION ALL
        |SELECT 5, 'delete', CAST(count(*) AS BIGINT),
        |  CAST(sum(c) AS BIGINT)
        |FROM o WHERE k BETWEEN 9000 AND 9049
        |UNION ALL
        |SELECT 6, 'update_preimage', CAST(count(*) AS BIGINT),
        |  CAST(sum(c) AS BIGINT)
        |FROM o WHERE k BETWEEN 5000 AND 5049
        |UNION ALL
        |SELECT 6, 'update_postimage', CAST(count(*) AS BIGINT),
        |  CAST(sum(c) + 1000 * count(*) AS BIGINT)
        |FROM o WHERE k BETWEEN 5000 AND 5049
        |UNION ALL
        |SELECT 6, 'insert', CAST(count(*) AS BIGINT),
        |  CAST(sum(c) AS BIGINT)
        |FROM o WHERE k BETWEEN 100 AND 199""".stripMargin),

    // SQL MAINTENANCE: OPTIMIZE and VACUUM as catalog procedures via
    // Spark's native CALL — a SQL-first user compacts the small-files
    // debt and GCs history without a line of Scala. The procedures
    // return their effect as result sets (claimed version, file
    // counts, reclaimed count), all hash-gated; the post-maintenance
    // scan must still match the oracle byte for byte.
    "q315_snap_sql_maintenance" -> Q(
      (s, d) => {
        val root = scratchDir("snapd28")
        val o = Tables(s, d, "orders").select("o_orderkey", "o_totalprice")
        Seq((0L, 4000L), (4000L, 8000L), (8000L, 12000L),
          (12000L, 100000000L)).foreach { case (a, b) =>
          graft.io.SnapTable.commit(
            o.filter(col("o_orderkey") >= a && col("o_orderkey") < b),
            root, "o_orderkey")
        }
        s.conf.set("spark.sql.catalog.graftsnap",
          classOf[graft.sources.SnapCatalog].getName)
        val opt = s.sql("CALL graftsnap.system.optimize(" +
          s"table => '$root', target_files => 2)").collect()(0)
        val vac = s.sql("CALL graftsnap.system.vacuum(" +
          s"table => '$root', grace_ms => 0)").collect()(0)
        s.read.format("graft.sources.SnapSourceProvider").load(root)
          .select(col("o_totalprice"),
            col(graft.sources.SnapSource.FileColumn).as("f"))
          .agg(count(lit(1)).as("n_rows"),
            sum(expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"))
              .as("sum_cents"),
            countDistinct(col("f")).as("n_files_read"))
          .select(col("n_rows"), col("sum_cents"), col("n_files_read"),
            lit(opt.getInt(1).toLong).as("n_files_before"),
            lit(opt.getInt(2).toLong).as("n_files_after"),
            lit(vac.getInt(1).toLong).as("n_reclaimed"))
      },
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |    AS BIGINT) AS sum_cents,
        |  CAST(2 AS BIGINT) AS n_files_read,
        |  CAST(4 AS BIGINT) AS n_files_before,
        |  CAST(2 AS BIGINT) AS n_files_after,
        |  CAST(4 AS BIGINT) AS n_reclaimed
        |FROM orders""".stripMargin),

    // ALTER TABLE RENAME/DROP COLUMN as pure log operations: the
    // schema header carries a logical→physical name mapping, so a
    // rename costs one zero-file manifest while every pre-rename file
    // keeps serving the column under its new name — including the
    // STAT column, whose rename also keeps DELETE's metadata path
    // resolving. Writes after the rename land in the ORIGINAL
    // physical column; history reads at its own per-version schema.
    "q316_snap_alter_rename_drop" -> Q(
      (s, d) => {
        val root = scratchDir("snapd29") + "/t"
        val o = Tables(s, d, "orders").select("o_orderkey", "o_totalprice")
        s.conf.set("spark.sql.catalog.graftsnap",
          classOf[graft.sources.SnapCatalog].getName)
        s.sql(s"CREATE TABLE graftsnap.`$root` " +
          "(o_orderkey BIGINT, o_totalprice DOUBLE) " +
          "TBLPROPERTIES ('statCols'='o_orderkey')")
        o.createOrReplaceTempView("q316_src")
        s.sql(s"INSERT INTO graftsnap.`$root` " +
          "SELECT o_orderkey, o_totalprice FROM q316_src " +
          "WHERE o_orderkey < 6000")
        s.sql(s"ALTER TABLE graftsnap.`$root` " +
          "RENAME COLUMN o_totalprice TO price")
        s.sql(s"INSERT INTO graftsnap.`$root` " +
          "SELECT o_orderkey, o_totalprice FROM q316_src " +
          "WHERE o_orderkey >= 6000")
        s.sql(s"ALTER TABLE graftsnap.`$root` RENAME COLUMN o_orderkey TO k")
        s.sql(s"DELETE FROM graftsnap.`$root` WHERE k BETWEEN 5000 AND 5999")
        val now = s.sql(s"SELECT CAST(count(*) AS BIGINT), " +
          "CAST(sum(CAST(floor(price * 100 + 0.5) AS BIGINT)) AS BIGINT)" +
          s", CAST(sum(k) AS BIGINT) FROM graftsnap.`$root`").collect()(0)
        // history at v2 still speaks its own schema (o_totalprice)
        val tt = s.sql(s"SELECT CAST(count(*) AS BIGINT), " +
          "CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) " +
          s"AS BIGINT) FROM graftsnap.`$root` VERSION AS OF 2")
          .collect()(0)
        s.range(1).select(
          lit(now.getLong(0)).as("n_rows"),
          lit(now.getLong(1)).as("sum_cents"),
          lit(now.getLong(2)).as("sum_keys"),
          lit(tt.getLong(0)).as("n_rows_v2"),
          lit(tt.getLong(1)).as("sum_cents_v2"))
      },
      """WITH o AS (SELECT o_orderkey AS k,
        |  CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS c
        |  FROM orders)
        |SELECT
        |  (SELECT CAST(count(*) AS BIGINT) FROM o
        |   WHERE k NOT BETWEEN 5000 AND 5999) AS n_rows,
        |  (SELECT CAST(sum(c) AS BIGINT) FROM o
        |   WHERE k NOT BETWEEN 5000 AND 5999) AS sum_cents,
        |  (SELECT CAST(sum(k) AS BIGINT) FROM o
        |   WHERE k NOT BETWEEN 5000 AND 5999) AS sum_keys,
        |  (SELECT CAST(count(*) AS BIGINT) FROM o
        |   WHERE k < 6000) AS n_rows_v2,
        |  (SELECT CAST(sum(c) AS BIGINT) FROM o
        |   WHERE k < 6000) AS sum_cents_v2""".stripMargin),

    // STORAGE-PARTITIONED JOIN: two snap tables created PARTITIONED
    // BY the same identity key — the roll-on-key writer gives one
    // file per key (manifest box min == max proves it), the scan
    // reports KeyGroupedPartitioning, and the join plans with ZERO
    // exchanges (gated as data) under v2 bucketing. At 100 TB this is
    // the co-located dimension join: no shuffle of either side, ever.
    "q317_snap_partitioned_join" -> Q(
      (s, d) => {
        val base = scratchDir("snapd30")
        val r1 = base + "/t1"
        val r2 = base + "/t2"
        s.conf.set("spark.sql.catalog.graftsnap",
          classOf[graft.sources.SnapCatalog].getName)
        s.sql(s"CREATE TABLE graftsnap.`$r1` (k BIGINT, cents BIGINT) " +
          "PARTITIONED BY (k)")
        s.sql(s"CREATE TABLE graftsnap.`$r2` (k BIGINT, cents BIGINT) " +
          "PARTITIONED BY (k)")
        Tables(s, d, "orders").createOrReplaceTempView("q317_orders")
        Tables(s, d, "customer").createOrReplaceTempView("q317_customer")
        s.sql(s"""INSERT INTO graftsnap.`$r1`
          |SELECT o_custkey % 16,
          |  sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
          |FROM q317_orders GROUP BY o_custkey % 16""".stripMargin)
        s.sql(s"""INSERT INTO graftsnap.`$r2`
          |SELECT c_custkey % 16,
          |  sum(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT))
          |FROM q317_customer GROUP BY c_custkey % 16""".stripMargin)
        val old = (s.conf.get("spark.sql.sources.v2.bucketing.enabled"),
          s.conf.get("spark.sql.autoBroadcastJoinThreshold"))
        s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
        s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try {
          val j = s.sql(
            s"""SELECT a.k AS k, a.cents + b.cents AS total_cents
               |FROM graftsnap.`$r1` a JOIN graftsnap.`$r2` b
               |ON a.k = b.k""".stripMargin)
          val rows = j.collect()
          val exchanges = "Exchange".r
            .findAllIn(j.queryExecution.executedPlan.toString).size
          import s.implicits._
          rows.map(r => (r.getLong(0), r.getLong(1), exchanges.toLong))
            .toSeq.toDF("k", "total_cents", "n_exchanges")
        } finally {
          s.conf.set("spark.sql.sources.v2.bucketing.enabled", old._1)
          s.conf.set("spark.sql.autoBroadcastJoinThreshold", old._2)
        }
      },
      """WITH a AS (
        |  SELECT o_custkey % 16 AS k,
        |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |      AS BIGINT) AS cents
        |  FROM orders GROUP BY o_custkey % 16),
        |b AS (
        |  SELECT c_custkey % 16 AS k,
        |    CAST(sum(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT))
        |      AS BIGINT) AS cents
        |  FROM customer GROUP BY c_custkey % 16)
        |SELECT CAST(a.k AS BIGINT) AS k,
        |  CAST(a.cents + b.cents AS BIGINT) AS total_cents,
        |  CAST(0 AS BIGINT) AS n_exchanges
        |FROM a JOIN b ON a.k = b.k""".stripMargin),

    // STRING STAT BOXES: manifests record per-file min/max PREFIXES of
    // every string column (UTF-8 byte space — Spark's binary collation
    // — truncated at 64 bytes with a truncation-safe exclusive upper
    // bound), so the =, range, LIKE-prefix, and IN filters a 100 TB
    // user runs on string keys skip files from the manifest alone.
    // Four custkey-ranged commits on customer: c_name order IS custkey
    // order (zero-padded), so an equality opens 1 file, a name range
    // opens 1, a LIKE prefix opens 1, a 2-key IN opens 2, and a bound
    // above every box opens 0 — all open counters hash-gated as data,
    // with the filters staying residual (row counts match the oracle).
    "q318_snap_string_stats" -> Q(
      (s, d) => {
        val root = scratchDir("snapd31")
        val c = Tables(s, d, "customer").select("c_custkey", "c_name")
        Seq((0L, 375L), (375L, 750L), (750L, 1125L),
          (1125L, Long.MaxValue)).foreach { case (a, b) =>
          graft.io.SnapTable.commit(
            c.filter(col("c_custkey") >= a && col("c_custkey") < b),
            root, "c_custkey")
        }
        def snap = s.read.format("graft.sources.SnapSourceProvider")
          .load(root)
        def probe(f: org.apache.spark.sql.Column): (Long, Long) = {
          val c0 = graft.sources.SnapSource.filesOpened.get()
          val n = snap.filter(f).count()
          (n, graft.sources.SnapSource.filesOpened.get() - c0)
        }
        val (nEq, oEq) = probe(col("c_name") === "Customer#000000042")
        val (nRg, oRg) = probe(col("c_name")
          .between("Customer#000000400", "Customer#000000500"))
        val (nPf, oPf) = probe(col("c_name").startsWith("Customer#0000008"))
        val (nIn, oIn) = probe(col("c_name")
          .isin("Customer#000000100", "Customer#000001200"))
        val (nHi, oHi) = probe(col("c_name") >= "D")
        // string MIN/MAX fold untruncated boxes from the manifest, and
        // a box-aligned string bound absorbs EXACTLY so the aggregate
        // under the WHERE stays manifest-answered — zero opens both
        val c0 = graft.sources.SnapSource.filesOpened.get()
        val mm = snap.agg(min(col("c_name")).as("mn"),
          max(col("c_name")).as("mx")).collect()(0)
        val al = snap
          .filter(col("c_name").between(
            "Customer#000000000", "Customer#000000374"))
          .agg(count(lit(1))).collect()(0)
        val aggOpens = graft.sources.SnapSource.filesOpened.get() - c0
        s.range(1).select(
          lit(nEq).as("n_eq"), lit(oEq).as("o_eq"),
          lit(nRg).as("n_range"), lit(oRg).as("o_range"),
          lit(nPf).as("n_prefix"), lit(oPf).as("o_prefix"),
          lit(nIn).as("n_in"), lit(oIn).as("o_in"),
          lit(nHi).as("n_above"), lit(oHi).as("o_above"),
          lit(mm.getString(0)).as("mn_name"),
          lit(mm.getString(1)).as("mx_name"),
          lit(al.getLong(0)).as("n_aligned"),
          lit(aggOpens).as("o_agg"))
      },
      """SELECT
        |  (SELECT CAST(count(*) AS BIGINT) FROM customer
        |   WHERE c_name = 'Customer#000000042') AS n_eq,
        |  CAST(1 AS BIGINT) AS o_eq,
        |  (SELECT CAST(count(*) AS BIGINT) FROM customer
        |   WHERE c_name BETWEEN 'Customer#000000400'
        |     AND 'Customer#000000500') AS n_range,
        |  CAST(1 AS BIGINT) AS o_range,
        |  (SELECT CAST(count(*) AS BIGINT) FROM customer
        |   WHERE c_name LIKE 'Customer#0000008%') AS n_prefix,
        |  CAST(1 AS BIGINT) AS o_prefix,
        |  (SELECT CAST(count(*) AS BIGINT) FROM customer
        |   WHERE c_name IN ('Customer#000000100', 'Customer#000001200'))
        |    AS n_in,
        |  CAST(2 AS BIGINT) AS o_in,
        |  (SELECT CAST(count(*) AS BIGINT) FROM customer
        |   WHERE c_name >= 'D') AS n_above,
        |  CAST(0 AS BIGINT) AS o_above,
        |  (SELECT min(c_name) FROM customer) AS mn_name,
        |  (SELECT max(c_name) FROM customer) AS mx_name,
        |  (SELECT CAST(count(*) AS BIGINT) FROM customer
        |   WHERE c_name BETWEEN 'Customer#000000000'
        |     AND 'Customer#000000374') AS n_aligned,
        |  CAST(0 AS BIGINT) AS o_agg""".stripMargin),

    // OPTIMIZE ... ZORDER BY: a table committed sorted by o_orderkey
    // has tight boxes on orderkey and FULL-WIDTH boxes on o_custkey —
    // a custkey probe must open every file (gated: 4 of 4). One
    // `CALL graftsnap.system.optimize(zorder_by =>
    // 'o_orderkey,o_custkey')` rewrites the live set Morton-clustered
    // with multi-column boxes, after which a narrow band on EITHER
    // dimension opens at most half the 16 files (the 16 z-chunks form
    // a 4×4 grid, so a 1-grid-row band is ~4 files; range-partitioner
    // sampling wobble is why the gate is an inequality flag, not an
    // exact count). Row counts and the post-optimize table hash-match
    // the oracle — clustering moves rows, never changes them.
    "q319_snap_zorder" -> Q(
      (s, d) => {
        val root = scratchDir("snapd32") + "/t"
        val o = Tables(s, d, "orders").select("o_orderkey", "o_custkey")
        Seq((0L, 4000L), (4000L, 8000L), (8000L, 12000L),
          (12000L, Long.MaxValue)).foreach { case (a, b) =>
          graft.io.SnapTable.commit(
            o.filter(col("o_orderkey") >= a && col("o_orderkey") < b),
            root, "o_orderkey")
        }
        def snap = s.read.format("graft.sources.SnapSourceProvider")
          .load(root)
        def probe(f: org.apache.spark.sql.Column): (Long, Long) = {
          val c0 = graft.sources.SnapSource.filesOpened.get()
          val n = snap.filter(f).count()
          (n, graft.sources.SnapSource.filesOpened.get() - c0)
        }
        val custBand = col("o_custkey").between(10L, 20L)
        val (nB, oB) = probe(custBand) // no custkey stats: all 4 open
        s.conf.set("spark.sql.catalog.graftsnap",
          classOf[graft.sources.SnapCatalog].getName)
        val opt = s.sql("CALL graftsnap.system.optimize(" +
          s"table => '$root', target_files => 16, " +
          "zorder_by => 'o_orderkey,o_custkey')").collect()(0)
        val (nC, oC) = probe(custBand)
        val (nK, oK) = probe(col("o_orderkey").between(100L, 200L))
        val sums = snap.agg(count(lit(1)).as("n"),
          sum(col("o_orderkey")).as("sk"),
          sum(col("o_custkey")).as("sc")).collect()(0)
        s.range(1).select(
          lit(nB).as("n_cust_before"), lit(oB).as("o_cust_before"),
          lit(opt.getInt(2).toLong).as("n_files_after"),
          lit(nC).as("n_cust_after"),
          lit(if (oC * 2 <= 16) 1L else 0L).as("cust_pruned"),
          lit(nK).as("n_key_after"),
          lit(if (oK * 2 <= 16) 1L else 0L).as("key_pruned"),
          lit(sums.getLong(0)).as("n_rows"),
          lit(sums.getLong(1)).as("sum_keys"),
          lit(sums.getLong(2)).as("sum_cust"))
      },
      """SELECT
        |  (SELECT CAST(count(*) AS BIGINT) FROM orders
        |   WHERE o_custkey BETWEEN 10 AND 20) AS n_cust_before,
        |  CAST(4 AS BIGINT) AS o_cust_before,
        |  CAST(16 AS BIGINT) AS n_files_after,
        |  (SELECT CAST(count(*) AS BIGINT) FROM orders
        |   WHERE o_custkey BETWEEN 10 AND 20) AS n_cust_after,
        |  CAST(1 AS BIGINT) AS cust_pruned,
        |  (SELECT CAST(count(*) AS BIGINT) FROM orders
        |   WHERE o_orderkey BETWEEN 100 AND 200) AS n_key_after,
        |  CAST(1 AS BIGINT) AS key_pruned,
        |  (SELECT CAST(count(*) AS BIGINT) FROM orders) AS n_rows,
        |  (SELECT CAST(sum(o_orderkey) AS BIGINT) FROM orders)
        |    AS sum_keys,
        |  (SELECT CAST(sum(o_custkey) AS BIGINT) FROM orders)
        |    AS sum_cust""".stripMargin),

    // BUCKET STORAGE-PARTITIONED JOIN: q317's identity SPJ is the
    // dimension layout (one file per KEY — unusable when keys number
    // billions); bucket(16, k) is the FACT layout. Both tables write
    // per-bucket files via the catalog's `bucket` function (Murmur3 =
    // Spark's own hash placement, so the clustered write lands one
    // whole bucket per task = one file per bucket per commit), the
    // manifest tags each file's bucket, scans report
    // KeyGroupedPartitioning over bucket(16, k), and the
    // orders-lineitem join plans with ZERO exchanges — at 100 TB this
    // is the fact-fact join that otherwise shuffles both sides. Point
    // lookups map the key through the bucket function and open ONE
    // bucket's file — both counters hash-gated as data.
    "q320_snap_bucket_join" -> Q(
      (s, d) => {
        val base = scratchDir("snapd33")
        val r1 = base + "/t1"
        val r2 = base + "/t2"
        s.conf.set("spark.sql.catalog.graftsnap",
          classOf[graft.sources.SnapCatalog].getName)
        s.sql(s"CREATE TABLE graftsnap.`$r1` (k BIGINT, cents BIGINT) " +
          "PARTITIONED BY (bucket(16, k))")
        s.sql(s"CREATE TABLE graftsnap.`$r2` (k BIGINT, qty BIGINT) " +
          "PARTITIONED BY (bucket(16, k))")
        Tables(s, d, "orders").createOrReplaceTempView("q320_orders")
        Tables(s, d, "lineitem").createOrReplaceTempView("q320_lineitem")
        s.sql(s"""INSERT INTO graftsnap.`$r1`
          |SELECT o_orderkey,
          |  CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
          |FROM q320_orders""".stripMargin)
        s.sql(s"""INSERT INTO graftsnap.`$r2`
          |SELECT l_orderkey, CAST(l_quantity AS BIGINT)
          |FROM q320_lineitem""".stripMargin)
        val old = (s.conf.get("spark.sql.sources.v2.bucketing.enabled"),
          s.conf.get("spark.sql.autoBroadcastJoinThreshold"))
        s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
        s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try {
          val j = s.sql(
            s"""SELECT a.k % 64 AS g, count(*) AS n_pairs,
               |  sum(a.cents + b.qty) AS s
               |FROM graftsnap.`$r1` a JOIN graftsnap.`$r2` b
               |ON a.k = b.k GROUP BY a.k % 64""".stripMargin)
          val rows = j.collect()
          // the join AND the pre-aggregation ride the key grouping —
          // hashpartitioning exchanges are what a shuffled join would
          // insert (the final %64 rollup legitimately repartitions)
          val joinShuffles = "Exchange hashpartitioning\\(k#"
            .r.findAllIn(j.queryExecution.executedPlan.toString).size
          // probe key taken FROM the data (a literal key misses at
          // small scale factors and the gate would throw while only
          // planning — e.g. under the PlanReport harness at sf0.001)
          val ptKey = s.sql("SELECT min(o_orderkey) FROM q320_orders " +
            "WHERE o_orderkey >= 1000").head().getLong(0)
          val c0 = graft.sources.SnapSource.filesOpened.get()
          val pt = s.sql(s"SELECT cents FROM graftsnap.`$r1` " +
            s"WHERE k = $ptKey").collect()(0).getLong(0)
          val ptOpens = graft.sources.SnapSource.filesOpened.get() - c0
          import s.implicits._
          rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
            joinShuffles.toLong, pt, ptOpens))
            .toSeq.toDF("g", "n_pairs", "s", "n_join_shuffles",
              "pt_cents", "pt_opens")
        } finally {
          s.conf.set("spark.sql.sources.v2.bucketing.enabled", old._1)
          s.conf.set("spark.sql.autoBroadcastJoinThreshold", old._2)
        }
      },
      """WITH a AS (SELECT o_orderkey AS k,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        |  FROM orders),
        |b AS (SELECT l_orderkey AS k, CAST(l_quantity AS BIGINT) AS qty
        |  FROM lineitem)
        |SELECT CAST(a.k % 64 AS BIGINT) AS g,
        |  CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(sum(a.cents + b.qty) AS BIGINT) AS s,
        |  CAST(0 AS BIGINT) AS n_join_shuffles,
        |  (SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
        |   FROM orders WHERE o_orderkey = (SELECT min(o_orderkey)
        |     FROM orders WHERE o_orderkey >= 1000)) AS pt_cents,
        |  CAST(1 AS BIGINT) AS pt_opens
        |FROM a JOIN b ON a.k = b.k GROUP BY a.k % 64""".stripMargin),

    // ZERO-COPY CLONE: a new table whose first snapshot REFERENCES
    // the source's files — one manifest write, no bytes copied (the
    // local-file count under the clone's data/ is gated to ZERO), at
    // any version. At 100 TB this is the dev/test sandbox: full table
    // in O(1), then divergent writes land in the clone's own root —
    // an INSERT and a DELETE on the clone leave the source byte-
    // identical (both sides hash-gated), and a version-pinned clone
    // reproduces history.
    "q321_snap_clone" -> Q(
      (s, d) => {
        val base = scratchDir("snapd34")
        val src = base + "/src"
        val dst = base + "/dst"
        val dstOld = base + "/dst_old"
        val o = Tables(s, d, "orders").select("o_orderkey", "o_totalprice")
          .select(col("o_orderkey"),
            expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")
              .as("cents"))
        Seq((0L, 4000L), (4000L, 8000L), (8000L, 12000L),
          (12000L, Long.MaxValue)).foreach { case (a, b) =>
          graft.io.SnapTable.commit(
            o.filter(col("o_orderkey") >= a && col("o_orderkey") < b),
            src, "o_orderkey")
        }
        s.conf.set("spark.sql.catalog.graftsnap",
          classOf[graft.sources.SnapCatalog].getName)
        s.sql(s"DELETE FROM graftsnap.`$src` " +
          "WHERE o_orderkey BETWEEN 5000 AND 5999") // v5
        val c = s.sql("CALL graftsnap.system.clone(" +
          s"source => '$src', target => '$dst')").collect()(0)
        def localFiles(root: String): Long = {
          val dataDir = java.nio.file.Paths.get(root, "data")
          if (!java.nio.file.Files.isDirectory(dataDir)) 0L
          else {
            val st = java.nio.file.Files.walk(dataDir)
            try st.filter(p => p.toString.endsWith(".parquet")).count()
            finally st.close()
          }
        }
        val zeroCopy = localFiles(dst)
        def agg(root: String) = s.read
          .format("graft.sources.SnapSourceProvider").load(root)
          .agg(count(lit(1)).as("n"), sum(col("cents")).as("s"))
          .collect()(0)
        val clone0 = agg(dst)
        // a version-pinned clone reproduces history (before the 4th
        // slice and the delete existed)
        s.sql("CALL graftsnap.system.clone(" +
          s"source => '$src', target => '$dstOld', version => 2)")
        val old0 = agg(dstOld)
        // divergence: writes to the clone land in ITS root only
        s.sql(s"INSERT INTO graftsnap.`$dst` VALUES (99999999, 1)")
        s.sql(s"DELETE FROM graftsnap.`$dst` " +
          "WHERE o_orderkey BETWEEN 0 AND 999")
        val clone1 = agg(dst)
        val src1 = agg(src)
        s.range(1).select(
          lit(c.getInt(0).toLong).as("source_version"),
          lit(c.getInt(2).toLong).as("files_referenced"),
          lit(zeroCopy).as("n_local_files"),
          lit(clone0.getLong(0)).as("n_clone"),
          lit(clone0.getLong(1)).as("s_clone"),
          lit(old0.getLong(0)).as("n_clone_v2"),
          lit(clone1.getLong(0)).as("n_diverged"),
          lit(clone1.getLong(1)).as("s_diverged"),
          lit(src1.getLong(0)).as("n_src_after"),
          lit(src1.getLong(1)).as("s_src_after"))
      },
      """WITH o AS (SELECT o_orderkey AS k,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS c
        |  FROM orders),
        |kept AS (SELECT * FROM o WHERE k NOT BETWEEN 5000 AND 5999)
        |SELECT CAST(5 AS BIGINT) AS source_version,
        |  CAST(4 AS BIGINT) AS files_referenced,
        |  CAST(0 AS BIGINT) AS n_local_files,
        |  (SELECT CAST(count(*) AS BIGINT) FROM kept) AS n_clone,
        |  (SELECT CAST(sum(c) AS BIGINT) FROM kept) AS s_clone,
        |  (SELECT CAST(count(*) AS BIGINT) FROM o
        |   WHERE k < 8000) AS n_clone_v2,
        |  (SELECT CAST(count(*) AS BIGINT) + 1 FROM kept
        |   WHERE k NOT BETWEEN 0 AND 999) AS n_diverged,
        |  (SELECT CAST(sum(c) AS BIGINT) + 1 FROM kept
        |   WHERE k NOT BETWEEN 0 AND 999) AS s_diverged,
        |  (SELECT CAST(count(*) AS BIGINT) FROM kept) AS n_src_after,
        |  (SELECT CAST(sum(c) AS BIGINT) FROM kept) AS s_src_after""".stripMargin),

    // RESTORE + HISTORY from SQL: a bad DELETE is undone by
    // publishing a new version whose live set references the
    // pre-delete files (one manifest write, no data copied; the bad
    // version stays time-travelable), and the log itself is queryable
    // as a result set — version/action/file/row counts hash-gated,
    // commit-time monotonicity gated as a flag (the values are
    // wall-clock).
    "q322_snap_restore_history" -> Q(
      (s, d) => {
        val root = scratchDir("snapd35") + "/t"
        val o = Tables(s, d, "orders").select(col("o_orderkey"),
          expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")
            .as("cents"))
        Seq((0L, 4000L), (4000L, 8000L), (8000L, 12000L),
          (12000L, Long.MaxValue)).foreach { case (a, b) =>
          graft.io.SnapTable.commit(
            o.filter(col("o_orderkey") >= a && col("o_orderkey") < b),
            root, "o_orderkey")
        }
        s.conf.set("spark.sql.catalog.graftsnap",
          classOf[graft.sources.SnapCatalog].getName)
        s.sql(s"DELETE FROM graftsnap.`$root` " +
          "WHERE o_orderkey BETWEEN 5000 AND 5999") // v5: the bad op
        val rst = s.sql("CALL graftsnap.system.restore(" +
          s"table => '$root', version => 4)").collect()(0)
        def agg(asOf: Option[Int]) = {
          val r = s.read.format("graft.sources.SnapSourceProvider")
          asOf.fold(r)(v => r.option("versionAsOf", v.toString))
            .load(root)
            .agg(count(lit(1)).as("n"), sum(col("cents")).as("s"))
            .collect()(0)
        }
        val now = agg(None) // restored = pre-delete
        val bad = agg(Some(5)) // the bad version stays travelable
        val h = s.sql("CALL graftsnap.system.history(" +
          s"table => '$root')").collect()
        val tsMono = h.map(_.getLong(2)).sliding(2)
          .forall(p => p.length < 2 || p(0) <= p(1))
        import s.implicits._
        h.map(r => (r.getInt(0).toLong, r.getString(1),
          r.getInt(3).toLong, r.getLong(4),
          if (tsMono) 1L else 0L,
          rst.getInt(1).toLong, now.getLong(0), now.getLong(1),
          bad.getLong(0)))
          .toSeq.toDF("version", "action", "n_files", "n_rows",
            "ts_monotone", "new_version", "n_now", "s_now", "n_bad")
      },
      """WITH o AS (SELECT o_orderkey AS k,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS c
        |  FROM orders),
        |seg AS (
        |  SELECT 1 AS version, 'append' AS action, 1 AS n_files,
        |    (SELECT count(*) FROM o WHERE k < 4000) AS n_rows
        |  UNION ALL SELECT 2, 'append', 1,
        |    (SELECT count(*) FROM o
        |     WHERE k >= 4000 AND k < 8000)
        |  UNION ALL SELECT 3, 'append', 1,
        |    (SELECT count(*) FROM o
        |     WHERE k >= 8000 AND k < 12000)
        |  UNION ALL SELECT 4, 'append', 1,
        |    (SELECT count(*) FROM o WHERE k >= 12000)
        |  UNION ALL SELECT 5, 'overwrite', 4,
        |    (SELECT count(*) FROM o
        |     WHERE k NOT BETWEEN 5000 AND 5999)
        |  UNION ALL SELECT 6, 'overwrite', 4,
        |    (SELECT count(*) FROM o))
        |SELECT CAST(version AS BIGINT) AS version, action,
        |  CAST(n_files AS BIGINT) AS n_files,
        |  CAST(n_rows AS BIGINT) AS n_rows,
        |  CAST(1 AS BIGINT) AS ts_monotone,
        |  CAST(6 AS BIGINT) AS new_version,
        |  (SELECT CAST(count(*) AS BIGINT) FROM o) AS n_now,
        |  (SELECT CAST(sum(c) AS BIGINT) FROM o) AS s_now,
        |  (SELECT CAST(count(*) AS BIGINT) FROM o
        |   WHERE k NOT BETWEEN 5000 AND 5999) AS n_bad
        |FROM seg""".stripMargin),

    // GROUPED aggregate pushdown: on an identity-partitioned table
    // every file provably holds ONE key (box min == max), so
    // `GROUP BY k` groups are unions of whole files and
    // count/min/max/sum fold per key from the manifest — a
    // dimension rollup with ZERO file opens at any table size (the
    // open counter rides along hash-gated). Grouping by anything
    // else refuses and row-scans (correct, just not free).
    "q323_snap_grouped_agg" -> Q(
      (s, d) => {
        val root = scratchDir("snapd36") + "/t"
        s.conf.set("spark.sql.catalog.graftsnap",
          classOf[graft.sources.SnapCatalog].getName)
        s.sql(s"CREATE TABLE graftsnap.`$root` (k BIGINT, cents BIGINT) " +
          "PARTITIONED BY (k) TBLPROPERTIES ('statCols'='k,cents')")
        Tables(s, d, "orders").createOrReplaceTempView("q323_orders")
        // two inserts: every key holds TWO files — the per-key fold
        // must union whole files
        s.sql(s"""INSERT INTO graftsnap.`$root`
          |SELECT o_custkey % 8,
          |  CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
          |FROM q323_orders WHERE o_orderkey % 2 = 0""".stripMargin)
        s.sql(s"""INSERT INTO graftsnap.`$root`
          |SELECT o_custkey % 8,
          |  CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
          |FROM q323_orders WHERE o_orderkey % 2 = 1""".stripMargin)
        val c0 = graft.sources.SnapSource.filesOpened.get()
        val g = s.sql(
          s"""SELECT k, count(*) AS n, sum(cents) AS s,
             |  min(cents) AS mn, max(cents) AS mx
             |FROM graftsnap.`$root` GROUP BY k""".stripMargin).collect()
        val opens = graft.sources.SnapSource.filesOpened.get() - c0
        import s.implicits._
        g.map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), opens))
          .toSeq.toDF("k", "n", "s", "mn", "mx", "n_opens")
      },
      """SELECT CAST(o_custkey % 8 AS BIGINT) AS k,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |    AS BIGINT) AS s,
        |  CAST(min(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |    AS BIGINT) AS mn,
        |  CAST(max(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |    AS BIGINT) AS mx,
        |  CAST(0 AS BIGINT) AS n_opens
        |FROM orders GROUP BY o_custkey % 8""".stripMargin),

    // TARGETED DV COMPACTION + PUSHDOWN-LOSS VISIBILITY: one
    // merge-on-read DELETE silently downgrades every manifest-
    // answered MIN/MAX/SUM to a full scan (correct, but at 100 TB
    // the difference between 0 opens and a table scan) — the
    // aggRefusedByDv counter makes the loss observable, and
    // `optimize(only_dv => true)` rewrites ONLY the DV'd files (the
    // clean majority rides along untouched — gated: exactly the
    // DV'd files change identity) and restores the fold.
    "q324_snap_only_dv_optimize" -> Q(
      (s, d) => {
        val root = scratchDir("snapd40") + "/t"
        s.conf.set("spark.sql.catalog.graftsnap",
          classOf[graft.sources.SnapCatalog].getName)
        s.sql(s"CREATE TABLE graftsnap.`$root` (k BIGINT, cents BIGINT) " +
          "TBLPROPERTIES ('statCols'='k,cents', 'dv'='true')")
        val o = Tables(s, d, "orders").select(
          col("o_orderkey").as("k"),
          expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")
            .as("cents"))
        Seq((0L, 4000L), (4000L, 8000L), (8000L, 12000L),
          (12000L, 100000000L)).foreach { case (a, b) =>
          o.filter(col("k") >= a && col("k") < b)
            .write.format("graft.sources.SnapSourceProvider")
            .option("statCols", "k,cents")
            .option("filesPerCommit", "1")
            .mode("append").save(root)
        }
        def minMax(): (Long, Long, Long) = {
          val c0 = graft.sources.SnapSource.filesOpened.get()
          val r = s.sql(s"SELECT min(cents), max(cents) " +
            s"FROM graftsnap.`$root`").collect()(0)
          (r.getLong(0), r.getLong(1),
            graft.sources.SnapSource.filesOpened.get() - c0)
        }
        val clean = minMax()
        s.sql(s"DELETE FROM graftsnap.`$root` " +
          "WHERE k BETWEEN 5000 AND 5099")
        val nDv = graft.io.SnapTable.liveFiles(root)
          .count(_.dv.isDefined)
        val r0 = graft.sources.SnapSource.aggRefusedByDv.get()
        val degraded = minMax()
        val refusals = graft.sources.SnapSource.aggRefusedByDv.get() - r0
        val before = graft.io.SnapTable.liveFiles(root).map(_.path).toSet
        s.sql(s"CALL graftsnap.system.optimize(table => '$root', " +
          "only_dv => true)").collect()
        val after = graft.io.SnapTable.liveFiles(root)
        val carried = after.count(f => before.contains(f.path))
        val restored = minMax()
        s.range(1).select(
          lit(clean._3).as("opens_clean"),
          lit(degraded._1).as("mn_degraded"),
          lit(degraded._2).as("mx_degraded"),
          lit(if (degraded._3 > 0) 1L else 0L).as("refused_scan"),
          lit(if (refusals >= 1) 1L else 0L).as("refusal_counted"),
          lit(nDv.toLong).as("n_dv_files"),
          lit(carried.toLong).as("n_clean_carried"),
          lit(after.count(_.dv.isDefined).toLong).as("n_dv_after"),
          lit(restored._1).as("mn_restored"),
          lit(restored._2).as("mx_restored"),
          lit(restored._3).as("opens_restored"))
      },
      """WITH cents AS (
        |  SELECT o_orderkey AS k,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS c
        |  FROM orders),
        |kept AS (SELECT c FROM cents WHERE k NOT BETWEEN 5000 AND 5099)
        |SELECT CAST(0 AS BIGINT) AS opens_clean,
        |  (SELECT min(c) FROM kept) AS mn_degraded,
        |  (SELECT max(c) FROM kept) AS mx_degraded,
        |  CAST(1 AS BIGINT) AS refused_scan,
        |  CAST(1 AS BIGINT) AS refusal_counted,
        |  CAST(1 AS BIGINT) AS n_dv_files,
        |  CAST(3 AS BIGINT) AS n_clean_carried,
        |  CAST(0 AS BIGINT) AS n_dv_after,
        |  (SELECT min(c) FROM kept) AS mn_restored,
        |  (SELECT max(c) FROM kept) AS mx_restored,
        |  CAST(0 AS BIGINT) AS opens_restored""".stripMargin),

    // NAMED-TABLE NAMESPACE: a warehouse root turns identifiers into
    // NAMES — `CREATE TABLE wh.mart.t` instead of a backquoted
    // absolute path in every statement. The full lifecycle runs by
    // name: CTAS-shaped insert, MERGE, time travel, SHOW TABLES,
    // RENAME (manifest data paths repointed — history survives the
    // move), DROP. At 100 TB this is what lets multi-user SQL
    // tooling (grants, lineage, dbt-style refs) address tables at
    // all.
    "q325_snap_named_tables" -> Q(
      (s, d) => {
        val wh = scratchDir("snapd41")
        s.conf.set("spark.sql.catalog.graftwh",
          classOf[graft.sources.SnapCatalog].getName)
        s.conf.set("spark.sql.catalog.graftwh.warehouse", wh)
        Tables(s, d, "orders").createOrReplaceTempView("q325_orders")
        s.sql("CREATE TABLE graftwh.mart.ord (k BIGINT, cents BIGINT) " +
          "TBLPROPERTIES ('statCols'='k')")
        s.sql("""INSERT INTO graftwh.mart.ord
          |SELECT o_orderkey,
          |  CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
          |FROM q325_orders""".stripMargin)
        s.sql("""CREATE OR REPLACE TEMP VIEW q325_upd AS
          |SELECT o_orderkey AS k,
          |  CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) + 7 AS cents
          |FROM q325_orders WHERE o_orderkey BETWEEN 100 AND 199""".stripMargin)
        s.sql("""MERGE INTO graftwh.mart.ord t USING q325_upd u
          |ON t.k = u.k
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
        val nTables = s.sql("SHOW TABLES IN graftwh.mart").count()
        val preMerge = s.sql(
          "SELECT count(*), sum(cents) FROM graftwh.mart.ord VERSION AS OF 2")
          .collect()(0)
        s.sql("ALTER TABLE graftwh.mart.ord RENAME TO mart.ord2")
        val post = s.sql(
          "SELECT count(*), sum(cents) FROM graftwh.mart.ord2").collect()(0)
        // history survived the directory move (paths repointed)
        val travel = s.sql(
          "SELECT sum(cents) FROM graftwh.mart.ord2 VERSION AS OF 2")
          .collect()(0)
        s.sql("DROP TABLE graftwh.mart.ord2")
        val nAfterDrop = s.sql("SHOW TABLES IN graftwh.mart").count()
        s.range(1).select(
          lit(nTables).as("n_tables"),
          lit(preMerge.getLong(0)).as("n_pre_merge"),
          lit(preMerge.getLong(1)).as("sum_pre_merge"),
          lit(post.getLong(0)).as("n_post"),
          lit(post.getLong(1)).as("sum_post"),
          lit(travel.getLong(0)).as("sum_travel"),
          lit(nAfterDrop).as("n_after_drop"))
      },
      """WITH cents AS (
        |  SELECT o_orderkey AS k,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS c
        |  FROM orders)
        |SELECT CAST(1 AS BIGINT) AS n_tables,
        |  (SELECT count(*) FROM cents) AS n_pre_merge,
        |  (SELECT CAST(sum(c) AS BIGINT) FROM cents) AS sum_pre_merge,
        |  (SELECT count(*) FROM cents) AS n_post,
        |  (SELECT CAST(sum(c) + 7 * count(*) FILTER (
        |     WHERE k BETWEEN 100 AND 199) AS BIGINT) FROM cents)
        |    AS sum_post,
        |  (SELECT CAST(sum(c) AS BIGINT) FROM cents) AS sum_travel,
        |  CAST(0 AS BIGINT) AS n_after_drop""".stripMargin),

    // LAYOUT EVOLUTION — RE-BUCKET VIA OPTIMIZE: a bucket(8) fact
    // table rewritten to bucket(4) in one conflict-checked overwrite
    // (`optimize(bucket_count => 4)`), after which it SPJ-joins a
    // bucket(4) table with ZERO join-key exchanges — the migration
    // path when a growing cluster wants coarser (or a re-partnered
    // table wants matching) bucketing without recreating the table.
    // Exchange count gated as data; result hash-matched.
    "q326_snap_rebucket" -> Q(
      (s, d) => {
        val base = scratchDir("snapd42")
        val r1 = base + "/t1"
        val r2 = base + "/t2"
        s.conf.set("spark.sql.catalog.graftsnap",
          classOf[graft.sources.SnapCatalog].getName)
        s.sql(s"CREATE TABLE graftsnap.`$r1` (k BIGINT, cents BIGINT) " +
          "PARTITIONED BY (bucket(8, k))")
        s.sql(s"CREATE TABLE graftsnap.`$r2` (k BIGINT, qty BIGINT) " +
          "PARTITIONED BY (bucket(4, k))")
        Tables(s, d, "orders").createOrReplaceTempView("q326_orders")
        Tables(s, d, "lineitem").createOrReplaceTempView("q326_lineitem")
        s.sql(s"""INSERT INTO graftsnap.`$r1`
          |SELECT o_orderkey,
          |  CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
          |FROM q326_orders""".stripMargin)
        s.sql(s"""INSERT INTO graftsnap.`$r2`
          |SELECT l_orderkey, CAST(l_quantity AS BIGINT)
          |FROM q326_lineitem""".stripMargin)
        val nFiles8 = graft.io.SnapTable.liveFiles(r1).size
        s.sql(s"CALL graftsnap.system.optimize(table => '$r1', " +
          "bucket_count => 4)").collect()
        val after = graft.io.SnapTable.liveFiles(r1)
        val tagged4 = after.count(_.range(
          graft.sources.SnapBucket.tag("k", 4)).isDefined)
        val old = (s.conf.get("spark.sql.sources.v2.bucketing.enabled"),
          s.conf.get("spark.sql.autoBroadcastJoinThreshold"))
        s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
        s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try {
          val j = s.sql(
            s"""SELECT a.k % 32 AS g, count(*) AS n_pairs,
               |  sum(a.cents + b.qty) AS sv
               |FROM graftsnap.`$r1` a JOIN graftsnap.`$r2` b
               |ON a.k = b.k GROUP BY a.k % 32""".stripMargin)
          val rows = j.collect()
          val joinShuffles = "Exchange hashpartitioning\\(k#"
            .r.findAllIn(j.queryExecution.executedPlan.toString).size
          import s.implicits._
          rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
            joinShuffles.toLong,
            (if (nFiles8 > 0) 1L else 0L),
            (if (tagged4 == after.size) 1L else 0L)))
            .toSeq.toDF("g", "n_pairs", "sv", "n_join_shuffles",
              "had_files", "all_rebucketed")
        } finally {
          s.conf.set("spark.sql.sources.v2.bucketing.enabled", old._1)
          s.conf.set("spark.sql.autoBroadcastJoinThreshold", old._2)
        }
      },
      """WITH a AS (SELECT o_orderkey AS k,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        |  FROM orders),
        |b AS (SELECT l_orderkey AS k, CAST(l_quantity AS BIGINT) AS qty
        |  FROM lineitem)
        |SELECT CAST(a.k % 32 AS BIGINT) AS g,
        |  CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(sum(a.cents + b.qty) AS BIGINT) AS sv,
        |  CAST(0 AS BIGINT) AS n_join_shuffles,
        |  CAST(1 AS BIGINT) AS had_files,
        |  CAST(1 AS BIGINT) AS all_rebucketed
        |FROM a JOIN b ON a.k = b.k GROUP BY a.k % 32""".stripMargin),

    // MULTI-COLUMN GROUPED PUSHDOWN: q323 folded GROUP BY one
    // identity key; the generalized gate proves the per-file
    // single-value test (box min == max, zero nulls, per column)
    // carries a TWO-column rollup with zero file opens — the shape
    // of a per-(tenant, day) billing query over a manifest, at any
    // table size.
    "q327_snap_multi_grouped_agg" -> Q(
      (s, d) => {
        val root = scratchDir("snapd43") + "/t"
        s.conf.set("spark.sql.catalog.graftsnap",
          classOf[graft.sources.SnapCatalog].getName)
        s.sql(s"CREATE TABLE graftsnap.`$root` " +
          "(k1 BIGINT, k2 BIGINT, cents BIGINT) " +
          "TBLPROPERTIES ('statCols'='k1,k2,cents')")
        Tables(s, d, "orders").createOrReplaceTempView("q327_orders")
        (0 until 4).foreach { a =>
          (0 until 3).foreach { b =>
            s.sql(s"""INSERT INTO graftsnap.`$root`
              |SELECT o_custkey % 4, o_orderkey % 3,
              |  CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
              |FROM q327_orders
              |WHERE o_custkey % 4 = $a AND o_orderkey % 3 = $b""".stripMargin)
          }
        }
        val c0 = graft.sources.SnapSource.filesOpened.get()
        val g = s.sql(
          s"""SELECT k1, k2, count(*) AS n, sum(cents) AS sc,
             |  min(cents) AS mn, max(cents) AS mx
             |FROM graftsnap.`$root` GROUP BY k1, k2""".stripMargin)
          .collect()
        val opens = graft.sources.SnapSource.filesOpened.get() - c0
        import s.implicits._
        g.map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5), opens))
          .toSeq.toDF("k1", "k2", "n", "sc", "mn", "mx", "n_opens")
      },
      """SELECT CAST(o_custkey % 4 AS BIGINT) AS k1,
        |  CAST(o_orderkey % 3 AS BIGINT) AS k2,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |    AS BIGINT) AS sc,
        |  CAST(min(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |    AS BIGINT) AS mn,
        |  CAST(max(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |    AS BIGINT) AS mx,
        |  CAST(0 AS BIGINT) AS n_opens
        |FROM orders GROUP BY o_custkey % 4, o_orderkey % 3""".stripMargin),

    // MERGE WITH SCHEMA EVOLUTION (Spark-native, Delta parity): the
    // WITH SCHEMA EVOLUTION clause drives the source's extra column
    // through the catalog's ALTER ADD COLUMN (one zero-file log
    // commit; a fresh physical name, so no historical bytes are
    // reinterpreted), then the merge resolves against the evolved
    // schema — old rows read the new column as NULL, matched and
    // inserted rows carry it. The post-merge rollup hash-matches an
    // oracle that never saw a schema change.
    "q328_snap_merge_schema_evolution" -> Q(
      (s, d) => {
        val root = scratchDir("snapd44") + "/t"
        s.conf.set("spark.sql.catalog.graftsnap",
          classOf[graft.sources.SnapCatalog].getName)
        s.sql(s"CREATE TABLE graftsnap.`$root` (k BIGINT, cents BIGINT) " +
          "TBLPROPERTIES ('statCols'='k')")
        Tables(s, d, "orders").createOrReplaceTempView("q328_orders")
        s.sql(s"""INSERT INTO graftsnap.`$root`
          |SELECT o_orderkey,
          |  CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
          |FROM q328_orders WHERE o_orderkey % 2 = 0""".stripMargin)
        s.sql("""CREATE OR REPLACE TEMP VIEW q328_src AS
          |SELECT o_orderkey AS k,
          |  CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
          |  o_orderpriority AS prio
          |FROM q328_orders
          |WHERE o_orderkey % 2 = 1 OR o_orderkey % 10 = 0""".stripMargin)
        s.sql(s"""MERGE WITH SCHEMA EVOLUTION INTO graftsnap.`$root` t
          |USING q328_src u ON t.k = u.k
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
        s.sql(s"""SELECT coalesce(prio, '<none>') AS prio,
          |  count(*) AS n, sum(cents) AS sc
          |FROM graftsnap.`$root` GROUP BY coalesce(prio, '<none>')""".stripMargin)
      },
      """WITH cents AS (
        |  SELECT o_orderkey AS k,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS c,
        |    o_orderpriority AS p
        |  FROM orders),
        |merged AS (
        |  SELECT k, c,
        |    CASE WHEN k % 2 = 1 OR k % 10 = 0 THEN p END AS prio
        |  FROM cents)
        |SELECT coalesce(prio, '<none>') AS prio,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(c) AS BIGINT) AS sc
        |FROM merged GROUP BY coalesce(prio, '<none>')""".stripMargin),

    // BLOOM FILE SKIPPING: min/max boxes cannot prune a point lookup
    // on a HIGH-CARDINALITY UNORDERED column (every file's box spans
    // the space) — a table declaring bloomCols records one ~18 KB
    // sketch per (file, column) and the scan probes candidates'
    // sidecars for EqualTo/IN literals: a rejecting bloom PROVES the
    // file holds no match (no false negatives) and it is pruned
    // before any footer opens. At 100 TB this turns "find document
    // X by content hash" from a million-file scan into the files
    // whose sketches admit it. Gated: the lookup opens fewer files
    // than the table holds, a missing key opens ZERO, and the rows
    // hash-match an oracle that recomputes the same md5 tags.
    "q329_snap_bloom_skipping" -> Q(
      (s, d) => {
        val root = scratchDir("snapd45") + "/t"
        s.conf.set("spark.sql.catalog.graftsnap",
          classOf[graft.sources.SnapCatalog].getName)
        s.sql(s"CREATE TABLE graftsnap.`$root` " +
          "(k BIGINT, tag STRING, cents BIGINT) " +
          "TBLPROPERTIES ('statCols'='k', 'bloomCols'='tag')")
        val src = Tables(s, d, "orders").selectExpr(
          "o_orderkey AS k",
          "substr(md5(CAST(o_orderkey AS STRING)), 1, 12) AS tag",
          "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents")
        Seq((0L, 4000L), (4000L, 8000L), (8000L, 12000L),
          (12000L, 100000000L)).foreach { case (a, b) =>
          src.filter(col("k") >= a && col("k") < b)
            .write.format("graft.sources.SnapSourceProvider")
            .option("filesPerCommit", "1")
            .mode("append").save(root)
        }
        val nFiles = graft.io.SnapTable.liveFiles(root).size
        val probeKey = src.filter(col("k") >= 1000L)
          .agg(min("k")).collect()(0).getLong(0)
        val probeTag = src.filter(col("k") === probeKey)
          .select("tag").collect()(0).getString(0)
        val c0 = graft.sources.SnapSource.filesOpened.get()
        val hit = s.sql(s"SELECT k, cents FROM graftsnap.`$root` " +
          s"WHERE tag = '$probeTag'").collect()
        val opens = graft.sources.SnapSource.filesOpened.get() - c0
        val c1 = graft.sources.SnapSource.filesOpened.get()
        val missing = s.sql(s"SELECT k FROM graftsnap.`$root` " +
          "WHERE tag = 'zzzz-not-a-tag'").count()
        val missOpens = graft.sources.SnapSource.filesOpened.get() - c1
        s.range(1).select(
          lit(hit.length.toLong).as("n_hit"),
          lit(hit(0).getLong(0)).as("k_hit"),
          lit(hit(0).getLong(1)).as("cents_hit"),
          lit(if (opens < nFiles) 1L else 0L).as("bloom_pruned"),
          lit(missing).as("n_missing"),
          lit(missOpens).as("miss_opens"))
      },
      """WITH src AS (
        |  SELECT o_orderkey AS k,
        |    substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 12) AS tag,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        |  FROM orders),
        |pk AS (SELECT min(k) AS k FROM src WHERE k >= 1000)
        |SELECT CAST(1 AS BIGINT) AS n_hit,
        |  (SELECT k FROM pk) AS k_hit,
        |  (SELECT cents FROM src WHERE k = (SELECT k FROM pk))
        |    AS cents_hit,
        |  CAST(1 AS BIGINT) AS bloom_pruned,
        |  CAST(0 AS BIGINT) AS n_missing,
        |  CAST(0 AS BIGINT) AS miss_opens""".stripMargin),

    // INCREMENTAL (SMALL-FILE-ONLY) OPTIMIZE: a 100 TB append table
    // cannot afford full rewrites — `optimize(small_files_below =>
    // bytes)` merges ONLY the streaming tail's small files and
    // carries every big file untouched (path identity gated), the
    // Delta minFileSize contract. On laid-out tables the merge
    // groups per bucket / per key so no OPTIMIZE can destroy the
    // layout joins depend on. (The big-file size check is sf-scaled:
    // verify at sf0.01 — the driver's gate — like the other
    // orderkey-split snap gates.)
    "q330_snap_small_files" -> Q(
      (s, d) => {
        val root = scratchDir("snapd46") + "/t"
        s.conf.set("spark.sql.catalog.graftsnap",
          classOf[graft.sources.SnapCatalog].getName)
        s.sql(s"CREATE TABLE graftsnap.`$root` (k BIGINT, cents BIGINT) " +
          "TBLPROPERTIES ('statCols'='k,cents')")
        val src = Tables(s, d, "orders").selectExpr("o_orderkey AS k",
          "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents")
        // one BIG commit (the established table)...
        src.filter(col("k") >= 100L)
          .write.format("graft.sources.SnapSourceProvider")
          .option("filesPerCommit", "1").mode("append").save(root)
        // ...then a stream-shaped tail of tiny commits
        (0 until 4).foreach { m =>
          src.filter(col("k") < 100L && col("k") % 4 === m)
            .write.format("graft.sources.SnapSourceProvider")
            .option("filesPerCommit", "1").mode("append").save(root)
        }
        val before = graft.io.SnapTable.liveFiles(root)
        val bigPath = before.maxBy(_.rows).path
        s.sql(s"CALL graftsnap.system.optimize(table => '$root', " +
          "small_files_below => 32768)").collect()
        val after = graft.io.SnapTable.liveFiles(root)
        val agg = s.sql(s"SELECT count(*), sum(cents) " +
          s"FROM graftsnap.`$root`").collect()(0)
        s.range(1).select(
          lit(before.size.toLong).as("files_before"),
          lit(after.size.toLong).as("files_after"),
          lit(if (after.exists(_.path == bigPath)) 1L else 0L)
            .as("big_carried"),
          lit(agg.getLong(0)).as("n_rows"),
          lit(agg.getLong(1)).as("sum_cents"))
      },
      """SELECT CAST(5 AS BIGINT) AS files_before,
        |  CAST(2 AS BIGINT) AS files_after,
        |  CAST(1 AS BIGINT) AS big_carried,
        |  (SELECT count(*) FROM orders) AS n_rows,
        |  (SELECT CAST(sum(CAST(floor(o_totalprice * 100 + 0.5)
        |     AS BIGINT)) AS BIGINT) FROM orders) AS sum_cents""".stripMargin),

    // THREE-DIMENSIONAL Z-ORDER: q319 proved 2-D; the generalized
    // Morton interleave clusters 3 (up to 4) dimensions, so a
    // rectangle predicate on ANY TWO of the three columns prunes
    // files through their per-dimension boxes — the layout answer
    // when a table is probed along more than two independent axes.
    // Rows hash-matched; the pruning itself is gated as a boolean
    // (opened < total) since file boundaries are sampling-shaped.
    "q331_snap_zorder3" -> Q(
      (s, d) => {
        val root = scratchDir("snapd47") + "/t"
        val src = Tables(s, d, "orders").selectExpr(
          "o_orderkey AS k",
          "o_custkey % 50 AS a",
          "o_orderkey % 50 AS b",
          "CAST(month(o_orderdate) AS BIGINT) AS m",
          "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents")
        graft.io.SnapTable.commitCols(src, root,
          Seq("k", "a", "b", "m"), filesPerCommit = 8)
        graft.io.SnapTable.compactZ(s, root, Seq("a", "b", "m"),
          targetFiles = 8)
        val live = graft.io.SnapTable.liveFiles(root)
        val allBoxed = live.forall(f =>
          Seq("a", "b", "m").forall(c => f.range(c).exists(
            _ != (Long.MinValue, Long.MaxValue))))
        val pruned = graft.io.SnapTable.readPrunedMulti(s, root,
          Seq("a" -> ((10L, 14L)), "m" -> ((3L, 5L))))
        val opened = pruned.select(col(graft.sources.SnapSource.FileColumn))
          .distinct().count()
        val agg = pruned.agg(count(lit(1)), sum("cents")).collect()(0)
        s.range(1).select(
          lit(live.size.toLong).as("n_files"),
          lit(if (allBoxed) 1L else 0L).as("all_boxed"),
          lit(if (opened < live.size) 1L else 0L).as("pruned_some"),
          lit(agg.getLong(0)).as("n_rows"),
          lit(agg.getLong(1)).as("sum_cents"))
      },
      """WITH src AS (
        |  SELECT o_custkey % 50 AS a, o_orderkey % 50 AS b,
        |    CAST(month(o_orderdate) AS BIGINT) AS m,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        |  FROM orders)
        |SELECT CAST(8 AS BIGINT) AS n_files,
        |  CAST(1 AS BIGINT) AS all_boxed,
        |  CAST(1 AS BIGINT) AS pruned_some,
        |  (SELECT count(*) FROM src
        |   WHERE a BETWEEN 10 AND 14 AND m BETWEEN 3 AND 5) AS n_rows,
        |  (SELECT CAST(sum(cents) AS BIGINT) FROM src
        |   WHERE a BETWEEN 10 AND 14 AND m BETWEEN 3 AND 5)
        |    AS sum_cents""".stripMargin),

    // FILE INVENTORY AS SQL (`CALL snap.system.files`): the
    // operator's view of what maintenance must work on — per-file
    // physical/live rows, bytes, DV state, primary stat box — as a
    // query result, Iceberg's `files` metadata table. Gated by
    // AGGREGATING the inventory: counts and row sums must agree
    // with the table's own content before and after a
    // merge-on-read delete.
    "q332_snap_files_inventory" -> Q(
      (s, d) => {
        val root = scratchDir("snapd48") + "/t"
        s.conf.set("spark.sql.catalog.graftsnap",
          classOf[graft.sources.SnapCatalog].getName)
        s.sql(s"CREATE TABLE graftsnap.`$root` (k BIGINT, cents BIGINT) " +
          "TBLPROPERTIES ('statCols'='k', 'dv'='true')")
        Tables(s, d, "orders").createOrReplaceTempView("q332_orders")
        Seq(0, 1).foreach { m =>
          s.sql(s"""INSERT INTO graftsnap.`$root`
            |SELECT o_orderkey,
            |  CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
            |FROM q332_orders WHERE o_orderkey % 2 = $m""".stripMargin)
        }
        s.sql(s"DELETE FROM graftsnap.`$root` " +
          "WHERE k BETWEEN 100 AND 199")
        val inv = s.sql(
          s"CALL graftsnap.system.files(table => '$root')").collect()
        val nFiles = inv.length.toLong
        val physRows = inv.map(_.getLong(1)).sum
        val liveRows = inv.map(_.getLong(2)).sum
        val dvRows = inv.map(_.getLong(4)).sum
        val sized = inv.count(r => !r.isNullAt(3) && r.getLong(3) > 0L)
        val statOk = inv.count(_.getString(6) == "k")
        // the DEGRADATION-TREND column (blocks_agg_pushdown): after
        // the DELETE both files carry DVs — manifest MIN/MAX/SUM is
        // disabled for them and the inventory SAYS so; a targeted
        // optimize(only_dv) restores it and the column drops to none
        val blockedBefore = inv.count(_.getBoolean(5)).toLong
        s.sql(s"CALL graftsnap.system.optimize(table => '$root', " +
          "only_dv => true)").collect()
        val blockedAfter = s.sql(
          s"CALL graftsnap.system.files(table => '$root')").collect()
          .count(_.getBoolean(5)).toLong
        s.range(1).select(
          lit(nFiles).as("n_files"),
          lit(physRows).as("phys_rows"),
          lit(liveRows).as("live_rows"),
          lit(dvRows).as("dv_rows"),
          lit(if (sized == inv.length) 1L else 0L).as("all_sized"),
          lit(if (statOk == inv.length) 1L else 0L).as("all_stat_k"),
          lit(blockedBefore).as("dv_blocked_before"),
          lit(blockedAfter).as("dv_blocked_after"))
      },
      """SELECT CAST(2 AS BIGINT) AS n_files,
        |  (SELECT count(*) FROM orders) AS phys_rows,
        |  (SELECT count(*) FROM orders
        |   WHERE o_orderkey NOT BETWEEN 100 AND 199) AS live_rows,
        |  (SELECT count(*) FROM orders
        |   WHERE o_orderkey BETWEEN 100 AND 199) AS dv_rows,
        |  CAST(1 AS BIGINT) AS all_sized,
        |  CAST(1 AS BIGINT) AS all_stat_k,
        |  CAST(2 AS BIGINT) AS dv_blocked_before,
        |  CAST(0 AS BIGINT) AS dv_blocked_after""".stripMargin),

    // MANIFEST-ANSWERED DISTINCT: `SELECT DISTINCT k` over an
    // identity-partitioned table is a pure manifest fold — every
    // file provably holds ONE non-null key (box min == max, zero
    // nulls), so the distinct key set is the distinct file-key set,
    // ZERO file opens at any table size. The degenerate but common
    // dashboard query ("what partitions exist") stops costing a
    // scan.
    "q333_snap_distinct_keys" -> Q(
      (s, d) => {
        val root = scratchDir("snapd49") + "/t"
        s.conf.set("spark.sql.catalog.graftsnap",
          classOf[graft.sources.SnapCatalog].getName)
        s.sql(s"CREATE TABLE graftsnap.`$root` (k BIGINT, cents BIGINT) " +
          "PARTITIONED BY (k) TBLPROPERTIES ('statCols'='k,cents')")
        Tables(s, d, "orders").createOrReplaceTempView("q333_orders")
        Seq(0, 1).foreach { m =>
          s.sql(s"""INSERT INTO graftsnap.`$root`
            |SELECT o_custkey % 16,
            |  CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
            |FROM q333_orders WHERE o_orderkey % 2 = $m""".stripMargin)
        }
        val c0 = graft.sources.SnapSource.filesOpened.get()
        val ks = s.sql(s"SELECT DISTINCT k FROM graftsnap.`$root`")
          .collect().map(_.getLong(0))
        val opens = graft.sources.SnapSource.filesOpened.get() - c0
        import s.implicits._
        ks.map(k => (k, opens)).toSeq.toDF("k", "n_opens")
      },
      """SELECT DISTINCT CAST(o_custkey % 16 AS BIGINT) AS k,
        |  CAST(0 AS BIGINT) AS n_opens
        |FROM orders""".stripMargin),

    // TWO-TIER BLOOM SKIPPING (manifest-tier fix for q329's planning
    // cost): every bloom-writing commit also records ONE aggregate
    // sketch (`_agg.<col>.bf`, the union of its per-file sketches),
    // and planning probes aggregates FIRST — a rejecting commit
    // drops ALL its files with zero per-file sidecar reads. On the
    // headline workload (point lookup on a non-clustered column,
    // where boxes prune nothing and EVERY live file is a candidate)
    // planning I/O falls from O(live files) to O(commits) + the
    // admitted commits' files; a MISS reads no per-file sidecar and
    // opens no data file at ANY table size. Gated as data: per-file
    // sidecar READS ≤ files of admitted commits (computed from the
    // aggregates themselves), at least one commit rejected, and the
    // miss does zero per-file probes and zero opens.
    "q334_snap_bloom_two_tier" -> Q(
      (s, d) => {
        val root = scratchDir("snapd50") + "/t"
        s.conf.set("spark.sql.catalog.graftsnap",
          classOf[graft.sources.SnapCatalog].getName)
        s.sql(s"CREATE TABLE graftsnap.`$root` " +
          "(k BIGINT, tag STRING, cents BIGINT) " +
          "TBLPROPERTIES ('statCols'='k', 'bloomCols'='tag')")
        val src = Tables(s, d, "orders").selectExpr(
          "o_orderkey AS k",
          "substr(md5(CAST(o_orderkey AS STRING)), 1, 12) AS tag",
          "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents")
        (0 until 6).foreach { m =>
          src.filter(col("k") % 6 === m)
            .write.format("graft.sources.SnapSourceProvider")
            .option("filesPerCommit", "2")
            .mode("append").save(root)
        }
        val live = graft.io.SnapTable.liveFiles(root)
        val probeKey = src.filter(col("k") >= 1000L)
          .agg(min("k")).collect()(0).getLong(0)
        val probeTag = src.filter(col("k") === probeKey)
          .select("tag").collect()(0).getString(0)
        import graft.sources.SnapBloomSkip
        val h = SnapBloomSkip.hashOf(probeTag).get
        // the exact file set the aggregate tier admits — recomputed
        // here as data so the read bound below is self-calibrating
        val admitted = live.count(f => f.bloomPath("tag").exists(p =>
          SnapBloomSkip.aggAdmits(SnapBloomSkip.aggPathOf(p, "tag"),
            Array(h))))
        val l0 = SnapBloomSkip.fileLoads.get()
        val hit = s.sql(s"SELECT k, cents FROM graftsnap.`$root` " +
          s"WHERE tag = '$probeTag'").collect()
        val fileReads = SnapBloomSkip.fileLoads.get() - l0
        val p1 = SnapBloomSkip.fileProbes.get()
        val c1 = graft.sources.SnapSource.filesOpened.get()
        val missing = s.sql(s"SELECT k FROM graftsnap.`$root` " +
          "WHERE tag = 'zzzz-not-a-tag'").count()
        val missProbes = SnapBloomSkip.fileProbes.get() - p1
        val missOpens = graft.sources.SnapSource.filesOpened.get() - c1
        s.range(1).select(
          lit(hit.length.toLong).as("n_hit"),
          lit(hit(0).getLong(0)).as("k_hit"),
          lit(hit(0).getLong(1)).as("cents_hit"),
          lit(if (fileReads <= admitted) 1L else 0L).as("reads_bounded"),
          lit(if (admitted < live.size) 1L else 0L).as("agg_rejects"),
          lit(missing + missProbes).as("miss_file_probes"),
          lit(missOpens).as("miss_opens"))
      },
      """WITH src AS (
        |  SELECT o_orderkey AS k,
        |    substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 12) AS tag,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        |  FROM orders),
        |pk AS (SELECT min(k) AS k FROM src WHERE k >= 1000)
        |SELECT CAST(1 AS BIGINT) AS n_hit,
        |  (SELECT k FROM pk) AS k_hit,
        |  (SELECT cents FROM src WHERE k = (SELECT k FROM pk))
        |    AS cents_hit,
        |  CAST(1 AS BIGINT) AS reads_bounded,
        |  CAST(1 AS BIGINT) AS agg_rejects,
        |  CAST(0 AS BIGINT) AS miss_file_probes,
        |  CAST(0 AS BIGINT) AS miss_opens""".stripMargin),

    // PARTITION-SPEC EVOLUTION: an UNPARTITIONED fact table evolves
    // IN PLACE to bucket(16, k) — `optimize(bucket_by => 'k',
    // bucket_count => 16)` routes one rewrite through the bucket
    // function and swaps the layout properties inside the SAME
    // conflict-checked commit (no CTAS, no second table, no crash
    // window where tags and spec disagree). The migration every
    // 100 TB tenant performs exactly once. Gated: the evolved table
    // storage-partition-joins a natively bucketed table with ZERO
    // join exchanges, the pre-evolution version still reads (its own
    // epoch's layout), and the join results hash-match the oracle.
    "q335_snap_spec_evolution" -> Q(
      (s, d) => {
        val base = scratchDir("snapd51")
        val r1 = base + "/t1"
        val r2 = base + "/t2"
        s.conf.set("spark.sql.catalog.graftsnap",
          classOf[graft.sources.SnapCatalog].getName)
        // t1 starts UNPARTITIONED — the pre-migration estate
        s.sql(s"CREATE TABLE graftsnap.`$r1` (k BIGINT, cents BIGINT) " +
          "TBLPROPERTIES ('statCols'='k')")
        s.sql(s"CREATE TABLE graftsnap.`$r2` (k BIGINT, qty BIGINT) " +
          "PARTITIONED BY (bucket(16, k))")
        Tables(s, d, "orders").createOrReplaceTempView("q335_orders")
        Tables(s, d, "lineitem").createOrReplaceTempView("q335_lineitem")
        s.sql(s"""INSERT INTO graftsnap.`$r1`
          |SELECT o_orderkey,
          |  CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
          |FROM q335_orders""".stripMargin)
        s.sql(s"""INSERT INTO graftsnap.`$r2`
          |SELECT l_orderkey, CAST(l_quantity AS BIGINT)
          |FROM q335_lineitem""".stripMargin)
        val vBefore = graft.io.SnapTable.currentVersion(r1)
        val nBefore = s.sql(s"SELECT count(*) FROM graftsnap.`$r1`")
          .head().getLong(0)
        s.sql(s"CALL graftsnap.system.optimize(table => '$r1', " +
          "bucket_by => 'k', bucket_count => 16)").collect()
        val specNow = graft.io.SnapTable.tableProperty(r1, "bucketSpec")
          .getOrElse("")
        val old = (s.conf.get("spark.sql.sources.v2.bucketing.enabled"),
          s.conf.get("spark.sql.autoBroadcastJoinThreshold"))
        s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
        s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try {
          val j = s.sql(
            s"""SELECT a.k % 64 AS g, count(*) AS n_pairs,
               |  sum(a.cents + b.qty) AS s
               |FROM graftsnap.`$r1` a JOIN graftsnap.`$r2` b
               |ON a.k = b.k GROUP BY a.k % 64""".stripMargin)
          val rows = j.collect()
          val joinShuffles = "Exchange hashpartitioning\\(k#"
            .r.findAllIn(j.queryExecution.executedPlan.toString).size
          // the pre-evolution snapshot reads under its own layout
          val nOld = s.sql(s"SELECT count(*) FROM graftsnap.`$r1` " +
            s"VERSION AS OF $vBefore").head().getLong(0)
          import s.implicits._
          rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
            joinShuffles.toLong,
            if (specNow == "16:k") 1L else 0L,
            if (nOld == nBefore) 1L else 0L))
            .toSeq.toDF("g", "n_pairs", "s", "n_join_shuffles",
              "spec_swapped", "history_reads")
        } finally {
          s.conf.set("spark.sql.sources.v2.bucketing.enabled", old._1)
          s.conf.set("spark.sql.autoBroadcastJoinThreshold", old._2)
        }
      },
      """WITH a AS (SELECT o_orderkey AS k,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        |  FROM orders),
        |b AS (SELECT l_orderkey AS k, CAST(l_quantity AS BIGINT) AS qty
        |  FROM lineitem)
        |SELECT CAST(a.k % 64 AS BIGINT) AS g,
        |  CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(sum(a.cents + b.qty) AS BIGINT) AS s,
        |  CAST(0 AS BIGINT) AS n_join_shuffles,
        |  CAST(1 AS BIGINT) AS spec_swapped,
        |  CAST(1 AS BIGINT) AS history_reads
        |FROM a JOIN b ON a.k = b.k GROUP BY a.k % 64""".stripMargin),

    // PER-BUCKET GROUPED PUSHDOWN: GROUP BY the catalog's own bucket
    // function on a bucket(n, k) table folds COUNT/SUM per bucket id
    // straight from the manifest tags — each file holds exactly one
    // bucket BY CONSTRUCTION (`k#b16` box, min == max; the function
    // is total, nulls hash to the null bucket), so groups are unions
    // of whole files and the fold is exact with ZERO file opens. The
    // per-bucket governance scan ("rows per bucket — is the layout
    // skewed?") a 100 TB fact table runs routinely, answered at any
    // table size from the log alone. Cross-checked in-gate against
    // the same expression row-computed over the source frame (the
    // oracle cannot replay Murmur3; the invariants it CAN check —
    // group count, totals, zero opens — are emitted as data).
    "q336_snap_bucket_grouped" -> Q(
      (s, d) => {
        val root = scratchDir("snapd52") + "/t"
        s.conf.set("spark.sql.catalog.graftsnap",
          classOf[graft.sources.SnapCatalog].getName)
        s.sql(s"CREATE TABLE graftsnap.`$root` (k BIGINT, cents BIGINT) " +
          "PARTITIONED BY (bucket(16, k)) " +
          "TBLPROPERTIES ('statCols'='k,cents')")
        Tables(s, d, "orders").selectExpr("o_orderkey AS k",
          "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents")
          .createOrReplaceTempView("q336_src")
        s.sql(s"INSERT INTO graftsnap.`$root` SELECT k, cents " +
          "FROM q336_src")
        val c0 = graft.sources.SnapSource.filesOpened.get()
        val pushed = s.sql(
          s"""SELECT graftsnap.bucket(16, k) AS b, count(*) AS n,
             |  sum(cents) AS sc
             |FROM graftsnap.`$root`
             |GROUP BY graftsnap.bucket(16, k)""".stripMargin).collect()
        val opens = graft.sources.SnapSource.filesOpened.get() - c0
        // row-computed cross-check over the source frame (same V2
        // function, evaluated per row instead of folded per file)
        val check = s.sql(
          """SELECT graftsnap.bucket(16, k) AS b, count(*) AS n,
            |  sum(cents) AS sc
            |FROM q336_src GROUP BY 1""".stripMargin).collect()
        def asSet(rs: Array[org.apache.spark.sql.Row]) =
          rs.map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
        // expected group count comes FROM THE DATA (the row-computed
        // cross-check), not a literal 16: at tiny scale factors fewer
        // than 16 murmur3 buckets may be populated, and a hardcoded
        // count would fail the gate spuriously
        s.range(1).select(
          lit(if (pushed.length == check.length) 1L else 0L)
            .as("groups_complete"),
          lit(pushed.map(_.getLong(1)).sum).as("total_n"),
          lit(pushed.map(_.getLong(2)).sum).as("total_cents"),
          lit(if (asSet(pushed) == asSet(check)) 1L else 0L)
            .as("matched"),
          lit(opens).as("n_opens"))
      },
      """SELECT CAST(1 AS BIGINT) AS groups_complete,
        |  (SELECT count(*) FROM orders) AS total_n,
        |  (SELECT CAST(sum(CAST(floor(o_totalprice * 100 + 0.5)
        |     AS BIGINT)) AS BIGINT) FROM orders) AS total_cents,
        |  CAST(1 AS BIGINT) AS matched,
        |  CAST(0 AS BIGINT) AS n_opens""".stripMargin),

    // ALTER TABLE SET/UNSET TBLPROPERTIES as VERSIONED LOG STATE: a
    // 100 TB table's operational knobs (bloom skipping, merge-on-read
    // deletes) are turned on AFTER the fact — the change is one
    // claimed manifest carrying the full property map and applies to
    // future commits. Gated: post-ALTER commits carry sketches (a
    // point-lookup MISS opens ONLY the pre-bloom files — the new
    // commit is pruned by its aggregate; the probe sits inside the
    // hex string box so only the bloom tier can prune it), a range
    // DELETE after `dv=true` lowers to a deletion vector instead of
    // a rewrite, and SHOW TBLPROPERTIES reads the committed map.
    "q337_snap_set_tblproperties" -> Q(
      (s, d) => {
        val root = scratchDir("snapd53") + "/t"
        s.conf.set("spark.sql.catalog.graftsnap",
          classOf[graft.sources.SnapCatalog].getName)
        s.sql(s"CREATE TABLE graftsnap.`$root` " +
          "(k BIGINT, tag STRING, cents BIGINT) " +
          "TBLPROPERTIES ('statCols'='k')")
        val src = Tables(s, d, "orders").selectExpr(
          "o_orderkey AS k",
          "substr(md5(CAST(o_orderkey AS STRING)), 1, 12) AS tag",
          "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents")
        src.filter(col("k") % 2 === 0)
          .write.format("graft.sources.SnapSourceProvider")
          .option("filesPerCommit", "2").mode("append").save(root)
        s.sql(s"ALTER TABLE graftsnap.`$root` " +
          "SET TBLPROPERTIES ('bloomCols'='tag', 'dv'='true')")
        src.filter(col("k") % 2 === 1)
          .write.format("graft.sources.SnapSourceProvider")
          .option("filesPerCommit", "2").mode("append").save(root)
        val shown = s.sql(s"SHOW TBLPROPERTIES graftsnap.`$root`")
          .collect().map(r => r.getString(0) -> r.getString(1)).toMap
        val preBloom = graft.io.SnapTable.liveFiles(root)
          .count(_.bloomPath("tag").isEmpty)
        val c0 = graft.sources.SnapSource.filesOpened.get()
        val nMiss = s.sql(s"SELECT k FROM graftsnap.`$root` " +
          "WHERE tag = 'abcdefabcdef'").count()
        val missOpens = graft.sources.SnapSource.filesOpened.get() - c0
        // dv=true: a later range DELETE marks positions, no rewrite
        val del = s.sql("SELECT min(k) FROM (SELECT k FROM " +
          s"graftsnap.`$root` WHERE k >= 1000 AND k % 2 = 1)")
          .head().getLong(0)
        s.sql(s"DELETE FROM graftsnap.`$root` WHERE k = $del")
        val dvUsed = graft.io.SnapTable.liveFiles(root)
          .exists(_.dv.isDefined)
        val agg = s.sql(s"SELECT count(*), sum(cents) " +
          s"FROM graftsnap.`$root`").collect()(0)
        s.range(1).select(
          lit(if (shown.get("bloomCols").contains("tag") &&
            shown.get("dv").contains("true")) 1L else 0L).as("props_ok"),
          lit(nMiss).as("n_miss"),
          lit(if (missOpens == preBloom.toLong) 1L else 0L)
            .as("miss_opens_pre_bloom_only"),
          lit(if (dvUsed) 1L else 0L).as("dv_used"),
          lit(agg.getLong(0)).as("n_rows"),
          lit(agg.getLong(1)).as("sum_cents"))
      },
      """WITH src AS (
        |  SELECT o_orderkey AS k,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        |  FROM orders),
        |del AS (SELECT min(k) AS k FROM src
        |  WHERE k >= 1000 AND k % 2 = 1)
        |SELECT CAST(1 AS BIGINT) AS props_ok,
        |  CAST(0 AS BIGINT) AS n_miss,
        |  CAST(1 AS BIGINT) AS miss_opens_pre_bloom_only,
        |  CAST(1 AS BIGINT) AS dv_used,
        |  (SELECT count(*) - 1 FROM src) AS n_rows,
        |  (SELECT CAST(sum(cents) AS BIGINT) FROM src
        |    WHERE k <> (SELECT k FROM del)) AS sum_cents""".stripMargin),

    // COMMIT-SIZED AGGREGATE BLOOMS: a bulk-load commit of N files
    // holds ~N× one file's distinct values, and an aggregate built
    // by unioning per-file-sized sketches saturates to admit-always
    // exactly where commit-tier pruning matters most. The aggregate
    // is instead rebuilt from raw values at `items × N` capacity
    // (one column-pruned pass over the freshly written files, fpp
    // 0.001). Gated as data: lineitem at sf0.01 holds ~60k distinct
    // tags — 3× the per-file sketch capacity — in ONE 24-file
    // commit, and a point-lookup MISS must still be rejected by the
    // commit aggregate with zero per-file probes and zero opens.
    "q338_snap_bloom_sized_agg" -> Q(
      (s, d) => {
        val root = scratchDir("snapd54") + "/t"
        s.conf.set("spark.sql.catalog.graftsnap",
          classOf[graft.sources.SnapCatalog].getName)
        s.sql(s"CREATE TABLE graftsnap.`$root` " +
          "(k BIGINT, tag STRING, cents BIGINT) " +
          "TBLPROPERTIES ('statCols'='k', 'bloomCols'='tag')")
        val src = Tables(s, d, "lineitem").selectExpr(
          "CAST(l_orderkey * 10 + l_linenumber AS BIGINT) AS k",
          "substr(md5(CAST(l_orderkey * 10 + l_linenumber AS STRING))" +
            ", 1, 16) AS tag",
          "CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents")
        src.write.format("graft.sources.SnapSourceProvider")
          .option("filesPerCommit", "24")
          .mode("append").save(root)
        val live = graft.io.SnapTable.liveFiles(root)
        import graft.sources.SnapBloomSkip
        val aggPath = live.head.bloomPath("tag")
          .map(p => SnapBloomSkip.aggPathOf(p, "tag")).get
        val probeKey = src.filter(col("k") >= 1000L)
          .agg(min("k")).collect()(0).getLong(0)
        val probeTag = src.filter(col("k") === probeKey)
          .select("tag").collect()(0).getString(0)
        // guaranteed-missing tags that still sit INSIDE the files'
        // string boxes (17 chars extending a real mid-range tag), so
        // only the bloom tier can prune them: a saturated union
        // would admit all three, the commit-sized aggregate rejects
        val missTags = Seq(probeTag + "0", probeTag + "1",
          probeTag + "2")
        val rejected = missTags.count(t =>
          !SnapBloomSkip.aggAdmits(aggPath,
            Array(SnapBloomSkip.hashOf(t).get)))
        val hit = s.sql(s"SELECT k, cents FROM graftsnap.`$root` " +
          s"WHERE tag = '$probeTag'").collect()
        val p0 = SnapBloomSkip.fileProbes.get()
        val c0 = graft.sources.SnapSource.filesOpened.get()
        val missing = s.sql(s"SELECT k FROM graftsnap.`$root` " +
          s"WHERE tag = '${missTags.head}'").count()
        val missProbes = SnapBloomSkip.fileProbes.get() - p0
        val missOpens = graft.sources.SnapSource.filesOpened.get() - c0
        s.range(1).select(
          lit(hit.length.toLong).as("n_hit"),
          lit(hit(0).getLong(0)).as("k_hit"),
          lit(hit(0).getLong(1)).as("cents_hit"),
          lit(if (rejected >= 2) 1L else 0L).as("agg_rejects_bulk"),
          lit(missing + missProbes).as("miss_file_probes"),
          lit(missOpens).as("miss_opens"))
      },
      """WITH src AS (
        |  SELECT CAST(l_orderkey * 10 + l_linenumber AS BIGINT) AS k,
        |    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents
        |  FROM lineitem),
        |pk AS (SELECT min(k) AS k FROM src WHERE k >= 1000)
        |SELECT CAST(1 AS BIGINT) AS n_hit,
        |  (SELECT k FROM pk) AS k_hit,
        |  (SELECT cents FROM src WHERE k = (SELECT k FROM pk))
        |    AS cents_hit,
        |  CAST(1 AS BIGINT) AS agg_rejects_bulk,
        |  CAST(0 AS BIGINT) AS miss_file_probes,
        |  CAST(0 AS BIGINT) AS miss_opens""".stripMargin),

    // CHECKPOINT-TIER BLOOM PACK: every commit's aggregate sketch is
    // folded (concatenated, per-commit granularity preserved) into
    // one `_log/c<v>.bloom.<col>.bfpack` sidecar at checkpoint time,
    // carried forward INCREMENTALLY between checkpoints. A COLD
    // point-lookup miss on a long-lived streaming table then costs
    // ONE sequential pack read plus per-commit aggregate reads only
    // for the post-checkpoint tail — O(tail), not O(all commits) —
    // with zero per-file sidecar reads and zero data-file opens.
    // Gated as data on a 24-commit table checkpointed at v20: the
    // cold miss does exactly 1 pack load and at most 5 tail loads.
    "q339_snap_bloom_ck_pack" -> Q(
      (s, d) => {
        val root = scratchDir("snapd55") + "/t"
        s.conf.set("spark.sql.catalog.graftsnap",
          classOf[graft.sources.SnapCatalog].getName)
        s.sql(s"CREATE TABLE graftsnap.`$root` " +
          "(k BIGINT, tag STRING, cents BIGINT) " +
          "TBLPROPERTIES ('statCols'='k', 'bloomCols'='tag')")
        val src = Tables(s, d, "orders").selectExpr(
          "o_orderkey AS k",
          "substr(md5(CAST(o_orderkey AS STRING)), 1, 12) AS tag",
          "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents")
          .cache()
        // 24 single-file commits → versions 2..25; the default
        // checkpoint interval (20) lands a checkpoint (and the pack)
        // at v20, leaving a 5-commit tail above it
        (0 until 24).foreach { m =>
          src.filter(col("k") % 24 === m)
            .write.format("graft.sources.SnapSourceProvider")
            .option("filesPerCommit", "1")
            .mode("append").save(root)
        }
        import graft.sources.SnapBloomSkip
        val ck = graft.io.SnapTable
          .latestCheckpointVersion(root, None).getOrElse(-1)
        val tail = graft.io.SnapTable.currentVersion(root) - ck
        val probeKey = src.filter(col("k") >= 1000L)
          .agg(min("k")).collect()(0).getLong(0)
        val probeTag = src.filter(col("k") === probeKey)
          .select("tag").collect()(0).getString(0)
        src.unpersist()
        // COLD measurement: drop every cached sketch first. The miss
        // probe extends a real mid-range tag (13 chars — inside the
        // string boxes, absent from the data) so only the bloom tier
        // prunes it.
        SnapBloomSkip.clearCache()
        val a0 = SnapBloomSkip.aggLoads.get()
        val f0 = SnapBloomSkip.fileLoads.get()
        val k0 = SnapBloomSkip.packLoads.get()
        val c0 = graft.sources.SnapSource.filesOpened.get()
        val missing = s.sql(s"SELECT k FROM graftsnap.`$root` " +
          s"WHERE tag = '${probeTag}0'").count()
        val aggTail = SnapBloomSkip.aggLoads.get() - a0
        val fileReads = SnapBloomSkip.fileLoads.get() - f0
        val packReads = SnapBloomSkip.packLoads.get() - k0
        val missOpens = graft.sources.SnapSource.filesOpened.get() - c0
        // hit path still answers exactly through the (now warm) pack
        val hit = s.sql(s"SELECT k, cents FROM graftsnap.`$root` " +
          s"WHERE tag = '$probeTag'").collect()
        s.range(1).select(
          lit(if (ck == 20) 1L else 0L).as("ck_at_20"),
          lit(packReads).as("pack_loads"),
          lit(if (aggTail <= tail) 1L else 0L).as("agg_tail_bounded"),
          lit(missing + fileReads).as("miss_file_reads"),
          lit(missOpens).as("miss_opens"),
          lit(hit.length.toLong).as("n_hit"),
          lit(hit(0).getLong(1)).as("cents_hit"))
      },
      """WITH src AS (
        |  SELECT o_orderkey AS k,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        |  FROM orders),
        |pk AS (SELECT min(k) AS k FROM src WHERE k >= 1000)
        |SELECT CAST(1 AS BIGINT) AS ck_at_20,
        |  CAST(1 AS BIGINT) AS pack_loads,
        |  CAST(1 AS BIGINT) AS agg_tail_bounded,
        |  CAST(0 AS BIGINT) AS miss_file_reads,
        |  CAST(0 AS BIGINT) AS miss_opens,
        |  CAST(1 AS BIGINT) AS n_hit,
        |  (SELECT cents FROM src WHERE k = (SELECT k FROM pk))
        |    AS cents_hit""".stripMargin),

    // BINARY bloom columns: content digests (image/document hashes)
    // are the canonical NON-CLUSTERED point-lookup key of a
    // training-data lake — high-cardinality, unordered, so min/max
    // boxes prune nothing and only the bloom tier can. Hashing is
    // Catalyst XxHash64 over the raw bytes on both write paths and
    // the probe. Gated: a lookup BY DIGEST (hex literal) returns the
    // exact row, and a missing digest is rejected by the commit
    // aggregates with zero per-file probes and zero file opens.
    "q340_snap_bloom_binary" -> Q(
      (s, d) => {
        val root = scratchDir("snapd56") + "/t"
        s.conf.set("spark.sql.catalog.graftsnap",
          classOf[graft.sources.SnapCatalog].getName)
        s.sql(s"CREATE TABLE graftsnap.`$root` " +
          "(k BIGINT, digest BINARY, cents BIGINT) " +
          "TBLPROPERTIES ('statCols'='k', 'bloomCols'='digest')")
        val src = Tables(s, d, "orders").selectExpr(
          "o_orderkey AS k",
          "unhex(md5(CAST(o_orderkey AS STRING))) AS digest",
          "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents")
        (0 until 6).foreach { m =>
          src.filter(col("k") % 6 === m)
            .write.format("graft.sources.SnapSourceProvider")
            .option("filesPerCommit", "2")
            .mode("append").save(root)
        }
        val probeKey = src.filter(col("k") >= 1000L)
          .agg(min("k")).collect()(0).getLong(0)
        val probeHex = s.sql(
          s"SELECT md5(CAST($probeKey AS STRING))").collect()(0)
          .getString(0)
        import graft.sources.SnapBloomSkip
        val hit = s.sql(s"SELECT k, cents FROM graftsnap.`$root` " +
          s"WHERE digest = X'$probeHex'").collect()
        val p0 = SnapBloomSkip.fileProbes.get()
        val c0 = graft.sources.SnapSource.filesOpened.get()
        val missing = s.sql(s"SELECT k FROM graftsnap.`$root` " +
          "WHERE digest = X'00000000000000000000000000000000'").count()
        val missProbes = SnapBloomSkip.fileProbes.get() - p0
        val missOpens = graft.sources.SnapSource.filesOpened.get() - c0
        s.range(1).select(
          lit(hit.length.toLong).as("n_hit"),
          lit(hit(0).getLong(0)).as("k_hit"),
          lit(hit(0).getLong(1)).as("cents_hit"),
          lit(missing + missProbes).as("miss_file_probes"),
          lit(missOpens).as("miss_opens"))
      },
      """WITH src AS (
        |  SELECT o_orderkey AS k,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        |  FROM orders),
        |pk AS (SELECT min(k) AS k FROM src WHERE k >= 1000)
        |SELECT CAST(1 AS BIGINT) AS n_hit,
        |  (SELECT k FROM pk) AS k_hit,
        |  (SELECT cents FROM src WHERE k = (SELECT k FROM pk))
        |    AS cents_hit,
        |  CAST(0 AS BIGINT) AS miss_file_probes,
        |  CAST(0 AS BIGINT) AS miss_opens""".stripMargin),

    // COMPOSITE PARTITION SPEC — identity(seg) + bucket(8, k), the
    // standard 100 TB fact-table layout (date/segment identity for
    // pruning + key buckets for joins). One commit writes one file
    // per (seg, bucket) CELL, the manifest composes both proofs
    // (seg's point box + the k#b8 tag), and scans declare the
    // two-transform KeyGroupedPartitioning — so two same-spec fact
    // tables storage-partition-join on (seg, k) with ZERO join
    // exchanges. Gated: cell layout asserted on the manifest, zero
    // `Exchange hashpartitioning` under the join, results
    // hash-matched against the oracle's plain join.
    "q341_snap_composite_spec" -> Q(
      (s, d) => {
        val base = scratchDir("snapd57")
        val r1 = base + "/t1"
        val r2 = base + "/t2"
        s.conf.set("spark.sql.catalog.graftsnap",
          classOf[graft.sources.SnapCatalog].getName)
        s.sql(s"CREATE TABLE graftsnap.`$r1` " +
          "(seg BIGINT, k BIGINT, cents BIGINT) " +
          "PARTITIONED BY (seg, bucket(8, k))")
        s.sql(s"CREATE TABLE graftsnap.`$r2` " +
          "(seg BIGINT, k BIGINT, qty BIGINT) " +
          "PARTITIONED BY (seg, bucket(8, k))")
        Tables(s, d, "orders").createOrReplaceTempView("q341_orders")
        Tables(s, d, "lineitem").createOrReplaceTempView("q341_lineitem")
        s.sql(s"""INSERT INTO graftsnap.`$r1`
          |SELECT o_orderkey % 3, o_orderkey,
          |  CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
          |FROM q341_orders""".stripMargin)
        s.sql(s"""INSERT INTO graftsnap.`$r2`
          |SELECT l_orderkey % 3, l_orderkey, CAST(l_quantity AS BIGINT)
          |FROM q341_lineitem""".stripMargin)
        // manifest proof: every file is a single (seg, bucket) cell,
        // and the commit wrote exactly one file per populated cell
        val live = graft.io.SnapTable.liveFiles(r1)
        val cellsOk = live.forall { f =>
          f.range("seg").exists(b => b._1 == b._2) &&
            f.range("k#b8").exists(b => b._1 == b._2 &&
              b._1 >= 0 && b._1 < 8)
        }
        val cells = live.flatMap(f =>
          f.range("seg").zip(f.range("k#b8"))).distinct.size
        val oneFilePerCell = live.size == cells
        val old = (s.conf.get("spark.sql.sources.v2.bucketing.enabled"),
          s.conf.get("spark.sql.autoBroadcastJoinThreshold"))
        s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
        s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try {
          val j = s.sql(
            s"""SELECT a.k % 64 AS g, count(*) AS n_pairs,
               |  sum(a.cents + b.qty) AS sums
               |FROM graftsnap.`$r1` a JOIN graftsnap.`$r2` b
               |ON a.seg = b.seg AND a.k = b.k
               |GROUP BY a.k % 64""".stripMargin)
          val rows = j.collect()
          // anchored on the join keys: the post-join GROUP BY's own
          // exchange partitions on a derived expression ("((k % 64)")
          // and must not count (and AQE prints the plan twice)
          val joinShuffles = "Exchange hashpartitioning\\(seg#"
            .r.findAllIn(j.queryExecution.executedPlan.toString).size
          import s.implicits._
          rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
            joinShuffles.toLong,
            if (cellsOk) 1L else 0L,
            if (oneFilePerCell) 1L else 0L))
            .toSeq.toDF("g", "n_pairs", "sums", "n_join_shuffles",
              "cells_proven", "one_file_per_cell")
        } finally {
          s.conf.set("spark.sql.sources.v2.bucketing.enabled", old._1)
          s.conf.set("spark.sql.autoBroadcastJoinThreshold", old._2)
        }
      },
      """WITH a AS (SELECT o_orderkey % 3 AS seg, o_orderkey AS k,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        |  FROM orders),
        |b AS (SELECT l_orderkey % 3 AS seg, l_orderkey AS k,
        |    CAST(l_quantity AS BIGINT) AS qty
        |  FROM lineitem)
        |SELECT CAST(a.k % 64 AS BIGINT) AS g,
        |  CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(sum(a.cents + b.qty) AS BIGINT) AS sums,
        |  CAST(0 AS BIGINT) AS n_join_shuffles,
        |  CAST(1 AS BIGINT) AS cells_proven,
        |  CAST(1 AS BIGINT) AS one_file_per_cell
        |FROM a JOIN b ON a.seg = b.seg AND a.k = b.k
        |GROUP BY a.k % 64""".stripMargin),

    // LAYOUT-PRESERVING STREAMING INGESTION: the exactly-once
    // streaming sink (idempotent per batch id) now SHAPES each
    // micro-batch by the table's declared layout — per-bucket tagged
    // files on a bucket table — instead of landing untagged
    // "foreign" files that silently downgrade the whole table's
    // storage-partitioned joins until the next optimize. At 100 TB
    // streaming IS the fact-table ingest path, so the layout must
    // survive it continuously, not only after maintenance. Gated:
    // every streamed file carries a valid bucket tag, and the
    // just-streamed table SPJ-joins a batch-written same-spec table
    // with ZERO join exchanges, hash-matched.
    "q343_snap_stream_bucketed_ingest" -> Q(
      (s, d) => {
        val base = scratchDir("snapd58")
        val r1 = base + "/t1"
        val r2 = base + "/t2"
        s.conf.set("spark.sql.catalog.graftsnap",
          classOf[graft.sources.SnapCatalog].getName)
        s.sql(s"CREATE TABLE graftsnap.`$r1` (k BIGINT, n BIGINT) " +
          "PARTITIONED BY (bucket(8, k))")
        s.sql(s"CREATE TABLE graftsnap.`$r2` (k BIGINT, n BIGINT) " +
          "PARTITIONED BY (bucket(8, k))")
        graft.io.SnapTable.streamInto(
          s.readStream
            .schema(graft.streaming.EventStream.documentsSchema)
            .option("pathGlobFilter", "documents.parquet").parquet(d)
            .selectExpr("doc_id AS k", "n_chars AS n"),
          r1, "k", base + "/ck1")
        Tables(s, d, "documents").createOrReplaceTempView("q343_docs")
        s.sql(s"INSERT INTO graftsnap.`$r2` " +
          "SELECT doc_id, n_chars FROM q343_docs")
        val tagged = graft.io.SnapTable.liveFiles(r1).forall(f =>
          f.range("k#b8").exists(b => b._1 == b._2 &&
            b._1 >= 0 && b._1 < 8))
        val old = (s.conf.get("spark.sql.sources.v2.bucketing.enabled"),
          s.conf.get("spark.sql.autoBroadcastJoinThreshold"))
        s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
        s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try {
          val j = s.sql(
            s"""SELECT a.k % 32 AS g, count(*) AS n_pairs,
               |  sum(a.n + b.n) AS sums
               |FROM graftsnap.`$r1` a JOIN graftsnap.`$r2` b
               |ON a.k = b.k GROUP BY a.k % 32""".stripMargin)
          val rows = j.collect()
          val joinShuffles = "Exchange hashpartitioning\\(k#"
            .r.findAllIn(j.queryExecution.executedPlan.toString).size
          import s.implicits._
          rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
            joinShuffles.toLong, if (tagged) 1L else 0L))
            .toSeq.toDF("g", "n_pairs", "sums", "n_join_shuffles",
              "stream_tagged")
        } finally {
          s.conf.set("spark.sql.sources.v2.bucketing.enabled", old._1)
          s.conf.set("spark.sql.autoBroadcastJoinThreshold", old._2)
        }
      },
      """SELECT CAST(d.doc_id % 32 AS BIGINT) AS g,
        |  CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(sum(d.n_chars + e.n_chars) AS BIGINT) AS sums,
        |  CAST(0 AS BIGINT) AS n_join_shuffles,
        |  CAST(1 AS BIGINT) AS stream_tagged
        |FROM documents d JOIN documents e ON d.doc_id = e.doc_id
        |GROUP BY d.doc_id % 32""".stripMargin),

    // q109's Bernoulli keep is VARIABLE-size; this is the fixed-size
    // complement: EXACTLY k docs per language, inclusion probability
    // ∝ length — priority sampling (Duffield–Lund–Thorup), where each
    // row's priority is (w·2³²) div h over a salted-hash draw.
    // Integer arithmetic end to end: no libm pow/log whose ULP
    // differences could flip near-tied ranks between engines — the
    // oracle replays the identical xxhash64 and the identical integer
    // division. The top-k is the declarative window idiom, which
    // TopKRewrite lowers to the native heap pair (PLANS shows no Sort
    // and no Window).
    "q277_priority_weighted_sample" -> Q(
      (s, d) => Mixture.prioritySample(
        Tables(s, d, "documents").select("lang", "doc_id", "n_chars"),
        "lang", "doc_id", "n_chars", "w1:", k = 10),
      {
        val items =
          """items AS (
            |  SELECT k, k AS tok FROM (
            |    SELECT DISTINCT 'w1:' || CAST(doc_id AS VARCHAR) AS k
            |    FROM documents))""".stripMargin
        s"""WITH ${graft.queries.XxhSql.hashCtes(items, "k")},
           |pr AS (
           |  SELECT d.lang, d.doc_id, d.n_chars,
           |    CAST((CAST(d.n_chars AS BIGINT) * 4294967296)
           |      // (h.h // 4294967296 + 1) AS BIGINT) AS priority
           |  FROM documents d
           |  JOIN hashed h ON h.k = 'w1:' || CAST(d.doc_id AS VARCHAR))
           |SELECT lang, doc_id, n_chars, priority FROM pr
           |QUALIFY row_number() OVER (PARTITION BY lang
           |  ORDER BY priority DESC, doc_id) <= 10""".stripMargin
      }),

    // Retractable MV maintenance (q111's operator under UPDATES):
    // a restatement deletes every shipment from 1998-06 on and
    // re-inserts only June/July with a +100 quantity correction.
    // Deletes fold to NEGATED state, so the refresh is still one
    // O(delta) pass — merge(base_state, fold(ins), negate(fold(del)))
    // — and groups whose count hits zero (Aug+ months, purged
    // outright) are REMOVED, not left as zero-rows. The oracle
    // recomputes over the post-change base: retraction must be
    // indistinguishable from recompute, including the vanished
    // groups.
    "q152_mv_retract" -> Q(
      (s, d) => {
        val li = Tables(s, d, "lineitem")
          .select(col("l_returnflag"),
            (expr("year(l_shipdate)") * 100 + expr("month(l_shipdate)"))
              .cast("long").as("ym"),
            col("l_shipdate"), col("l_quantity"))
        val keys = Seq("l_returnflag", "ym")
        val del = li.filter(col("l_shipdate") >= "1998-06-01")
        val ins = del.filter(col("l_shipdate") < "1998-08-01")
          .withColumn("l_quantity", col("l_quantity") + 100)
        MaterializedAgg.retract(
          MaterializedAgg.fold(li, keys, Seq("l_quantity")),
          MaterializedAgg.fold(ins, keys, Seq("l_quantity")),
          MaterializedAgg.negate(
            MaterializedAgg.fold(del, keys, Seq("l_quantity"))))
          .withColumn("avg_qty", col("sum_l_quantity") / col("n"))
      },
      """WITH base AS (
        |  SELECT l_returnflag,
        |    CAST(year(l_shipdate)*100 + month(l_shipdate) AS BIGINT) AS ym,
        |    l_quantity
        |  FROM lineitem WHERE l_shipdate < DATE '1998-06-01'
        |  UNION ALL
        |  SELECT l_returnflag,
        |    CAST(year(l_shipdate)*100 + month(l_shipdate) AS BIGINT) AS ym,
        |    l_quantity + 100
        |  FROM lineitem
        |  WHERE l_shipdate >= DATE '1998-06-01'
        |    AND l_shipdate < DATE '1998-08-01')
        |SELECT l_returnflag, ym, count(*) AS n,
        |  sum(l_quantity) AS sum_l_quantity,
        |  sum(l_quantity) / count(*) AS avg_qty
        |FROM base GROUP BY l_returnflag, ym""".stripMargin),

    // Join-key skew profiling — the pre-flight a 100 TB join runs
    // BEFORE choosing broadcast/shuffle/salt: per-key frequencies in
    // one map-side-combinable pass, then one tiny aggregate over the
    // (much smaller) key-count set. `salt_factor` = ceil(max/mean) in
    // pure integer arithmetic is the replication factor a salted join
    // (q45's operator) would need to level the hottest key; p50/p99
    // quantiles are interpolated on exact integer counts and
    // floor-snapped on both engines.
    "q153_skew_profile" -> Q(
      (s, d) => {
        val counts = Tables(s, d, "lineitem")
          .groupBy("l_suppkey").agg(count(lit(1)).as("c"))
        counts.agg(
          count(lit(1)).as("n_keys"),
          sum("c").as("n_rows"),
          max("c").as("max_per_key"),
          r4(expr("percentile(c, 0.5)")).as("p50_per_key"),
          r4(expr("percentile(c, 0.99)")).as("p99_per_key"))
          .withColumn("salt_factor",
            expr("(max_per_key * n_keys + n_rows - 1) div n_rows"))
      },
      """WITH kc AS (
        |  SELECT l_suppkey, count(*) AS c FROM lineitem GROUP BY l_suppkey)
        |SELECT count(*) AS n_keys,
        |  CAST(sum(c) AS BIGINT) AS n_rows,
        |  max(c) AS max_per_key,
        |  floor(quantile_cont(c, 0.5)*10000 + 0.5)/10000 AS p50_per_key,
        |  floor(quantile_cont(c, 0.99)*10000 + 0.5)/10000 AS p99_per_key,
        |  (max(c) * count(*) + CAST(sum(c) AS BIGINT) - 1)
        |    // CAST(sum(c) AS BIGINT) AS salt_factor
        |FROM kc""".stripMargin),

    // Referential-integrity audit — the FK health check a warehouse
    // load gate runs: orphan rows per declared FK edge, each edge one
    // LEFT ANTI join + count, unioned into a constraint report. Anti
    // joins are bloom-prunable (q116's operator) and each edge's
    // shuffle carries only the FK column — at 100 TB the audit costs
    // one column scan per edge, not a table copy. Parent keys here
    // are dense, so orphan counts are zero — the gate pins the
    // SHAPE's exactness; ScaleOpsSpec covers the nonzero path.
    "q154_fk_audit" -> Q(
      (s, d) => {
        def orphans(child: String, fk: String, parent: String, pk: String) =
          Tables(s, d, child).select(col(fk))
            .join(Tables(s, d, parent).select(col(pk)),
              col(fk) === col(pk), "left_anti")
            .agg(count(lit(1)).as("n_orphans"))
            .select(lit(s"$child.$fk -> $parent.$pk").as("constraint_name"),
              col("n_orphans"))
        orphans("lineitem", "l_orderkey", "orders", "o_orderkey")
          .unionByName(orphans("orders", "o_custkey", "customer", "c_custkey"))
          .unionByName(orphans("lineitem", "l_suppkey", "supplier", "s_suppkey"))
          .unionByName(orphans("customer", "c_nationkey", "nation", "n_nationkey"))
      },
      """SELECT 'lineitem.l_orderkey -> orders.o_orderkey' AS constraint_name,
        |  count(*) FILTER (WHERE o_orderkey IS NULL) AS n_orphans
        |FROM lineitem LEFT JOIN orders ON l_orderkey = o_orderkey
        |UNION ALL
        |SELECT 'orders.o_custkey -> customer.c_custkey',
        |  count(*) FILTER (WHERE c_custkey IS NULL)
        |FROM orders LEFT JOIN customer ON o_custkey = c_custkey
        |UNION ALL
        |SELECT 'lineitem.l_suppkey -> supplier.s_suppkey',
        |  count(*) FILTER (WHERE s_suppkey IS NULL)
        |FROM lineitem LEFT JOIN supplier ON l_suppkey = s_suppkey
        |UNION ALL
        |SELECT 'customer.c_nationkey -> nation.n_nationkey',
        |  count(*) FILTER (WHERE n_nationkey IS NULL)
        |FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey"""
        .stripMargin),

    // Rule-based data-quality scan — N validation rules evaluated as
    // ONE conditional aggregation over ONE scan (violation counts +
    // total), never a pass per rule. At 100 TB adding a rule is free;
    // the alternative (one count job per rule) re-reads the table N
    // times.
    "q155_dq_rules" -> Q(
      (s, d) =>
        Tables(s, d, "orders").agg(
          count(lit(1)).as("n_rows"),
          sum(when(col("o_totalprice") <= 0, 1L).otherwise(0L))
            .as("bad_price"),
          sum(when(col("o_orderdate").isNull, 1L).otherwise(0L))
            .as("null_date"),
          sum(when(!col("o_orderstatus").isin("F", "O", "P"), 1L)
            .otherwise(0L)).as("bad_status"),
          sum(when(length(col("o_orderpriority")) < 5, 1L).otherwise(0L))
            .as("short_priority"),
          sum(when(col("o_orderdate") > lit("1999-01-01").cast("date"), 1L)
            .otherwise(0L)).as("future_date")),
      """SELECT count(*) AS n_rows,
        |  CAST(sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS bad_price,
        |  CAST(sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS null_date,
        |  CAST(sum(CASE WHEN o_orderstatus NOT IN ('F','O','P') THEN 1 ELSE 0 END)
        |    AS BIGINT) AS bad_status,
        |  CAST(sum(CASE WHEN length(o_orderpriority) < 5 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS short_priority,
        |  CAST(sum(CASE WHEN o_orderdate > DATE '1999-01-01' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS future_date
        |FROM orders""".stripMargin),

    // Grid-bucketed spatial radius join: suppliers matched to every
    // customer within R = 8e6 micro-degrees, planar integer geometry.
    // Coordinates are synthesized from the keys with Knuth-style
    // multiplicative hashes so both engines derive identical points.
    // Cell size == R makes the 3x3 neighborhood join EXACT (any point
    // within R of a cell lies in an adjacent cell): the oracle is the
    // brute-force cross join, the engine plan is the scale path — each
    // supplier explodes 9 cell keys and equi-joins the bucketed
    // customers, so candidates are O(density x 9), never |S| x |C|.
    // All distances are exact bigint squares; no libm, no doubles.
    "q163_spatial_join" -> Q(
      (s, d) => {
        val R = 8000000L
        def pts(t: String, key: String, m1: Long, m2: Long, p: String) =
          Tables(s, d, t).select(
            col(key).cast("long").as(s"${p}_id"),
            (col(key).cast("long") * m1 % 180000000L).as(s"${p}_lat"),
            (col(key).cast("long") * m2 % 360000000L).as(s"${p}_lon"))
        val cust = pts("customer", "c_custkey", 2654435761L, 2246822519L, "c")
          .withColumn("cx", expr(s"c_lat div $R"))
          .withColumn("cy", expr(s"c_lon div $R"))
        val cand = pts("supplier", "s_suppkey", 3266489917L, 668265263L, "s")
          .withColumn("dx", explode(expr("sequence(-1, 1)")))
          .withColumn("dy", explode(expr("sequence(-1, 1)")))
          .withColumn("cx", expr(s"s_lat div $R") + col("dx"))
          .withColumn("cy", expr(s"s_lon div $R") + col("dy"))
          .join(cust, Seq("cx", "cy"))
          .withColumn("d2",
            (col("s_lat") - col("c_lat")) * (col("s_lat") - col("c_lat")) +
              (col("s_lon") - col("c_lon")) * (col("s_lon") - col("c_lon")))
          .filter(col("d2") <= lit(R * R))
        cand.groupBy("s_id")
          .agg(count(lit(1)).as("n_within"), min("d2").as("min_d2"))
      },
      """WITH c AS (
        |  SELECT CAST(c_custkey AS BIGINT) AS c_id,
        |    (CAST(c_custkey AS BIGINT) * 2654435761) % 180000000 AS c_lat,
        |    (CAST(c_custkey AS BIGINT) * 2246822519) % 360000000 AS c_lon
        |  FROM customer),
        |s AS (
        |  SELECT CAST(s_suppkey AS BIGINT) AS s_id,
        |    (CAST(s_suppkey AS BIGINT) * 3266489917) % 180000000 AS s_lat,
        |    (CAST(s_suppkey AS BIGINT) * 668265263) % 360000000 AS s_lon
        |  FROM supplier),
        |p AS (
        |  SELECT s_id,
        |    (s_lat - c_lat) * (s_lat - c_lat) +
        |    (s_lon - c_lon) * (s_lon - c_lon) AS d2
        |  FROM s CROSS JOIN c)
        |SELECT s_id, CAST(count(*) AS BIGINT) AS n_within, min(d2) AS min_d2
        |FROM p WHERE d2 <= 64000000000000 GROUP BY s_id""".stripMargin),

    // Item-item collaborative-filtering similarity: cosine over the
    // order-basket incidence, cos(a,b) = n_ab / sqrt(n_a * n_b) — the
    // one transcendental is sqrt, which IEEE 754 REQUIRES correctly
    // rounded (unlike ln/exp), so both engines compute identical
    // doubles from identical integers. Top-30 pairs; candidate
    // generation is the same self-join-per-basket as q158 (never
    // item x item), counts are map-side-combinable.
    "q165_item_cosine" -> Q(
      (s, d) => {
        val li = Tables(s, d, "lineitem")
          .filter(col("l_quantity") >= 25)
          .select(col("l_orderkey").as("o"), col("l_partkey").cast("long").as("p"))
          .distinct()
        val pairs = li.select(col("o"), col("p").as("a"))
          .join(li.select(col("o"), col("p").as("b")), "o")
          .filter(col("a") < col("b"))
          .groupBy("a", "b").agg(count(lit(1)).as("n_ab"))
        val freq = li.groupBy("p").agg(count(lit(1)).as("n"))
        pairs
          .join(freq.select(col("p").as("a"), col("n").as("n_a")), "a")
          .join(freq.select(col("p").as("b"), col("n").as("n_b")), "b")
          .withColumn("cos_micro", expr(
            """CAST(floor((n_ab * 1000000) /
              |  sqrt(CAST(n_a * n_b AS DOUBLE)) + 0.5) AS BIGINT)""".stripMargin))
          .select("a", "b", "n_ab", "cos_micro")
          .orderBy(col("cos_micro").desc, col("a"), col("b")).limit(30)
      },
      """WITH li AS (
        |  SELECT DISTINCT l_orderkey AS o, CAST(l_partkey AS BIGINT) AS p
        |  FROM lineitem WHERE l_quantity >= 25),
        |pairs AS (
        |  SELECT x.p AS a, y.p AS b, CAST(count(*) AS BIGINT) AS n_ab
        |  FROM li x JOIN li y ON x.o = y.o AND x.p < y.p
        |  GROUP BY 1, 2),
        |freq AS (SELECT p, CAST(count(*) AS BIGINT) AS n FROM li GROUP BY 1)
        |SELECT a, b, n_ab,
        |  CAST(floor((n_ab * 1000000) /
        |    sqrt(CAST(fa.n * fb.n AS DOUBLE)) + 0.5) AS BIGINT) AS cos_micro
        |FROM pairs JOIN freq fa ON fa.p = a JOIN freq fb ON fb.p = b
        |ORDER BY cos_micro DESC, a, b LIMIT 30""".stripMargin),

    // Incremental maintenance of a JOIN view: with base/delta splits
    // of both inputs (A+dA) ⋈ (B+dB) distributes into four joins, and
    // because the downstream aggregate state is mergeable
    // (MaterializedAgg), the refresh folds ONLY the three
    // delta-touching joins and merges against yesterday's state —
    // O(delta ⋈ …), never O(base ⋈ base) again. q111 is the
    // aggregate-only version of this; the join distribution is what a
    // 100 TB view over two growing fact tables actually needs. The
    // oracle recomputes the whole join from scratch: merged state
    // must be indistinguishable.
    "q166_mv_join_delta" -> Q(
      (s, d) => {
        val cut = "1997-01-01"
        val o = Tables(s, d, "orders")
          .select(col("o_orderkey"), col("o_orderstatus"), col("o_orderdate"))
        val l = Tables(s, d, "lineitem")
          .select(col("l_orderkey"), col("l_shipdate"), col("l_quantity"))
        val (oB, oD) = (o.filter(col("o_orderdate") < cut),
          o.filter(col("o_orderdate") >= cut))
        val (lB, lD) = (l.filter(col("l_shipdate") < cut),
          l.filter(col("l_shipdate") >= cut))
        def fold(a: org.apache.spark.sql.DataFrame,
            b: org.apache.spark.sql.DataFrame) =
          MaterializedAgg.fold(
            a.join(b, col("o_orderkey") === col("l_orderkey")),
            Seq("o_orderstatus"), Seq("l_quantity"))
        MaterializedAgg.merge(
          fold(oB, lB), fold(oD, lB), fold(oB, lD), fold(oD, lD))
          .withColumn("avg_qty", col("sum_l_quantity") / col("n"))
      },
      """SELECT o_orderstatus, count(*) AS n,
        | sum(l_quantity) AS sum_l_quantity,
        | sum(l_quantity) / count(*) AS avg_qty
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderstatus""".stripMargin),

    // Compaction planning — the small-files answer: assign each file
    // (documents standing in for a file inventory: one row per file,
    // n_chars as bytes, source as the directory prefix) to a merge
    // group by exclusive-cumulative-sum div target, so groups pack the
    // sorted run to ~64 KB boundaries deterministically. The plan runs
    // over file METADATA (one row per file — millions of rows at
    // 100 TB, never the data), one window per source prefix; the
    // groups then drive parallel concat-rewrites. Pure integer math:
    // identical group ids on any engine.
    "q184_compaction_plan" -> Q(
      (s, d) => {
        val W = org.apache.spark.sql.expressions.Window
        val w = W.partitionBy("source").orderBy("doc_id")
          .rowsBetween(W.unboundedPreceding, -1)
        Tables(s, d, "documents")
          .select(col("source"), col("doc_id"), col("n_chars"))
          .withColumn("before", coalesce(sum("n_chars").over(w), lit(0L)))
          .withColumn("grp", expr("before div 65536L"))
          .groupBy("source", "grp")
          .agg(count(lit(1)).as("n_files"),
            sum("n_chars").as("bytes"),
            min("doc_id").as("first_file"),
            max("doc_id").as("last_file"))
      },
      """WITH inv AS (
        |  SELECT source, doc_id, n_chars,
        |    coalesce(sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
        |  FROM documents)
        |SELECT source, CAST(before // 65536 AS BIGINT) AS grp,
        |  CAST(count(*) AS BIGINT) AS n_files,
        |  CAST(sum(n_chars) AS BIGINT) AS bytes,
        |  min(doc_id) AS first_file, max(doc_id) AS last_file
        |FROM inv GROUP BY 1, 2""".stripMargin),

    // Zone-map pruning — the file-skipping half of the layout story
    // (q184 plans the rewrite; this measures what the reader gains).
    // One map-side-combinable agg builds per-block (= per-file at
    // scale: 64 consecutive doc_ids) min/max zone maps on n_chars,
    // then each predicate's skip decision is a pure comparison on the
    // block row: `n_chars > T` skips a block iff max_n <= T. At 100 TB
    // the zone-map table is one row per file — the scan it replaces is
    // the whole corpus. Pure integer min/max: identical on any engine.
    "q185_zone_map_prune" -> Q(
      (s, d) =>
        Tables(s, d, "documents")
          .select(expr("doc_id div 64").as("block"), col("n_chars"))
          .groupBy("block")
          .agg(count(lit(1)).as("n_rows"),
            min("n_chars").as("min_n"), max("n_chars").as("max_n"))
          .withColumn("skip_gt_2000", (col("max_n") <= 2000).cast("boolean"))
          .withColumn("skip_gt_6000", (col("max_n") <= 6000).cast("boolean"))
          .withColumn("skip_lt_500", (col("min_n") >= 500).cast("boolean")),
      """SELECT CAST(doc_id // 64 AS BIGINT) AS block,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  min(n_chars) AS min_n, max(n_chars) AS max_n,
        |  max(n_chars) <= 2000 AS skip_gt_2000,
        |  max(n_chars) <= 6000 AS skip_gt_6000,
        |  min(n_chars) >= 500 AS skip_lt_500
        |FROM documents GROUP BY 1""".stripMargin),

    // Layout quality audit — WHY one z-orders (q107) before building
    // zone maps (q185): per-block (p, s) key spans under the natural
    // orderkey layout vs the Morton-value layout, summed per layout.
    // Small z spans are what turn q185's min/max maps into real file
    // skipping on BOTH join keys at once. Both blockings are pure
    // projections (value-range blocks, no global rank, no window) +
    // one map-side-combinable agg each — the audit itself costs two
    // cheap passes at any scale. Integer min/max/sum throughout.
    "q188_layout_quality" -> Q(
      (s, d) => {
        val li = Tables(s, d, "lineitem")
          .select(col("l_orderkey"),
            col("l_partkey").cast("long").as("p"),
            col("l_suppkey").cast("long").as("sk"),
            ZOrder.zValue2(col("l_partkey").cast("long"),
              col("l_suppkey").cast("long"), bits = 16).as("z"))
        // one adaptive block count for both layouts (~64 rows/block,
        // capped at 2^16 blocks so key*nb stays far from Long range):
        // value-range blocks, no global rank, no window
        val st = li.agg(max("z").as("zmax"), max("l_orderkey").as("okmax"),
          expr("CAST(least(greatest(1L, count(*) div 64), 65536L) AS LONG)")
            .as("nb"))
        val lj = li.crossJoin(broadcast(st))
        def spans(layout: String, blockExpr: String) =
          lj.groupBy(expr(blockExpr).as("block"))
            .agg(count(lit(1)).as("nr"),
              (max("p") - min("p")).as("sp"),
              (max("sk") - min("sk")).as("ss"))
            .agg(count(lit(1)).as("n_blocks"), sum("nr").as("n_rows"),
              sum("sp").as("sum_span_p"), sum("ss").as("sum_span_s"))
            .select(lit(layout).as("layout"), col("n_blocks"),
              col("n_rows"), col("sum_span_p"), col("sum_span_s"))
        spans("natural", "(l_orderkey * nb) div (okmax + 1)")
          .unionByName(spans("zorder", "(z * nb) div (zmax + 1)"))
      },
      s"""WITH li AS (
         |  SELECT l_orderkey, CAST(l_partkey AS BIGINT) AS p,
         |    CAST(l_suppkey AS BIGINT) AS sk,
         |    ${ZOrder.zValueSql("l_partkey", "l_suppkey", bits = 16)} AS z
         |  FROM lineitem),
         |st AS (
         |  SELECT max(z) AS zmax, max(l_orderkey) AS okmax,
         |    CAST(least(greatest(1, count(*) // 64), 65536) AS BIGINT) AS nb
         |  FROM li),
         |nat AS (
         |  SELECT (l_orderkey * nb) // (okmax + 1) AS block, count(*) AS nr,
         |    max(p) - min(p) AS sp, max(sk) - min(sk) AS ss
         |  FROM li, st GROUP BY 1),
         |zb AS (
         |  SELECT (z * nb) // (zmax + 1) AS block, count(*) AS nr,
         |    max(p) - min(p) AS sp, max(sk) - min(sk) AS ss
         |  FROM li, st GROUP BY 1)
         |SELECT 'natural' AS layout, CAST(count(*) AS BIGINT) AS n_blocks,
         |  CAST(sum(nr) AS BIGINT) AS n_rows,
         |  CAST(sum(sp) AS BIGINT) AS sum_span_p,
         |  CAST(sum(ss) AS BIGINT) AS sum_span_s
         |FROM nat
         |UNION ALL
         |SELECT 'zorder', CAST(count(*) AS BIGINT),
         |  CAST(sum(nr) AS BIGINT), CAST(sum(sp) AS BIGINT),
         |  CAST(sum(ss) AS BIGINT)
         |FROM zb""".stripMargin),

    // Block-level Bloom index for CATEGORICAL predicates — what
    // min/max zone maps (q185) cannot skip on. Per source partition
    // (the clustered layout q115's ingest writes) a 32-slot bloom
    // mask of the langs present: bit_or of 1 << (XXH64(lang) & 31),
    // one map-side-combinable agg over one row per FILE at scale.
    // A reader probing `lang = X` skips every block whose mask lacks
    // X's bit — exact skips for fr@src6 / zh@src18 / absent langs on
    // this corpus, zero false skips ever (bloom one-sidedness). The
    // probe bits are constant-folded engine-side and replayed in the
    // oracle through the XXH64 SQL chain.
    "q194_block_bloom_skip" -> Q(
      (s, d) => {
        def may(lang: String) = expr(
          s"(mask & shiftleft(1L, cast(xxhash64('$lang') & 31L AS int))) != 0")
        Tables(s, d, "documents")
          .select(col("source"),
            xxhash64(col("lang")).bitwiseAND(lit(31L)).as("bit"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_rows"),
            expr("bit_or(shiftleft(1L, cast(bit AS int)))").as("mask"))
          .withColumn("may_fr", may("fr"))
          .withColumn("may_zh", may("zh"))
          .withColumn("may_xx", may("xx"))
      }, {
        val items =
          """items AS (
            |  SELECT k, k AS tok FROM (
            |    SELECT DISTINCT lang AS k FROM documents
            |    UNION SELECT 'xx' AS k))""".stripMargin
        def bit(lang: String) =
          s"(SELECT CAST(h % 32 AS INT) FROM hashed WHERE k = '$lang')"
        s"""WITH ${graft.queries.XxhSql.hashCtes(items, "k")},
           |zone AS (
           |  SELECT d.source, CAST(count(*) AS BIGINT) AS n_rows,
           |    bit_or(CAST(1 AS BIGINT) << CAST(h.h % 32 AS INT)) AS mask
           |  FROM documents d JOIN hashed h ON h.k = d.lang
           |  GROUP BY 1)
           |SELECT source, n_rows, mask,
           |  (mask & (CAST(1 AS BIGINT) << ${bit("fr")})) <> 0 AS may_fr,
           |  (mask & (CAST(1 AS BIGINT) << ${bit("zh")})) <> 0 AS may_zh,
           |  (mask & (CAST(1 AS BIGINT) << ${bit("xx")})) <> 0 AS may_xx
           |FROM zone""".stripMargin
      }),

    // Largest-remainder proration — exact integer allocation of a
    // fixed budget (1M sampling slots) across sources proportional to
    // their document counts: floor shares first, then the leftover
    // slots go to the largest remainders (source tie-break). The ONLY
    // allocation scheme where the parts provably sum to the whole —
    // the mix-planning primitive naive rounding gets wrong. The
    // corpus collapses to per-source counts; every window below runs
    // on that |sources|-row frame.
    "q211_largest_remainder" -> Q(
      (s, d) => {
        val W = org.apache.spark.sql.expressions.Window
        val g = W.partitionBy(lit(1))
        Tables(s, d, "documents")
          .groupBy("source").agg(count(lit(1)).as("n"))
          .withColumn("total_n", sum("n").over(g))
          .withColumn("base", expr("(n * 1000000L) div total_n"))
          .withColumn("rem", expr("(n * 1000000L) % total_n"))
          .withColumn("leftover", expr("1000000L - sum(base) OVER ()"))
          .withColumn("rk", row_number().over(
            g.orderBy(col("rem").desc, col("source"))).cast("long"))
          .withColumn("alloc",
            col("base") + when(col("rk") <= col("leftover"), 1L).otherwise(0L))
          .select("source", "n", "base", "rem", "alloc")
      },
      """WITH c AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n
        |  FROM documents GROUP BY 1),
        |st AS (
        |  SELECT source, n,
        |    CAST((n * 1000000) // CAST(sum(n) OVER () AS BIGINT) AS BIGINT)
        |      AS base,
        |    CAST((n * 1000000) % CAST(sum(n) OVER () AS BIGINT) AS BIGINT)
        |      AS rem
        |  FROM c),
        |rk AS (
        |  SELECT *,
        |    CAST(row_number() OVER (ORDER BY rem DESC, source) AS BIGINT)
        |      AS rk,
        |    CAST(1000000 - sum(base) OVER () AS BIGINT) AS leftover
        |  FROM st)
        |SELECT source, n, base, rem,
        |  base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS alloc
        |FROM rk""".stripMargin),

    // LPT task balancing — the "assign this source's files to 4
    // parallel writer slots" planner that complements q184's
    // byte-target grouping: longest-processing-time greedy, each file
    // (cost = n_chars, descending, doc_id tie) lands on the currently
    // least-loaded slot. Inherently sequential PER SOURCE, so the
    // corpus collapses to one sorted cost list per source (bounded
    // inventory metadata) and ONE codegen'd fold replays the greedy
    // per source in parallel — the same shape as q177/q193. Output:
    // final slot loads + the makespan bound the scheduler quotes.
    "q212_lpt_balance" -> Q(
      (s, d) => {
        val fold =
          """aggregate(costs, array(0L, 0L, 0L, 0L),
            |  (acc, c) -> transform(acc, (v, i) ->
            |    IF(i = array_position(acc, array_min(acc)) - 1, v + c, v)))"""
            .stripMargin
        Tables(s, d, "documents")
          .groupBy("source")
          .agg(sort_array(collect_list(
            struct((-col("n_chars")).as("nc"), col("doc_id")))).as("sorted"),
            count(lit(1)).as("n_files"), sum("n_chars").as("total_cost"))
          .withColumn("costs", expr("transform(sorted, e -> -e.nc)"))
          .withColumn("loads", expr(fold))
          .select(col("source"), col("n_files"), col("total_cost"),
            posexplode(col("loads")).as(Seq("slot", "load")))
          .select(col("source"), col("n_files"), col("total_cost"),
            col("slot").cast("long").as("slot"), col("load"))
      }, {
        val assign =
          "list_concat(list_concat(" +
            "list_slice(r.loads, 1, list_position(r.loads, list_min(r.loads)) - 1), " +
            "[r.loads[list_position(r.loads, list_min(r.loads))] + f.c]), " +
            "list_slice(r.loads, list_position(r.loads, list_min(r.loads)) + 1, 4))"
        s"""WITH RECURSIVE inv AS (
           |  SELECT source, CAST(count(*) AS BIGINT) AS n_files,
           |    CAST(sum(n_chars) AS BIGINT) AS total_cost,
           |    list(n_chars ORDER BY n_chars DESC, doc_id) AS costs
           |  FROM documents GROUP BY 1),
           |f AS (
           |  SELECT source,
           |    unnest(list_transform(range(1, len(costs) + 1),
           |      i -> {'t': i, 'c': costs[i]})) AS s
           |  FROM inv),
           |fi AS (SELECT source, s.t AS t, CAST(s.c AS BIGINT) AS c FROM f),
           |rec AS (
           |  SELECT source, CAST([0, 0, 0, 0] AS BIGINT[]) AS loads,
           |    CAST(1 AS BIGINT) AS t
           |  FROM inv
           |  UNION ALL
           |  SELECT r.source,
           |    $assign,
           |    r.t + 1
           |  FROM rec r JOIN fi f ON f.source = r.source AND f.t = r.t),
           |fin AS (
           |  SELECT r.source, r.loads FROM rec r
           |  JOIN inv i ON i.source = r.source
           |  WHERE r.t = i.n_files + 1)
           |SELECT i.source, i.n_files, i.total_cost,
           |  CAST(u.s.slot - 1 AS BIGINT) AS slot,
           |  CAST(u.s.load AS BIGINT) AS load
           |FROM (
           |  SELECT source,
           |    unnest(list_transform(range(1, 5),
           |      k -> {'slot': k, 'load': loads[k]})) AS s
           |  FROM fin) u
           |JOIN inv i ON i.source = u.source""".stripMargin
      }),

    // Merge-on-read maintenance planner: given a deny list of deleted
    // keys (a deterministic block-skewed rule here — erasure queues
    // hit hot blocks hard and most blocks not at all), classify each
    // 64-row storage block — untouched blocks stay as-is, lightly-hit
    // blocks take a deletion vector, blocks past 20% deleted get
    // rewritten — and report the read-amplification the plan leaves
    // behind (live rows still riding dv blocks, in ppm of all live
    // rows). This is the q184/q185 layout family extended to deletes:
    // one row-wise projection, one map-side-combinable
    // groupBy(block), one bounded rollup per action class.
    "q230_delete_vector_plan" -> Q(
      (s, d) => {
        val blocks = Tables(s, d, "documents")
          .select(expr("doc_id div 64").as("block"),
            when(expr("doc_id div 64") % 5 === 0 && col("doc_id") % 2 === 0,
              1L)
              .when(expr("doc_id div 64") % 5 === 1 &&
                col("doc_id") % 37 === 0, 1L)
              .otherwise(0L).as("del"))
          .groupBy("block")
          .agg(count(lit(1)).as("n_rows"), sum("del").as("n_del"))
          .withColumn("del_ppm", expr("n_del * 1000000 div n_rows"))
          .withColumn("action",
            when(col("n_del") === 0, "keep")
              .when(col("del_ppm") < 200000, "dv_only")
              .otherwise("rewrite"))
        blocks.groupBy("action")
          .agg(count(lit(1)).as("n_blocks"),
            sum("n_rows").as("n_rows"),
            sum("n_del").as("n_deleted"),
            sum(col("n_rows") - col("n_del")).as("n_live"),
            sum(when(col("action") === "dv_only",
              col("n_rows") - col("n_del")).otherwise(0L))
              .as("live_behind_dv"))
      },
      """WITH b AS (
        |  SELECT doc_id // 64 AS block,
        |    CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(sum(CASE
        |      WHEN (doc_id // 64) % 5 = 0 AND doc_id % 2 = 0 THEN 1
        |      WHEN (doc_id // 64) % 5 = 1 AND doc_id % 37 = 0 THEN 1
        |      ELSE 0 END) AS BIGINT) AS n_del
        |  FROM documents GROUP BY 1),
        |c AS (
        |  SELECT *,
        |    CASE WHEN n_del = 0 THEN 'keep'
        |         WHEN (n_del * 1000000) // n_rows < 200000 THEN 'dv_only'
        |         ELSE 'rewrite' END AS action
        |  FROM b)
        |SELECT action, CAST(count(*) AS BIGINT) AS n_blocks,
        |  CAST(sum(n_rows) AS BIGINT) AS n_rows,
        |  CAST(sum(n_del) AS BIGINT) AS n_deleted,
        |  CAST(sum(n_rows - n_del) AS BIGINT) AS n_live,
        |  CAST(sum(CASE WHEN action = 'dv_only' THEN n_rows - n_del
        |    ELSE 0 END) AS BIGINT) AS live_behind_dv
        |FROM c GROUP BY 1""".stripMargin),

    // ORC round-trip: the corpus written to ORC and aggregated from
    // the READ-BACK files — row-count, integer-sum, and character
    // fidelity proven against the parquet original (the oracle reads
    // parquet; equality means the second columnar format is
    // lossless). Same eager write-then-read shape as q115's ingest
    // gate; the write is a one-shot overwrite into a temp dir.
    "q245_orc_roundtrip" -> Q(
      (s, d) => {
        val tmp = scratchDir("orc")
        Tables(s, d, "documents").write.mode("overwrite").orc(tmp)
        s.read.orc(tmp)
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum("n_chars").as("total_chars"),
            sum(length(col("text"))).as("text_chars"))
      },
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  CAST(sum(length(text)) AS BIGINT) AS text_chars
        |FROM documents GROUP BY 1""".stripMargin),

    // JSON-lines round-trip: the corpus written as JSONL and read
    // back under an EXPLICIT schema (inference is a second scan and
    // a type lottery), aggregated identically — proving the
    // interchange format preserves multi-byte text (zh docs), quotes,
    // and newlines through JSON escaping. Oracle reads the parquet
    // original.
    "q246_jsonl_roundtrip" -> Q(
      (s, d) => {
        val tmp = scratchDir("jsonl")
        Tables(s, d, "documents").write.mode("overwrite").json(tmp)
        s.read.schema(org.apache.spark.sql.types.StructType.fromDDL(
            "doc_id LONG, text STRING, lang STRING, source STRING, " +
              "n_chars LONG"))
          .json(tmp)
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum("n_chars").as("total_chars"),
            sum(length(col("text"))).as("text_chars"))
      },
      """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  CAST(sum(length(text)) AS BIGINT) AS text_chars
        |FROM documents GROUP BY 1""".stripMargin),

    // Hive-layout partitioned write + pruned read-back: the corpus
    // lands partitioned BY LANGUAGE and the reader's language
    // predicate becomes a PartitionFilter — directories outside the
    // two requested languages are never opened (plan-pinned in
    // PlanShapeSpec). The write is the K-side layout contract a
    // lake-organized corpus uses so per-language training jobs read
    // 1/|langs| of the data.
    "q247_partitioned_write" -> Q(
      (s, d) => {
        val tmp = scratchDir("part")
        Tables(s, d, "documents").write.mode("overwrite")
          .partitionBy("lang").parquet(tmp)
        s.read.parquet(tmp)
          .filter(col("lang").isin("en", "zh"))
          .groupBy("lang", "source")
          .agg(count(lit(1)).as("n_docs"),
            sum("n_chars").as("total_chars"))
      },
      """SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents WHERE lang IN ('en', 'zh')
        |GROUP BY 1, 2""".stripMargin)
  )
}
