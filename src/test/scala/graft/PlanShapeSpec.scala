package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regressions: the scale properties the operators claim
  * (no cartesian products, broadcast on the bounded side, single-scan
  * pipelines, pushed filters, the native as-of exec) asserted against
  * the actual physical plans, so a refactor that silently degrades a
  * plan fails CI rather than only showing up at 100 TB. */
class PlanShapeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  test("plan locks run under Bench's session config: AQE floor, UTC, shuffle partitions") {
    // GraftSession.settings(4) is what Bench's session carries on the
    // 4-core benchmark box; a spec session that drifts from it would
    // lock plans the bench never runs
    val bench = GraftSession.settings(4).toMap
    assert(bench("spark.sql.adaptive.coalescePartitions.minPartitionSize") == "262144")
    Seq("spark.sql.adaptive.coalescePartitions.minPartitionSize",
      "spark.sql.session.timeZone", "spark.sql.shuffle.partitions").foreach { k =>
      assert(spark.conf.get(k) == bench(k), k)
    }
  }

  test("t44 trigram backoff: all legs are LEFT equi-joins on gram keys; only nested-loop is the 1-row token total") {
    val p = plan("t44_trigram_backoff")
    assert(!p.contains("CartesianProduct"), s"cartesian in t44:\n$p")
    // the N scalar rides a broadcast nested loop by construction (the
    // t16 vocab pattern); every count-table leg must be an equi-join
    assert("BroadcastNestedLoopJoin".r.findAllMatchIn(p).size <= 1,
      s"unexpected extra nested-loop joins:\n$p")
  }

  test("p14 backoff gate mix inherits t44's join shape, no cartesian") {
    val p = plan("p14_backoff_gate_mix")
    assert(!p.contains("CartesianProduct"), s"cartesian in p14:\n$p")
    assert("BroadcastNestedLoopJoin".r.findAllMatchIn(p).size <= 1,
      s"unexpected extra nested-loop joins:\n$p")
  }

  test("t46 trained-classifier scoring: weights ride a broadcast hash join, zero nested loops") {
    val p = plan("t46_logistic_apply")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"scoring must be equi-joins only:\n$p")
    // the <= nBuckets+1-row weight table must broadcast — a shuffled
    // weight join would exchange the corpus-sized feature stream; a
    // literal-map lookup would be an O(nBuckets) linear scan per row
    assert(p.contains("BroadcastHashJoin"),
      s"weight lookup must be a broadcast hash join:\n$p")
  }

  test("p15 trained gate: broadcast weight join, no cartesian through gate/dedup/shard") {
    val p = plan("p15_trained_gate_shards")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"trained gate must stay equi-join shaped:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"weight lookup must be a broadcast hash join:\n$p")
  }

  test("t48 calibration: ONE scored subtree fanned over the broadcast cutoff grid, no per-cutoff rescan") {
    val p = plan("t48_calibration_sweep")
    assert(!p.contains("CartesianProduct"), s"cartesian in t48:\n$p")
    // the cutoff grid is the single sanctioned nested-loop (a ≤7-row
    // broadcast); a second one would mean the scored pass re-runs per
    // cutoff instead of fanning out once
    assert("BroadcastNestedLoopJoin".r.findAllMatchIn(p).size == 1,
      s"exactly one broadcast nested-loop (the cutoff grid) expected:\n$p")
    // scoring itself stays the t46 shape: weights on a broadcast hash
    assert(p.contains("BroadcastHashJoin"),
      s"weight lookup must be a broadcast hash join:\n$p")
  }

  test("d06 embedding pairs come from bucket equi-joins, never a cartesian") {
    val p = plan("d06_dedup_embedding")
    assert(!p.contains("CartesianProduct"), "cartesian product in d06")
    assert(!p.contains("BroadcastNestedLoopJoin"), "nested-loop join in d06")
  }

  test("d09 contamination broadcasts the eval side") {
    val p = plan("d09_contamination")
    assert(p.contains("BroadcastExchange"), "eval side must broadcast")
    assert(!p.contains("CartesianProduct"))
  }

  test("p01 corpus prep scans documents exactly once") {
    val p = plan("p01_corpus_prep")
    assert("Scan parquet".r.findAllMatchIn(p).size == 1,
      s"expected a single documents scan:\n$p")
  }

  test("p12 gate -> substring-dedup -> pack scans documents exactly once, no cartesian") {
    val p = plan("p12_substring_dedup_pack")
    // the gram stream, the span rewrite, and the pack all ride the ONE
    // checkpointed token table the rewrite materializes from the gated
    // scan — a second parquet scan would re-read the corpus text
    assert("Scan parquet".r.findAllMatchIn(p).size <= 1,
      s"expected a single documents scan:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"non-equi join in p12:\n$p")
  }

  test("q02 predicates reach the parquet scan") {
    val p = plan("q02_revenue_filter")
    assert(p.contains("PushedFilters:") && p.contains("l_shipdate"),
      "shipdate filter must be pushed to the scan")
  }

  test("q36 runs the native as-of exec, not a range join") {
    val p = plan("q36_asof_native")
    assert(p.contains("AsOfJoin"), s"native as-of exec missing:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q54 runs the native interval-join exec, no explode or cartesian") {
    val p = plan("q54_range_join_native")
    assert(p.contains("IntervalJoin"), s"native interval exec missing:\n$p")
    assert(!p.contains("Generate") && !p.contains("CartesianProduct"),
      "q54 must not explode buckets or cross-join")
  }

  test("s01 brute-force top-k broadcasts the query side only") {
    val p = plan("s01_cosine_topk")
    assert(p.contains("BroadcastExchange"), "query side must broadcast")
  }

  test("t34 dup-ngram mass scans documents once; window and fold share one (doc,n) exchange") {
    val p = plan("t34_dup_ngram_mass")
    assert("Scan parquet".r.findAllMatchIn(p).size == 1,
      s"expected a single documents scan:\n$p")
    assert("Exchange hashpartitioning".r.findAllMatchIn(p).size == 2,
      s"expected exactly two exchanges (shingle count + window/fold):\n$p")
  }

  test("s18 filtered ANN: filter is a broadcast equi-join, never a cartesian or post-filter") {
    val p = plan("s18_filtered_ann")
    assert(p.contains("BroadcastHashJoin"), "label equi-join must broadcast")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("WindowGroupLimit"), "top-k must push a partial group limit")
  }

  test("s19 filtered IVF probe joins postings on (cid, label), no cartesian, no second metadata join") {
    val p = plan("s19_filtered_ivf")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    // the label gate rides the posting join: exactly one scan of the
    // assignments table (a post-filter design would add a second
    // corpus-side join against the embeddings metadata)
    assert("Scan parquet [^\\n]*assignments".r.findAllMatchIn(p).size == 1,
      s"expected one assignments scan:\n$p")
  }

  test("s24 filtered IVF-ADC: the label gate rides the posting join, no cartesian, no post-filter metadata join") {
    val p = plan("s24_filtered_ivfadc")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"non-equi join in s24:\n$p")
    // the filter is an equi-join key of the (cid, label) posting join;
    // a post-filter design would join an UNFILTERED shortlist against
    // the embeddings metadata a second time and under-fill k
    assert(p.contains("cid") && !p.contains("Filter (label"),
      s"label must be a join key, not a post-filter:\n$p")
  }

  test("d22 semdedup pairs come from the within-cell equi-join, never a cartesian") {
    val p = plan("d22_semdedup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"the cell assignment must be the blocking structure:\n$p")
  }

  test("d20 calibration candidates come from the band equi-join, never a cartesian") {
    val p = plan("d20_lsh_calibration")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"calibration must ride the banded candidate join:\n$p")
  }

  test("t15 boilerplate dedup never cross-joins and scans documents once per branch") {
    val p = plan("t15_boilerplate_lines")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"boilerplate key join must stay an equi-join:\n$p")
  }

  test("t16 LM scoring's only nested-loop is the broadcast 1-row vocab") {
    val p = plan("t16_lm_score")
    assert(!p.contains("CartesianProduct"), s"cartesian in t16:\n$p")
    // the vocab scalar rides a broadcast nested loop by construction —
    // every OTHER join must be a hash/merge equi-join
    assert("BroadcastNestedLoopJoin".r.findAllMatchIn(p).size <= 1,
      s"unexpected extra nested-loop joins:\n$p")
  }

  test("s07 semantic dedup broadcasts the keepers, never shuffles the corpus twice") {
    val p = plan("s07_semantic_dedup")
    assert(p.contains("BroadcastExchange"), "keepers must broadcast")
    assert(!p.contains("CartesianProduct"))
  }

  test("q61 sliding window is one scan + one agg shuffle, like tumbling") {
    val p = plan("q61_sliding_window")
    // the hop generator explodes rows in-task; the only exchange is the
    // hash agg's — a per-offset-union shape would scan events twice
    assert("Scan parquet".r.findAllMatchIn(p).size == 1,
      s"expected a single events scan:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("Union"),
      s"sliding window must not union per-offset copies:\n$p")
  }

  test("q62 session window aggregates in one pass, no self-join") {
    val p = plan("q62_session_window")
    assert("Scan parquet".r.findAllMatchIn(p).size == 1,
      s"expected a single events scan:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"session assignment must not self-join:\n$p")
  }

  test("q63 heavy-hitter verify pass: only nested-loop is the 1-row total") {
    val p = plan("q63_heavy_hitters")
    assert(!p.contains("CartesianProduct"), s"cartesian in q63:\n$p")
    // the grand-total scalar rides a broadcast nested loop by
    // construction (t16's pattern); everything else must be hash agg
    assert("BroadcastNestedLoopJoin".r.findAllMatchIn(p).size <= 1,
      s"unexpected extra nested-loop joins:\n$p")
    // candidate membership is a broadcast hash join against the ≤ 1/θ
    // candidate set, not an N-branch isin predicate
    assert(p.contains("BroadcastHashJoin"),
      s"candidate filter must be a broadcast hash join:\n$p")
    // two branches over the same word aggregate — at most two scans in
    // the initial plan (AQE's exchange reuse collapses them at runtime)
    assert("Scan parquet".r.findAllMatchIn(p).size <= 2,
      s"verify pass must not re-scan per branch:\n$p")
  }

  test("q64 one-pass distinct-pairs shape: single scan, no Expand, HLL over the distinct pairs") {
    val p = plan("q64_approx_distinct")
    // r19: the HLL rides the SAME pass as the exact count, over the
    // DISTINCT (flag, partkey) pairs (register insertion is
    // idempotent, so the sketch equals one over raw rows). What must
    // never come back: an Expand (a multi-distinct co-plan would drag
    // ~12 KB HLL partials through rows x groups copies — the measured
    // 15x regression), or a second lineitem scan (the pre-r19 split
    // shape's extra pass + 3-row join).
    assert(!p.contains("Expand"),
      s"q64 must not plan an Expand (HLL through Expand is the 15x trap):\n$p")
    assert("Scan parquet".r.findAllMatchIn(p).size == 1,
      s"expected ONE lineitem scan (one-pass shape):\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q65 zorder stats is one scan + one agg shuffle, interleave stays codegen") {
    val p = plan("q65_zorder_stats")
    assert("Scan parquet".r.findAllMatchIn(p).size == 1, s"one scan:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    // the Morton key lowered to built-in bit ops (shiftleft/shiftright),
    // not a fallback expression
    assert(p.contains("shiftleft"), s"interleave must be built-in bit ops:\n$p")
  }

  test("q66 snapshot diff joins two aggregates, no nested loop") {
    val p = plan("q66_snapshot_diff")
    assert(p.contains("FullOuter"), s"must be a full outer join:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"equi full outer must not nested-loop:\n$p")
  }

  test("q68 gap fill: sparse window + span explode, no grid join") {
    val p = plan("q68_gap_fill")
    assert("Generate".r.findAllMatchIn(p).size == 1,
      s"exactly one sequence explode:\n$p")
    assert("Window".r.findAllMatchIn(p).size == 1,
      s"carry + lead must share one window pass:\n$p")
    // the dense grid is emitted by the explode directly — it must never
    // come back as a join input (the pre-r7 shape joined grid×perBucket)
    assert(!p.contains("Join"), s"gap fill must be join-free:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q71 bloom probe filters the fact scan before the join") {
    val p = plan("q71_bloom_join")
    assert(p.toLowerCase.contains("bloommightcontainkey"),
      s"fact side must carry the native bloom probe:\n$p")
    assert(!p.contains("CartesianProduct"))
    // the probe must sit under the join, not above it: in the plan
    // string the Filter carrying it appears AFTER (deeper than) the
    // last join node
    val probeAt = p.toLowerCase.indexOf("bloommightcontainkey")
    val joinAt = p.indexOf("Join")
    assert(joinAt >= 0 && probeAt > joinAt,
      s"bloom probe must be below the join:\n$p")
  }

  test("q73 fact scan carries a dynamic partition pruning filter") {
    val p = plan("q73_dpp")
    assert(p.toLowerCase.contains("dynamicpruning"),
      s"partitioned events scan must be runtime-pruned by the day dim:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("s12 IVF-ADC: candidates score through the posting table, corpus never broadcast") {
    val p = plan("s12_ivfadc")
    assert(!p.contains("CartesianProduct"))
    // the ADC scoring pass reads the persisted narrow posting table
    assert(p.contains("_adc"), s"scoring must read the ADC posting table:\n$p")
    // every broadcast build is the query/shortlist side, never the
    // corpus: no build side may originate from the assignments table
    // (full vectors) — it streams into the rerank fetch only
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"query side should broadcast:\n$p")
  }

  test("s17 residual IVF-ADC: same posting-table probe shape as s12") {
    val p = plan("s17_ivfadc_residual")
    assert(!p.contains("CartesianProduct"))
    // the residual decomposition's cell term is computed on the
    // broadcast query side (nProbe scalars per query) — the posting
    // scan stays the narrow (cid, codes) table, identical to s12
    assert(p.contains("_adc"), s"scoring must read the ADC posting table:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"query side should broadcast:\n$p")
  }

  test("p08 DSIR->pack pipeline: selection broadcasts back onto the docs") {
    val p = plan("p08_dsir_pack")
    assert(!p.contains("CartesianProduct"), s"cartesian in p08:\n$p")
    // the 100-id selection joins back as a broadcast hash join; the
    // only nested-loop is t29's 1-row totals scalar
    assert("BroadcastNestedLoopJoin".r.findAllMatchIn(p).size <= 1,
      s"unexpected extra nested-loop joins:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"selection must broadcast onto the docs scan:\n$p")
  }

  test("s11 PQ rerank: code-table pass broadcasts only the query side") {
    val p = plan("s11_pq_rerank")
    // the corpus/code side must stream: every broadcast build is the
    // tiny query frame, never the corpus
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"query side should broadcast:\n$p")
    assert("Scan parquet".r.findAllMatchIn(p).size <= 4,
      s"code table + rerank scans only:\n$p")
  }

  test("q75 funnel: three stage windows share one user-id shuffle") {
    val p = plan("q75_funnel")
    // one exchange for the user partition + one single-partition
    // exchange for the final 1-row rollup; a per-stage shuffle or a
    // stage self-join would add more
    assert("Exchange hashpartitioning".r.findAllMatchIn(p).size <= 2,
      s"stages must reuse the user-id exchange:\n$p")
    assert("Scan parquet".r.findAllMatchIn(p).size == 1,
      s"funnel reads events once:\n$p")
  }

  test("q78 cohort retention: window min, not a self-join against first-signup") {
    val p = plan("q78_cohort_retention")
    assert(!p.contains("Join"), s"first-signup must be a window, not a join:\n$p")
    assert("Scan parquet".r.findAllMatchIn(p).size == 1,
      s"events scanned once:\n$p")
  }

  test("d14 canonical selection: member-count and rank share the cluster shuffle") {
    val p = plan("d14_cluster_canonical")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"))
    // n_members count-over + row_number rank partition on the same key:
    // at most the doc-id join exchanges + ONE cluster-id exchange
    assert("Exchange hashpartitioning\\(cluster_id".r.findAllMatchIn(p).size <= 1,
      s"both windows must share the cluster-id exchange:\n$p")
  }

  test("p03 classifier-mix pipeline reads documents exactly once") {
    val p = plan("p03_classifier_mix")
    assert("Scan parquet".r.findAllMatchIn(p).size == 1,
      s"score+fingerprint+gate must share one scan:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("t20 classifier score is a map-only single scan") {
    val p = plan("t20_classifier_score")
    assert(!p.contains("Exchange"), s"classifier must be map-only:\n$p")
    assert("Scan parquet".r.findAllMatchIn(p).size == 1,
      s"documents scanned once:\n$p")
  }

  test("t21 gopher rules is a map-only single scan with no regex in the plan") {
    val p = plan("t21_gopher_rules")
    assert(!p.contains("Exchange"), s"rules must be map-only:\n$p")
    assert("Scan parquet".r.findAllMatchIn(p).size == 1)
    // the symbol ratio must use the native byte scan, not regexp_replace
    // (java.util.regex was the entire t21 cost at the 100x sweep)
    assert(!p.contains("regexp_replace"), s"symbol count must be native:\n$p")
  }

  test("q79 salted agg is two hash-agg phases, no key re-sort") {
    val p = plan("q79_salted_agg")
    // phase-1 partial+final on (key, salt), phase-2 partial+final on key
    assert("HashAggregate".r.findAllMatchIn(p).size == 4,
      s"expected the 4 hash-agg stages of split-merge:\n$p")
    assert(!p.contains("SortAggregate") && !p.contains("CartesianProduct"))
  }

  test("q80 bucketed join runs exchange-free up to the rollup") {
    // tiny SF broadcasts the dim (correct at this size); disable it to
    // expose the scale plan — co-located bucket SMJ with the ONLY
    // exchange being the 5-group rollup after the join
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = plan("q80_bucketed_join")
      assert(p.contains("SortMergeJoin"), s"expected bucket SMJ:\n$p")
      assert(!p.contains("BroadcastExchange"))
      assert("Exchange hashpartitioning".r.findAllMatchIn(p).size == 1,
        s"join sides must read co-located buckets, no exchange:\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("t23 encoding broadcasts the vocab, never shuffles it") {
    val p = plan("t23_vocab_encode")
    assert(p.contains("BroadcastExchange"),
      s"the V-row vocab must broadcast into the token join:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"))
  }

  test("t24 BM25 filters to query terms below every exchange") {
    val p = plan("t24_bm25_search")
    // the term IN (...) predicate must sit BELOW the shuffles — at
    // 100 TB that is the difference between shuffling |query| posting
    // lists and shuffling the corpus term table. toString prints the
    // tree root-first, so "below" = a LARGER text index than every
    // exchange above it.
    val filterIdx = p.indexOf("IN (join,hash,scan)")
    assert(filterIdx >= 0, s"query-term IN filter missing:\n$p")
    val lastExchange = p.lastIndexOf("Exchange hashpartitioning")
    assert(lastExchange >= 0 && filterIdx > lastExchange,
      s"term filter must be below the exchanges:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-10 must be the distributed TakeOrderedAndProject:\n$p")
  }

  test("p05 quota selection is one scan, score computed map-side") {
    val p = plan("p05_source_quota")
    assert("Scan parquet".r.findAllMatchIn(p).size == 1,
      s"expected a single documents scan:\n$p")
    assert("Exchange hashpartitioning".r.findAllMatchIn(p).size == 1,
      s"expected exactly the source window exchange:\n$p")
  }

  test("p06 per-batch plan reads corpus keys from persisted tables, never corpus text") {
    val p = plan("p06_incremental_ingest")
    // the ONE documents.parquet scan is the batch side (doc_id % 10 =
    // 0); every corpus-side input is a persisted bucketed key table —
    // a second documents scan would mean an ingest rescans corpus
    // text, the O(corpus)-per-batch shape this artifact exists to kill
    assert("documents\\.parquet".r.findAllMatchIn(p).size == 1,
      s"expected exactly one (batch-side) documents scan:\n$p")
    for (t <- Seq("_norm", "_ndband", "_ndsh"))
      assert(("graft_ingest\\S*" + t).r.findFirstIn(p).isDefined,
        s"corpus key table $t missing from the plan:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"))
  }

  test("d16 touched-component plan: cluster-table joins broadcast the root set") {
    // the flat-cost claim's plan shape: the cluster table is touched by
    // TWO narrow scans joined against the (tiny, broadcast) touched-
    // root set — never hash-exchanged on cluster_id. A shuffle of the
    // assignment table here would put the full cluster table back into
    // the per-ingest shuffle path, the O(cluster table) shape the
    // restriction removed (TESTDATA.md round 11 records the flat cost;
    // this pins the mechanism).
    // (the twin SEMI join runs inside the checkpointed CC branch, so
    // only the pass-through ANTI join is visible in the final plan)
    val p = plan("d16_incremental_clusters")
    val corpusTableShuffles = "Exchange hashpartitioning\\(cluster_id".r
      .findAllMatchIn(p).size
    assert(corpusTableShuffles == 0,
      s"old assignments must join the root set broadcast, not shuffle on cluster_id:\n$p")
    assert(p.contains("BroadcastHashJoin [cluster_id") &&
      p.contains("LeftAnti"),
      s"expected the pass-through anti join to broadcast touched roots:\n$p")
  }

  test("profileApprox plans no Expand; the exact profile does (the swap is the point)") {
    val orders = graft.sources.Tables.orders(spark, dir)
    val cols = Seq("o_custkey", "o_orderstatus", "o_orderdate")
    val approx = graft.operators.Relational.profileApprox(orders, cols)
      .queryExecution.executedPlan.toString
    // exact multi-distinct replicates every row per audited column
    // into the shuffle (Expand); the sketch form must not
    assert(!approx.contains("Expand"),
      s"approx profile must not plan an Expand:\n$approx")
    val exact = graft.operators.Relational.profile(orders, cols)
      .queryExecution.executedPlan.toString
    assert(exact.contains("Expand"),
      "exact profile is expected to Expand — if this changes, " +
        "re-examine what q86 is pinning")
  }

  test("q70 broadcast gate: hinted under the limit, shuffle-join fallback above it — same rows") {
    def optimized(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.optimizedPlan.toString
    val name = "q70_recursive_chains"
    val dfB = SparkEntry.queries(name)(spark, dir)
    assert(optimized(dfB).contains("strategy=broadcast"),
      s"default frontier (under the limit) must carry the broadcast hint:\n${optimized(dfB)}")
    val broadcastRows = dfB.collect().map(_.toSeq).toSet
    spark.conf.set("spark.graft.q70.broadcastFrontierLimit", "1")
    try {
      val dfS = SparkEntry.queries(name)(spark, dir)
      // the 100×-scale path: hint dropped, each recursion level runs a
      // shuffle join — and it must produce the broadcast path's rows
      assert(!optimized(dfS).contains("strategy=broadcast"),
        s"limit=1 must drop the broadcast hint:\n${optimized(dfS)}")
      val shuffleRows = dfS.collect().map(_.toSeq).toSet
      assert(broadcastRows.nonEmpty && shuffleRows == broadcastRows,
        "shuffle-join fallback must return exactly the broadcast path's rows")
    } finally spark.conf.unset("spark.graft.q70.broadcastFrontierLimit")
  }

  test("t29 DSIR: bucket log-ratios broadcast, only nested-loop is the 1-row totals") {
    val p = plan("t29_dsir_resample")
    assert(!p.contains("CartesianProduct"), s"cartesian in t29:\n$p")
    // the 1-row totals scalar rides a broadcast nested loop by
    // construction; the B-row bucket table must come back as a
    // broadcast HASH join onto the feature stream — never a shuffle
    // of the corpus against it
    assert("BroadcastNestedLoopJoin".r.findAllMatchIn(p).size <= 1,
      s"unexpected extra nested-loop joins:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"bucket log-ratio table must broadcast:\n$p")
  }

  test("s16 hybrid RRF: no cartesian; only nested-loops are the 1-row tf-idf scalars") {
    val p = plan("s16_hybrid_rrf")
    assert(!p.contains("CartesianProduct"), s"cartesian in s16:\n$p")
    // the tf-idf query-term derivation carries t17's broadcast 1-row
    // corpus-count scalar; qterms feeds two joins (posting filter +
    // per-query fan-out), so that subtree appears twice — every OTHER
    // join must be a hash/merge equi-join
    assert("BroadcastNestedLoopJoin".r.findAllMatchIn(p).size <= 2,
      s"unexpected extra nested-loop joins:\n$p")
    // the vector leg probes the persisted BUCKETED posting table, not
    // a raw embeddings rescan
    assert(p.contains("Bucketed: true"),
      s"vector leg must read the bucketed IVF assignments:\n$p")
  }

  test("s23 tuning grid slices ONE scored-candidate checkpoint: no per-cell probes, no cartesian") {
    val p = plan("s23_adc_tuning")
    assert(!p.contains("CartesianProduct"), s"cartesian in s23:\n$p")
    // 12 grid cells over one localCheckpoint'd scored frame: the plan
    // must carry 12 checkpoint scans (one per cell's rank-filter) and
    // ZERO posting/assignment table scans inside the grid legs — a
    // regression to per-cell probes would re-read the bucketed tables
    // 12 times and re-run the ADC scoring per cell
    assert("ExistingRDD|Scan ExistingRDD".r.findAllMatchIn(p).nonEmpty,
      s"grid legs must read the scored checkpoint:\n$p")
    assert(!p.contains("graft_pqres") || "Scan parquet".r.findAllMatchIn(p)
      .size <= 4, s"grid cells must not re-probe the posting tables:\n$p")
  }

  test("t38 unigram apply: segmentation is one native-expression pass over DISTINCT words, no per-piece joins") {
    val p = plan("t38_unigram_apply")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"non-equi join in t38:\n$p")
    // word token-counts fan back to documents through ONE hash join;
    // the Viterbi is a projection (UnigramViterbi expression), never a
    // join against a piece table. Tree search, not toString — wide
    // projection lists truncate ("... 16 more fields") in plan text.
    val lp = SparkEntry.queries("t38_unigram_apply")(spark, dir)
      .queryExecution.optimizedPlan
    assert(lp.exists(_.expressions.exists(
      _.exists(_.isInstanceOf[graft.plans.UnigramViterbi]))),
      s"native Viterbi expression missing from the plan:\n$lp")
  }

  test("s26 prototype selection: THE centroid join broadcasts (no merge/shuffled join exists), window-limited top-k") {
    val p = plan("s26_prototype_select")
    // single-join query: asserting the absence of every non-broadcast
    // join form pins the centroid join itself, not just "some
    // broadcast somewhere" — the weak-string-match trap
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin") &&
      !p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"the only join in s26 must be the broadcast centroid join:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"centroids must broadcast onto the assignments:\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"per-cell top-k must trim partitions before the final shuffle:\n$p")
  }

  test("d24 capped semdedup: at most the cold all-pairs self-join may merge-join; everything else broadcasts") {
    // AQE-final plan (the DedupSpec discipline): the static plan keeps
    // the 16-row report joins as SMJ until runtime stats convert them
    val df = SparkEntry.queries("d24_semdedup_capped")(spark, dir)
    df.collect() // executes THIS frame's QueryExecution so AQE
    // finalizes it (count() would plan separately and prune the
    // row-preserving outer joins entirely)
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head // the pre-AQE shape would
    // double-count every join the runtime re-planned
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"non-equi join in d24:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"keeper/hot-cid sides must broadcast:\n$p")
    // the CORPUS-SIZED joins are the ones that matter: exactly one
    // vector-scoring join may merge (the cold all-pairs self-join);
    // the keeper join (nCentroids-bounded build side) regressing to a
    // merge join would shuffle the hot corpus leg per probe. The
    // 16-row report joins (grid <- counts/drops) may plan as SMJ —
    // they move nCentroids rows and are shape-irrelevant (d22 has the
    // same tail).
    val scoringMerges = p.linesIterator
      .filter(l => l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin"))
      .count(_.contains("vecdot"))
    assert(scoringMerges <= 1,
      s"only the cold all-pairs self-join may merge-join " +
        s"($scoringMerges vector-scoring merges found):\n$p")
  }

  test("t40 cross-corpus apply: total Viterbi + unk count both ride the distinct-word projection, no per-piece or per-char joins") {
    val p = plan("t40_unigram_crosscorpus")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"non-equi join in t40:\n$p")
    val lp = SparkEntry.queries("t40_unigram_crosscorpus")(spark, dir)
      .queryExecution.optimizedPlan
    assert(lp.exists(_.expressions.exists(
      _.exists(_.isInstanceOf[graft.plans.UnigramViterbi]))),
      s"native Viterbi expression missing from the plan:\n$lp")
    // n_unk is the O(len) OovCount expression in the SAME projection
    // pass — not a re-run of the DP and not an exploded-char join
    assert(lp.exists(_.expressions.exists(
      _.exists(_.isInstanceOf[graft.plans.UnigramOovCount]))),
      s"native OovCount expression missing from the plan:\n$lp")
  }
}
