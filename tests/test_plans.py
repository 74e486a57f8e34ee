"""Physical-plan regression tests — the 100 TB posture, asserted.

Correctness tests prove the operators compute the right answer at small
SF; these prove the PLANS are the ones that survive a 1000-executor
cluster: predicates and projections reach the parquet scan, small dims
broadcast instead of shuffling the fact table, aggregation is
partial+final (map-side combine), top-k never global-sorts, and the LSH
join is an equi-join on the bucket key — never a cartesian product.

A regression that flips any of these still passes value checks at
sf0.01 but is 10-1000× slower at scale; this file is the guard.
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.01"


def plan_of(df) -> str:
    qe = df._jdf.queryExecution()
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return qe.explainString(mode)


@pytest.fixture(scope="module")
def queries():
    return entry_mod.queries()


def test_point_get_pushes_key_predicate(spark, queries):
    plan = plan_of(queries["s1_point_get"](spark, SF_DIR))
    assert "EqualTo(c_custkey,42)" in plan, "rowkey lookup must reach PushedFilters"
    # projection pruning: only the 4 selected columns leave the scan
    assert "ReadSchema: struct<c_custkey:bigint,c_name:string,c_nationkey:int,c_acctbal:double>" in plan


def test_range_scan_prunes_and_pushes(spark, queries):
    plan = plan_of(queries["q6_forecast_revenue"](spark, SF_DIR))
    for pushed in (
        "GreaterThanOrEqual(l_shipdate,",
        "LessThan(l_shipdate,",
        "GreaterThanOrEqual(l_discount,0.05)",
        "LessThan(l_quantity,24.0)",
    ):
        assert pushed in plan, f"missing pushed filter {pushed}"
    assert "ReadSchema: struct<l_quantity:double,l_extendedprice:double,l_discount:double,l_shipdate" in plan, (
        "scan must read only the 4 referenced columns"
    )


def test_dim_joins_broadcast_not_shuffle(spark, queries):
    plan = plan_of(queries["j1_join5_revenue_by_nation"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan, "dimension joins must not shuffle the fact table"
    assert "CartesianProduct" not in plan


def test_groupby_has_mapside_partial_agg(spark, queries):
    plan = plan_of(queries["a1_groupby_rollup_sum"](spark, SF_DIR))
    assert "partial_sum" in plan, "hash agg must combine map-side before the exchange"
    # formatted mode prints each node twice (tree + detail), so count
    # shuffle exchanges by their partitioning argument
    assert plan.count("ENSURE_REQUIREMENTS") == 1, (
        "exactly one shuffle: the final group-by exchange"
    )


def test_topk_never_global_sorts(spark, queries):
    plan = plan_of(queries["o1_topk_orders"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan, (
        "orderBy+limit must plan as per-partition top-k + merge, not a global sort"
    )


def test_lsh_join_is_equi_join(spark, queries):
    plan = plan_of(queries["dedup_minhash_lsh"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan, (
        "LSH candidate join must hash-partition on the band key, never nested-loop"
    )


def test_semi_join_planned_for_exists(spark, queries):
    plan = plan_of(queries["q4_order_priority"](spark, SF_DIR))
    assert "LeftSemi" in plan


def test_events_filter_pushdown_survives_ns_conversion(spark, queries):
    # events.ts is TIMESTAMP(NANOS) read as long; the time-range bound is
    # rewritten onto the raw long so it still prunes at the scan.
    plan = plan_of(queries["f20_events_pushdown_range"](spark, SF_DIR))
    pushed = plan.split("PushedFilters", 1)[1][:300]
    assert "GreaterThanOrEqual(ts," in pushed and "LessThan(ts," in pushed, (
        "time-range predicate must reach the events scan on the raw ns column"
    )


def test_tpch_cyclic_join_q5_broadcasts(spark, queries):
    # Q5's join graph is cyclic (customer.nation == supplier.nation);
    # the supplier+nation+region side must broadcast, never cartesian.
    plan = plan_of(queries["q5_local_supplier_volume"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q21_sole_blame_is_aggregation_not_nested_loop(spark, queries):
    # The EXISTS/NOT-EXISTS pair is planned as one per-order aggregate
    # + semi joins — a nested-loop or cartesian here is the 100 TB
    # killer regression.
    plan = plan_of(queries["q21_waiting_suppliers"](spark, SF_DIR))
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "TakeOrderedAndProject" in plan


def test_q17_correlated_avg_is_preagg_broadcast(spark, queries):
    # The correlated per-part AVG subquery must become a pre-aggregated
    # broadcast join (2000 parts), not a window over the fact table or
    # a shuffle join.
    plan = plan_of(queries["q17_small_qty_revenue"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_q13_left_outer_preserved(spark, queries):
    # Customers with zero qualifying orders must survive (c_count=0
    # bucket): the filtered join must stay LeftOuter, not degrade to
    # inner under filter pushdown.
    plan = plan_of(queries["q13_customer_distribution"](spark, SF_DIR))
    assert "LeftOuter" in plan


def test_funnel_stays_hash_join_no_nested_loop(spark, queries):
    plan = plan_of(queries["funnel_view_click_purchase"](spark, SF_DIR))
    # the final three 1-row count aggregates cross-join (BNLJ over
    # single-row sides is fine); the per-user stage joins must be hash
    # joins and nothing may plan a true cartesian over event rows
    assert "CartesianProduct" not in plan
    assert plan.count("SortMergeJoin") + plan.count("BroadcastHashJoin") + plan.count("ShuffledHashJoin") >= 2
    # event_type filter reaches the scan
    assert "EqualTo(event_type,view)" in plan


def test_repetition_score_is_scan_plus_project_only(spark, queries):
    """The Gopher gates are pure array expressions: no shuffle at all."""
    plan = plan_of(queries["text_repetition_score"](spark, SF_DIR))
    assert "Exchange" not in plan, "repetition signals must not shuffle"
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan


def test_near_keep_victims_broadcast(spark, queries):
    plan = plan_of(queries["dedup_near_keep"](spark, SF_DIR))
    assert "BroadcastHashJoin LeftAnti" in plan, "victim list must broadcast, not shuffle the corpus"


def test_embedding_neardup_never_cartesian(spark, queries):
    """Round-1 scale-killer regression guard: the blocked near-dup must
    equi-join on (band_idx, band_key) — the n²/2 inequality join planned
    as BroadcastNestedLoopJoin/CartesianProduct must never come back."""
    plan = plan_of(queries["dedup_embedding_neardup"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_simhash_pairs_never_cartesian(spark, queries):
    plan = plan_of(queries["dedup_simhash_pairs"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_knn_join_is_equi_join_never_cartesian(spark, queries):
    """Batch k-NN must candidate via the (band_idx, band_key) equi-join;
    a |Q|×|C| cross product must never appear."""
    plan = plan_of(queries["sim_knn_join"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_containment_join_is_shingle_equi_join(spark, queries):
    plan = plan_of(queries["dedup_containment"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ivf_knn_join_no_cartesian(spark, queries):
    """The probe/assign candidate generation must equi-join on the
    centroid id; only the 8-row centroid attach may nested-loop."""
    plan = plan_of(queries["sim_ivf_knn_join"](spark, SF_DIR))
    assert "CartesianProduct" not in plan


def test_chunking_is_single_narrow_stage(spark, queries):
    """Document chunking must be scan → project/explode with ZERO
    exchanges — at 100 TB any shuffle here moves the whole corpus."""
    plan = plan_of(queries["corpus_chunk_overlap"](spark, SF_DIR))
    assert "Exchange" not in plan, plan


def test_redact_pii_is_single_narrow_stage(spark, queries):
    plan = plan_of(queries["corpus_redact_pii"](spark, SF_DIR))
    assert "Exchange" not in plan, plan


def test_vocab_coverage_has_no_window_and_topk_merges(spark, queries):
    """Round-4 shape: the vocabulary head is a distributed top-k
    (TakeOrderedAndProject), and rank/cumsum are a single-row array fold
    over the ≤top_n survivors — the plan must contain NO WindowExec
    (an unpartitioned window would drag the full 10⁷–10⁸-row type table
    to one partition) and must never global-sort the type table."""
    plan = plan_of(queries["corpus_vocab_coverage"](spark, SF_DIR))
    assert "Window" not in plan, "no window may appear in vocab_coverage:\n" + plan
    assert "TakeOrderedAndProject" in plan, (
        "top_n head must plan as a distributed top-k merge:\n" + plan
    )


def test_encode_tokens_vocab_branch_has_no_window(spark, queries):
    """encode_tokens embeds the vocab_coverage head as its broadcast
    side; the round-3 unpartitioned window must not ride back in."""
    plan = plan_of(queries["corpus_encode_tokens"](spark, SF_DIR))
    assert "Window" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_band_key_construction_runs_no_jobs(spark):
    """hyperplane_band_keys must be pure plan construction — it used to
    run df.head() (a full Spark job re-executing the upstream lineage)
    every time a query was merely built.  The planes table now derives
    its dim lazily from limit(1), or from an explicit ``dim``.  (A
    parquet-backed query still pays a schema-inference footer read at
    build time — that is the source, not the operator.)"""
    from hpaste_spark.operators.similarity import hyperplane_band_keys

    df = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0]), (2, [0.5, 0.1, -1.0])], "vec_id long, embedding array<double>"
    )
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or [])
    hyperplane_band_keys(df)
    hyperplane_band_keys(df, dim=3)
    after = len(tracker.getJobIdsForGroup(None) or [])
    assert after == before, f"band-key construction launched {after - before} Spark job(s)"


def test_stored_ivf_index_prunes_cid_partitions(spark, queries):
    """The stored-index IVF query must plan the probe restriction as a
    PARTITION filter on the index's cid layout (dynamic partition
    pruning from the broadcast probe side) — scanning all cid
    partitions would defeat the write-once index."""
    plan = plan_of(queries["sim_ivf_topk_stored"](spark, SF_DIR))
    assert "dynamicpruningexpression" in plan, (
        "probe join must prune cid partitions:\n" + plan
    )
    assert "CartesianProduct" not in plan


def test_stored_ivf_knn_join_prunes_and_scans_once(spark, queries):
    """The stored-index batch k-NN must prune cid partitions AND read
    the vectors table exactly once — scoring carries the embeddings out
    of the pruned scan instead of joining back to the unpruned table."""
    plan = plan_of(queries["sim_ivf_knn_join_stored"](spark, SF_DIR))
    assert "dynamicpruningexpression" in plan, plan
    assert plan.count("vectors]") <= plan.count("dynamicpruning"), (
        "every vectors-table scan must be partition-pruned:\n" + plan
    )
    # only the K-row centroid attach may nested-loop (same allowance as
    # test_ivf_knn_join_no_cartesian)
    assert "CartesianProduct" not in plan


def test_random_projection_is_single_narrow_stage(spark, queries):
    """JL projection must be scan → fold/posexplode with ZERO exchanges
    — at 100 TB any shuffle here moves the whole embedding table."""
    plan = plan_of(queries["vec_random_projection"](spark, SF_DIR))
    assert "Exchange" not in plan, plan


def test_unigram_logprob_vocab_head_no_window(spark, queries):
    """The unigram model head must take the same distributed top-k as
    vocab_coverage — no WindowExec over the unbounded type table."""
    plan = plan_of(queries["text_unigram_logprob"](spark, SF_DIR))
    assert "Window" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_fuzzy_join_blocks_on_deletion_keys_never_nested_loop(spark, queries):
    """The edit-distance self-join must candidate via the deletion-key
    EQUI-join — a levenshtein inequality join would plan a cartesian."""
    plan = plan_of(queries["fuzzy_name_matches"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_containment_has_no_join_at_all(spark, queries):
    """Round-3 shape: pair expansion is per-shingle bucket grouping —
    the plan must contain no join operator of any kind (the old
    self-join recomputed the shingle pipeline twice)."""
    plan = plan_of(queries["dedup_containment"](spark, SF_DIR))
    assert "Join" not in plan, plan


def test_funnel_fold_is_join_free(spark, queries):
    """Round-4 shape: the k-step funnel is one user-keyed fold — the
    plan must contain NO join (the naive chain is k self-joins) and no
    unpartitioned window."""
    plan = plan_of(queries["funnel_ordered_steps"](spark, SF_DIR))
    assert "Join" not in plan, plan
    assert "Window" not in plan, plan


def test_bm25_topk_never_global_sorts(spark, queries):
    plan = plan_of(queries["text_bm25_topk"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan, plan


def test_equifreq_bins_no_window_at_all(spark, queries):
    """Equal-frequency binning must plan as percentile-agg + broadcast,
    never an NTILE window (global sort on a single partition)."""
    plan = plan_of(queries["prof_equifreq_bins"](spark, SF_DIR))
    assert "Window" not in plan, plan


def test_pagerank_no_cartesian(spark, queries):
    """Every join in the 3-iteration plan is keyed (rank-onto-edges) or
    a single-row scalar broadcast — never CartesianProduct."""
    plan = plan_of(queries["graph_pagerank_supplier_customer"](spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan


def test_weighted_sample_global_topk(spark):
    from hpaste_spark.operators.sampling import weighted_sample

    df = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = weighted_sample(
        df.select("doc_id", "n_chars"), k=5, weight_col="n_chars", id_col="doc_id"
    )
    assert "TakeOrderedAndProject" in plan_of(out)


def test_resample_spine_join_is_keyed(spark, queries):
    plan = plan_of(queries["ts_resample_gapfill"](spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan


def test_session_paths_takeordered_head(spark, queries):
    plan = plan_of(queries["sess_top_paths"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan, plan


def test_pca_no_cartesian(spark, queries):
    """Power-iteration crossJoins are all single-row broadcast arrays
    (mean / vector / norm) — never CartesianProduct."""
    plan = plan_of(queries["vec_pca_top_component"](spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan


def test_drift_psi_windows_only_above_bin_aggregate(spark, queries):
    """prof_drift_psi (r14): the side totals are unpartitioned windows
    over the n_bins-row full-join of the two bin-count AGGREGATES —
    never over the corpus: walked on the physical plan, every Window
    node has a HashAggregate in its child subtree."""
    df = queries["prof_drift_psi"](spark, SF_DIR)
    assert "HashAggregate" in plan_of(df)

    def children(node):
        # AQE wraps the plan (and, after execution, each query stage):
        # descend into the wrapped plan
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            return [node.executedPlan()]
        if name.endswith("QueryStage"):
            return [node.plan()]
        kids = node.children()
        return [kids.apply(i) for i in range(kids.size())]

    def subtree_names(node):
        out = [node.nodeName()]
        for c in children(node):
            out += subtree_names(c)
        return out

    def windows(node):
        here = [node] if node.nodeName() == "Window" else []
        return here + [w for c in children(node) for w in windows(c)]

    # structural: every Window's input is a bin-count AGGREGATE, never
    # the corpus scan itself
    found = windows(df._jdf.queryExecution().executedPlan())
    assert found, "prof_drift_psi plans no Window"
    for w in found:
        below = [n for c in children(w) for n in subtree_names(c)]
        assert "HashAggregate" in below, below


def test_basket_lift_never_self_joins_baskets(spark, queries):
    """Pair expansion must be the bucket-grouped array explode: the
    only joins are the broadcast marginals, so the basket table's scan
    appears exactly twice (item counts + baskets), not three times."""
    plan = plan_of(queries["basket_brand_lift"](spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan


def test_pca_two_components_no_cartesian(spark, queries):
    plan = plan_of(queries["vec_pca_two_components"](spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan


def test_decay_mean_window_free(spark, queries):
    plan = plan_of(queries["ts_decay_weighted_mean"](spark, SF_DIR))
    assert "Window" not in plan, plan


def test_lsh_eval_no_cartesian(spark, queries):
    plan = plan_of(queries["dedup_lsh_eval"](spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan


def test_no_registry_query_plans_a_cartesian_product(spark, queries):
    """Blanket by-construction guard over the WHOLE registry: no query
    may plan a CartesianProduct, ever.  The targeted tests above pin
    specific operators' shapes; this one makes the property hold for
    every FUTURE query too — a new entry that pairs rows without a key
    fails here before any driver round sees it.  (Single-row-broadcast
    BroadcastNestedLoopJoin constant-attach plans remain allowed; a
    true cartesian never is.)  No query RESULT executes, but building
    registry DataFrames does run a few small eager jobs (df.count()
    for auto-k derivation, 1-row .first() probes for dim inference,
    the single-query guards) and one-time stored-index builds under
    .scratch — cheap, not free."""
    offenders = {}
    for name, fn in queries.items():
        plan = plan_of(fn(spark, SF_DIR))
        if "CartesianProduct" in plan:
            offenders[name] = True
    assert not offenders, f"cartesian plans: {sorted(offenders)}"


def test_centroid_dim_broadcast_gated_on_k_times_d(spark):
    """Round-5 verdict fix: under the auto-k contract the centroid-dim
    table is ~n·d/512 rows — linear in the corpus — so a FORCED
    F.broadcast in ivf_assign/two_level_assign is a guaranteed OOM at
    design scale.  Prove both directions of the k·d gate with
    autoBroadcastJoinThreshold disabled (so only an explicit hint can
    produce a broadcast): below the ceiling the hint stays (broadcast
    join), above it the plan degrades to a shuffle join on the dim key
    — same rows either way."""
    from pyspark.sql import functions as F

    import hpaste_spark.operators.similarity as sim

    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        cents = sim.ivf_centroids(emb, 8)
        dim = sim._vec_dim(emb, "embedding")
        hinted = sim.ivf_assign(emb, cents, n_dim_rows=8 * dim)
        assert "BroadcastHashJoin" in plan_of(hinted), "small k*d must keep the hint"
        # forced-large-k configuration: k*d above the (monkeypatched)
        # ceiling — the hint must drop and the join must shuffle
        sim.BROADCAST_DIM_ROWS, saved = 8 * dim - 1, sim.BROADCAST_DIM_ROWS
        try:
            gated = sim.ivf_assign(emb, cents, n_dim_rows=8 * dim)
            gplan = plan_of(gated)
            assert "BroadcastHashJoin" not in gplan, gplan
            assert "SortMergeJoin" in gplan or "ShuffledHashJoin" in gplan, gplan
            # r6 advice: the degraded flat join must be SALTED — bare
            # pos has only d distinct values, capping reduce
            # parallelism at d; the salt widens the key space to d·P
            assert "_salt" in gplan, gplan
            # and the degraded plan still computes the same assignment
            a = {r["vec_id"]: r["cid"] for r in hinted.collect()}
            b = {r["vec_id"]: r["cid"] for r in gated.collect()}
            assert a == b
            # two_level_assign under a gate BOTH levels cross (k1·d and
            # k1·k2·d above it): every centroid-dim hint must drop —
            # sub-level joins shuffle on (cid1, pos) — and it still runs
            sim.BROADCAST_DIM_ROWS = 100
            tl = sim.two_level_assign(emb, 3, 3)
            tplan = plan_of(tl)
            assert "BroadcastHashJoin" not in tplan, tplan
            assert tl.count() == emb.count()
        finally:
            sim.BROADCAST_DIM_ROWS = saved
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_stored_two_level_cells_restriction_prunes_cid1_partitions(spark):
    """A cells-restricted run of the stored hierarchical SemDeDup must
    plan the restriction as PARTITION pruning on the index's cid1
    layout (dynamicpruningexpression from the broadcast cells side) —
    the 100 TB contract: dedup one coarse cell reads one partition,
    never the full stored corpus."""
    import __spark_entry__ as em
    from hpaste_spark.operators.dedup import semantic_dedup_two_level_stored

    idx = em._two_level_index(spark, SF_DIR)
    # realistic cells selection: coarse cells picked by a predicate on
    # the stored centroids table (a selective build side, which is what
    # lets the DPP rule fire; a bare literal list would be a static
    # PartitionFilter instead)
    from pyspark.sql import functions as F

    cells = (
        spark.read.parquet(os.path.join(idx, "centroids"))
        .filter(F.col("cid1").isin(0, 2))
        .select("cid1")
    )
    restricted = semantic_dedup_two_level_stored(
        spark, idx, threshold=0.4, cells=cells
    )
    plan = plan_of(restricted)
    assert "dynamicpruningexpression" in plan, plan
    assert "CartesianProduct" not in plan
    # and the restricted kept-set equals the full run filtered to the
    # same coarse cells (k2=3 -> cells 0,2 are cids {0,1,2,6,7,8})
    full = semantic_dedup_two_level_stored(spark, idx, threshold=0.4)
    want = sorted(
        r["vec_id"] for r in full.collect() if r["cid"] // 3 in (0, 2)
    )
    got = sorted(r["vec_id"] for r in restricted.collect())
    assert got == want


def test_bloom_membership_broadcasts_bits_never_shuffles_probe_to_sort(spark, queries):
    """decontaminate_bloom (r13 mask form): the bit table compresses to
    a ONE-ROW bloom_mask word array attached by a single-row broadcast
    cross join whose join CONDITION is the k-probe bit test — the
    corpus-sized probe side is never shuffled, never equi-joined, and
    never sort-merged; its only exchange is the final per-doc count
    over the flagged rows."""
    plan = plan_of(queries["decontaminate_bloom"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan  # one-row mask attach
    assert "_mask" in plan and "shiftright" in plan  # in-row bit test
    assert "BroadcastHashJoin" not in plan  # no per-bit equi-join left
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_stored_bloom_broadcasts_read_bits_and_skips_benchmark_pass(spark, queries):
    """decontaminate_bloom_stored: the artifact's bit table arrives by
    a parquet READ (no benchmark gram pass in the plan — exactly one
    parquet source, the corpus), packs into the one-row bloom_mask,
    and the probe side never sort-merges."""
    plan = plan_of(queries["decontaminate_bloom_stored"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan
    assert "_mask" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    # sources: documents (corpus) + the artifact's bits parquet — the
    # benchmark text is never re-read (formatted mode prints each scan
    # in tree + detail, so each distinct scan appears twice)
    assert plan.count("Scan parquet") <= 4, plan


def test_lcs_and_mask_broadcast_benchmark_and_window_per_diagonal(spark, queries):
    """decontaminate_lcs / decontaminate_mask: the benchmark's
    positional gram table must be the BROADCAST side (the corpus
    streams through the equi-join), and every Window must be
    partitioned (the island row_number runs per (doc, bench,
    diagonal)) — no Exchange SinglePartition anywhere: a global window
    over corpus-sized hits would be the scale-killer."""
    for name in ("decontaminate_lcs", "decontaminate_mask"):
        plan = plan_of(queries[name](spark, SF_DIR))
        assert "BroadcastHashJoin" in plan, name
        assert "CartesianProduct" not in plan, name
        assert "Exchange SinglePartition" not in plan, (name, plan)


def test_exact_substr_blocked_candidacy_no_cartesian(spark, queries):
    """dedup_exact_substr_pairs / _mask (corpus-self ExactSubstr): the
    candidate stage must be an EQUI-join on the 10-gram hash — never a
    cartesian or nested-loop pass over doc pairs — with the
    occurrence-cap window riding the same gram-hash partitioning
    (blocked candidacy: fan-out per gram is capped, so no all-pairs
    expansion exists anywhere in the plan), and every island window
    partitioned per (id_a, id_b, diag) — no single-partition stage."""
    for name in ("dedup_exact_substr_pairs", "dedup_exact_substr_mask"):
        plan = plan_of(queries[name](spark, SF_DIR))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "Exchange SinglePartition" not in plan, (name, plan)
        # the candidate stage must be a HASH-equi join on the gram key
        # (at fixture size Catalyst rightly broadcasts the tiny gram
        # table; at corpus stats the same plan shape shuffles on g —
        # what's pinned here is that an equi-join EXISTS, i.e. the
        # blocking key reached Catalyst as a join condition)
        assert (
            "SortMergeJoin" in plan
            or "ShuffledHashJoin" in plan
            or "BroadcastHashJoin" in plan
        ), name


def test_mm_near_frames_band_blocked_never_all_pairs(spark, queries):
    """mm_near_frames: candidates must reach the Hamming verify through
    the (band_idx, band_key) equi-join — no cartesian / nested-loop
    doc-pair expansion anywhere, no single-partition stage (the
    signature fold is a narrow projection; banding is an explode +
    hash join)."""
    plan = plan_of(queries["mm_near_frames"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Exchange SinglePartition" not in plan, plan
    assert (
        "SortMergeJoin" in plan
        or "ShuffledHashJoin" in plan
        or "BroadcastHashJoin" in plan
    )


def test_dedup_lines_two_bounded_shuffles_no_pairs(spark, queries):
    """dedup_lines: boilerplate detection and reassembly are plain
    hash-partitioned aggregations/joins (line key, then doc key) —
    no pair expansion, no cartesian, no single-partition stage."""
    plan = plan_of(queries["dedup_lines"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "Exchange SinglePartition" not in plan
    # the boilerplate anti-join keeps the left-anti shape (a survivor
    # row is never multiplied by how often its line repeats elsewhere)
    assert "LeftAnti" in plan


def test_quality_threshold_is_two_phase_no_corpus_window(spark, queries):
    """filter_quality_threshold: the per-source threshold attaches via
    a broadcast join, and every Window in the plan runs ABOVE an
    aggregate (the tiny (source, score) table), never over the raw
    documents scan — the whole point of the two-phase plan."""
    plan = plan_of(queries["filter_quality_threshold"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # the only sorts feeding windows must sit above a HashAggregate:
    # cheap proxy — the plan's Window input chain includes an agg, and
    # there is exactly ONE scan-sized exchange feeding the counts agg
    assert "HashAggregate" in plan
    # counts/totals/threshold derivations + the filter pass; formatted
    # mode prints tree+detail so each physical scan appears twice.
    # All threshold-phase scans are column-pruned to (source, quality)
    # aggregations — the corpus-width pass happens exactly once.
    assert plan.count("Scan parquet") <= 8


def test_length_quantiles_window_above_aggregate_only(spark, queries):
    """prof_length_quantiles: both windows (cumulative + total) must
    run over the (source, length, count) AGGREGATE — bounded by the
    length domain — never over the raw corpus, and nothing funnels
    through a single partition (the percent_rank-per-source plan this
    replaces would)."""
    plan = plan_of(queries["prof_length_quantiles"](spark, SF_DIR))
    assert "HashAggregate" in plan
    assert "Exchange SinglePartition" not in plan, plan
    assert "CartesianProduct" not in plan
    # one corpus scan only (formatted mode prints tree + detail)
    assert plan.count("Scan parquet") <= 2, plan


def test_rerank_stays_compressed_until_the_shortlist(spark, queries):
    """sim_ivfadc_rerank: the full-precision embedding column must join
    AFTER the shortlist (broadcast/equi join), never a second corpus
    ranking — the plan ends in one tiny global window over ≤ R rows."""
    plan = plan_of(queries["sim_ivfadc_rerank"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    # the shortlist stage keeps the distributed top-k shape
    assert "TakeOrderedAndProject" in plan


def test_hard_negatives_blocks_on_band_keys(spark, queries):
    plan = plan_of(queries["sim_hard_negatives"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "band_idx" in plan and "band_key" in plan


def test_mixture_planner_is_one_corpus_agg_plus_scalars(spark, queries):
    """mix_epoch_budget: corpus work is ONE aggregation; the scalar
    attaches are single-row broadcasts (the allowed BNLJ pattern)."""
    plan = plan_of(queries["mix_epoch_budget"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "partial_sum" in plan


def test_cdc_dedup_doc_local_window_no_pairs(spark, queries):
    """dedup_cdc: the chunk-id prefix sum is a PER-DOC window (never a
    global sort — Exchange SinglePartition would serialize the corpus),
    the boilerplate removal keeps the left-anti shape, and nothing
    expands pairs."""
    plan = plan_of(queries["dedup_cdc"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "Exchange SinglePartition" not in plan
    assert "LeftAnti" in plan
    # the window exists and is doc-partitioned
    assert "Window" in plan


def test_cdc_shift_grader_no_global_stage(spark, queries):
    """dedup_cdc_shift: four chunking passes + per-doc recovery joins —
    all keyed by (doc, variant) or (doc, chunk); the only single-
    partition stages are the two 1-row final aggregates."""
    plan = plan_of(queries["dedup_cdc_shift"](spark, SF_DIR))
    assert "CartesianProduct" not in plan


def test_distinct_ngrams_keyed_aggs_only(spark, queries):
    """corpus_distinct_ngrams: countDistinct rewrites to the two-phase
    expand+agg keyed on (source, n) — no single-partition exchange, no
    join at all."""
    plan = plan_of(queries["corpus_distinct_ngrams"](spark, SF_DIR))
    assert "Exchange SinglePartition" not in plan
    assert "CartesianProduct" not in plan


def test_source_overlap_broadcast_totals_bounded_fanout(spark, queries):
    """corpus_source_overlap: the per-source gram totals attach via
    BROADCAST joins (≤|sources| rows each); the gram-keyed self-join
    is an equi-join (never cartesian), and nothing funnels through a
    single partition."""
    plan = plan_of(queries["corpus_source_overlap"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "Exchange SinglePartition" not in plan


def test_fertility_single_keyed_agg(spark, queries):
    """text_fertility_by_lang: one lang-keyed hash-agg, no join, no
    window, no single-partition stage."""
    plan = plan_of(queries["text_fertility_by_lang"](spark, SF_DIR))
    assert "Exchange SinglePartition" not in plan
    assert "Window" not in plan
    assert "Join" not in plan


def test_incremental_lsh_stored_probe_reads_stored_bands(spark, queries):
    """dedup_incremental_lsh_stored: the corpus side of the band join
    must be the STORED parquet artifact (no corpus re-signature — the
    whole point of the write-once index), and the only documents scan
    is the batch side signing itself."""
    df = queries["dedup_incremental_lsh_stored"](spark, SF_DIR)
    plan = plan_of(df)
    assert ".scratch/lsh_index" in plan, "probe must read the stored band table"
    assert plan.count("documents.parquet") == 1, (
        "only the batch side may scan documents; the corpus comes from "
        "the stored bands"
    )
    assert "CartesianProduct" not in plan


def test_incremental_lsh_appended_probe_reads_stored_bands(spark, queries):
    """dedup_incremental_lsh_appended: the probe against the APPEND-
    refreshed artifact has the same shape as the write-once one — the
    corpus side is the stored band parquet (old + appended files), the
    only documents scan is the batch signing itself."""
    df = queries["dedup_incremental_lsh_appended"](spark, SF_DIR)
    plan = plan_of(df)
    assert ".scratch/lsh_index_appended" in plan, (
        "probe must read the appended band artifact"
    )
    assert plan.count("documents.parquet") == 1, (
        "only the batch side may scan documents; the corpus comes from "
        "the stored bands"
    )
    assert "CartesianProduct" not in plan


def test_ivf_appended_probe_still_partition_prunes(spark, queries):
    """sim_ivf_knn_join_appended: appended delta files land INSIDE the
    existing cid= partition directories, so the probe's dynamic
    partition pruning survives the refresh — the plan still carries a
    dynamicpruningexpression on the vectors scan and reads the stored
    index, with only the query batch scanning embeddings."""
    df = queries["sim_ivf_knn_join_appended"](spark, SF_DIR)
    plan = plan_of(df)
    assert "dynamicpruning" in plan.lower(), (
        "append must not break probe-side partition pruning"
    )
    assert ".scratch/ivf_index_appended" in plan
    assert "CartesianProduct" not in plan


def test_append_lsh_delta_signs_only_new_docs(spark, queries):
    """append_lsh_index never rescans the pre-existing corpus: the
    delta band relation it writes (exposed via append_lsh_delta_bands)
    references ONLY the new docs — one documents scan, zero reads of
    the stored bands (geometry arrives via the collected 1-row meta,
    not a join)."""
    from hpaste_spark.operators.dedup import append_lsh_delta_bands

    # the registry's appended artifact (already built+refreshed)
    import __spark_entry__ as E

    path = E._ensure_lsh_index_appended(spark, SF_DIR)
    new_docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .filter("length(trim(text)) > 0 AND doc_id % 10 = 0")
    )
    delta, meta = append_lsh_delta_bands(spark, path, new_docs)
    plan = plan_of(delta)
    assert plan.count("documents.parquet") == 1, (
        "the delta must sign only the new docs"
    )
    assert "lsh_index_appended" not in plan, (
        "the stored bands must not appear in the delta plan — the old "
        "corpus is never re-signed"
    )
    assert meta["version"] == 2


def test_hdr_rollup_single_scan_expand(spark, queries):
    """sketch_hdr_rollup builds the per-type AND the ALL sketch from
    ONE events scan (explode-to-two-rows Expand + a single partial/
    final hash-agg) — the union-of-relabeled-sketches form silently
    rescanned events twice (no ReusedExchange; measured round 9)."""
    plan = plan_of(queries["sketch_hdr_rollup"](spark, SF_DIR))
    assert plan.count("events.parquet") == 1, "ALL level must not rescan"
    assert "CartesianProduct" not in plan


def test_ngram_novelty_one_scan_no_join(spark, queries):
    """prof_ngram_novelty: one documents scan; the first-occurrence
    attribution is a window over the SAME gram-keyed shuffle the
    distinct already paid for, plus the final doc-keyed agg — never a
    join back onto the corpus."""
    plan = plan_of(queries["prof_ngram_novelty"](spark, SF_DIR))
    assert plan.count("documents.parquet") == 1
    assert "Join" not in plan
    assert "Exchange SinglePartition" not in plan
    assert "CartesianProduct" not in plan


def test_weighted_jaccard_materializes_shared_set_table(spark, queries):
    """dedup_weighted_jaccard: the (doc, key) set table and the
    weighted table are persisted DISK_ONLY (r10 measured decision —
    localCheckpoint OOM'd the default heap at 30× and ran 2× slower
    with memory; SCALE.md), so every consuming branch reads an
    InMemoryTableScan of the cached relations and the corpus scan
    appears only INSIDE the cached set table's own once-executed
    lineage — not once per branch (first audit measured 18
    re-derivations of the shingle explode)."""
    plan = plan_of(queries["dedup_weighted_jaccard"](spark, SF_DIR))
    assert plan.count("documents.parquet") <= 2, (
        "branches must read the persisted set tables, not re-derive "
        "the corpus lineage per branch"
    )
    assert "InMemoryTableScan" in plan
    assert "CartesianProduct" not in plan
    assert "Exchange SinglePartition" not in plan


def test_kmv_kway_never_rescans_corpus(spark, queries):
    """sketch_kmv_union_kway: estimator work is bounded by the sketch
    table and the grader by the materialized hash table — the FINAL
    plan contains zero corpus scans and no cartesian expansion."""
    plan = plan_of(queries["sketch_kmv_union_kway"](spark, SF_DIR))
    assert plan.count("documents.parquet") == 0
    assert "CartesianProduct" not in plan


def test_kmv_overlap_never_rescans_corpus(spark, queries):
    """sketch_kmv_overlap: the sketch and grader tables are
    materialized once, so the FINAL plan contains zero corpus scans —
    every intersection branch reads the ≤ k-rows-per-group sketch
    (first audit measured 8 corpus re-derivations)."""
    plan = plan_of(queries["sketch_kmv_overlap"](spark, SF_DIR))
    assert plan.count("documents.parquet") == 0
    assert "CartesianProduct" not in plan


def test_semantic_dedup_single_assignment_pass(spark, queries):
    """r13 §7: the SemDeDup keep rule consumes the assigned corpus
    THREE times (pair sides a and b, the kept-set anti-join) — the
    assignment chain must be checkpoint-cut so the final plan contains
    zero embeddings scans (the cut's once-executed lineage holds the
    only one) instead of one full cluster+assign replay per consumer
    (first audit: 42 scans / 66 Exchanges in the two-level plan)."""
    for q in ("dedup_semantic", "dedup_semantic_2level", "dedup_semantic_autok"):
        plan = plan_of(queries[q](spark, SF_DIR))
        assert plan.count("embeddings.parquet") == 0, q
        assert "CartesianProduct" not in plan, q


def test_frame_pair_selfjoins_read_cut_not_corpus(spark, queries):
    """r13 §7: the frame-signature/band-key table feeds both self-join
    sides; with the cut the FINAL plan re-reads the materialized table
    instead of re-running the frame-sample + signature pass per side
    (first audit: 4 documents scans in mm_near_frames)."""
    for q in ("mm_near_frames", "mm_shared_frames", "mm_shared_frame_run"):
        plan = plan_of(queries[q](spark, SF_DIR))
        assert plan.count("documents.parquet") == 0, q
        assert "CartesianProduct" not in plan, q


def test_exact_substr_gram_table_cut_once(spark, queries):
    """r13 §7: _self_run_islands' (id, pos, gram) table feeds both
    self-join sides — the cut leaves at most the mask/totals rebuild
    scans in the final plan, never a second tokenize+md5 gram pass
    (first audit: pairs read the corpus twice)."""
    plan = plan_of(queries["dedup_exact_substr_pairs"](spark, SF_DIR))
    assert plan.count("documents.parquet") == 0
    plan = plan_of(queries["dedup_exact_substr_mask"](spark, SF_DIR))
    assert plan.count("documents.parquet") <= 4


def test_bloom_mask_coalesce_gated_on_deduped_bits_and_geometry(spark):
    """bloom_mask's single-task build shortcut (r13) must fire ONLY
    when the bits relation is declared already-deduped (provably
    ≤ m_bits rows) AND the geometry is small (m_bits ≤ 2^20) — an
    in-plan distinct=False lineage carries one row per (blocklist
    value × k probes), so coalescing IT to one task would serialize
    the whole md5 + bit projection on a large blocklist (r13 ADVICE),
    and a big-geometry build must keep the parallel word-OR.  The
    three masks are the identical single row either way."""
    from pyspark.sql import functions as F

    from hpaste_spark.operators.dedup import bloom_bits, bloom_mask

    vals = spark.range(500).select(F.concat(F.lit("v"), F.col("id")).alias("g"))
    deduped = bloom_bits(vals, "g", m_bits=16384, k_hashes=3)  # distinct=True
    raw = bloom_bits(vals, "g", m_bits=16384, k_hashes=3, distinct=False)

    plan_small_deduped = plan_of(bloom_mask(deduped, 16384))
    assert "Coalesce" in plan_small_deduped, plan_small_deduped

    plan_raw = plan_of(bloom_mask(raw, 16384, bits_distinct=False))
    assert "Coalesce" not in plan_raw, plan_raw

    big = bloom_bits(vals, "g", m_bits=1 << 21, k_hashes=3)
    plan_big = plan_of(bloom_mask(big, 1 << 21))
    assert "Coalesce" not in plan_big, plan_big

    m_ser = bloom_mask(deduped, 16384).collect()[0]["_mask"]
    m_par = bloom_mask(raw, 16384, bits_distinct=False).collect()[0]["_mask"]
    assert m_ser == m_par


def test_kmv_bottom_k_has_map_side_partial_window_group_limit(spark, queries):
    """kmv_sketch's per-group bottom-k (row_number <= k over (grp
    ORDER BY h)) must keep Spark's two-level WindowGroupLimit shape: a
    PARTIAL limit below the grp exchange (each map task forwards at
    most k rows per group) and a FINAL one above, so the global
    exchange carries <= k x n_map_partitions rows per group instead of
    the group's full distinct-hash set and the per-group sort stays
    bounded (VERDICT r13 ask #4 — the salted two-level rewrite is
    unnecessary while this engine shape holds).  Guard condition: the
    sketch k (256) must stay <= spark.sql.optimizer.windowGroupLimit-
    Threshold (default 1000) or the optimizer silently drops the
    partial level — this test is the tripwire."""
    plan = plan_of(queries["sketch_kmv_distinct"](spark, SF_DIR))
    # formatted mode prints the tree then one numbered section per
    # node: two WindowGroupLimit nodes = Partial + Final
    n_wgl = sum(
        1 for line in plan.splitlines()
        if line.strip().startswith("(") and "WindowGroupLimit" in line
    )
    assert n_wgl >= 2, plan
    # the Partial node must sit BELOW the exchange: in the tree render,
    # a WindowGroupLimit line indented under Exchange
    tree = plan.split("\n\n")[0]
    lines = tree.splitlines()
    ex_idx = [i for i, l in enumerate(lines) if "Exchange" in l and "Broadcast" not in l]
    wgl_idx = [i for i, l in enumerate(lines) if "WindowGroupLimit" in l]
    assert any(w > e for e in ex_idx for w in wgl_idx), tree


def test_drift_monitor_exact_leg_has_partial_window_group_limit(spark, queries):
    """The drift monitors' exact-truth top-k (budget x corpus scored
    rows through a qid-keyed window) must keep the map-side Partial
    WindowGroupLimit below its exchange — the two-level top-k VERDICT
    r13 ask #3 requires; with it the qid exchange carries <= k rows
    per (qid, map partition), never the scored relation."""
    plan = plan_of(queries["sim_pq_drift_recall"](spark, SF_DIR))
    n_wgl = sum(
        1 for line in plan.splitlines()
        if line.strip().startswith("(") and "WindowGroupLimit" in line
    )
    assert n_wgl >= 2, plan


def test_session_confs_produce_shuffled_hash_join(spark, queries):
    """The r13 join-preference confs (preferSortMergeJoin=false + AQE
    maxShuffledHashJoinLocalMapThreshold=128m) must actually surface in
    plans: split_leakage_eval's cluster-keyed joins planned 6 SHJs in
    the r14 audit.  Pins SHJ adoption (VERDICT r13 ask #6) so a session
    regression can't silently fall back to all-SMJ.  At sf0.01 the
    static chooser's 3x-smaller size condition does not hold (both
    sides tiny and near-equal), so this pins the sf0.1 plan — planning
    only, nothing executes."""
    assert spark.conf.get("spark.sql.join.preferSortMergeJoin") == "false"
    plan = plan_of(queries["split_leakage_eval"](spark, "/root/testdata/sf0.1"))
    assert "ShuffledHashJoin" in plan, plan
