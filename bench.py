"""Benchmark harness (driver contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is forced through the noop sink so the full plan executes
(collect() would bottleneck on driver materialization and understate
scan/agg cost).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "a1_groupby_rollup_sum",
    "j1_join5_revenue_by_nation",
    "o1_topk_orders",
    "w2_topn_per_group",
    "tw_tumbling_1h",
    "m8_increment_rollup",
    "json_props_extract",
    "dedup_exact",
    "text_token_stats",
    "text_fingerprint",
    "sim_cosine_topk",
    "dedup_minhash_lsh",
    "sim_ann_lsh_topk",
    "tw_sliding_1h_30m",
    "q6_forecast_revenue",
    "q18_large_orders",
    "q19_bracket_predicates",
    "q5_local_supplier_volume",
    "q13_customer_distribution",
    "q21_waiting_suppliers",
    "sim_ivf_topk",
    "f20_events_pushdown_range",
    "asof_click_attribution",
    "range_join_click_windows",
    # round 2 additions: retrieval + skew + packing scale paths
    "sim_knn_join",
    "sim_ivf_knn_join",
    "dedup_containment",
    "skew_salted_rollup",
    "skew_salted_join",
    "pack_token_budget",
    # round 3 additions: corpus-prep stages + the end-to-end composite
    "corpus_chunk_overlap",
    "corpus_vocab_coverage",
    "corpus_redact_pii",
    "pipe_prepare_training_data",
    # round 4 additions: ingest-shape dedup + stored-index ANN +
    # LM-filter scoring + embedding compression
    "dedup_incremental_lsh",
    "sim_ivf_topk_stored",
    "sim_ivf_knn_join_stored",
    "text_unigram_logprob",
    "vec_random_projection",
    "dedup_repeated_ngrams",
    "corpus_bpe_merges",
    "fuzzy_name_matches",
    # round 4, second batch: semantic dedup, temperature mixing, and
    # the profiling/diagnostic utilities
    "dedup_semantic",
    "mix_temperature_sample",
    "prof_table_stats",
    "skew_key_report",
    # round 4, third batch: retrieval, analytics, graph, sampling
    "text_bm25_topk",
    "funnel_ordered_steps",
    "dedup_winnow_overlap",
    "ts_rolling_range",
    "graph_pagerank_supplier_customer",
    "split_weighted_sample",
    # round 4, final batch: spectral, QA, and decay aggregates
    "vec_pca_two_components",
    "dedup_lsh_eval",
    "ts_decay_weighted_mean",
    # round 5: auto-k semantic dedup, PQ compression + ADC search,
    # bigram-backoff LM scoring, Gopher gates
    "dedup_semantic_autok",
    "vec_pq_encode",
    "sim_pq_topk",
    "text_bigram_backoff",
    "text_gopher_rules",
    # round 5, second batch: composed IVFADC + hierarchical SemDeDup
    # + stored PQ index
    "sim_ivf_pq_topk",
    "dedup_semantic_2level",
    "sim_pq_topk_stored",
    "sim_ivfadc_residual_topk",
    "sim_ivfadc_topk_stored",
    # round 6: stored hierarchical SemDeDup + the ANN recall graders,
    # benchmark decontamination, corpus/embedding diagnostics
    "dedup_semantic_2level_stored",
    "sim_pq_recall",
    "sim_ivfadc_recall",
    "sim_matryoshka_recall",
    "decontaminate_ngram",
    "text_zipf_slope",
    "prof_embedding_stats",
    "sim_sq8_recall",
    "vec_kmeans_lloyd",
    "text_perplexity_bucket",
    "dsir_importance_weights",
    "sim_ivf_recall",
    "sim_lsh_recall",
    "mm_shared_frames",
    "text_langid_eval",
    "pipe_target_corpus",
    "text_quality_vs_lm",
    "filter_quality_threshold",
    "pack_shard_manifest",
    "sim_ivfadc_rerank",
    "sim_hard_negatives",
    "decontaminate_bloom",
    "bloom_fp_eval",
    "mix_epoch_budget",
    "dedup_cross_source_matrix",
    "pipe_export_manifest",
    "dedup_minhash_est_error",
    "prof_quality_token_curve",
    # round 7: hierarchical auto-k routing + training, sub-document
    # dedup, LCS decontamination (flag + excise), stored bloom
    "dedup_lines",
    "decontaminate_lcs",
    "decontaminate_mask",
    "decontaminate_bloom_stored",
    "vec_kmeans_two_level",
    "sketch_cms_token_counts",
    "prof_source_report",
    "dedup_lines_keep_first",
    # round 7, second batch: content-defined chunk dedup + diversity
    "dedup_cdc",
    "dedup_cdc_shift",
    "corpus_distinct_ngrams",
    "corpus_source_overlap",
    "text_fertility_by_lang",
    # round 7, third batch: oracle-twinned streaming registry queries —
    # each drains a file-source replay inside the callable, so the
    # timing includes the micro-batch harness (that's the point)
    "stream_decontaminate_bloom",
    "stream_dedup_exact",
    "stream_tw_tumbling",
    "stream_session_window",
    # round 7, third batch: dedup-aware eval split (cluster-keyed cut)
    # + global-dedup token savings attribution
    "split_leakage_eval",
    "prof_dedup_savings",
    # round 8: corpus-self ExactSubstr (detect + excise), edit-distance
    # verify, perceptual + temporal frame dedup, the set-form source
    # overlap (already listed above), and two more gated streams
    "dedup_exact_substr_pairs",
    "dedup_exact_substr_mask",
    "dedup_edit_distance",
    "mm_near_frames",
    "mm_shared_frame_run",
    "stream_incremental_dedup",
    "stream_ss_asof_attribution",
    "stream_asof_enrich",
    "prof_exact_substr_savings",
    # round 9: stored-geometry LSH ingest probe, mergeable quantile
    # sketch, multi-batch streaming replays, band-entropy diagnostic
    "dedup_incremental_lsh_stored",
    "sketch_hdr_quantiles",
    "sketch_hdr_band_eval",
    "prof_band_entropy",
    "stream_tw_tumbling_multibatch",
    "stream_ss_asof_multibatch",
    "sketch_hdr_rollup",
    "stream_sketch_hdr",
    "sketch_hdr_drift",
    # round 9, second batch: curriculum novelty, weighted near-dup,
    # k-center coreset + coverage, KMV set-algebra sketches (batch +
    # streamed), merging session state across real micro-batches
    "prof_ngram_novelty",
    "dedup_weighted_jaccard",
    "mix_kcenter_coreset",
    "mix_kcenter_assign",
    "sketch_kmv_distinct",
    "sketch_kmv_overlap",
    "sketch_kmv_union",
    "stream_sketch_kmv",
    "stream_session_window_multibatch",
    # round 10: incremental standing artifacts (probe timing — the
    # build+append is a PREBUILD one-time job), k-way KMV algebra,
    # checkpoint-recovery replay (kill + restart timed end to end)
    "dedup_incremental_lsh_appended",
    "decontaminate_bloom_appended",
    "sim_ivf_knn_join_appended",
    "sketch_kmv_union_kway",
    "stream_tw_tumbling_recovered",
    # round 11: the appended-IVF drift-recall monitor (three centroid
    # geometries graded against exact truth), the custom-state
    # kill+restart replay (two streaming starts, by design), and the
    # compacted-index probe (build+append+compact is PREBUILD)
    "sim_ivf_appended_drift_recall",
    "stream_ss_asof_recovered",
    "sim_ivf_knn_join_compacted",
    # round 11, second batch: appends for the remaining index families
    # (probe timing; the build+append is PREBUILD)
    "sim_pq_topk_appended",
    "sim_ivfadc_topk_appended",
    # round 12: compaction legs for the remaining index families under
    # the hash gate (probe timing; build+append+compact is PREBUILD)
    "sim_pq_topk_compacted",
    "sim_ivfadc_topk_compacted",
    # round 12: the compression-leg drift monitor (standing artifact is
    # PREBUILD; the timed row is the in-plan re-train + ADC grading)
    "sim_pq_drift_recall",
    "sim_ivfadc_drift_recall",
    # round 13: the MINOR (layout-only) IVF compaction leg — probe
    # timing against the consolidated tree; build+append+minor is
    # PREBUILD.  Same oracle as the appended leg by construction.
    "sim_ivf_knn_join_minor_compacted",
    # round 13: blue/green re-train legs (root-swap rebuild is
    # PREBUILD; the timed row probes the retrained artifact, which
    # must answer the full-corpus oracle again)
    "sim_pq_topk_retrained",
    "sim_ivfadc_topk_retrained",
]

#: stored-index queries whose write-once build must happen BEFORE the
#: timed run (the index is the point; the build is a one-time job)
PREBUILD = [
    "sim_ivf_topk_stored",
    "sim_ivf_knn_join_stored",
    "sim_pq_topk_stored",
    "sim_ivfadc_topk_stored",
    "dedup_semantic_2level_stored",
    "decontaminate_bloom_stored",
    "dedup_incremental_lsh_stored",
    # r10 appended artifacts: the two-step build+append is the one-time
    # job; the timed run measures the probe against the refreshed index
    "dedup_incremental_lsh_appended",
    "decontaminate_bloom_appended",
    "sim_ivf_knn_join_appended",
    # r11: build+append+COMPACT lifecycle — maintenance is the one-time
    # job; the timed run measures the probe against the compacted index
    "sim_ivf_knn_join_compacted",
    "sim_pq_topk_appended",
    "sim_ivfadc_topk_appended",
    # r12: full-lifecycle probes for PQ/IVFADC and the drift monitor's
    # standing artifact — maintenance is the one-time job; the timed
    # run measures the probe (the monitor still computes its candidate
    # re-clusters + exact-truth grading in the timed row)
    "sim_pq_topk_compacted",
    "sim_ivfadc_topk_compacted",
    "sim_ivf_appended_drift_recall",
    "sim_pq_drift_recall",
    "sim_ivfadc_drift_recall",
    # r13: build+append+MINOR-compact lifecycle (layout-only pass)
    "sim_ivf_knn_join_minor_compacted",
    # r13: build+append+blue/green-RETRAIN lifecycle (root swap)
    "sim_pq_topk_retrained",
    "sim_ivfadc_topk_retrained",
]


def _bench_stream_stream_asof(spark, sf_dir: str) -> None:
    """Drain the stream-stream as-of join (purchases ⟕ latest click per
    user, applyInPandasWithState) over the events fixture replayed as a
    file-source stream — times the stateful-shuffle + state-store path;
    emission needs a later batch to move the watermark, so the noop sink
    may see few rows, but every state write executes."""
    from pyspark.sql import functions as F

    from __spark_entry__ import _SCRATCH
    from hpaste_spark.operators.artifacts import scratch_dir
    from hpaste_spark.streaming.events import read_event_stream, stream_stream_asof

    # the fixture is a single file; the file stream source wants a
    # directory — stage a symlink dir once per fixture
    src_dir = scratch_dir(_SCRATCH, "stream_events", sf_dir)
    os.makedirs(src_dir, exist_ok=True)
    link = os.path.join(src_dir, "events.parquet")
    target = os.path.join(sf_dir, "events.parquet")
    # always re-point: lexists catches dangling symlinks (exists()
    # follows them and would crash the re-symlink), and a same-basename
    # key must not silently stream a previous fixture
    if os.path.lexists(link):
        os.remove(link)
    # abspath: a relative sf_dir would make the link target resolve
    # against the link's own directory and dangle
    os.symlink(os.path.abspath(target), link)
    stream = read_event_stream(spark, src_dir)
    lefts = stream.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    rights = stream.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_event_id")
    )
    out = stream_stream_asof(
        lefts, rights, on=["user_id"], payload_col="click_event_id", watermark="10 minutes"
    )
    q = out.writeStream.format("noop").trigger(availableNow=True).start()
    q.awaitTermination(600)


STREAMING = {"stream_stream_asof": _bench_stream_stream_asof}


def _noop_run(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def prebuild(spark, qs: dict, sf_dir: str, names=PREBUILD) -> None:
    """Run each stored-index query once at the bench SF, untimed, so its
    write-once artifact exists before the timed run (the timed row then
    measures the partition-pruned query, which is the operator's
    point).  A failure, or a name missing from the registry, ends the
    bench naming the query: going on would silently move the build
    into that query's timed row."""
    for name in names:
        fn = qs.get(name)
        if fn is None:
            raise SystemExit(f"bench: PREBUILD query {name} is not in the registry")
        try:
            _noop_run(fn(spark, sf_dir))
        except Exception as exc:
            raise SystemExit(f"bench: PREBUILD query {name} failed: {exc!r}") from exc


def _warm(label: str, call) -> None:
    """Run one warm-up step; a failure is reported on stderr by name
    and the bench goes on (its timed row then pays the cold start)."""
    try:
        call()
    except Exception as exc:
        print(f"bench: warm-up {label} failed: {exc!r}", file=sys.stderr)
        traceback.print_exc(file=sys.stderr)


def _load_prev_detail(here: str) -> "dict | None":
    """The previous round's committed BENCH_DETAIL.json (full per-query
    detail + calibration), read BEFORE this run overwrites it — the
    baseline for the in-artifact mover adjudication.  None when absent
    or unreadable (first round, fresh checkout without the artifact)."""
    try:
        with open(os.path.join(here, "BENCH_DETAIL.json")) as fh:
            doc = json.load(fh)
        return doc if isinstance(doc, dict) and "queries" in doc else None
    except (OSError, json.JSONDecodeError):
        return None


def _calibration_s(spark) -> float:
    """Fixed synthetic calibration job (round-11 verdict ask #5): three
    rounds of headline ratios have needed by-hand re-adjudication
    against HOST drift (identical code reading uniformly ~1.3-1.4×
    slower on a slower VM session).  This times a constant CPU-bound
    pipeline with zero I/O and zero data dependence — range(200M) →
    long·long multiply → cast to string → xxhash64 → bit_xor (no
    overflow under ANSI) collapse — best-of-3 so JIT/alloc warm-up
    doesn't leak in (~1.3 s on this round's reference host).  Recorded
    at bench start (post-warmup) and end; tools/bench_compare.py
    divides per-query ratios by the calibration ratio to print
    drift-NORMALIZED numbers, replacing the manual re-adjudication."""
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(200_000_000).selectExpr(
            "bit_xor(xxhash64(cast(id * 2654435761 as string))) as h"
        ).collect()
        best = min(best, time.perf_counter() - t0)
    return round(best, 3)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    # isolation guard: a co-running job inflates wall-clock 30-50%
    # (measured round 3→4); record the 1-min load BEFORE the JVM spins
    # up AND track the MAX across the whole timed run — round 5's
    # start-only sample (2.96, no warning) missed mid-run load that
    # inflated four queries 2-3×.  Threshold: >25% of the cores this
    # bench is about to use already busy.  Policy: re-run on an idle
    # machine whenever load_warning is true (see README).
    ncpu = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 1))
    own_load = ncpu * 1.25  # this bench's own contribution once running
    load1 = round(os.getloadavg()[0], 2)

    # REFUSE-to-start-busy guard (round-8 verdict #4: BENCH_r08 was
    # recorded at start load 2.62 and a third of the shared rows showed
    # uniform ~1.3× pure-load "regressions" that cost a by-hand
    # re-adjudication).  Policy: auto-retry — sample the 1-min load
    # every 20 s until it drops below the start bar (2.0, or 25% of
    # the bench cores if that is tighter), up to
    # $SPARK_GRAFT_BENCH_MAX_WAIT_S (default 900 s).  If the machine
    # never goes idle, proceed anyway (an artifact flagged
    # load_warning beats no artifact) and record how long we waited.
    start_bar = min(2.0, 0.25 * ncpu)
    max_wait = float(os.environ.get("SPARK_GRAFT_BENCH_MAX_WAIT_S", "900"))
    waited = 0.0
    while load1 > start_bar and waited < max_wait:
        time.sleep(20)
        waited += 20
        load1 = round(os.getloadavg()[0], 2)
    load_max = load1

    import __spark_entry__ as entry_mod
    from hpaste_spark import get_spark

    spark = get_spark("hpaste-bench")
    qs = entry_mod.queries()

    # Warm the JVM paths the queries exercise — vectorized parquet reader,
    # whole-stage codegen compilation (several seconds for the wide
    # array-fold expressions), broadcast machinery, and HotSpot tiering
    # (the first sf0.1 execution of a wide codegen'd aggregate runs
    # ~40% slower until C2 compiles it; 3× tiny + 1× sf0.01 reaches the
    # invocation thresholds) — by running every headline query at the
    # tiny SFs.  The measured numbers are then the data-proportional
    # steady-state cost, not one-time class-load/JIT.
    spark.range(1000).selectExpr("sum(id)").collect()
    for warm_dir in ("/root/testdata/sf0.001",) * 3 + ("/root/testdata/sf0.01",):
        if not os.path.isdir(warm_dir):
            continue
        for name in HEADLINE:
            fn = qs.get(name)
            if fn is None:
                continue
            _warm(f"{name} @ {warm_dir}",
                  lambda: _noop_run(fn(spark, warm_dir)))
        spark.catalog.clearCache()  # drop tiny-SF persisted intermediates

    # warm the streaming engine once at the tiny SF (micro-batch
    # planner, state-store classes, the applyInPandasWithState Python
    # worker pool — ~8 s of one-time init that is not the operator)
    if os.path.isdir(entry_mod.SF0001):
        for name, runner in STREAMING.items():
            _warm(f"{name} @ {entry_mod.SF0001}",
                  lambda: runner(spark, entry_mod.SF0001))

    prebuild(spark, qs, sf_dir)

    cal_start = _calibration_s(spark)

    timings: dict[str, float] = {}
    for name in HEADLINE:
        fn = qs.get(name)
        if fn is None:
            continue
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        timings[name] = round(time.perf_counter() - t0, 3)
        load_max = max(load_max, os.getloadavg()[0])

    for name, runner in STREAMING.items():
        t0 = time.perf_counter()
        runner(spark, sf_dir)
        timings[name] = round(time.perf_counter() - t0, 3)
        load_max = max(load_max, os.getloadavg()[0])

    cal_end = _calibration_s(spark)

    # mover SELF-adjudication (round-13 verdict ask #5 — previously a
    # manual step that could cite a different same-day run than the
    # committed artifact): against the PREVIOUS round's committed
    # BENCH_DETAIL.json (read before this run overwrites it), flag
    # every shared query whose drift-normalized ratio exceeds the 1.3×
    # bar and re-run it ISOLATED best-of-3 in this warm session — the
    # adjudication protocol SCALE.md has applied by hand since r10
    # (bench rows interleave with 150+ other queries; an isolated
    # repeat separates real regressions from scheduling noise).  The
    # flagged rows and their isolated bests land IN the artifact, so it
    # adjudicates itself.
    here = os.path.dirname(os.path.abspath(__file__))
    isolated_best: dict[str, float] = {}
    prev = _load_prev_detail(here)
    if prev and prev.get("calibration_s"):
        drift = min(cal_start, cal_end) / prev["calibration_s"]
        prev_q = prev.get("queries", {})
        flagged = sorted(
            (
                n
                for n, t in timings.items()
                if prev_q.get(n)
                and qs.get(n) is not None
                and (t / prev_q[n]) / drift > 1.3
            ),
            key=lambda n: -(timings[n] / prev_q[n]),
        )[:8]  # cap: a host-wide slowdown flags everything; 8 worst suffice
        for name in flagged:
            best = float("inf")
            for _ in range(3):
                t0 = time.perf_counter()
                qs[name](spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                best = min(best, time.perf_counter() - t0)
            isolated_best[name] = round(best, 2)

    # warn on EITHER a busy machine at start or foreign load mid-run
    # (mid-run 1-min load legitimately approaches ncpu from this bench
    # itself, so the mid-run bar is own-load + 25%)
    load_max = round(load_max, 2)
    load_warning = (load1 > 0.25 * ncpu) or (load_max > own_load)

    total = round(sum(timings.values()), 3)
    timings = {n: round(t, 2) for n, t in timings.items()}
    payload = {
        "metric": "headline wall-clock (noop sink)",
        "value": total,
        "unit": "sec",
        # a COPY: the fit-to-tail loop below deletes from this dict and
        # must not mutate `timings` (the omitted-count's baseline)
        "queries": dict(timings),
        "sf": sf,
        "load_avg_1m_at_start": load1,
        "load_avg_1m_max": load_max,
        "load_warning": load_warning,
        "idle_wait_s": round(waited, 1),
        # host-speed probe (constant CPU job, no I/O): best-of-3 at
        # start and end of the timed window; `calibration_s` (their
        # min) is the divisor bench_compare.py uses to normalize
        # round-over-round ratios for host drift
        "calibration_s_start": cal_start,
        "calibration_s_end": cal_end,
        "calibration_s": min(cal_start, cal_end),
        # >1.3×-normalized movers re-run isolated best-of-3 in this
        # same warm session (empty = no row crossed the bar); SCALE.md's
        # movers table cites these instead of separate ad-hoc runs
        "isolated_best": isolated_best,
    }
    # full per-query detail always lands in a committed side artifact —
    # the stdout line is capped below and may omit the fastest entries
    with open(os.path.join(here, "BENCH_DETAIL.json"), "w") as fh:
        json.dump(payload, fh, indent=1)
        fh.write("\n")
    # ONE minified line, flushed onto a fresh line, kept under the
    # driver's 2000-byte tail-capture window: round 5's artifact was
    # machine-unreadable (parsed: null) purely because the line outgrew
    # that window.  If the full dict won't fit, FIRST drop the
    # isolated_best adjudication dict (always preserved in
    # BENCH_DETAIL.json; r13's inline copy crowded ~10 extra queries
    # out of the line and PERF reported them as phantom bench drops —
    # VERDICT r13 ask #2), THEN drop the FASTEST queries (sub-0.2 s
    # entries carry the least regression signal; BENCH_DETAIL.json
    # keeps everything).
    by_cost = sorted(timings, key=lambda n: (-timings[n], n))
    while True:
        line = json.dumps(payload, separators=(",", ":"))
        if len(line) <= 1900:
            break
        if "isolated_best" in payload:
            del payload["isolated_best"]
            continue
        if not by_cost:
            break
        dropped = by_cost.pop()
        del payload["queries"][dropped]
        payload["queries_omitted"] = len(timings) - len(payload["queries"])
    sys.stdout.write("\n")
    sys.stdout.flush()
    sys.stdout.write(line + "\n")
    sys.stdout.flush()
    spark.stop()


if __name__ == "__main__":
    main()
