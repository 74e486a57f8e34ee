"""HLL sketch rollup: estimates near exact, union consistency."""

from pyspark.sql import functions as F

from hpaste_spark.operators.sketches import hll_rollup
from hpaste_spark.sources.catalog import load_table

SF = "/root/testdata/sf0.01"


def test_hll_rollup_estimates_and_union(spark):
    o = load_table(spark, SF, "orders")
    got = {r.grp: r.approx_distinct for r in hll_rollup(o, "o_orderpriority", "o_custkey").collect()}
    exact = {
        r.o_orderpriority: r.n
        for r in o.groupBy("o_orderpriority").agg(F.count_distinct("o_custkey").alias("n")).collect()
    }
    exact["ALL"] = o.select(F.count_distinct("o_custkey")).first()[0]
    assert set(got) == set(exact) and "ALL" in got
    for g, e in exact.items():
        assert abs(got[g] - e) <= max(3, 0.05 * e), (g, got[g], e)
    # union bound: the ALL estimate can't be below the largest group's
    assert got["ALL"] >= max(v for g, v in got.items() if g != "ALL")


def test_hll_rollup_deterministic(spark):
    o = load_table(spark, SF, "orders")
    a = sorted(map(tuple, hll_rollup(o, "o_orderpriority", "o_custkey").collect()))
    b = sorted(map(tuple, hll_rollup(o, "o_orderpriority", "o_custkey").collect()))
    assert a == b


def test_hdr_sketch_merge_associativity(spark):
    """Sketch of the union == cell-wise merge of per-shard sketches,
    in any merge tree shape (the mergeability contract that lets 100 TB
    shards ship fixed-size partials)."""
    import math
    import random

    from hpaste_spark.operators.sketches import hdr_merge, hdr_sketch

    rnd = random.Random(42)
    vals = [int(math.exp(rnd.uniform(0, 18))) for _ in range(500)]
    vals += [0, 1, 2, 3, (1 << 40) + 12345]
    shards = [vals[i::3] for i in range(3)]
    dfs = [
        spark.createDataFrame([(v,) for v in s], "v long") for s in shards
    ]
    whole = spark.createDataFrame([(v,) for v in vals], "v long")

    def cells(df):
        return {(r["bucket_lo"], r["width"]): r["cnt"] for r in df.collect()}

    expected = cells(hdr_sketch(whole))
    flat = hdr_merge(*[hdr_sketch(d) for d in dfs])
    nested = hdr_merge(
        hdr_merge(hdr_sketch(dfs[0]), hdr_sketch(dfs[1])), hdr_sketch(dfs[2])
    )
    assert cells(flat) == expected
    assert cells(nested) == expected


def test_hdr_quantile_band_guarantee_and_negative_rejection(spark):
    """The true type-1 quantile always lies inside its [lo, hi] band
    and the band is ≤ 2^-sub_bits of the value wide; negative values
    abort loudly instead of bucketing as garbage."""
    import math
    import random

    import pytest

    from hpaste_spark.operators.sketches import hdr_quantiles, hdr_sketch

    rnd = random.Random(7)
    vals = [int(math.exp(rnd.uniform(0, 18))) for _ in range(800)] + [0, 1]
    whole = spark.createDataFrame([(v,) for v in vals], "v long")
    qs = (0.1, 0.5, 0.9, 0.99)
    out = hdr_quantiles(hdr_sketch(whole, sub_bits=7), qs=qs).collect()[0]
    svals = sorted(vals)
    assert out["n"] == len(vals)
    for q in qs:
        true_q = svals[math.ceil(q * len(svals)) - 1]
        p = f"q{int(round(q * 100))}"
        lo, hi = out[f"{p}_lo"], out[f"{p}_hi"]
        assert lo <= true_q <= hi, (q, lo, true_q, hi)
        assert (hi - lo + 1) <= max(1, lo >> 7), (q, lo, hi)

    with pytest.raises(Exception, match="negative value"):
        hdr_sketch(
            spark.createDataFrame([(-5,)], "v long")
        ).collect()


def test_hdr_baseline_artifact_family_pin(spark, tmp_path):
    """build_hdr_baseline → read_hdr_baseline round-trips the counter
    table + pinned geometry; a foreign bucket-rule family hard-errors
    instead of silently reading bands under the wrong rule."""
    import pytest

    from hpaste_spark.operators.artifacts import read_meta, write_meta
    from hpaste_spark.operators.sketches import (
        build_hdr_baseline,
        hdr_sketch,
        read_hdr_baseline,
    )

    df = spark.createDataFrame([("a", v) for v in range(1, 200)], "g string, v long")
    path = str(tmp_path / "hdr_base")
    build_hdr_baseline(df, path, "v", "g", sub_bits=5)
    sk, meta = read_hdr_baseline(spark, path)
    assert (meta["sub_bits"], meta["group_col"]) == (5, "g")
    direct = {
        (r["g"], r["bucket_lo"], r["width"]): r["cnt"]
        for r in hdr_sketch(df, "v", "g", sub_bits=5).collect()
    }
    stored = {
        (r["g"], r["bucket_lo"], r["width"]): r["cnt"] for r in sk.collect()
    }
    assert stored == direct and len(stored) > 0

    write_meta(path, {**read_meta(path), "family": 99})
    with pytest.raises(ValueError, match="rule 99"):
        read_hdr_baseline(spark, path)


def test_hdr_baseline_append_equals_full_build(spark, tmp_path):
    """append_artifact(window1-baseline, window2) reads identically
    to build_hdr_baseline(window1 ∪ window2) — hdr_merge-additivity
    through the artifact: the reader collapses the appended partials
    cell-wise.  Version bumps; sub_bits and the value column come from
    the artifact, not the caller."""
    from hpaste_spark.operators.artifacts import append_artifact
    from hpaste_spark.operators.sketches import (
        build_hdr_baseline,
        read_hdr_baseline,
    )

    w1 = spark.createDataFrame([("a", v) for v in range(1, 150)], "g string, v long")
    w2 = spark.createDataFrame(
        [("a", v) for v in range(90, 260)] + [("b", 7)], "g string, v long"
    )
    both = w1.unionAll(w2)

    inc_path = str(tmp_path / "hdr_inc")
    full_path = str(tmp_path / "hdr_full")
    build_hdr_baseline(w1, inc_path, "v", "g", sub_bits=5)
    version = append_artifact(spark, inc_path, w2)
    build_hdr_baseline(both, full_path, "v", "g", sub_bits=5)

    inc_sk, inc_meta = read_hdr_baseline(spark, inc_path)
    full_sk, _ = read_hdr_baseline(spark, full_path)
    cells = lambda sk: {  # noqa: E731
        (r["g"], r["bucket_lo"], r["width"]): r["cnt"] for r in sk.collect()
    }
    assert cells(inc_sk) == cells(full_sk) and len(cells(full_sk)) > 0
    assert version == 2 and inc_meta["version"] == 2
    assert inc_meta["sub_bits"] == 5


def test_hdr_identical_window_appends_once(spark, tmp_path):
    """HDR windows carry no ids, so the append's content signature is
    the window's (group, value) rows: appending an identical window
    twice — a retry, a replayed job, or genuinely the same window — is
    ONE append (version and counts unchanged), never a silent double
    count; a window that differs in any row is a new append."""
    from hpaste_spark.operators.artifacts import append_artifact
    from hpaste_spark.operators.sketches import build_hdr_baseline, read_hdr_baseline

    path = str(tmp_path / "hdr_same")
    w = spark.createDataFrame([("a", v) for v in range(1, 120)], "g string, v long")
    build_hdr_baseline(w, path, "v", "g", sub_bits=5)
    cells = lambda: {  # noqa: E731
        (r["g"], r["bucket_lo"]): r["cnt"]
        for r in read_hdr_baseline(spark, path)[0].collect()
    }
    assert append_artifact(spark, path, w) == 2
    once = cells()
    assert append_artifact(spark, path, w) == 2, "identical window: one append"
    assert cells() == once
    assert sum(once.values()) == 2 * 119
    w2 = w.unionAll(spark.createDataFrame([("a", 5)], "g string, v long"))
    assert append_artifact(spark, path, w2) == 3
    assert sum(cells().values()) == 3 * 119 + 1


def test_hdr_baseline_compaction(spark, tmp_path):
    """compact_artifact after appends: read-back is the identical
    merged counter table (hdr_merge idempotence), strictly fewer
    parquet files AND fewer stored rows (the per-window partials
    collapse once at compaction instead of on every read), version
    bumped, bucket rule preserved."""
    import os

    from hpaste_spark.operators.artifacts import append_artifact, compact_artifact
    from hpaste_spark.operators.sketches import (
        build_hdr_baseline,
        read_hdr_baseline,
    )

    path = str(tmp_path / "hdr_c")
    build_hdr_baseline(
        spark.createDataFrame(
            [("a", v) for v in range(1, 150)], "g string, v long"
        ),
        path, "v", "g", sub_bits=5,
    )
    for lo, hi in ((90, 260), (240, 400), (10, 60)):
        append_artifact(
            spark,
            path,
            spark.createDataFrame([("a", v) for v in range(lo, hi)], "g string, v long"),
        )

    nfiles = lambda: len(  # noqa: E731
        [f for f in os.listdir(f"{path}/sketch") if f.endswith(".parquet")]
    )
    cells = lambda sk: {  # noqa: E731
        (r["g"], r["bucket_lo"], r["width"]): r["cnt"] for r in sk.collect()
    }
    before_files = nfiles()
    before_rows = spark.read.parquet(f"{path}/sketch").count()
    before_cells = cells(read_hdr_baseline(spark, path)[0])

    v = compact_artifact(spark, path)
    assert v == 5  # build(1) + 3 appends + compact
    assert nfiles() < before_files and nfiles() <= 1
    assert spark.read.parquet(f"{path}/sketch").count() < before_rows
    sk, meta = read_hdr_baseline(spark, path)
    assert cells(sk) == before_cells and len(before_cells) > 0
    assert meta["sub_bits"] == 5 and meta["version"] == 5


def test_hdr_sketch_skips_nulls(spark):
    """NULL values are excluded like SQL aggregates skip nulls (r9
    ADVICE: they previously aborted under the misleading 'negative
    value' message); negatives still abort loudly."""
    from hpaste_spark.operators.sketches import hdr_sketch

    df = spark.createDataFrame(
        [(1,), (None,), (5,), (None,)], "v long"
    )
    out = hdr_sketch(df, "v", sub_bits=5).collect()
    assert sum(r["cnt"] for r in out) == 2


def test_kmv_merge_equals_sketch_of_union(spark):
    """merge(sketch(A), sketch(B)) == sketch(A ∪ B) exactly — the
    mergeability contract (both are 'the k smallest distinct hashes
    of the union'), here with k small enough that the bottom-k rule
    actually bites."""
    from hpaste_spark.operators.sketches import kmv_merge, kmv_sketch

    a = spark.createDataFrame(
        [("g", f"tok{i}") for i in range(200)], "grp string, v string"
    )
    b = spark.createDataFrame(
        [("g", f"tok{i}") for i in range(100, 300)], "grp string, v string"
    )
    sa, sb = kmv_sketch(a, "grp", "v", k=64), kmv_sketch(b, "grp", "v", k=64)
    merged = sorted(r.h for r in kmv_merge(sa, sb, k=64).collect())
    direct = sorted(
        r.h for r in kmv_sketch(a.unionAll(b), "grp", "v", k=64).collect()
    )
    assert merged == direct and len(direct) == 64


def test_kmv_kway_subset_algebra(spark):
    """k-way generalizations reduce to the pairwise/singleton forms:
    a singleton union subset reproduces kmv_estimate; a 2-group
    intersection subset reproduces kmv_intersect; a 3-way intersection
    over sets with a known common core lands within band of truth and
    uses the GLOBAL min-theta."""
    from hpaste_spark.operators.sketches import (
        kmv_estimate,
        kmv_intersect,
        kmv_intersect_subsets,
        kmv_sketch,
        kmv_union_subsets,
    )

    # three sets of 3000 with a shared 1000-token core
    rows = (
        [("a", f"core{i}") for i in range(1000)]
        + [("a", f"a{i}") for i in range(2000)]
        + [("b", f"core{i}") for i in range(1000)]
        + [("b", f"b{i}") for i in range(2000)]
        + [("c", f"core{i}") for i in range(1000)]
        + [("c", f"c{i}") for i in range(2000)]
    )
    df = spark.createDataFrame(rows, "grp string, v string")
    sk = kmv_sketch(df, "grp", "v", k=256).localCheckpoint()

    single = kmv_union_subsets(sk, {"only_a": ["a"]}, k=256).collect()[0]
    est_a = {
        r["grp"]: r["est_distinct"] for r in kmv_estimate(sk, k=256).collect()
    }
    assert single["est_union"] == est_a["a"]

    pair_sub = kmv_intersect_subsets(sk, {"ab": ["a", "b"]}, k=256).collect()[0]
    pair = {
        (r["grp_a"], r["grp_b"]): (r["n_common"], r["est_inter"])
        for r in kmv_intersect(sk, k=256).collect()
    }
    assert (pair_sub["n_common"], pair_sub["est_inter"]) == pair[("a", "b")]

    tri = kmv_intersect_subsets(sk, {"abc": ["a", "b", "c"]}, k=256).collect()[0]
    assert tri["n_groups"] == 3
    # truth = 1000 shared; 4×RSE of the union-scale error bound
    assert abs(tri["est_inter"] - 1000) <= 0.25 * 3000

    u3 = kmv_union_subsets(sk, {"abc": ["a", "b", "c"]}, k=256).collect()[0]
    # truth = 1000 + 3·2000 = 7000 distinct
    assert abs(u3["est_union"] - 7000) <= 0.25 * 7000

    # a subset naming a group with NO sketch rows (typo'd or empty
    # source) hard-errors instead of silently skewing the estimate
    # (r10 ADVICE: the inner membership join used to drop it — union
    # undercounted, intersection inflated)
    import pytest

    with pytest.raises(ValueError, match="absent from the sketch table"):
        kmv_union_subsets(sk, {"oops": ["a", "zz_typo"]}, k=256)
    with pytest.raises(ValueError, match="zz_typo"):
        kmv_intersect_subsets(sk, {"oops": ["a", "zz_typo"]}, k=256)


def test_kmv_underfull_is_exact_and_estimator_in_band(spark):
    """Under-full sketch (distinct < k) returns the EXACT distinct
    count; past k the estimator lands within 4×RSE of truth."""
    from hpaste_spark.operators.sketches import kmv_estimate, kmv_sketch

    small = spark.createDataFrame(
        [("g", f"t{i}") for i in range(40)] * 3, "grp string, v string"
    )
    est = kmv_estimate(kmv_sketch(small, "grp", "v", k=256), k=256).collect()[0]
    assert (est.n_sketch, est.est_distinct) == (40, 40)

    big = spark.createDataFrame(
        [("g", f"t{i}") for i in range(5000)], "grp string, v string"
    )
    est2 = kmv_estimate(kmv_sketch(big, "grp", "v", k=256), k=256).collect()[0]
    assert est2.n_sketch == 256
    assert abs(est2.est_distinct - 5000) <= 0.25 * 5000


def test_kmv_registry_graders_all_in_band(spark):
    """Every source's distinct estimate and every pair's intersection
    estimate is in its stated band on the sf0.001 fixture."""
    import __spark_entry__ as m

    d = m._QUERIES["sketch_kmv_distinct"](spark, "/root/testdata/sf0.001")
    rows = d.collect()
    assert rows and all(r.in_band == 1 for r in rows)
    o = m._QUERIES["sketch_kmv_overlap"](spark, "/root/testdata/sf0.001")
    orows = o.collect()
    assert orows and all(r.in_band == 1 for r in orows)


def test_kmv_union_matches_direct_union_sketch(spark):
    """kmv_union's pair estimate == kmv_estimate over the two groups'
    values relabeled into one group (bottom-k commutes with union),
    and inclusion-exclusion telemetry is consistent in the exact
    (under-full) regime: |A∪B| + |A∩B| = |A| + |B|."""
    from pyspark.sql import functions as F

    from hpaste_spark.operators.sketches import (kmv_estimate,
                                                 kmv_intersect, kmv_sketch,
                                                 kmv_union)

    rows = [("a", f"t{i}") for i in range(150)] + [
        ("b", f"t{i}") for i in range(100, 250)
    ]
    df = spark.createDataFrame(rows, "grp string, v string")
    sk = kmv_sketch(df, "grp", "v", k=64)
    pair = kmv_union(sk, k=64).collect()[0]
    direct = kmv_estimate(
        kmv_sketch(df.withColumn("grp", F.lit("u")), "grp", "v", k=64), k=64
    ).collect()[0]
    assert pair.est_union == direct.est_distinct

    # exact regime: all three sketches under-full -> exact set algebra
    sk256 = kmv_sketch(df, "grp", "v", k=256)
    est = {r.grp: r.est_distinct for r in kmv_estimate(sk256, k=256).collect()}
    inter = kmv_intersect(sk256, k=256).collect()[0].est_inter
    union = kmv_union(sk256, k=256).collect()[0].est_union
    assert union + inter == est["a"] + est["b"] == 300
    assert (union, inter) == (250, 50)
