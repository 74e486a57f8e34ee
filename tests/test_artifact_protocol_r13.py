"""Round-13 Spark-side tests for the ANN artifact protocol upgrades:
the delta_sigs replay ring (r12 verdict ask #3), the strengthened
delta signature (r12 ADVICE: XOR cancels paired duplicates), the
in-window meta re-read (TOCTOU, r12 ADVICE), the compaction exclusion
covering the tmp build (r12 ADVICE medium item), and the
artifact_stats auto-compaction signal end-to-end (verdict ask #7).

Reference context: the reference's maintenance operations are explicit
admin actions against standing HBase tables (ExampleSchema.scala's
table lifecycle); the crash/replay semantics here are the parquet-tree
re-architecture of that contract.
"""

from __future__ import annotations

import random
import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _emb(spark, n=90, dim=8, seed=7, start=0):
    rnd = random.Random(seed)
    rows = [
        (start + i, [rnd.uniform(-1, 1) for _ in range(dim)]) for i in range(n)
    ]
    return spark.createDataFrame(rows, "vec_id INT, embedding ARRAY<DOUBLE>")


def test_ann_append_replay_ring_depth(spark, tmp_path):
    """r12 verdict ask #3 'Done =': append A, append B, then RETRY A —
    the delayed duplicate of the OLDER committed append must be a
    no-op (version unchanged, top-k identical), which the depth-1
    last_delta_sig could not recognize (it only remembered B)."""
    from hpaste_spark.operators.artifacts import append_artifact
    from hpaste_spark.operators import artifacts
    from hpaste_spark.operators.similarity import (
        build_ivf_index,
        ivf_topk_indexed,
    )

    base = _emb(spark, n=80, seed=3)
    delta_a = _emb(spark, n=12, seed=4, start=1000)
    delta_b = _emb(spark, n=12, seed=5, start=2000)
    path = str(tmp_path / "ivf_ring")
    build_ivf_index(base, path, k_centroids=4)

    v1 = append_artifact(spark, path, delta_a)
    v2 = append_artifact(spark, path, delta_b)
    assert (v1, v2) == (2, 3)

    q = base.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    before = [tuple(r) for r in ivf_topk_indexed(spark, path, q, k=10).collect()]

    v3 = append_artifact(spark, path, delta_a)  # the delayed duplicate
    assert v3 == 3, "replay of a ring-remembered append must not bump"
    meta = artifacts.read_meta(path)
    assert meta["version"] == 3
    assert len(meta["delta_sigs"]) == 2
    after = [tuple(r) for r in ivf_topk_indexed(spark, path, q, k=10).collect()]
    assert after == before, "replay must not duplicate ids into top-k"
    n = spark.read.parquet(f"{path}/vectors").count()
    assert n == 80 + 12 + 12, "each delta present exactly once"


def test_delta_signature_distinguishes_paired_duplicates(spark):
    """r12 ADVICE: count + bit_xor alone aliases deltas that differ
    only by PAIRED duplicate rows (even multiplicities XOR to 0).
    With the sum component, {a, b, b} and {a, c, c} — same count,
    same XOR (both reduce to h(a)) — must sign differently."""
    from hpaste_spark.operators.artifacts import delta_signature

    a = (1, [1.0, 2.0])
    b = (2, [3.0, 4.0])
    c = (3, [5.0, 6.0])
    d1 = spark.createDataFrame([a, b, b], "vec_id INT, embedding ARRAY<DOUBLE>")
    d2 = spark.createDataFrame([a, c, c], "vec_id INT, embedding ARRAY<DOUBLE>")
    s1 = delta_signature(d1, "vec_id", "embedding")
    s2 = delta_signature(d2, "vec_id", "embedding")
    assert s1.split(":")[0] == s2.split(":")[0] == "3"
    assert s1.split(":")[1] == s2.split(":")[1], (
        "fixture must reproduce the XOR cancellation"
    )
    assert s1 != s2, "sum component must break the alias"
    # determinism across partitioning
    assert delta_signature(d1.repartition(7), "vec_id", "embedding") == s1


def test_append_toctou_rejournals_fresh_target(spark, tmp_path, monkeypatch):
    """r12 ADVICE TOCTOU: another appender commits between this
    writer's read_meta and its begin_append.  The in-window re-read
    must re-journal with the FRESH target version — both deltas land,
    versions 2 then 3, no lost bump, no clobbered signature."""
    from hpaste_spark.operators.artifacts import append_artifact
    from hpaste_spark.operators import artifacts
    from hpaste_spark.operators.similarity import (
        build_ivf_index,
    )

    base = _emb(spark, n=60, seed=11)
    delta_other = _emb(spark, n=10, seed=12, start=1000)
    delta_mine = _emb(spark, n=10, seed=13, start=2000)
    path = str(tmp_path / "ivf_toctou")
    build_ivf_index(base, path, k_centroids=4)

    real_begin = artifacts.begin_append
    state = {"fired": False}

    def begin_hook(p, dirs, sig, target):
        if not state["fired"]:
            state["fired"] = True
            # the OTHER appender wins the gap: full committed append
            append_artifact(spark, p, delta_other)
        return real_begin(p, dirs, sig, target)

    # _ann_append_open resolves begin_append through the artifacts
    # module object at call time, so the module-attr patch intercepts it
    monkeypatch.setattr(artifacts, "begin_append", begin_hook)
    v = append_artifact(spark, path, delta_mine)
    assert v == 3, "re-journaled target: other's commit was v2, ours v3"
    meta = artifacts.read_meta(path)
    assert meta["version"] == 3
    assert len(meta["delta_sigs"]) == 2, "other's sig NOT clobbered"
    assert spark.read.parquet(f"{path}/vectors").count() == 80

    # replay leg: the 'other appender' committed OUR OWN delta in the
    # gap (a duplicate submission racing itself) — the in-window
    # re-read must turn us into a no-op, not a double insert
    state2 = {"fired": False}

    def begin_hook2(p, dirs, sig, target):
        if not state2["fired"]:
            state2["fired"] = True
            m = artifacts.read_meta(p)
            m["version"] += 1
            artifacts.record_delta_sig(m, sig)  # our sig, committed by the twin
            artifacts.write_meta(p, m)
        return real_begin(p, dirs, sig, target)

    monkeypatch.setattr(artifacts, "begin_append", begin_hook2)
    delta_dup = _emb(spark, n=5, seed=14, start=3000)
    v2 = append_artifact(spark, path, delta_dup)
    assert v2 == 4, "returns the twin's published version"
    assert artifacts.read_meta(path)["version"] == 4
    assert spark.read.parquet(f"{path}/vectors").count() == 80, (
        "no data written by the replay loser"
    )
    artifacts.require_clean(path)  # journal rolled back


def test_compact_exclusion_covers_build_window(spark, tmp_path, monkeypatch):
    """r12 ADVICE medium item: the compaction journal opens BEFORE the
    corpus read, so an appender arriving during the (long) tmp build
    fails loudly instead of committing into a tree the swap discards.
    Also: a Python failure mid-build rolls the journal back
    (abort_compact) and the retry succeeds."""
    from hpaste_spark.operators.artifacts import append_artifact, compact_artifact
    from hpaste_spark.operators import artifacts
    from hpaste_spark.operators.similarity import (
        build_pq_index,
    )

    base = _emb(spark, n=60, seed=21)
    delta = _emb(spark, n=10, seed=22, start=1000)
    path = str(tmp_path / "pq_excl")
    build_pq_index(base, path, m=4, k=8)
    append_artifact(spark, path, delta)

    # simulate the appender arriving mid-build: hold the build-phase
    # journal open and attempt the append
    artifacts.open_compact(path)
    with pytest.raises(artifacts.TornArtifactError, match="compact_pending"):
        append_artifact(spark, path, _emb(spark, n=5, seed=23, start=2000))
    artifacts.abort_compact(path)

    # a Python failure during the tmp build aborts the journal
    def boom():
        raise RuntimeError("simulated build failure")

    monkeypatch.setattr(artifacts, "new_epoch", boom)
    import hpaste_spark.operators.similarity  # noqa: F401  (module object below)

    with pytest.raises(RuntimeError, match="simulated build failure"):
        compact_artifact(spark, path)
    monkeypatch.undo()
    artifacts.require_clean(path)  # journal rolled back, tree clean

    before = sorted(
        map(tuple, spark.read.parquet(f"{path}/codes").collect())
    )
    compact_artifact(spark, path)  # retry succeeds
    after = sorted(map(tuple, spark.read.parquet(f"{path}/codes").collect()))
    assert after == before, "compaction preserves the code relation"
    meta = artifacts.read_meta(path)
    assert meta["version"] == 3 and meta["compacted_version"] == 3


def test_artifact_stats_tracks_append_compact_lifecycle(spark, tmp_path):
    """verdict ask #7 end-to-end on a real index: appends grow the
    signal, compaction resets it, and the file-count threshold line
    fires on the fragmented tree."""
    from hpaste_spark.operators.artifacts import append_artifact, compact_artifact
    from hpaste_spark.operators import artifacts
    from hpaste_spark.operators.similarity import (
        build_ivfadc_index,
    )

    base = _emb(spark, n=60, seed=31)
    path = str(tmp_path / "adc_stats")
    build_ivfadc_index(base, path, k_centroids=4, m=4, k=8)
    s0 = artifacts.artifact_stats(path)
    assert s0["appends_since_compact"] == 0 and s0["version"] == 1

    append_artifact(spark, path, _emb(spark, n=10, seed=32, start=1000))
    append_artifact(spark, path, _emb(spark, n=10, seed=33, start=2000))
    s1 = artifacts.artifact_stats(path)
    assert s1["appends_since_compact"] == 2 and s1["version"] == 3
    assert s1["data_dirs"]["codes"] > s0["data_dirs"]["codes"], (
        "appends fragment the codes tree"
    )
    report = artifacts.check_artifact(
        path, max_files_per_dir=s0["data_dirs"]["codes"]
    )
    assert any("small-files growth" in l and "codes" in l for l in report)

    compact_artifact(spark, path)
    s2 = artifacts.artifact_stats(path)
    assert s2["appends_since_compact"] == 0 and s2["version"] == 4
    assert s2["data_dirs"]["codes"] <= s1["data_dirs"]["codes"]
