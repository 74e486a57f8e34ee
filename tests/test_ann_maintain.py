"""Round-13 tests for the one-call ANN maintenance pass
(`similarity.ann_maintain`) and the IVF minor compaction it needs
(`similarity.compact_index_files`) — the ingest-loop composition of the
rounds-11..13 machinery: fsck first, artifact_stats hygiene signal,
drift-monitor re-train decision, journaled in-artifact action.

Reference context: the reference's maintenance surface is the explicit
HBase admin cycle around a standing table (ExampleSchema.scala's
create/alter lifecycle; minor vs major compaction is the HBase store
split the IVF family mirrors here).
"""

from __future__ import annotations

import os
import random
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


def _queries(spark, n=12, dim=8, seed=99):
    rnd = random.Random(seed)
    rows = [(i, [rnd.uniform(-1, 1) for _ in range(dim)]) for i in range(n)]
    return spark.createDataFrame(rows, "qid INT, qe ARRAY<DOUBLE>")


def _n_files(d):
    return sum(
        1
        for root, _, files in os.walk(d)
        for f in files
        if not f.startswith(("_", "."))
    )


def test_compact_ivf_files_is_recall_invariant(spark, tmp_path):
    """The MINOR (layout-only) IVF compaction: consolidates append
    fragments per cid under the FROZEN standing centroids — rows,
    assignments, and probe results identical; version bumps;
    appends_since_compact resets; centroid epoch re-stamped to match."""
    from hpaste_spark.operators import artifacts
    from hpaste_spark.operators.similarity import (
        append_index,
        build_ivf_index,
        compact_index_files,
        ivf_topk_indexed,
    )

    path = str(tmp_path / "ivf_minor")
    build_ivf_index(_emb(spark, n=80, seed=3), path, k_centroids=4)
    append_index(spark, path, _emb(spark, n=15, seed=4, start=1000))
    append_index(spark, path, _emb(spark, n=15, seed=5, start=2000))

    q = _queries(spark, n=6).filter(F.col("qid") == 2).select(
        F.col("qe").alias("qv")
    )
    before = sorted(
        tuple(r) for r in ivf_topk_indexed(spark, path, q, k=8).collect()
    )
    cent_before = sorted(
        tuple(r) for r in spark.read.parquet(f"{path}/centroids").collect()
    )
    frags_before = _n_files(f"{path}/vectors")

    compact_index_files(spark, path)

    artifacts.require_clean(path)  # journal gone, tree clean
    meta = artifacts.read_meta(path)
    assert meta["version"] == 4  # build=1, +2 appends, +1 compact
    stats = artifacts.artifact_stats(path)
    assert stats["appends_since_compact"] == 0
    assert _n_files(f"{path}/vectors") < frags_before
    after = sorted(
        tuple(r) for r in ivf_topk_indexed(spark, path, q, k=8).collect()
    )
    assert after == before, "minor compaction must not change any result"
    cent_after = sorted(
        tuple(r) for r in spark.read.parquet(f"{path}/centroids").collect()
    )
    assert cent_after == cent_before, "centroids untouched by the minor pass"
    assert artifacts.read_epoch(f"{path}/centroids") == artifacts.read_epoch(
        f"{path}/vectors"
    ), "build-time invariant restored: matching epoch sidecars"
    # a second append after the minor pass still lands cleanly
    append_index(spark, path, _emb(spark, n=5, seed=6, start=3000))
    assert spark.read.parquet(f"{path}/vectors").count() == 80 + 15 + 15 + 5


def test_ann_maintain_ivf_decides_and_applies(spark, tmp_path):
    """The full IVF loop: probe → decision dict; forced re-train
    (margin=-1) applies compact_ivf_index at the measured-best
    iteration count under its journal; hygiene-only trigger applies
    the MINOR pass (geometry frozen)."""
    from hpaste_spark.operators import artifacts
    from hpaste_spark.operators.similarity import ann_maintain
    from hpaste_spark.operators.similarity import (
        append_index,
        build_ivf_index,
    )

    path = str(tmp_path / "ivf_loop")
    build_ivf_index(_emb(spark, n=80, seed=3), path, k_centroids=4)
    # a drifted delta: shifted distribution, assigned under frozen geometry
    drifted = _emb(spark, n=40, seed=11, start=1000).select(
        "vec_id", F.transform("embedding", lambda x: x + 1.5).alias("embedding")
    )
    append_index(spark, path, drifted)

    q = _queries(spark, n=10)
    rep = ann_maintain(spark, path, queries=q, k=5, budget=10)
    assert rep["family"] == "ivf"
    assert rep["fsck"] == []
    assert set(rep["drift"]) == {"appended", "compact_it1", "compact_it2"}
    assert rep["applied"] is False
    assert rep["version_before"] == rep["version_after"] == 2

    # force the re-train branch; apply=True alone must NOT run it (the
    # O(corpus) action sits behind its own switch)
    rep1 = ann_maintain(
        spark, path, queries=q, k=5, budget=10, recall_margin=-1.0, apply=True
    )
    assert rep1["action"] == "retrain" and rep1["applied"] is False

    rep2 = ann_maintain(
        spark, path, queries=q, k=5, budget=10, recall_margin=-1.0,
        apply_retrain=True,
    )
    assert rep2["action"] == "retrain"
    assert rep2["applied"] is True
    assert "compact_ivf_index" in rep2["plan"]
    assert rep2["version_after"] == 3
    artifacts.require_clean(path)
    assert artifacts.artifact_stats(path)["appends_since_compact"] == 0

    # hygiene-only: no queries, compact_every=1 → the MINOR pass
    append_index(spark, path, _emb(spark, n=10, seed=12, start=5000))
    cent = sorted(
        tuple(r) for r in spark.read.parquet(f"{path}/centroids").collect()
    )
    rep3 = ann_maintain(spark, path, compact_every=1, apply=True)
    assert rep3["action"] == "compact"
    assert rep3["plan"] == "compact_index_files(path)"
    assert rep3["applied"] is True
    assert (
        sorted(tuple(r) for r in spark.read.parquet(f"{path}/centroids").collect())
        == cent
    ), "hygiene trigger must not re-cluster (the measured it1 hazard)"
    assert spark.read.parquet(f"{path}/vectors").count() == 80 + 40 + 10


def test_ann_maintain_repairs_torn_tree_first(spark, tmp_path):
    """A loop that probes before repairing dies on TornArtifactError;
    ann_maintain fscks FIRST — a planted torn append (journal + stray
    delta file) is rolled back and the pass completes on the clean
    tree."""
    import json

    from hpaste_spark.operators import artifacts
    from hpaste_spark.operators.similarity import ann_maintain, build_ivf_index

    path = str(tmp_path / "ivf_torn")
    build_ivf_index(_emb(spark, n=60, seed=3), path, k_centroids=4)

    # plant the torn state: snapshot-journal at a target meta never
    # reached, plus a stray uncommitted delta file
    snap = artifacts._list_rel_files(f"{path}/vectors")
    stray = os.path.join(path, "vectors", "cid=0", "part-torn.parquet")
    with open(stray, "w") as fh:
        fh.write("partial delta")
    with open(os.path.join(path, artifacts.APPEND_PENDING), "w") as fh:
        json.dump(
            {
                "delta_sig": "9:123:456",
                "target_version": 99,
                "data_dirs": ["vectors"],
                "files": {"vectors": snap},
            },
            fh,
        )

    with pytest.raises(artifacts.TornArtifactError):
        artifacts.require_clean(path)

    rep = ann_maintain(spark, path)
    assert any("TORN append" in line for line in rep["fsck"])
    assert not os.path.exists(stray)
    artifacts.require_clean(path)  # clean after the pass
    assert spark.read.parquet(f"{path}/vectors").count() == 60


def test_ann_maintain_pq_retrain_is_opt_in_blue_green(spark, tmp_path):
    """PQ/IVFADC artifacts store codes, not vectors: the re-train is a
    store-of-record rebuild — behind apply_retrain (never plain
    apply), executed blue/green via retrain_index's root swap; the
    hygiene branch (layout compaction) runs under plain apply."""
    from hpaste_spark.operators import artifacts
    from hpaste_spark.operators.similarity import (
        ann_maintain,
        append_index,
        build_pq_index,
    )

    path = str(tmp_path / "pq_loop")
    base = _emb(spark, n=80, seed=3)
    delta = _emb(spark, n=20, seed=4, start=1000)
    build_pq_index(base, path, m=4, k=8)
    append_index(spark, path, delta)
    corpus = base.unionByName(delta)

    q = _queries(spark, n=8)
    rep = ann_maintain(
        spark, path, queries=q, corpus=corpus, k=5, budget=8,
        recall_margin=-1.0, apply=True,
    )
    assert rep["family"] == "pq"
    assert rep["action"] == "retrain"
    assert rep["applied"] is False, "O(corpus) rebuild needs apply_retrain"
    assert "retrain_index" in rep["plan"] and "m=4" in rep["plan"]
    assert set(rep["drift"]) == {"appended", "retrained"}
    assert rep["version_after"] == rep["version_before"] == 2

    # corpus omitted → loud, named requirement
    with pytest.raises(ValueError, match="store-of-record"):
        ann_maintain(spark, path, queries=q)

    # hygiene branch first (plain apply): journaled layout compaction
    frags = _n_files(f"{path}/codes")
    rep2 = ann_maintain(spark, path, compact_every=1, apply=True)
    assert rep2["action"] == "compact"
    assert rep2["applied"] is True
    assert _n_files(f"{path}/codes") < frags
    artifacts.require_clean(path)
    assert spark.read.parquet(f"{path}/codes").count() == 100

    # now the opt-in re-train: blue/green root swap, version chain
    # carried forward, fresh replay ring, clean new root
    rep3 = ann_maintain(
        spark, path, queries=q, corpus=corpus, k=5, budget=8,
        recall_margin=-1.0, apply_retrain=True,
    )
    assert rep3["action"] == "retrain" and rep3["applied"] is True
    meta = artifacts.read_meta(path)
    assert meta["version"] == rep3["version_before"] + 1
    assert meta["delta_sigs"] == [] and meta["m"] == 4
    assert artifacts.artifact_stats(path)["appends_since_compact"] == 0
    artifacts.require_clean(path)
    assert spark.read.parquet(f"{path}/codes").count() == 100
    assert not os.path.isdir(path + "_retrain_tmp")
    assert not os.path.isdir(path + "_old")


def test_retrain_blue_green_crash_windows(spark, tmp_path, monkeypatch):
    """The root-swap crash windows are each one recover step from
    retryable: (a) kill between the two root renames → old artifact
    parked complete at <root>_old, recover renames it back (journal
    inside is then fsck'd) and the retry completes; (b) build failure →
    journal aborted, sibling tmp removed."""
    from hpaste_spark.operators import artifacts
    from hpaste_spark.operators import similarity as sim
    from hpaste_spark.operators.similarity import (
        build_ivfadc_index,
        ivfadc_topk_indexed,
        retrain_index,
    )

    path = str(tmp_path / "adc_bg")
    base = _emb(spark, n=60, seed=3)
    build_ivfadc_index(base, path, k_centroids=4, m=4, k=8)

    # (a) crash between the two renames of the root swap
    real_rename = os.rename

    def crashing_rename(src, dst):
        real_rename(src, dst)
        if dst.endswith("_old"):
            raise OSError("simulated kill after rename 1")

    monkeypatch.setattr(os, "rename", crashing_rename)
    with pytest.raises(OSError, match="simulated kill"):
        retrain_index(spark, base, path)
    monkeypatch.setattr(os, "rename", real_rename)
    assert not os.path.isdir(path) and os.path.isdir(path + "_old")

    report = artifacts.recover_artifact_root(path)
    assert any("parked complete" in line for line in report)
    assert os.path.isdir(path)
    # the rolled-back root still carries the re-train's journal
    with pytest.raises(artifacts.TornArtifactError):
        artifacts.require_clean(path)
    artifacts.check_artifact(path, repair=True)
    v = retrain_index(spark, base, path)  # retry completes
    assert v == 2
    artifacts.require_clean(path)

    # (b) build failure: journal aborted, tmp gone, artifact untouched
    def boom(*a, **kw):
        raise RuntimeError("simulated build failure")

    monkeypatch.setattr(sim, "build_ivfadc_index", boom)
    with pytest.raises(RuntimeError, match="simulated build"):
        retrain_index(spark, base, path)
    monkeypatch.undo()
    artifacts.require_clean(path)  # journal rolled back
    assert not os.path.isdir(path + "_retrain_tmp")
    assert artifacts.read_meta(path)["version"] == 2
    q = _queries(spark, n=3).filter(F.col("qid") == 1).select(
        F.col("qe").alias("qv")
    )
    assert ivfadc_topk_indexed(spark, path, q, topk=5).count() == 5

    # the retrain reset the drift clock: a maintenance pass with
    # queries must SKIP the (expensive) monitor on the fresh geometry
    rep = sim.ann_maintain(
        spark, path, queries=_queries(spark, n=4), corpus=base
    )
    assert rep["drift"] is None and rep["action"] == "none"
    assert artifacts.artifact_stats(path)["appends_since_trained"] == 0


def test_standing_artifact_maintain_hdr_and_bloom(spark, tmp_path):
    """ann_maintain's sibling for the parquet-meta artifacts: fsck
    (clears a planted crashed-swap leftover), file-count signal on the
    family's data dir, threshold-gated layout compaction under the
    family's own append_lock.  No drift leg by design (exact
    structures)."""
    from pyspark.sql import functions as F

    from hpaste_spark.operators.maintenance import standing_artifact_maintain
    from hpaste_spark.operators.sketches import (
        append_hdr_baseline,
        build_hdr_baseline,
        hdr_merge,
        hdr_quantiles,
    )

    # HDR lifecycle
    path = str(tmp_path / "hdr")
    vals = spark.range(500).select((F.col("id") % 97 + 1.0).alias("v"))
    build_hdr_baseline(vals, path)
    for i in range(3):
        append_hdr_baseline(
            spark, path,
            spark.range(100).select((F.col("id") % (50 + i) + 1.0).alias("v")),
        )
    q_before = hdr_quantiles(
        hdr_merge(spark.read.parquet(f"{path}/sketch"))
    ).collect()

    rep = standing_artifact_maintain(spark, path, "hdr", max_files_per_dir=2)
    assert rep["action"] == "compact" and rep["applied"] is False
    assert rep["plan"] == "compact_hdr_baseline(path)"
    assert any("max_files_per_dir" in line for line in rep["fsck"])

    rep2 = standing_artifact_maintain(
        spark, path, "hdr", max_files_per_dir=2, apply=True
    )
    assert rep2["applied"] is True and rep2["version_after"] == 5
    q_after = hdr_quantiles(
        hdr_merge(spark.read.parquet(f"{path}/sketch"))
    ).collect()
    assert q_after == q_before, "hdr_merge compaction is read-identical"
    rep3 = standing_artifact_maintain(spark, path, "hdr", max_files_per_dir=2)
    assert rep3["action"] == "none" and rep3["stats"]["data_dirs"]["sketch"] <= 2

    # crashed-swap leftover is fsck'd before the signal is read
    import os

    tmp_leftover = os.path.join(path, "sketch_compact_tmp")
    os.makedirs(tmp_leftover)
    with open(os.path.join(tmp_leftover, "part-crashed.parquet"), "w") as fh:
        fh.write("crashed build")
    rep4 = standing_artifact_maintain(spark, path, "hdr", max_files_per_dir=2)
    assert any("crashed compaction build" in line for line in rep4["fsck"])
    assert not os.path.isdir(tmp_leftover)

    # family validation is loud
    with pytest.raises(ValueError, match="unknown standing-artifact"):
        standing_artifact_maintain(spark, path, "ivf")
    with pytest.raises(ValueError, match="no bits/"):
        standing_artifact_maintain(spark, path, "bloom")


def test_stored_rows_counts_footers_and_fails_loudly(spark, tmp_path):
    """The artifact cardinality checks' row count: a local tree with no
    data files is 0 rows with no Spark job; a tree whose footer cannot
    be read raises naming the file instead of falling back to a count."""
    from hpaste_spark.operators.similarity import _stored_rows

    sc = spark.sparkContext
    empty = tmp_path / "empty" / "cid=0"
    empty.mkdir(parents=True)
    sc.setJobGroup("stored_rows_empty", "stored_rows_empty")
    try:
        assert _stored_rows(spark, str(tmp_path / "empty")) == 0
    finally:
        sc.setJobGroup("none", "none")
    assert sc.statusTracker().getJobIdsForGroup("stored_rows_empty") == []

    tree = tmp_path / "codes"
    _emb(spark, n=20).write.parquet(str(tree))
    assert _stored_rows(spark, str(tree)) == 20
    part = sorted(tree.glob("*.parquet"))[0]
    data = part.read_bytes()
    part.write_bytes(data[: len(data) // 2])  # truncated: footer gone
    with pytest.raises(ValueError, match=part.name):
        _stored_rows(spark, str(tree))
