"""Model-based crash-consistency fuzz of the artifact journal protocol
(round 13): hypothesis drives random SEQUENCES of appends, two-dir
compactions, crash injections at every protocol window, fscks, and
replay probes against a real on-disk tree (file level — the protocol
is SparkSession-free by design), while a pure-Python model tracks the
only two states any window is allowed to resolve to: the op fully
rolled back or the op fully committed.  After every repair the real
tree must equal the model EXACTLY (data files and meta), and while a
journal is pending every second writer must fail loudly.

The directed tests in test_artifacts.py / test_artifact_protocol_r13.py
each pin ONE window; this machine explores their compositions
(torn append → fsck → retry → compact crashed between swaps → fsck →
replay of a pre-compaction sig → ...), which is where protocol bugs
hide.

Reference context: the reference trusts HBase's own WAL/flush
machinery for this class (its tests never crash the store);
re-architecting the store as parquet trees makes the protocol ours to
prove.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

import pytest
from hypothesis import HealthCheck, settings
from hypothesis import strategies as st
from hypothesis.stateful import (
    RuleBasedStateMachine,
    initialize,
    invariant,
    precondition,
    rule,
)

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hpaste_spark.operators import artifacts as A  # noqa: E402

DIRS = ["vectors", "centroids"]

# crash windows, named by what has ALREADY happened when the writer dies
APPEND_CRASHES = ["none", "after_begin", "torn_journal", "mid_data", "after_meta"]
COMPACT_CRASHES = ["none", "after_open", "after_journal", "between_swaps", "after_swaps"]


def _tree(path: str, d: str) -> "dict[str, str]":
    """Data files (name → content) of one data dir, sidecars excluded."""
    base = os.path.join(path, d)
    out = {}
    for rel in A._list_rel_files(base):
        if os.path.basename(rel).startswith(("_", ".")):
            continue
        with open(os.path.join(base, rel)) as fh:
            out[rel] = fh.read()
    return out


class ArtifactProtocolMachine(RuleBasedStateMachine):
    def __init__(self):
        super().__init__()
        self.root = tempfile.mkdtemp(prefix="art_fuzz_")
        self.path = os.path.join(self.root, "idx")
        # model state
        self.model: "dict[str, dict[str, str]]" = {}
        self.meta: dict = {}
        self.pending: "tuple | None" = None  # (kind, expected-after-fsck)
        self.committed_sigs: "list[str]" = []
        self.rolled_back_sigs: "list[str]" = []
        self.counter = 0

    def teardown(self):
        shutil.rmtree(self.root, ignore_errors=True)

    # ---- helpers ------------------------------------------------------

    def _write(self, d: str, name: str, content: str) -> None:
        full = os.path.join(self.path, d, name)
        os.makedirs(os.path.dirname(full), exist_ok=True)
        with open(full, "w") as fh:
            fh.write(content)

    def _fresh(self, prefix: str) -> str:
        self.counter += 1
        return f"{prefix}{self.counter}"

    # ---- lifecycle ----------------------------------------------------

    @initialize()
    def build(self):
        for d in DIRS:
            os.makedirs(os.path.join(self.path, d))
        epoch = A.new_epoch()
        model = {}
        for d in DIRS:
            name = f"{d}-base.parquet"
            self._write(d, name, f"base content of {d}")
            A.write_epoch(os.path.join(self.path, d), epoch)
            model[d] = {name: f"base content of {d}"}
        self.model = model
        self.meta = {
            "kind": "ivf",
            "version": 1,
            "last_delta_sig": None,
            "delta_sigs": [],
            "compacted_version": 1,
            "trained_version": 1,
        }
        A.write_meta(self.path, self.meta)

    # ---- rules --------------------------------------------------------

    @precondition(lambda self: self.pending is None and self.meta)
    @rule(crash=st.sampled_from(APPEND_CRASHES), nfiles=st.integers(1, 2))
    def append(self, crash, nfiles):
        sig = self._fresh("sig")
        target = self.meta["version"] + 1
        A.begin_append(self.path, ["vectors"], sig, target)
        if crash == "after_begin":
            self.pending = ("append", dict(self.model))
            self.rolled_back_sigs.append(sig)
            return
        if crash == "torn_journal":
            # the one window atomic content-replace leaves open: the
            # sentinel exists but its content never landed (crash mid
            # first write).  By protocol order NO data exists yet.
            with open(os.path.join(self.path, A.APPEND_PENDING), "w"):
                pass  # truncate
            self.pending = ("append", dict(self.model))
            self.rolled_back_sigs.append(sig)
            return
        delta = {}
        for i in range(nfiles):
            name = f"delta-{sig}-{i}.parquet"
            self._write("vectors", name, f"delta {sig} {i}")
            delta[name] = f"delta {sig} {i}"
        if crash == "mid_data":
            self.pending = ("append", dict(self.model))
            self.rolled_back_sigs.append(sig)
            return
        new_meta = dict(self.meta)
        new_meta["version"] = target
        A.record_delta_sig(new_meta, sig)
        committed_model = {
            "vectors": {**self.model["vectors"], **delta},
            "centroids": dict(self.model["centroids"]),
        }
        if crash == "after_meta":
            A.write_meta(self.path, new_meta)  # crash before journal drop
            self.pending = ("append_committed", committed_model)
            self.meta = new_meta
            self.committed_sigs.append(sig)
            return
        A.commit_append(self.path, new_meta)
        self.meta = new_meta
        self.model = committed_model
        self.committed_sigs.append(sig)

    @precondition(lambda self: self.pending is None and self.meta)
    @rule(crash=st.sampled_from(COMPACT_CRASHES))
    def compact(self, crash):
        """Two-directory compaction (the IVF major shape): consolidate
        each dir to one file, both tmps epoch-stamped together."""
        A.open_compact(self.path)
        target = self.meta["version"] + 1
        epoch = A.new_epoch()
        compacted = {}
        for d in DIRS:
            tmp = os.path.join(self.path, f"{d}_compact_tmp")
            shutil.rmtree(tmp, ignore_errors=True)
            os.makedirs(tmp)
            body = "|".join(
                self.model[d][n] for n in sorted(self.model[d])
            )
            with open(os.path.join(tmp, f"{d}-compacted.parquet"), "w") as fh:
                fh.write(body)
            A.write_epoch(tmp, epoch)
            compacted[d] = {f"{d}-compacted.parquet": body}
        if crash == "after_open":
            self.pending = ("compact", dict(self.model))
            return
        info = A.journal_compact_swap(
            self.path, DIRS, epoch, target,
            meta_updates={"trained_version": target},
        )
        if crash == "after_journal":
            self.pending = ("compact", dict(self.model))
            return
        meta_after = dict(self.meta)
        meta_after.update(
            version=target, epoch=epoch, compacted_version=target,
            trained_version=target,
        )
        A.swap_live_dir(
            os.path.join(self.path, "vectors"),
            os.path.join(self.path, "vectors_compact_tmp"),
        )
        if crash == "between_swaps":
            self.pending = ("compact_completes", compacted)
            self.meta = meta_after
            return
        A.swap_live_dir(
            os.path.join(self.path, "centroids"),
            os.path.join(self.path, "centroids_compact_tmp"),
        )
        if crash == "after_swaps":
            self.pending = ("compact_completes", compacted)
            self.meta = meta_after
            return
        A.finish_compact(self.path, info)
        self.meta = meta_after
        self.model = compacted

    @precondition(lambda self: self.pending is None and self.meta)
    @rule(crash=st.sampled_from(
        ["none", "mid_build", "between_root_renames", "after_root_swap"]))
    def retrain_blue_green(self, crash):
        """The root-level blue/green rebuild (retrain_index shape,
        emulated with the same artifacts primitives): complete sibling
        build under the live root's compaction journal, then the root
        rename-aside swap.  Crash states are siblings of the root —
        recover_artifact_root's territory, composed with fsck for the
        journal the dying root carries."""
        A.recover_artifact_root(self.path)
        A.require_clean(self.path)
        target = self.meta["version"] + 1
        tmp_root = self.path + A.RETRAIN_TMP_SUFFIX
        A.open_compact(self.path)
        shutil.rmtree(tmp_root, ignore_errors=True)
        epoch = A.new_epoch()
        retrained = {}
        new_meta = {
            "kind": "ivf", "version": target, "last_delta_sig": None,
            "delta_sigs": [], "compacted_version": target,
            "trained_version": target,
        }
        for d in DIRS:
            os.makedirs(os.path.join(tmp_root, d))
            body = f"retrained {d} v{target}"
            with open(os.path.join(tmp_root, d, f"{d}-rt.parquet"), "w") as fh:
                fh.write(body)
            A.write_epoch(os.path.join(tmp_root, d), epoch)
            retrained[d] = {f"{d}-rt.parquet": body}
            if crash == "mid_build" and d == DIRS[0]:
                break
        if crash == "mid_build":
            self.pending = ("retrain_rollback", dict(self.model))
            return
        A.write_meta(tmp_root, new_meta)
        if crash == "between_root_renames":
            os.rename(self.path, self.path + "_old")  # rename 1 of 2
            self.pending = ("retrain_rollback", dict(self.model))
            return
        if crash == "after_root_swap":
            os.rename(self.path, self.path + "_old")
            os.rename(tmp_root, self.path)  # crash before _old cleanup
            self.pending = ("retrain_done", retrained)
            self.meta = new_meta
            # a new store generation owes no replay protection to the
            # old one's deltas (documented retrain semantics)
            self.committed_sigs = []
            return
        A.swap_live_dir(self.path, tmp_root)
        self.meta = new_meta
        self.model = retrained
        self.committed_sigs = []

    @precondition(lambda self: self.pending is not None)
    @rule()
    def fsck(self):
        kind, expected = self.pending
        report = A.recover_artifact_root(self.path)
        report += A.check_artifact(self.path, repair=True)
        assert report, f"pending {kind} must produce at least one report line"
        self.pending = None
        self.model = expected
        A.require_clean(self.path)
        # a second repair pass finds nothing
        assert A.check_artifact(self.path, repair=False) == []
        # post-repair meta must match the model's
        real = A.read_meta(self.path)
        for key in ("version", "compacted_version", "trained_version",
                    "last_delta_sig", "delta_sigs"):
            assert real.get(key) == self.meta.get(key), (
                key, real.get(key), self.meta.get(key), kind)

    @precondition(
        lambda self: self.pending is not None
        and self.pending[0] != "retrain_done"
        and os.path.isdir(self.path)
    )
    @rule()
    def second_writer_fails_loudly(self):
        """While any journal is pending, appenders, compactors, and
        readers must all refuse.  (Skipped when the live root itself is
        mid-root-swap — there is nothing to open a journal ON — and
        after a completed root swap, where only the parked _old dir
        remains to clean: the new root is born clean by design.)"""
        with pytest.raises(A.ConcurrentMaintenanceError):
            A.begin_append(self.path, ["vectors"], "sigX", 999)
        with pytest.raises(A.ConcurrentMaintenanceError):
            A.open_compact(self.path)
        with pytest.raises(A.TornArtifactError):
            A.require_clean(self.path)

    @precondition(lambda self: self.pending is None and bool(self.committed_sigs))
    @rule(data=st.data())
    def replay_is_recognized(self, data):
        """Any committed sig within the ring must read as a replay;
        rolled-back sigs must never."""
        ring = self.committed_sigs[-A.DELTA_SIG_RING:]
        sig = data.draw(st.sampled_from(ring))
        assert A.sig_is_replay(A.read_meta(self.path), sig)
        for sig in self.rolled_back_sigs[-4:]:
            assert not A.sig_is_replay(A.read_meta(self.path), sig), (
                "a rolled-back append's sig must stay retryable")

    # ---- invariants ---------------------------------------------------

    @invariant()
    def clean_tree_matches_model(self):
        if self.pending is not None or not self.meta:
            return
        for d in DIRS:
            assert _tree(self.path, d) == self.model[d], d
        real = A.read_meta(self.path)
        assert real["version"] == self.meta["version"]


TestArtifactProtocolFuzz = ArtifactProtocolMachine.TestCase
TestArtifactProtocolFuzz.settings = settings(
    max_examples=40,
    stateful_step_count=30,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
