"""Unit tests for the shared artifact-swap primitive (no Spark).

Every compaction (LSH bands, Bloom bits, HDR sketch, IVF centroids +
vectors) funnels through swap_live_dir; its crash-window semantics are
the difference between "a crash parks the old relation one rename from
repair" and the pre-round-11 "a crash has already deleted it".
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hpaste_spark.operators.artifacts import swap_live_dir  # noqa: E402


def _mk(dirpath, marker: str) -> None:
    os.makedirs(dirpath)
    with open(os.path.join(dirpath, "data.txt"), "w") as fh:
        fh.write(marker)


def _content(dirpath) -> str:
    with open(os.path.join(dirpath, "data.txt")) as fh:
        return fh.read()


def test_swap_replaces_live_and_cleans_up(tmp_path):
    live, tmp = str(tmp_path / "bands"), str(tmp_path / "bands_tmp")
    _mk(live, "old")
    _mk(tmp, "new")
    swap_live_dir(live, tmp)
    assert _content(live) == "new"
    assert not os.path.exists(tmp)
    assert not os.path.exists(live + "_old"), "parked dir must be cleaned up"


def test_swap_clears_stale_parked_dir_from_prior_crash(tmp_path):
    """A crash after step 2 of a PREVIOUS swap leaves live + _old; the
    next swap must clear the stale parking spot instead of failing the
    rename into it."""
    live, tmp = str(tmp_path / "bands"), str(tmp_path / "bands_tmp")
    _mk(live, "current")
    _mk(tmp, "compacted")
    _mk(live + "_old", "two-swaps-ago")  # the crash leftover
    swap_live_dir(live, tmp)
    assert _content(live) == "compacted"
    assert not os.path.exists(live + "_old")


def test_check_artifact_detects_and_repairs_crash_states(tmp_path):
    """check_artifact fsck: a completed-swap leftover (_old + live) is
    deleted, a mid-swap crash (_old, no live) rolls back by rename, a
    crashed compaction build (_compact_tmp) is deleted; a clean tree
    reports nothing; dry-run repairs nothing."""
    from hpaste_spark.operators.artifacts import check_artifact

    root = str(tmp_path / "art")
    _mk(os.path.join(root, "bands"), "live")
    _mk(os.path.join(root, "bands_old"), "stale")           # completed swap
    _mk(os.path.join(root, "vectors_old"), "parked")        # mid-swap crash
    _mk(os.path.join(root, "bits_compact_tmp"), "halfbuild")

    dry = check_artifact(root, repair=False)
    assert len(dry) == 3
    assert os.path.isdir(os.path.join(root, "bands_old")), "dry-run must not act"

    fixed = check_artifact(root, repair=True)
    assert len(fixed) == 3
    assert not os.path.exists(os.path.join(root, "bands_old"))
    assert not os.path.exists(os.path.join(root, "bits_compact_tmp"))
    assert _content(os.path.join(root, "vectors")) == "parked", "rollback by rename"
    assert _content(os.path.join(root, "bands")) == "live"
    assert check_artifact(root) == [], "tree canonical after repair"


def test_crash_between_renames_parks_old_relation(tmp_path, monkeypatch):
    """Simulate a crash between rename 1 (live -> _old) and rename 2
    (tmp -> live): the old relation must be PARKED COMPLETE at _old —
    one rename from repair, zero data loss (the property the previous
    rmtree-then-rename sequence lacked)."""
    import hpaste_spark.operators.artifacts as artifacts

    live, tmp = str(tmp_path / "bands"), str(tmp_path / "bands_tmp")
    _mk(live, "old")
    _mk(tmp, "new")

    real_rename = os.rename
    calls = {"n": 0}

    def crashing_rename(src, dst):
        calls["n"] += 1
        if calls["n"] == 1:
            real_rename(src, dst)
            raise OSError("simulated crash after the first rename")
        real_rename(src, dst)

    monkeypatch.setattr(artifacts.os, "rename", crashing_rename)
    try:
        swap_live_dir(live, tmp)
        raise AssertionError("expected the simulated crash to propagate")
    except OSError:
        pass
    assert not os.path.exists(live), "mid-crash state: live missing (loud reads)"
    assert _content(live + "_old") == "old", "old relation parked complete"
    assert _content(tmp) == "new", "compacted relation still intact"
    # repair = one rename, exactly as documented
    real_rename(live + "_old", live)
    assert _content(live) == "old"


# ---------------------------------------------------------------------------
# round-12: torn-append journal + two-directory compaction journal


def _write_json(path, obj) -> None:
    import json

    with open(path, "w") as fh:
        json.dump(obj, fh)


def _mk_art(root, files: dict[str, str]) -> None:
    """Lay out an artifact tree: {relative file path: content}."""
    for rel, content in files.items():
        full = os.path.join(root, rel)
        os.makedirs(os.path.dirname(full), exist_ok=True)
        with open(full, "w") as fh:
            fh.write(content)


def test_append_journal_torn_rolls_back_to_snapshot(tmp_path):
    """A torn append (journal present, meta NOT at the journal's
    target) must roll the data dirs back to exactly the journal's
    pre-append file snapshot — deleting the partial delta files and
    the partition dirs the append created — so the retry is clean and
    cannot double-insert."""
    from hpaste_spark.operators.artifacts import (
        APPEND_PENDING,
        check_artifact,
        read_meta,
        require_clean,
        write_meta,
    )

    root = str(tmp_path / "idx")
    _mk_art(
        root,
        {
            "vectors/cid=0/part-old.parquet": "committed",
            "vectors/_SUCCESS": "",
            # the torn delta: a new file in an existing partition AND a
            # whole new partition dir
            "vectors/cid=0/part-new.parquet": "partial delta",
            "vectors/cid=7/part-new.parquet": "partial delta",
        },
    )
    write_meta(root, {"kind": "ivf", "version": 3, "last_delta_sig": "8:111"})
    _write_json(
        os.path.join(root, APPEND_PENDING),
        {
            "delta_sig": "4:222",
            "target_version": 4,
            "data_dirs": ["vectors"],
            "files": {"vectors": ["_SUCCESS", os.path.join("cid=0", "part-old.parquet")]},
        },
    )
    # readers must refuse the journaled tree
    try:
        require_clean(root, "IVF index")
        raise AssertionError("require_clean must raise on a pending journal")
    except Exception as exc:
        assert "append_pending" in str(exc)

    dry = check_artifact(root, repair=False)
    assert any("TORN append (2 uncommitted delta files)" in l for l in dry)
    assert os.path.exists(os.path.join(root, "vectors/cid=7/part-new.parquet"))

    check_artifact(root, repair=True)
    assert os.path.exists(os.path.join(root, "vectors/cid=0/part-old.parquet"))
    assert not os.path.exists(os.path.join(root, "vectors/cid=0/part-new.parquet"))
    assert not os.path.exists(os.path.join(root, "vectors/cid=7")), (
        "partition dir created by the torn append must be pruned"
    )
    assert not os.path.exists(os.path.join(root, APPEND_PENDING))
    assert read_meta(root)["version"] == 3, "meta untouched by rollback"
    require_clean(root)  # clean again
    assert check_artifact(root) == []


def test_append_journal_committed_only_drops_journal(tmp_path):
    """Crash AFTER the meta publish but before the journal unlink:
    meta matches the journal's (target_version, delta_sig), so the
    append committed — repair must drop the journal and must NOT
    delete the (committed) delta files."""
    from hpaste_spark.operators.artifacts import (
        APPEND_PENDING,
        check_artifact,
        write_meta,
    )

    root = str(tmp_path / "idx")
    _mk_art(
        root,
        {
            "codes/part-old.parquet": "base",
            "codes/part-new.parquet": "committed delta",
        },
    )
    write_meta(root, {"kind": "pq", "version": 4, "last_delta_sig": "4:222"})
    _write_json(
        os.path.join(root, APPEND_PENDING),
        {
            "delta_sig": "4:222",
            "target_version": 4,
            "data_dirs": ["codes"],
            "files": {"codes": ["part-old.parquet"]},
        },
    )
    report = check_artifact(root, repair=True)
    assert any("COMMITTED" in l for l in report)
    assert os.path.exists(os.path.join(root, "codes/part-new.parquet")), (
        "committed delta files must survive"
    )
    assert not os.path.exists(os.path.join(root, APPEND_PENDING))


def test_compact_journal_before_any_swap_discards_tmps(tmp_path):
    """Compaction crashed before the first swap: no live dir carries
    the journal's epoch, so repair discards the (re-derivable) tmp
    builds and rolls the compaction back."""
    from hpaste_spark.operators.artifacts import (
        COMPACT_PENDING,
        check_artifact,
        write_epoch,
    )

    root = str(tmp_path / "idx")
    _mk_art(
        root,
        {
            "vectors/d.parquet": "old",
            "centroids/c.parquet": "old",
            "vectors_compact_tmp/d.parquet": "new",
            "centroids_compact_tmp/c.parquet": "new",
        },
    )
    write_epoch(os.path.join(root, "vectors"), "aaaa")
    write_epoch(os.path.join(root, "centroids"), "aaaa")
    write_epoch(os.path.join(root, "vectors_compact_tmp"), "bbbb")
    write_epoch(os.path.join(root, "centroids_compact_tmp"), "bbbb")
    _write_json(
        os.path.join(root, COMPACT_PENDING),
        {"dirs": ["vectors", "centroids"], "epoch": "bbbb", "target_version": 2},
    )
    check_artifact(root, repair=True)
    assert not os.path.exists(os.path.join(root, "vectors_compact_tmp"))
    assert not os.path.exists(os.path.join(root, "centroids_compact_tmp"))
    assert not os.path.exists(os.path.join(root, COMPACT_PENDING))
    with open(os.path.join(root, "vectors/d.parquet")) as fh:
        assert fh.read() == "old"


def test_compact_journal_between_swaps_completes(tmp_path):
    """THE round-12 fix: crash between the vectors swap and the
    centroids swap.  Live vectors carry the new epoch, live centroids
    the old one, and centroids_compact_tmp (the complete matching
    geometry) is on disk.  The previous fsck DELETED that tmp,
    cementing the mixed-geometry state; now it must COMPLETE the
    centroids swap and finalize the meta to the journal's target."""
    from hpaste_spark.operators.artifacts import (
        COMPACT_PENDING,
        check_artifact,
        read_epoch,
        read_meta,
        write_epoch,
        write_meta,
    )

    root = str(tmp_path / "idx")
    _mk_art(
        root,
        {
            "vectors/d.parquet": "new",       # swap 1 done
            "centroids/c.parquet": "old",     # swap 2 pending
            "centroids_compact_tmp/c.parquet": "new",
        },
    )
    write_epoch(os.path.join(root, "vectors"), "bbbb")
    write_epoch(os.path.join(root, "centroids"), "aaaa")
    write_epoch(os.path.join(root, "centroids_compact_tmp"), "bbbb")
    write_meta(root, {"kind": "ivf", "version": 1, "k_centroids": 8,
                      "epoch": "aaaa", "last_delta_sig": None})
    _write_json(
        os.path.join(root, COMPACT_PENDING),
        {"dirs": ["vectors", "centroids"], "epoch": "bbbb",
         "target_version": 2, "meta_updates": {"k_centroids": 4}},
    )
    dry = check_artifact(root, repair=False)
    assert any("BETWEEN swaps" in l for l in dry)
    assert os.path.isdir(os.path.join(root, "centroids_compact_tmp")), (
        "dry run must not touch the tmp"
    )
    check_artifact(root, repair=True)
    with open(os.path.join(root, "centroids/c.parquet")) as fh:
        assert fh.read() == "new", "swap completed from the matching tmp"
    assert read_epoch(os.path.join(root, "centroids")) == "bbbb"
    assert not os.path.exists(os.path.join(root, "centroids_compact_tmp"))
    assert not os.path.exists(os.path.join(root, COMPACT_PENDING))
    meta = read_meta(root)
    assert meta["version"] == 2 and meta["epoch"] == "bbbb"
    assert meta["k_centroids"] == 4, "journaled meta_updates applied"
    assert check_artifact(root) == []


def test_compact_journal_mid_swap_crash_then_completion(tmp_path):
    """Crash INSIDE the second swap (live centroids renamed away, tmp
    not yet renamed in): fsck first rolls the mid-swap rename back,
    then recognizes the between-swaps state and completes it."""
    from hpaste_spark.operators.artifacts import (
        COMPACT_PENDING,
        check_artifact,
        write_epoch,
    )

    root = str(tmp_path / "idx")
    _mk_art(
        root,
        {
            "vectors/d.parquet": "new",
            "centroids_old/c.parquet": "old",   # live renamed away mid-swap
            "centroids_compact_tmp/c.parquet": "new",
        },
    )
    write_epoch(os.path.join(root, "vectors"), "bbbb")
    write_epoch(os.path.join(root, "centroids_old"), "aaaa")
    write_epoch(os.path.join(root, "centroids_compact_tmp"), "bbbb")
    _write_json(
        os.path.join(root, COMPACT_PENDING),
        {"dirs": ["vectors", "centroids"], "epoch": "bbbb", "target_version": None},
    )
    check_artifact(root, repair=True)
    with open(os.path.join(root, "centroids/c.parquet")) as fh:
        assert fh.read() == "new"
    assert not os.path.exists(os.path.join(root, "centroids_old"))
    assert not os.path.exists(os.path.join(root, COMPACT_PENDING))


def test_compact_tmp_kept_when_live_rolled_back(tmp_path):
    """Un-journaled mid-swap crash: when fsck rolls ``X_old`` back to
    live, the sibling ``X_compact_tmp`` is KEPT for inspection (the
    round-12 docstring fix — the previous pass deleted it in the same
    sweep)."""
    from hpaste_spark.operators.artifacts import check_artifact

    root = str(tmp_path / "art")
    _mk(os.path.join(root, "bands_old"), "parked")
    _mk(os.path.join(root, "bands_compact_tmp"), "halfbuild")
    report = check_artifact(root, repair=True)
    assert _content(os.path.join(root, "bands")) == "parked"
    assert os.path.isdir(os.path.join(root, "bands_compact_tmp")), (
        "tmp kept for inspection when its live was rolled back"
    )
    assert any("kept for inspection" in l for l in report)


def test_begin_append_is_single_writer(tmp_path):
    """The O_EXCL journal create is the single-writer lock: a second
    concurrent appender fails loudly instead of losing a version bump
    (round-12 verdict ask #5, the contended path)."""
    import pytest

    from hpaste_spark.operators.artifacts import (
        ConcurrentMaintenanceError,
        begin_append,
        begin_compact,
    )

    root = str(tmp_path / "idx")
    os.makedirs(os.path.join(root, "vectors"))
    begin_append(root, ["vectors"], "1:1", 2)
    with pytest.raises(ConcurrentMaintenanceError, match="single-writer"):
        begin_append(root, ["vectors"], "2:2", 2)
    with pytest.raises(ConcurrentMaintenanceError):
        begin_compact(root, ["vectors"], "eeee", 2)


def test_append_lock_contended_and_stale(tmp_path):
    """append_lock (round-12: the documented single-writer contract for
    the parquet-meta artifacts, now enforced): a second writer inside a
    live lock raises instead of losing a version bump; a CRASHED
    holder's lock older than the TTL is broken and the append proceeds;
    the lock is released on error (it guards concurrency, not crash
    atomicity)."""
    import time

    import pytest

    from hpaste_spark.operators.artifacts import (
        APPEND_LOCK,
        ConcurrentMaintenanceError,
        append_lock,
    )

    root = str(tmp_path / "art")
    os.makedirs(root)

    with append_lock(root):
        assert os.path.exists(os.path.join(root, APPEND_LOCK))
        with pytest.raises(ConcurrentMaintenanceError, match="single-writer"):
            with append_lock(root):
                raise AssertionError("second writer must not enter")
    assert not os.path.exists(os.path.join(root, APPEND_LOCK)), "released on exit"

    # stale lock from a crashed holder: broken after the TTL
    lockfile = os.path.join(root, APPEND_LOCK)
    with open(lockfile, "w") as fh:
        fh.write("pid=0 t=0")
    past = time.time() - 7200
    os.utime(lockfile, (past, past))
    with append_lock(root, ttl_s=3600):
        pass  # acquired by breaking the stale lock
    assert not os.path.exists(lockfile)

    # released on error too
    try:
        with append_lock(root):
            raise RuntimeError("boom")
    except RuntimeError:
        pass
    assert not os.path.exists(lockfile)


# ---------------------------------------------------------------------------
# round-13: torn JOURNAL files, cross-writer exclusion, sig ring,
# atomic stale-lock break, artifact_stats


def test_torn_append_journal_file_is_adjudicated(tmp_path):
    """r12 verdict ask #1 (the reproduced JSONDecodeError crash): an
    EMPTY or TRUNCATED append_pending.json must be adjudicated — the
    crash hit begin_append before any delta data existed, so repair
    removes the journal and the tree is clean/retryable — instead of
    fsck raising on the bare json.load."""
    from hpaste_spark.operators.artifacts import (
        APPEND_PENDING,
        check_artifact,
        require_clean,
    )

    for torn in ("", '{"delta_sig": "4:2'):
        root = str(tmp_path / f"idx_{len(torn)}")
        _mk_art(root, {"vectors/part-old.parquet": "committed"})
        with open(os.path.join(root, APPEND_PENDING), "w") as fh:
            fh.write(torn)
        try:
            require_clean(root)
            raise AssertionError("journaled tree must fail loudly")
        except Exception as exc:
            assert "append_pending" in str(exc)
        dry = check_artifact(root, repair=False)
        assert any("torn JOURNAL" in l for l in dry)
        assert os.path.isfile(os.path.join(root, APPEND_PENDING)), "dry run"
        check_artifact(root, repair=True)
        assert not os.path.exists(os.path.join(root, APPEND_PENDING))
        assert os.path.exists(os.path.join(root, "vectors/part-old.parquet"))
        require_clean(root)
        assert check_artifact(root) == []


def test_torn_compact_journal_file_discards_tmps(tmp_path):
    """An EMPTY/TRUNCATED compact_pending.json means the swap plan was
    never journaled, therefore no swap ran: repair discards the
    re-derivable tmp builds and removes the journal."""
    from hpaste_spark.operators.artifacts import (
        COMPACT_PENDING,
        check_artifact,
        require_clean,
    )

    for torn in ("", '{"dirs": ["vec'):
        root = str(tmp_path / f"idx_{len(torn)}")
        _mk_art(
            root,
            {
                "vectors/d.parquet": "old",
                "vectors_compact_tmp/d.parquet": "new",
            },
        )
        with open(os.path.join(root, COMPACT_PENDING), "w") as fh:
            fh.write(torn)
        dry = check_artifact(root, repair=False)
        assert any("torn JOURNAL" in l and "no swap ran" in l for l in dry)
        assert os.path.isdir(os.path.join(root, "vectors_compact_tmp")), "dry run"
        check_artifact(root, repair=True)
        assert not os.path.exists(os.path.join(root, COMPACT_PENDING))
        assert not os.path.exists(os.path.join(root, "vectors_compact_tmp"))
        with open(os.path.join(root, "vectors/d.parquet")) as fh:
            assert fh.read() == "old"
        require_clean(root)
        assert check_artifact(root) == []


def test_build_phase_compact_journal_discards_tmps(tmp_path):
    """open_compact holds the exclusion for the WHOLE build (r12 ADVICE
    medium item); a crash during the tmp build leaves the journal in
    phase=build — fsck must adjudicate it as 'no swap ran' and discard
    the tmps."""
    from hpaste_spark.operators.artifacts import (
        COMPACT_PENDING,
        check_artifact,
        open_compact,
    )

    root = str(tmp_path / "idx")
    _mk_art(
        root,
        {
            "codes/d.parquet": "old",
            "codes_compact_tmp/d.parquet": "half-built",
        },
    )
    open_compact(root)  # the compactor dies here, mid-build
    dry = check_artifact(root, repair=False)
    assert any("phase=build" in l for l in dry)
    check_artifact(root, repair=True)
    assert not os.path.exists(os.path.join(root, COMPACT_PENDING))
    assert not os.path.exists(os.path.join(root, "codes_compact_tmp"))
    with open(os.path.join(root, "codes/d.parquet")) as fh:
        assert fh.read() == "old"
    assert check_artifact(root) == []


def test_journal_tmp_leftover_is_cleaned(tmp_path):
    """A crash between the journal-content dump and its os.replace
    leaves <journal>.tmp — garbage either way (the replace never ran,
    or a later journal owns the sentinel); fsck removes it."""
    from hpaste_spark.operators.artifacts import APPEND_PENDING, check_artifact

    root = str(tmp_path / "idx")
    _mk_art(root, {"vectors/d.parquet": "x"})
    with open(os.path.join(root, APPEND_PENDING + ".tmp"), "w") as fh:
        fh.write('{"half": ')
    dry = check_artifact(root, repair=False)
    assert any("half-written journal content" in l for l in dry)
    check_artifact(root, repair=True)
    assert not os.path.exists(os.path.join(root, APPEND_PENDING + ".tmp"))
    assert check_artifact(root) == []


def test_appender_vs_compactor_interleaving(tmp_path, monkeypatch):
    """r12 verdict ask #2 (the cross-pair race): with BOTH writers on
    create-then-check, every interleaving has at least one side seeing
    the other.  Force the worst case — the other writer enters exactly
    between this writer's O_EXCL create and its cross-check — in both
    directions and assert EXACTLY ONE proceeds."""
    import pytest

    import hpaste_spark.operators.artifacts as artifacts
    from hpaste_spark.operators.artifacts import (
        APPEND_PENDING,
        COMPACT_PENDING,
        ConcurrentMaintenanceError,
    )

    # direction 1: appender creates, compactor slips in before the
    # appender's COMPACT_PENDING check — compactor must lose
    root = str(tmp_path / "a")
    os.makedirs(os.path.join(root, "vectors"))
    real_close = os.close
    state = {"fired": False}

    def close_hook(fd):
        real_close(fd)
        if not state["fired"]:
            state["fired"] = True
            with pytest.raises(ConcurrentMaintenanceError):
                artifacts.open_compact(root)

    monkeypatch.setattr(artifacts.os, "close", close_hook)
    artifacts.begin_append(root, ["vectors"], "1:1:1", 2)  # appender wins
    assert os.path.isfile(os.path.join(root, APPEND_PENDING))
    assert not os.path.exists(os.path.join(root, COMPACT_PENDING)), (
        "losing compactor must roll its sentinel back"
    )
    monkeypatch.setattr(artifacts.os, "close", real_close)

    # direction 2: compactor creates, appender slips in before the
    # compactor's APPEND_PENDING check — appender must lose
    root2 = str(tmp_path / "b")
    os.makedirs(os.path.join(root2, "vectors"))
    state2 = {"fired": False}

    def close_hook2(fd):
        real_close(fd)
        if not state2["fired"]:
            state2["fired"] = True
            with pytest.raises(ConcurrentMaintenanceError):
                artifacts.begin_append(root2, ["vectors"], "1:1:1", 2)

    monkeypatch.setattr(artifacts.os, "close", close_hook2)
    artifacts.open_compact(root2)  # compactor wins
    assert os.path.isfile(os.path.join(root2, COMPACT_PENDING))
    assert not os.path.exists(os.path.join(root2, APPEND_PENDING)), (
        "losing appender must roll its sentinel back"
    )


def test_delta_sig_ring_records_and_replays():
    """r12 verdict ask #3: the sig ring recognizes a delayed duplicate
    of ANY of the last DELTA_SIG_RING committed appends, bounded."""
    from hpaste_spark.operators.artifacts import (
        DELTA_SIG_RING,
        record_delta_sig,
        sig_is_replay,
    )

    meta = {"version": 1, "last_delta_sig": None}
    sigs = [f"{i}:{i}:{i}" for i in range(DELTA_SIG_RING + 4)]
    for s in sigs:
        assert not sig_is_replay(meta, s)
        record_delta_sig(meta, s)
        assert sig_is_replay(meta, s)
    assert len(meta["delta_sigs"]) == DELTA_SIG_RING
    assert meta["last_delta_sig"] == sigs[-1]
    # everything inside the ring replays; the 4 evicted oldest do not
    for s in sigs[-DELTA_SIG_RING:]:
        assert sig_is_replay(meta, s)
    for s in sigs[:4]:
        assert not sig_is_replay(meta, s)
    assert not sig_is_replay(meta, None)
    assert not sig_is_replay(None, sigs[-1])


def test_stale_lock_break_is_atomic_single_winner(tmp_path, monkeypatch):
    """r12 verdict ask #6 (the unlink race): two breakers at one stale
    lock → exactly one proceeds.  Breaker B completes a full
    break-and-reacquire between breaker A's staleness stat and A's
    rename; A's rename then steals B's FRESH lock, the inode check
    catches it, A restores the lock and raises contended — the old
    getmtime-then-unlink would have deleted B's fresh lock and let
    both in."""
    import time

    import pytest

    import hpaste_spark.operators.artifacts as artifacts
    from hpaste_spark.operators.artifacts import (
        APPEND_LOCK,
        ConcurrentMaintenanceError,
        append_lock,
    )

    root = str(tmp_path / "art")
    os.makedirs(root)
    lock = os.path.join(root, APPEND_LOCK)
    with open(lock, "w") as fh:
        fh.write("pid=0 t=0")  # the crashed holder's stale lock
    past = time.time() - 7200
    os.utime(lock, (past, past))

    real_rename = os.rename
    state = {"fired": False}

    def rename_hook(src, dst):
        if src == lock and not state["fired"]:
            state["fired"] = True
            # breaker B wins the race: full break + reacquire while A
            # is between its stat and its rename
            real_rename(lock, lock + ".broken.by_b")
            os.unlink(lock + ".broken.by_b")
            with open(lock, "w") as fh:
                fh.write(f"pid=B t={time.time()}")  # B's FRESH lock
        return real_rename(src, dst)

    monkeypatch.setattr(artifacts.os, "rename", rename_hook)
    with pytest.raises(ConcurrentMaintenanceError, match="single-writer"):
        with append_lock(root, ttl_s=3600):
            raise AssertionError("A must not acquire — B holds a fresh lock")
    monkeypatch.setattr(artifacts.os, "rename", real_rename)
    assert os.path.isfile(lock), "B's fresh lock survives A's aborted break"
    with open(lock) as fh:
        assert "pid=B" in fh.read(), "the surviving lock is B's, not a restore-copy"


def test_artifact_stats_and_small_files_signal(tmp_path):
    """verdict ask #7: artifact_stats surfaces per-dir file counts and
    appends_since_compact; check_artifact reports when a data dir
    crosses the caller's max_files_per_dir threshold."""
    from hpaste_spark.operators.artifacts import (
        artifact_stats,
        check_artifact,
        write_meta,
    )

    root = str(tmp_path / "idx")
    _mk_art(
        root,
        {
            "vectors/cid=0/p1.parquet": "a",
            "vectors/cid=0/p2.parquet": "b",
            "vectors/cid=1/p3.parquet": "c",
            "centroids/c.parquet": "d",
            "vectors_old/stale.parquet": "ignored",
        },
    )
    write_meta(root, {"kind": "ivf", "version": 7, "compacted_version": 4})
    stats = artifact_stats(root)
    assert stats["data_dirs"] == {"centroids": 1, "vectors": 3}
    assert stats["total_files"] == 4
    assert stats["version"] == 7
    assert stats["appends_since_compact"] == 3
    report = check_artifact(root, repair=True, max_files_per_dir=2)
    assert any(
        "vectors: 3 files > max_files_per_dir=2" in l for l in report
    ), report
    assert not any("centroids" in l and "max_files" in l for l in report)
    # metaless artifact (parquet-meta family): counts only
    root2 = str(tmp_path / "bands")
    _mk_art(root2, {"bands/b.parquet": "x"})
    s2 = artifact_stats(root2)
    assert s2["appends_since_compact"] is None and s2["version"] is None


def _fixture_table(sf_dir, table: str, payload: bytes) -> str:
    os.makedirs(sf_dir, exist_ok=True)
    src = os.path.join(sf_dir, f"{table}.parquet")
    with open(src, "wb") as fh:
        fh.write(payload)
    return src


def _counting_build(calls: list):
    def build(path: str) -> None:
        calls.append(path)
        _mk(os.path.join(path, "data"), f"build {len(calls)}")

    return build


def test_ensure_artifact_builds_once_per_key(tmp_path):
    """The first call builds and marks the tree; a second call returns
    the same path without running the build again."""
    from hpaste_spark.operators.artifacts import BUILT_MARKER, ensure_artifact

    sf = str(tmp_path / "sf0.01")
    _fixture_table(sf, "embeddings", b"abc")
    root, calls = str(tmp_path / "scratch"), []
    p1 = ensure_artifact(root, "ivf_index", sf, "embeddings", 4, _counting_build(calls))
    assert calls == [p1]
    assert os.path.isfile(os.path.join(p1, BUILT_MARKER))
    assert os.path.dirname(p1) == os.path.join(root, "ivf_index")
    assert os.path.basename(p1).startswith("sf0.01_") and p1.endswith("_3_v4")
    p2 = ensure_artifact(root, "ivf_index", sf, "embeddings", 4, _counting_build(calls))
    assert p2 == p1 and len(calls) == 1, "a built tree must not be rebuilt"
    assert _content(os.path.join(p1, "data")) == "build 1"


def test_ensure_artifact_failed_build_is_discarded_and_redone(tmp_path):
    """A build that raises leaves a partial tree and no marker; the
    next call removes the partial tree before building again."""
    from hpaste_spark.operators.artifacts import BUILT_MARKER, ensure_artifact

    sf = str(tmp_path / "sf0.01")
    _fixture_table(sf, "documents", b"docs")
    root = str(tmp_path / "scratch")

    def torn(path: str) -> None:
        _mk(os.path.join(path, "bands"), "half")
        raise RuntimeError("crash between build and append")

    with pytest.raises(RuntimeError, match="crash between"):
        ensure_artifact(root, "lsh_index_appended", sf, "documents", 2, torn)
    (partial,) = os.listdir(os.path.join(root, "lsh_index_appended"))
    partial = os.path.join(root, "lsh_index_appended", partial)
    assert os.path.isdir(os.path.join(partial, "bands"))
    assert not os.path.exists(os.path.join(partial, BUILT_MARKER))

    seen = []

    def clean(path: str) -> None:
        seen.append(os.path.exists(path))
        _mk(os.path.join(path, "data"), "full")

    p = ensure_artifact(root, "lsh_index_appended", sf, "documents", 2, clean)
    assert p == partial and seen == [False], "the partial tree must be removed first"
    assert not os.path.exists(os.path.join(p, "bands"))
    assert os.path.isfile(os.path.join(p, BUILT_MARKER))


def test_ensure_artifact_keys_on_source_identity_and_version(tmp_path):
    """A changed source size or mtime, or a bumped version, keys a new
    tree; a missing source raises instead of keying an unbuildable one."""
    from hpaste_spark.operators.artifacts import ensure_artifact

    sf = str(tmp_path / "sf0.01")
    src = _fixture_table(sf, "events", b"12345")
    os.utime(src, (1_000_000, 1_000_000))
    root, calls = str(tmp_path / "scratch"), []

    def ensure(version: int = 2) -> str:
        return ensure_artifact(root, "hdr_baseline", sf, "events", version,
                               _counting_build(calls))

    base = ensure()
    assert base.endswith("sf0.01_1000000_5_v2")
    assert ensure(version=3).endswith("sf0.01_1000000_5_v3")
    os.utime(src, (2_000_000, 2_000_000))
    moved = ensure()
    assert moved.endswith("sf0.01_2000000_5_v2")
    _fixture_table(sf, "events", b"123456")
    os.utime(src, (2_000_000, 2_000_000))
    assert ensure().endswith("sf0.01_2000000_6_v2")
    assert len(calls) == 4, "every new key builds once"
    os.remove(src)
    with pytest.raises(FileNotFoundError):
        ensure()
    assert len(calls) == 4


def test_scratch_dir_is_keyed_on_fixture_basename(tmp_path):
    from hpaste_spark.operators.artifacts import scratch_dir

    root = str(tmp_path)
    assert scratch_dir(root, "stream_hdr", "/data/sf0.1/") == os.path.join(
        root, "stream_hdr", "sf0.1"
    )
