"""Key-prefix partitioned storage: directory-level pruning for point
gets and rowkey ranges (the HBase sorted-region analog, SURVEY §1.4).
"""

from hpaste_spark.schema import HTable, Schema


def plan_of(df) -> str:
    qe = df._jdf.queryExecution()
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return qe.explainString(mode)


class KpTable(HTable):
    def __init__(self, schema: Schema):
        super().__init__(schema, "kp_table", key_type=str, partition_prefix_len=1)
        meta = self.family("meta")
        self.v = self.column(meta, "v", "long")


def _make(spark, base_dir):
    sch = Schema(base_dir=base_dir)
    tbl = KpTable(sch)
    sch.create_all(spark)
    op = None
    for key, v in [("a1", 1), ("a2", 2), ("b1", 3), ("c1", 4), ("c2", 5)]:
        op = (op.put(key) if op else tbl.put(key)).value("v", v)
    op.execute(spark)
    return tbl


def test_point_get_prunes_partition_dirs(spark, base_dir):
    tbl = _make(spark, base_dir)
    q = tbl.query2(spark).with_key("a1").with_all_columns()
    plan = plan_of(q.to_df())
    assert "PartitionFilters" in plan and "_kp" in plan, (
        "point get must constrain the _kp partition directory"
    )
    assert q.single().column("v") == 1


def test_range_scan_prunes_and_matches(spark, base_dir):
    tbl = _make(spark, base_dir)
    q = tbl.query2(spark).with_start_row("a2").with_end_row("c1").with_all_columns()
    rows = {r.rowid: r.column("v") for r in q.scan_to_iterable(lambda r: r)}
    assert rows == {"a2": 2, "b1": 3}
    plan = plan_of(q.to_df())
    assert "PartitionFilters" in plan and "_kp" in plan


def test_multiget_prefix_pruning(spark, base_dir):
    tbl = _make(spark, base_dir)
    q = tbl.query2(spark).with_keys({"a1", "c2"}).with_all_columns()
    got = q.multi_map()
    assert {k: r.column("v") for k, r in got.items()} == {"a1": 1, "c2": 5}


def test_unpartitioned_table_unaffected(spark, base_dir):
    sch = Schema(base_dir=base_dir)

    class Plain(HTable):
        def __init__(self, schema):
            super().__init__(schema, "plain_table", key_type=str)
            meta = self.family("meta")
            self.v = self.column(meta, "v", "long")

    tbl = Plain(sch)
    sch.create_all(spark)
    tbl.put("x1").value("v", 9).execute(spark)
    assert tbl.query2(spark).with_key("x1").with_all_columns().single().column("v") == 9


def test_partial_rewrite_touches_only_mutated_partitions(spark, base_dir):
    """A mutation batch on prefix-partitioned storage rewrites only its
    touched partitions; untouched partition files are HARDLINKED from
    the previous snapshot (same inodes — no data copied)."""
    import os

    tbl = _make(spark, base_dir)  # v2: partitioned snapshot (a, b, c)
    st = tbl.storage
    v_before = st.current_version()
    before_files = {}
    for entry in os.listdir(st.snapshot_dir(v_before)):
        if entry.startswith("_kp="):
            d = os.path.join(st.snapshot_dir(v_before), entry)
            before_files[entry] = {f: os.stat(os.path.join(d, f)).st_ino for f in os.listdir(d)}

    tbl.put("a9").value("v", 99).execute(spark)  # touches only prefix 'a'

    v_after = st.current_version()
    assert v_after == v_before + 1
    after_dir = st.snapshot_dir(v_after)
    # untouched partitions: identical inodes (hardlinks, not copies)
    for entry in ("_kp=b", "_kp=c"):
        d = os.path.join(after_dir, entry)
        after = {f: os.stat(os.path.join(d, f)).st_ino for f in os.listdir(d)}
        assert after == before_files[entry], f"{entry} should be hardlinked"

    # all data still correct, including the new row and old rows everywhere
    rows = {r["rowkey"]: r["v"] for r in tbl.to_df(spark).collect()}
    assert rows == {"a1": 1, "a2": 2, "a9": 99, "b1": 3, "c1": 4, "c2": 5}


def test_partial_rewrite_delete_and_gc_safety(spark, base_dir):
    """Deleting a row rewrites its partition; GC of old snapshots must
    not corrupt hardlink-shared files in the live snapshot."""
    tbl = _make(spark, base_dir)
    tbl.delete("c1").execute(spark)
    tbl.put("b7").value("v", 7).execute(spark)   # triggers GC of older snapshots
    tbl.put("a3").value("v", 3).execute(spark)
    rows = {r["rowkey"]: r["v"] for r in tbl.to_df(spark).collect()}
    assert rows == {"a1": 1, "a2": 2, "a3": 3, "b1": 3, "b7": 7, "c2": 5}
    # point get through the DSL still prunes and reads correctly
    assert tbl.query2(spark).with_key("c2").with_all_columns().single().column("v") == 5


def test_concurrent_writers_never_lose_updates(spark, base_dir):
    """Commit-lock protocol: a second writer racing the same version
    must FAIL (ConcurrentWriteError), not silently clobber the first."""
    import os
    import time

    import pytest

    from hpaste_spark.sources.storage import ConcurrentWriteError

    sch = Schema(base_dir=base_dir)
    tbl = KpTable(sch)
    sch.create_all(spark)
    tbl.put("k1").value("v", 1).execute(spark)
    storage = tbl.storage

    # writer B holds the claim for the next version → writer A must fail
    nxt = storage.current_version() + 1
    claim = storage._claim(nxt)
    with pytest.raises(ConcurrentWriteError):
        tbl.put("k2").value("v", 2).execute(spark)
    # the losing batch was NOT applied and the version did not move
    assert storage.current_version() == nxt - 1
    assert tbl.query2(spark).with_all_columns().scan_to_iterable(lambda r: r.rowid) == ["k1"]

    # stale claim (crashed writer): next writer breaks it and proceeds
    old = time.time() - storage.claim_ttl_s - 10
    os.utime(claim, (old, old))
    tbl.put("k3").value("v", 3).execute(spark)
    assert storage.current_version() == nxt
    got = sorted(tbl.query2(spark).with_all_columns().scan_to_iterable(lambda r: r.rowid))
    assert got == ["k1", "k3"]
    assert not os.path.exists(claim), "claim released after publish"


def test_failed_write_leaves_no_unpublished_snapshot(spark, base_dir, monkeypatch):
    """A write that fails after its data landed (here in the sticky-
    marker copy, the last step before the publish) must leave no
    snapshot behind — for the full write and the partial rewrite alike.
    Otherwise versions() lists a version that was never published and
    read(version=...) serves a batch that was never applied."""
    import os

    import pytest

    from hpaste_spark.sources.storage import ParquetStorage

    tbl = _make(spark, base_dir)
    storage = tbl.storage
    assert storage.supports_partial_rewrite()
    cur, on_disk = storage.current_version(), storage.versions()

    def fail(*_a, **_k):
        raise OSError("disk full while carrying markers")

    monkeypatch.setattr(ParquetStorage, "_carry_markers", fail)
    full = storage.read(spark)
    attempts = {
        "write": lambda: storage.write(full),
        "write_partial": lambda: tbl.put("a7").value("v", 7).execute(spark),
    }
    for name, attempt in attempts.items():
        with pytest.raises(OSError, match="disk full"):
            attempt()
        assert storage.versions() == on_disk, name
        assert storage.current_version() == cur, name
        with pytest.raises(FileNotFoundError):
            storage.read(spark, version=cur + 1)
        assert not os.path.exists(storage._claim_path(cur + 1)), name
    monkeypatch.undo()
    tbl.put("a7").value("v", 7).execute(spark)
    assert storage.current_version() == cur + 1
    rows = {r["rowkey"]: r["v"] for r in tbl.to_df(spark).collect()}
    assert rows == {"a1": 1, "a2": 2, "a7": 7, "b1": 3, "c1": 4, "c2": 5}


def _jobs_in(spark, action) -> int:
    """Spark jobs ``action`` runs, counted under a fresh job group."""
    import uuid

    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_batch_commit_is_shuffle_free(spark, base_dir, monkeypatch):
    """On prefix-partitioned storage an OpBase batch of puts, increments
    and inserts merges with broadcast joins only: at most 3 jobs (two
    broadcasts and the write) and no hash-partitioned exchange in the
    written plan.  A point get runs at most 2 jobs (no schema
    inference: the declared schema is read)."""
    from hpaste_spark.sources.storage import ParquetStorage

    tbl = _make(spark, base_dir)
    assert tbl.storage.supports_partial_rewrite()
    written = []
    write_partial = ParquetStorage.write_partial

    def capture(self, df, touched):
        written.append(df)
        return write_partial(self, df, touched)

    monkeypatch.setattr(ParquetStorage, "write_partial", capture)
    op = tbl.put("a1").value("v", 10).increment("b1").value("v", 4).put("c9").value("v", 9)
    assert _jobs_in(spark, lambda: op.execute(spark)) <= 3
    assert len(written) == 1
    assert "Exchange hashpartitioning" not in plan_of(written[0])

    rows = {r["rowkey"]: r["v"] for r in tbl.to_df(spark).collect()}
    assert rows == {"a1": 10, "a2": 2, "b1": 7, "c1": 4, "c2": 5, "c9": 9}
    get = tbl.query2(spark).with_key("c2").with_all_columns()
    assert _jobs_in(spark, get.single) <= 2
    assert get.single().column("v") == 5
