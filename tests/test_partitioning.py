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


def test_point_get_prunes_partition_dirs(spark, base_dir, monkeypatch):
    """A point get opens only the data files of its key's ``_kp``
    partition directory (the keyed scan reads them on the driver, so
    the pruning shows in the files opened, not in a Spark plan)."""
    import pyarrow.parquet as pq

    tbl = _make(spark, base_dir)
    opened, real = [], pq.ParquetFile

    def record(path, **kw):
        opened.append(path)
        return real(path, **kw)

    monkeypatch.setattr(pq, "ParquetFile", record)
    q = tbl.query2(spark).with_key("a1").with_all_columns()
    assert q.single().column("v") == 1
    assert opened and all("/_kp=a/" in p for p in opened), (
        "point get must constrain the _kp partition directory"
    )


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


def test_keyed_gets_run_no_job(spark, base_dir):
    """A warm point get and a multi-get read the snapshot on the driver
    and return a local relation, so neither runs a Spark job; an absent
    key is absent from both."""
    tbl = _make(spark, base_dir)
    get = tbl.query2(spark).with_key("c2").with_all_columns()
    assert get.single().column("v") == 5
    assert _jobs_in(spark, get.single_option) == 0
    multi = tbl.query2(spark).with_keys(["a1", "c2", "zz"]).with_all_columns()
    assert _jobs_in(spark, multi.multi_map) == 0
    assert {k: r.column("v") for k, r in multi.multi_map().items()} == {"a1": 1, "c2": 5}
    assert tbl.query2(spark).with_key("zz").with_all_columns().single_option() is None


def test_keyed_get_reads_named_snapshot(spark, base_dir):
    """``as_of_version(N)`` on a point get reads snapshot N, not the
    current one."""
    tbl = _make(spark, base_dir)
    old = tbl.storage.current_version()
    tbl.put("a1").value("v", 100).execute(spark)

    def get():
        return tbl.query2(spark).with_key("a1").with_all_columns()

    assert get().single().column("v") == 100
    assert get().as_of_version(old).single().column("v") == 1
    assert get().as_of_version(old + 1).single().column("v") == 100


class TsTable(HTable):
    def __init__(self, schema: Schema):
        super().__init__(schema, "ts_table", key_type=str, partition_prefix_len=1)
        meta = self.family("meta")
        self.at = self.column(meta, "at", "timestamp")


def test_keyed_get_timestamps_match_scan(spark, base_dir, monkeypatch):
    """Timestamps read by a get equal those of the Spark scan: under a
    non-UTC ``TZ`` (the keyed scan hands Spark zoned instants, which a
    naive local-time reading would shift), and for instants outside
    the 1677-2262 range a nanosecond INT96 read would overflow."""
    import datetime as dt
    import time

    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    try:
        sch = Schema(base_dir=base_dir)
        tbl = TsTable(sch)
        sch.create_all(spark)
        at = {
            "a1": dt.datetime(2013, 7, 1, 10, 30),
            "a2": dt.datetime(1500, 3, 1, 12, 0),
            "b1": dt.datetime(9999, 6, 1, 12, 0),
        }
        op = None
        for k, t in at.items():
            op = (op.put(k) if op else tbl.put(k)).value("at", t)
        op.execute(spark)
        scanned = {r["rowkey"]: r["at"] for r in tbl.to_df(spark).collect()}
        got = tbl.query2(spark).with_keys(list(at)).with_all_columns().multi_map()
        assert {k: r.column("at") for k, r in got.items()} == scanned == at
        assert tbl.query2(spark).with_key("a1").with_all_columns().single().column("at") == at["a1"]
    finally:
        monkeypatch.undo()
        time.tzset()


def test_int_keyed_table_takes_keyed_path(spark, base_dir):
    """A table keyed by ``int`` serves gets and multi-gets from the
    keyed scan too: no Spark job, the same rows."""

    class IntTable(HTable):
        def __init__(self, schema: Schema):
            super().__init__(schema, "int_table", key_type=int, partition_prefix_len=1)
            meta = self.family("meta")
            self.v = self.column(meta, "v", "long")

    sch = Schema(base_dir=base_dir)
    tbl = IntTable(sch)
    sch.create_all(spark)
    op = None
    for k in (7, 12, 19, 230):
        op = (op.put(k) if op else tbl.put(k)).value("v", k * 10)
    op.execute(spark)
    get = tbl.query2(spark).with_key(12).with_all_columns()
    assert get.single().column("v") == 120
    assert _jobs_in(spark, get.single) == 0
    multi = tbl.query2(spark).with_keys([7, 19, 230, 8])
    got = multi.with_all_columns().multi_map()
    assert {k: r.column("v") for k, r in got.items()} == {7: 70, 19: 190, 230: 2300}


def test_get_past_file_bound_takes_spark_scan(spark, base_dir):
    """A snapshot with more data files than
    ``spark.sql.sources.parallelPartitionDiscovery.threshold`` (32) is
    read by Spark's scan (at least one job), with the same rows.  An
    ``OpBase`` commit to an unpartitioned table re-packs it into a few
    files, so the snapshot is one overwrite of 40 single-row files."""
    import os

    from pyspark.sql import functions as F

    sch = Schema(base_dir=base_dir)

    class Plain(HTable):
        def __init__(self, schema):
            super().__init__(schema, "many_files", key_type=str)
            meta = self.family("meta")
            self.v = self.column(meta, "v", "long")

    tbl = Plain(sch)
    sch.create_all(spark)
    rows = spark.range(0, 40, 1, numPartitions=40).select(
        F.format_string("k%02d", "id").alias("rowkey"),
        F.col("id").alias("v"),
        F.lit(None).cast("map<string,timestamp>").alias("meta__ts"),
    )
    tbl.overwrite(rows)
    snap = tbl.storage.snapshot_dir(tbl.storage.current_version())
    assert len([f for f in os.listdir(snap) if not f.startswith(("_", "."))]) > 32
    multi = tbl.query2(spark).with_keys(["k03", "k39", "zz"]).with_all_columns()
    assert _jobs_in(spark, multi.multi_map) >= 1
    assert {k: r.column("v") for k, r in multi.multi_map().items()} == {"k03": 3, "k39": 39}
