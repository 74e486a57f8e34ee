"""Key-prefix partitioned storage: directory-level pruning for point
gets and rowkey ranges (the HBase sorted-region analog, SURVEY §1.4).
"""

import datetime as dt
import os

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

    # a writer publishes between another batch's read and its commit:
    # the batch merged from the replaced snapshot fails, the writer's
    # update survives
    from hpaste_spark.sources.storage import ParquetStorage

    write_partial = ParquetStorage.write_partial

    def racing(self, *args, **kwargs):
        ParquetStorage.write_partial = write_partial
        tbl.put("a3").value("v", 3).execute(spark)
        return write_partial(self, *args, **kwargs)

    ParquetStorage.write_partial = racing
    try:
        with pytest.raises(ConcurrentWriteError):
            tbl.put("a2").value("v", 2).execute(spark)
    finally:
        ParquetStorage.write_partial = write_partial
    rows = {r["rowkey"]: r["v"] for r in tbl.to_df(spark).collect()}
    assert rows == {"k1": 1, "k3": 3, "a3": 3}

    # the bulk sink's full rewrite has the same window
    from hpaste_spark.operators.mutations import bulk_merge_put

    write = ParquetStorage.write

    def racing_write(self, *args, **kwargs):
        ParquetStorage.write = write
        tbl.put("a4").value("v", 4).execute(spark)
        return write(self, *args, **kwargs)

    batch = spark.createDataFrame([("b1", 5, None)], tbl.spark_schema())
    ParquetStorage.write = racing_write
    try:
        with pytest.raises(ConcurrentWriteError):
            bulk_merge_put(tbl, batch)
    finally:
        ParquetStorage.write = write
    rows = {r["rowkey"]: r["v"] for r in tbl.to_df(spark).collect()}
    assert rows == {"k1": 1, "k3": 3, "a3": 3, "a4": 4}


def test_failed_write_leaves_no_unpublished_snapshot(spark, base_dir, monkeypatch):
    """A write that fails after its data landed (here in the sticky-
    marker copy, the last step before the publish) must leave no
    snapshot behind — for the full write and the partial rewrite alike.
    Otherwise versions() lists a version that was never published and
    read(version=...) serves a batch that was never applied."""
    import os

    import pytest

    from hpaste_spark.sources.storage import ParquetStorage, _kp_dirs

    tbl = _make(spark, base_dir)
    storage = tbl.storage
    assert _kp_dirs(storage.snapshot_dir(storage.current_version()))
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
    and inserts commits in at most 3 jobs, and compacting its overlay
    writes a plan with no hash-partitioned exchange (the overlay is
    broadcast into the base files' own tasks).  A point get runs at
    most 2 jobs (no schema inference: the declared schema is read)."""
    from pyspark.sql.readwriter import DataFrameWriter

    from hpaste_spark.sources.storage import _kp_dirs

    tbl = _make(spark, base_dir)
    assert _kp_dirs(tbl.storage.snapshot_dir(tbl.storage.current_version()))
    op = tbl.put("a1").value("v", 10).increment("b1").value("v", 4).put("c9").value("v", 9)
    assert _jobs_in(spark, lambda: op.execute(spark)) <= 3
    expected = {"a1": 10, "a2": 2, "b1": 7, "c1": 4, "c2": 5, "c9": 9}
    assert {r["rowkey"]: r["v"] for r in tbl.to_df(spark).collect()} == expected

    written, parquet = [], DataFrameWriter.parquet

    def capture(self, path, *a, **k):
        written.append(self._df)
        return parquet(self, path, *a, **k)

    monkeypatch.setattr(DataFrameWriter, "parquet", capture)
    tbl.compact(spark)
    assert len(written) == 1
    assert "Exchange hashpartitioning" not in plan_of(written[0])

    assert {r["rowkey"]: r["v"] for r in tbl.to_df(spark).collect()} == expected
    get = tbl.query2(spark).with_key("c2").with_all_columns()
    assert _jobs_in(spark, get.single) <= 2
    assert get.single().column("v") == 5


def test_overlay_commit_and_get_run_no_job(spark, base_dir):
    """An OpBase commit on a prefix-partitioned table reads its keys,
    merges and publishes its overlay on the driver: no Spark job.  A get
    and a multi-get of the overlaid snapshot run none either, and see
    the overlay's puts, inserts and deletes."""
    tbl = _make(spark, base_dir)
    op = tbl.put("a1").value("v", 10).increment("b1").value("v", 4).put("c9").value("v", 9)
    assert _jobs_in(spark, lambda: op.execute(spark)) == 0
    assert _jobs_in(spark, lambda: tbl.delete("c1").execute(spark)) == 0
    get = tbl.query2(spark).with_key("b1").with_all_columns()
    assert _jobs_in(spark, get.single_option) == 0
    assert get.single().column("v") == 7
    multi = tbl.query2(spark).with_keys(["a1", "a2", "c1", "c9"]).with_all_columns()
    assert _jobs_in(spark, multi.multi_map) == 0
    assert {k: r.column("v") for k, r in multi.multi_map().items()} == {"a1": 10, "a2": 2, "c9": 9}
    rows = {r["rowkey"]: r["v"] for r in tbl.to_df(spark).collect()}
    assert rows == {"a1": 10, "a2": 2, "b1": 7, "c2": 5, "c9": 9}


def test_read_version_reads_its_own_overlay(spark, base_dir):
    """``read(version=N)`` folds snapshot N's overlay, not the current
    one's: each version's scan and keyed read return that version's
    rows."""
    from hpaste_spark.sources.storage import DELTA_DIR

    tbl = _make(spark, base_dir)
    st = tbl.storage
    st.keep_versions = 10
    states = {}
    for key, v in [("a1", 11), ("b2", 12), ("a1", 13)]:
        tbl.put(key).value("v", v).execute(spark)
        states[st.current_version()] = {r["rowkey"]: r["v"] for r in tbl.to_df(spark).collect()}
    tbl.delete("a2").execute(spark)
    for version, rows in states.items():
        assert os.path.isdir(os.path.join(st.snapshot_dir(version), DELTA_DIR))
        scanned = {r["rowkey"]: r["v"] for r in st.read(spark, tbl.spark_schema(), version=version).collect()}
        assert scanned == rows, version
        got = tbl.query2(spark).with_keys(["a1", "a2", "b2"]).with_all_columns().as_of_version(version)
        assert {k: r.column("v") for k, r in got.multi_map().items()} == {
            k: rows[k] for k in ("a1", "a2", "b2") if k in rows
        }, version


def _kp_file_counts(tbl) -> dict:
    snap = tbl.storage.snapshot_dir(tbl.storage.current_version())
    return {
        e: len([f for f in os.listdir(os.path.join(snap, e)) if f.endswith(".parquet")])
        for e in os.listdir(snap)
        if e.startswith("_kp=")
    }


def test_update_only_compactions_keep_file_counts(spark, base_dir):
    """Compacting an overlay of updates replaces each row inside its
    base file's task: five update-then-compact rounds leave every
    ``_kp`` partition with the files it had, and no overlay."""
    from hpaste_spark.sources.storage import DELTA_DIR

    tbl = _make(spark, base_dir)
    counts = _kp_file_counts(tbl)
    assert set(counts) == {"_kp=a", "_kp=b", "_kp=c"}
    expected = {"a1": 1, "a2": 2, "b1": 3, "c1": 4, "c2": 5}
    for i in range(5):
        op = tbl.put("a1").value("v", 100 + i).increment("c2").value("v", 1)
        op.execute(spark)
        expected["a1"] = 100 + i
        expected["c2"] += 1
        tbl.compact(spark)
        snap = tbl.storage.snapshot_dir(tbl.storage.current_version())
        assert not os.path.exists(os.path.join(snap, DELTA_DIR))
        assert _kp_file_counts(tbl) == counts, i
        assert {r["rowkey"]: r["v"] for r in tbl.to_df(spark).collect()} == expected


def test_overlay_past_isin_threshold_compacts(spark, base_dir):
    """A commit whose overlay would hold more than ``ISIN_THRESHOLD``
    keys compacts inline: the published snapshot has no overlay, holds
    every row, and has dropped the row the overlay deleted."""
    from hpaste_spark.sources.storage import DELTA_DIR, ISIN_THRESHOLD

    tbl = _make(spark, base_dir)
    tbl.put("a1").value("v", -1).delete("c1").execute(spark)
    snap = tbl.storage.snapshot_dir(tbl.storage.current_version())
    assert os.path.isdir(os.path.join(snap, DELTA_DIR))
    keys = [f"b{i:04d}" for i in range(ISIN_THRESHOLD + 1)]
    op = None
    for i, k in enumerate(keys):
        op = (op.put(k) if op else tbl.put(k)).value("v", i)
    op.execute(spark)
    snap = tbl.storage.snapshot_dir(tbl.storage.current_version())
    assert not os.path.exists(os.path.join(snap, DELTA_DIR))
    rows = {r["rowkey"]: r["v"] for r in tbl.to_df(spark).collect()}
    assert rows == {"a1": -1, "a2": 2, "b1": 3, "c2": 5, **{k: i for i, k in enumerate(keys)}}


def test_read_past_isin_threshold_reads_keys_partitions(spark, base_dir):
    """More than ``ISIN_THRESHOLD`` keys (the read of an ``OpBase``
    batch that size) take Spark's scan, which still reads only the
    keys' ``_kp`` partitions: the scan's PartitionFilters name the keys'
    prefix, and the overlay's rows of other partitions stay out."""
    from hpaste_spark.sources.storage import ISIN_THRESHOLD, rowkey_in

    tbl = _make(spark, base_dir)
    tbl.put("b2").value("v", 20).put("a9").value("v", 90).execute(spark)
    keys = ["b1", "b2", *[f"b{i:04d}" for i in range(ISIN_THRESHOLD)]]
    df = tbl.to_df(spark, keys=keys)
    filters = [line for line in plan_of(df).splitlines() if "PartitionFilters" in line]
    assert filters and all("_kp" in line and "= b)" in line for line in filters), filters
    assert {r["rowkey"]: r["v"] for r in df.collect()} == {"b1": 3, "b2": 20}
    assert {r["rowkey"] for r in df.filter(rowkey_in(keys)).collect()} == {"b1", "b2"}


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


def test_stored_null_maps_stay_null(spark, base_dir):
    """A stored null map stays null through commits that do not name
    it: a put of another key of its partition (only the batch's keys
    are merged), a scoped delete of another family of its own row (the
    merge's relation carries the stored null map as null, not as an
    empty map), and a compaction."""

    class MapTable(HTable):
        def __init__(self, schema: Schema):
            super().__init__(schema, "map_table", key_type=str, partition_prefix_len=1)
            self.v = self.column(self.family("meta"), "v", "long")
            self.m = self.family_map("m", str, int)

    sch = Schema(base_dir=base_dir)
    tbl = MapTable(sch)
    sch.create_all(spark)
    tbl.overwrite(spark.createDataFrame(
        [("a1", 1, {"v": dt.datetime(2020, 1, 1)}, None, None), ("a2", 2, None, None, None)],
        tbl.spark_schema(),
    ))

    def maps(key):
        row = {r["rowkey"]: r for r in tbl.to_df(spark).collect()}[key]
        got = tbl.query2(spark).with_key(key).with_all_columns().single().as_dict()
        assert (got["m"], got["m__ts"]) == (row["m"], row["m__ts"])
        return row["m"], row["m__ts"]

    tbl.put("a3").value("v", 3).execute(spark)
    assert maps("a1") == maps("a2") == (None, None)
    tbl.delete("a1").values("meta", ["v"]).execute(spark)
    assert maps("a1") == (None, None)
    tbl.compact(spark)
    assert maps("a1") == maps("a2") == (None, None)
