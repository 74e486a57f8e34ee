"""Structured Streaming mirror: the streaming tumbling-window agg must
produce the same result as the batch query (SURVEY §2.9 stretch goal)."""

import shutil

from pyspark.sql import functions as F

from hpaste_spark.sources.catalog import load_table
from hpaste_spark.streaming.events import read_event_stream, run_to_memory, tumbling_counts

SF = "/root/testdata/sf0.001"


def test_streaming_matches_batch(spark, tmp_path):
    src_dir = tmp_path / "stream_src"
    src_dir.mkdir()
    shutil.copy(f"{SF}/events.parquet", src_dir / "events.parquet")
    src = str(src_dir)

    stream = read_event_stream(spark, src)
    assert stream.isStreaming
    run_to_memory(tumbling_counts(stream, "1 hour"), "tumbling_test")
    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in spark.table("tumbling_test").collect()
    }

    batch = (
        load_table(spark, SF, "events")
        .groupBy(F.date_trunc("hour", F.col("ts")).alias("window_start"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
    )
    want = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in batch.collect()
    }
    assert got == want


def test_stateful_sessionize(spark, tmp_path):
    """Gap sessions via applyInPandasWithState: data-driven closes are
    deterministic per micro-batch; the final open session per user is
    flushed by the event-time timeout once the watermark passes (Spark
    runs no-data micro-batches to fire expired timers)."""
    import pandas as pd
    import time

    from hpaste_spark.streaming.events import read_event_stream, run_to_memory, stateful_sessionize

    src_dir = tmp_path / "sess_src"
    src_dir.mkdir()

    US = 1_000_000
    H = 3600 * US
    base = 1_700_000_000 * US  # any epoch; stays clear of 2038 only matters for i32

    def write_batch(name, rows):
        pdf = pd.DataFrame(
            {
                "event_id": range(len(rows)),
                "ts": [(base + t) * 1000 for t, _, _ in rows],  # ns
                "user_id": [u for _, u, _ in rows],
                "event_type": ["click"] * len(rows),
                "value": [v for _, _, v in rows],
                "props": ["{}"] * len(rows),
            }
        )
        pdf.to_parquet(src_dir / name)
        time.sleep(0.05)  # distinct mtimes => deterministic file order

    # gap = 30 min. u1: sessions A(0h, 2 events) B(1h) C(2h); u2: D(0h05, 2 ev)
    write_batch("b0.parquet", [(0, 1, 1.0), (600 * US, 1, 2.0), (300 * US, 2, 5.0), (360 * US, 2, 7.0)])
    write_batch("b1.parquet", [(1 * H, 1, 4.0)])          # closes A (gap 50min)
    write_batch("b2.parquet", [(2 * H, 1, 8.0)])          # closes B
    write_batch("b3.parquet", [(10 * H, 99, 0.0)])        # watermark pusher: times out C and D

    stream = stateful_sessionize(read_event_stream(spark, str(src_dir)), gap_minutes=30)
    run_to_memory(stream, "sessions_test", output_mode="append")
    got = {
        (r["user_id"], r["session_start"].timestamp() * US - base, r["session_end"].timestamp() * US - base,
         r["n_events"], r["total_value"])
        for r in spark.table("sessions_test").collect()
    }
    want = {
        (1, 0.0, 600 * US * 1.0, 2, 3.0),       # A
        (1, 1 * H * 1.0, 1 * H * 1.0, 1, 4.0),  # B
        (1, 2 * H * 1.0, 2 * H * 1.0, 1, 8.0),  # C (timeout)
        (2, 300 * US * 1.0, 360 * US * 1.0, 2, 12.0),  # D (timeout)
    }
    assert got == want


def test_stream_increments_converge_to_batch(spark, tmp_path):
    """Chunked streaming increments must equal the one-shot batch rollup
    (commutativity of the increment merge)."""
    import pandas as pd

    from hpaste_spark.schema import HTable, Schema
    from hpaste_spark.streaming.events import read_event_stream, stream_increments_into

    src_dir = tmp_path / "inc_src"
    src_dir.mkdir()
    full = pd.read_parquet(f"{SF}/events.parquet")
    half = len(full) // 2
    full.iloc[:half].to_parquet(src_dir / "part0.parquet")
    full.iloc[half:].to_parquet(src_dir / "part1.parquet")

    sch = Schema(base_dir=str(tmp_path / "tables"))

    class Counters(HTable):
        def __init__(self, schema):
            super().__init__(schema, "event_counters", key_type=str)
            meta = self.family("meta")
            self.n_events = self.column(meta, "n_events", "long")
            self.total_value = self.column(meta, "total_value", float)

    tbl = Counters(sch)
    sch.create_all(spark)

    stream_increments_into(read_event_stream(spark, str(src_dir)), tbl)

    want = {
        r["event_type"]: (r["n"], round(r["v"], 6))
        for r in load_table(spark, SF, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("v"))
        .collect()
    }
    got = {
        r["rowkey"]: (r["n_events"], round(r["total_value"], 6))
        for r in tbl.to_df(spark).collect()
    }
    assert got == want


def test_stream_increments_exactly_once_under_replay(spark, tmp_path):
    """EXACTLY-ONCE through the foreachBatch increment sink (round 11):
    foreachBatch alone is at-least-once — Spark publishes the sink
    effect and the checkpoint's batch commit as two separate actions,
    and a crash between them REPLAYS a batch whose increments are
    already in the table, double-counting (increments are the one sink
    where at-least-once is wrong).  The staged fold rides the storage
    layer's atomic snapshot publish: the applied batch id flips visible
    WITH the data (marker_file sidecar), so a replay is skipped.

    The crash window is forced deterministically: run the 3-file
    stream to completion with a checkpoint, DELETE the newest
    checkpoint commit (exactly the state a crash between sink publish
    and checkpoint commit leaves), restart — Spark re-executes that
    batch, the fold sees batch_id <= marker.last under the same
    checkpoint and skips.  Counters must still equal the one-shot
    batch rollup.  Scoping is then proved the other way: a FRESH
    checkpoint (batch ids restart at 0, different ckpt path) must NOT
    be suppressed by the old marker — the same stream re-applied under
    a new checkpoint doubles every counter."""
    import os

    import pandas as pd

    from hpaste_spark.schema import HTable, Schema
    from hpaste_spark.streaming.events import read_event_stream, stream_increments_into

    src_dir = tmp_path / "inc_src"
    src_dir.mkdir()
    full = pd.read_parquet(f"{SF}/events.parquet")
    third = len(full) // 3
    full.iloc[:third].to_parquet(src_dir / "part0.parquet")
    full.iloc[third : 2 * third].to_parquet(src_dir / "part1.parquet")
    full.iloc[2 * third :].to_parquet(src_dir / "part2.parquet")

    sch = Schema(base_dir=str(tmp_path / "tables"))

    class Counters(HTable):
        def __init__(self, schema):
            super().__init__(schema, "event_counters_eo", key_type=str)
            meta = self.family("meta")
            self.n_events = self.column(meta, "n_events", "long")
            self.total_value = self.column(meta, "total_value", float)

    tbl = Counters(sch)
    sch.create_all(spark)
    ckpt = str(tmp_path / "ckpt")

    stream_increments_into(
        read_event_stream(spark, str(src_dir)), tbl, checkpoint_dir=ckpt
    )

    want = {
        r["event_type"]: (r["n"], round(r["v"], 6))
        for r in load_table(spark, SF, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("v"))
        .collect()
    }
    counters = lambda: {  # noqa: E731
        r["rowkey"]: (r["n_events"], round(r["total_value"], 6))
        for r in tbl.to_df(spark).collect()
    }
    assert counters() == want

    # force the crash window: drop the newest checkpoint commit, so the
    # restart re-executes a batch whose effect is already published
    commits = sorted(os.listdir(os.path.join(ckpt, "commits")))
    data_commits = [c for c in commits if c.isdigit()]
    assert len(data_commits) >= 3, f"expected >=3 committed batches, got {commits}"
    os.remove(os.path.join(ckpt, "commits", data_commits[-1]))
    crc = os.path.join(ckpt, "commits", f".{data_commits[-1]}.crc")
    if os.path.exists(crc):  # hadoop checksum sidecar blocks the re-commit
        os.remove(crc)
    stream_increments_into(
        read_event_stream(spark, str(src_dir)), tbl, checkpoint_dir=ckpt
    )
    assert counters() == want, "replayed batch must be skipped, not re-applied"

    # a FRESH checkpoint is a new stream: ids restart at 0 and the old
    # marker must not suppress it — everything applies once more
    stream_increments_into(
        read_event_stream(spark, str(src_dir)), tbl,
        checkpoint_dir=str(tmp_path / "ckpt2"),
    )
    doubled = {k: (n * 2, round(v * 2, 6)) for k, (n, v) in want.items()}
    assert counters() == doubled


def test_partial_sink_replay_idempotence(spark, tmp_path):
    """The partial-sink replay contract (documented on
    stream_hdr_partials / stream_kmv_partials): foreachBatch is
    at-least-once, so a durable HDR sink must land partials KEYED by
    batch id (overwrite {dir}/batch_id=N — a replay overwrites its own
    output), while a KMV sink tolerates plain append because kmv_merge
    distincts the hash rows.  Pins all three facts: (1) keyed-overwrite
    HDR survives a replay unchanged, (2) append-mode HDR DOUBLES its
    counts under the same replay (the anti-pattern bites), (3)
    append-mode KMV is unchanged under replay."""
    import os

    from hpaste_spark.operators.sketches import (
        hdr_merge,
        hdr_sketch,
        kmv_estimate,
        kmv_merge,
        kmv_sketch,
    )

    batch = spark.createDataFrame(
        [("a", v) for v in range(1, 200)] + [("b", v) for v in range(50, 90)],
        "g string, v long",
    )
    hdr_partial = hdr_sketch(batch, "v", "g", sub_bits=5)
    kmv_partial = kmv_sketch(
        batch.withColumn("vs", F.col("v").cast("string")), "g", "vs", k=64
    )

    keyed = str(tmp_path / "hdr_keyed")
    appended = str(tmp_path / "hdr_append")
    kmv_land = str(tmp_path / "kmv_append")

    def land(times: int) -> None:
        for _ in range(times):  # times>1 == foreachBatch replaying batch 7
            hdr_partial.write.mode("overwrite").parquet(
                os.path.join(keyed, "batch_id=7")
            )
            hdr_partial.write.mode("append").parquet(appended)
            kmv_partial.write.mode("append").parquet(kmv_land)

    land(1)
    cells = lambda p: {  # noqa: E731
        (r["g"], r["bucket_lo"], r["width"]): r["cnt"]
        for r in hdr_merge(spark.read.parquet(f"{p}/*")).collect()
    }
    est = lambda: sorted(  # noqa: E731
        map(tuple, kmv_estimate(
            kmv_merge(spark.read.parquet(kmv_land), k=64), k=64
        ).collect())
    )
    base_keyed, base_append, base_kmv = cells(keyed), cells(appended), est()

    land(1)  # the replay
    assert cells(keyed) == base_keyed, "keyed-overwrite HDR must absorb a replay"
    doubled = {k: c * 2 for k, c in base_append.items()}
    assert cells(appended) == doubled, "append-mode HDR must double (anti-pattern)"
    assert est() == base_kmv, "append-mode KMV must absorb a replay (merge distincts)"


def test_streaming_dedup_drops_replayed_events(spark, tmp_path):
    """dropDuplicatesWithinWatermark: an at-least-once source replaying
    a batch must not double-count (stream mirror of dedup_exact)."""
    import pandas as pd

    from hpaste_spark.streaming.events import read_event_stream, run_to_memory, streaming_dedup

    src_dir = tmp_path / "dedup_src"
    src_dir.mkdir()
    full = pd.read_parquet(f"{SF}/events.parquet").head(200)
    full.to_parquet(src_dir / "b0.parquet")
    full.head(80).to_parquet(src_dir / "b1.parquet")  # replayed duplicates

    deduped = streaming_dedup(read_event_stream(spark, str(src_dir)))
    run_to_memory(deduped.select("event_id"), "dedup_stream_test", output_mode="append")
    got = [r["event_id"] for r in spark.table("dedup_stream_test").collect()]
    assert sorted(got) == sorted(full["event_id"].tolist())


def test_streaming_session_window_matches_batch(spark, tmp_path):
    """Native F.session_window streaming state operator replayed over a
    bounded source must equal the batch session aggregation."""
    import shutil as _sh

    src_dir = tmp_path / "sess_src"
    src_dir.mkdir()
    _sh.copy(f"{SF}/events.parquet", src_dir / "events.parquet")

    from hpaste_spark.streaming.events import session_window_counts

    stream = read_event_stream(spark, str(src_dir))
    # complete mode: append emits only watermark-finalized sessions, so
    # the last gap+watermark of a bounded replay would be withheld
    run_to_memory(session_window_counts(stream), "session_native_test", output_mode="complete")
    got = {
        (r["user_id"], r["session_start"]): (r["n_events"], r["total_value"])
        for r in spark.table("session_native_test").collect()
    }

    batch = (
        load_table(spark, SF, "events")
        .groupBy(F.session_window(F.col("ts"), "30 minutes"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
        .select("user_id", F.col("session_window.start").alias("session_start"), "n_events", "total_value")
    )
    want = {
        (r["user_id"], r["session_start"]): (r["n_events"], r["total_value"])
        for r in batch.collect()
    }
    assert got == want


def test_streaming_asof_matches_batch(spark, tmp_path):
    """Micro-batch as-of enrichment must equal the batch as-of join
    over the same data (same code path per batch, so this asserts the
    replay plumbing: every purchase enriched exactly once)."""
    import shutil as _sh

    from hpaste_spark.operators.asof import asof_join
    from hpaste_spark.streaming.events import read_event_stream, stream_asof_enrich

    src_dir = tmp_path / "asof_src"
    src_dir.mkdir()
    _sh.copy(f"{SF}/events.parquet", src_dir / "events.parquet")

    ev = load_table(spark, SF, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_event_id")
    ).persist()

    stream = read_event_stream(spark, str(src_dir))
    purchases_stream = stream.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )

    got_batches = []
    stream_asof_enrich(
        purchases_stream,
        clicks,
        on=["user_id"],
        payload_cols=("click_event_id",),
        sink=lambda df, bid: got_batches.extend(df.collect()),
    )
    got = {r["event_id"]: r["click_event_id_right"] for r in got_batches}

    purchases = ev.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    want = {
        r["event_id"]: r["click_event_id_right"]
        for r in asof_join(
            purchases, clicks, on=["user_id"], payload_cols=["click_event_id"]
        ).collect()
    }
    clicks.unpersist()
    assert len(got) == len(want) > 0
    assert got == want


def test_stream_increments_staged_high_cardinality_no_collect(spark, tmp_path, monkeypatch):
    """The staged path must feed the aggregated batch DataFrame straight
    into the merge: 10k distinct counter keys, zero driver collects
    while the stream runs (collect would bound key cardinality by
    driver memory at scale)."""
    import pandas as pd
    from pyspark.sql import DataFrame as _DF

    from hpaste_spark.schema import HTable, Schema
    from hpaste_spark.streaming.events import read_event_stream, stream_increments_into

    n = 10_000
    src_dir = tmp_path / "hc_src"
    src_dir.mkdir()
    half = n // 2
    base = pd.DataFrame(
        {
            "event_id": range(n),
            # every event its own counter key → 10k distinct rowkeys
            "event_type": [f"k{i:05d}" for i in range(n)],
            "user_id": [i % 97 for i in range(n)],
            "ts": pd.to_datetime("2024-01-01") + pd.to_timedelta(range(n), unit="s"),
            "value": [float(i % 13) for i in range(n)],
        }
    )
    base.iloc[:half].to_parquet(src_dir / "b0.parquet")
    base.iloc[half:].to_parquet(src_dir / "b1.parquet")

    sch = Schema(base_dir=str(tmp_path / "tables"))

    class Counters(HTable):
        def __init__(self, schema):
            super().__init__(schema, "hc_counters", key_type=str)
            meta = self.family("meta")
            self.n_events = self.column(meta, "n_events", "long")
            self.total_value = self.column(meta, "total_value", float)

    tbl = Counters(sch)
    sch.create_all(spark)

    calls = []
    real_collect = _DF.collect
    monkeypatch.setattr(_DF, "collect", lambda self: (calls.append(1), real_collect(self))[1])
    stream_increments_into(read_event_stream(spark, str(src_dir)), tbl, staged=True)
    monkeypatch.undo()

    assert not calls, f"staged increment path must not collect (saw {len(calls)})"
    out = tbl.to_df(spark)
    assert out.count() == n
    sample = {r["rowkey"]: (r["n_events"], r["total_value"]) for r in
              out.filter(F.col("rowkey").isin("k00000", "k09999", "k04999")).collect()}
    assert sample["k00000"] == (1, 0.0)
    assert sample["k09999"] == (1, float(9999 % 13))


def test_stream_stream_asof_matches_batch(spark, tmp_path):
    """Stream-STREAM as-of (both sides moving): replay events in 4
    time-ordered micro-batches plus a far-future sentinel so the
    watermark sweeps past the real data, then check every emitted match
    equals the batch as-of join and that coverage reaches the watermark
    horizon (nothing stuck in state that the watermark already passed)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from hpaste_spark.operators.asof import asof_join
    from hpaste_spark.streaming.events import run_to_memory, stream_stream_asof

    tbl = pq.read_table(f"{SF}/events.parquet")
    order = pa.compute.sort_indices(tbl, sort_keys=[("ts", "ascending"), ("event_id", "ascending")])
    tbl = tbl.take(order)
    src_dir = tmp_path / "ss_asof"
    src_dir.mkdir()
    n = tbl.num_rows
    cuts = [0, n // 4, n // 2, 3 * n // 4, n]
    for i in range(4):
        pq.write_table(tbl.slice(cuts[i], cuts[i + 1] - cuts[i]), src_dir / f"0{i}.parquet")
    # sentinel: one far-future click on an unused key pushes the global
    # watermark beyond every real event in the final micro-batch
    import pandas as pd

    sentinel = pa.Table.from_pandas(
        pd.DataFrame(
            {
                "event_id": [10**9],
                "ts": [pd.Timestamp("2030-01-01")],
                "user_id": [-1],
                "event_type": ["click"],
                "value": [0.0],
                "props": ["{}"],
            }
        ),
        schema=tbl.schema,
    )
    pq.write_table(sentinel, src_dir / "04.parquet")
    for i in range(5):
        os.utime(src_dir / f"0{i}.parquet", (1_700_000_000 + i, 1_700_000_000 + i))

    stream = read_event_stream(spark, str(src_dir))
    lefts = stream.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    rights = stream.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_event_id")
    )
    out = stream_stream_asof(
        lefts, rights, on=["user_id"], ts_col="ts",
        payload_col="click_event_id", watermark="10 minutes",
    )
    run_to_memory(out, "ss_asof_test", output_mode="append")
    got = {
        r["event_id"]: (r["ts_right"], r["click_event_id_right"])
        for r in spark.table("ss_asof_test").collect()
    }

    ev = load_table(spark, SF, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_event_id")
    )
    want = {
        r["event_id"]: (r["ts_right"], r["click_event_id_right"])
        for r in asof_join(
            purchases, clicks, on=["user_id"], payload_cols=["click_event_id"]
        ).collect()
    }

    assert got, "no matches emitted — watermark never advanced"
    for eid, pair in got.items():
        assert pair == want[eid], f"stream match for {eid} diverges from batch"
    # the sentinel batch ran with the watermark past every real event,
    # so all but at most the final micro-batch's stragglers must be out;
    # timers for the very last batch may fire after availableNow stops
    assert len(got) >= int(0.75 * len(want)), (got and f"{len(got)}/{len(want)} emitted")


def test_stream_stream_asof_tolerance_nulls_stale_matches(spark, tmp_path):
    """A match older than tolerance_us must be emitted with NULL payload
    (left row kept — outer shape), mirroring the batch operator."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hpaste_spark.streaming.events import run_to_memory, stream_stream_asof

    base = pd.Timestamp("2024-01-01 00:00:00")
    rows = pd.DataFrame(
        {
            "event_id": [1, 2, 3, 4, 9],
            "ts": [
                base,                                # click for user 7
                base + pd.Timedelta(minutes=1),      # purchase u7: fresh match
                base + pd.Timedelta(hours=3),        # purchase u7: stale (>1h)
                base + pd.Timedelta(hours=3, minutes=1),  # purchase u8: no click ever
                base + pd.Timedelta(days=30),        # sentinel click, unused key
            ],
            "user_id": [7, 7, 7, 8, -1],
            "event_type": ["click", "purchase", "purchase", "purchase", "click"],
            "value": [0.0] * 5,
            "props": ["{}"] * 5,
        }
    )
    src = tmp_path / "tol_src"
    src.mkdir()
    pq.write_table(pa.Table.from_pandas(rows.iloc[:4]), src / "00.parquet")
    pq.write_table(pa.Table.from_pandas(rows.iloc[4:]), src / "01.parquet")

    stream = read_event_stream(spark, str(src))
    lefts = stream.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    rights = stream.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_event_id")
    )
    out = stream_stream_asof(
        lefts, rights, on=["user_id"], payload_col="click_event_id",
        tolerance_us=3_600_000_000, watermark="1 minute",
    )
    run_to_memory(out, "ss_tol_test", output_mode="append")
    got = {r["event_id"]: r["click_event_id_right"] for r in spark.table("ss_tol_test").collect()}
    assert got[2] == 1, "fresh match within tolerance keeps the payload"
    assert got[3] is None, "stale match beyond tolerance must null out"
    assert got[4] is None, "never-matched left row still emitted (outer shape)"


def _write_event_batches(tmp_path, name, frames):
    """One parquet file per frame, mtime-ordered so the file source
    replays them as separate micro-batches."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    src = tmp_path / name
    src.mkdir()
    for i, f in enumerate(frames):
        p = src / f"{i:02d}.parquet"
        pq.write_table(pa.Table.from_pandas(f, preserve_index=False), p)
        os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))
    return src


def test_stream_stream_asof_right_ttl_evicts_idle_state(spark, tmp_path):
    """With right_state_ttl_us set, a right row is evicted once
    ``ts + ttl <= watermark``: a left arriving after the eviction
    horizon must get a NULL match (observable proof the compacted
    right-history row did not linger), instead of the match the
    unttl'd operator would emit."""
    import pandas as pd

    from hpaste_spark.streaming.events import run_to_memory, stream_stream_asof

    base = pd.Timestamp("2024-01-01 00:00:00")

    def ev(eid, ts, uid, etype, value=0.0):
        return pd.DataFrame(
            {
                "event_id": [eid], "ts": [ts], "user_id": [uid],
                "event_type": [etype], "value": [value], "props": ["{}"],
            }
        )

    frames = [
        ev(1, base, 9, "click"),                              # right-only until much later
        ev(100, base + pd.Timedelta(hours=2), -1, "purchase"),  # advance watermark
        ev(2, base + pd.Timedelta(hours=3), 9, "purchase"),   # left AFTER right expired
        ev(101, base + pd.Timedelta(hours=5), -1, "purchase"),
        ev(102, base + pd.Timedelta(hours=6), -1, "purchase"),
    ]
    src = _write_event_batches(tmp_path, "ttl_src", frames)
    stream = read_event_stream(spark, str(src))
    lefts = stream.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    rights = stream.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_event_id")
    )
    out = stream_stream_asof(
        lefts, rights, on=["user_id"], payload_col="click_event_id",
        watermark="1 minute", right_state_ttl_us=3_600_000_000,
    )
    run_to_memory(out, "ss_ttl_test", output_mode="append")
    got = {r["event_id"]: r["click_event_id_right"] for r in spark.table("ss_ttl_test").collect()}
    assert 2 in got, "left on the evicted key must still flush (outer shape)"
    assert got[2] is None, "right row must be evicted at ts+ttl, not matched"


def test_stream_stream_asof_null_right_payload_survives(spark, tmp_path):
    """A right row whose payload is NULL must round-trip through state
    without crashing (_restore_pay previously did float('None')) and
    emit a match with ts_right set and a NULL payload."""
    import numpy as np
    import pandas as pd

    from hpaste_spark.streaming.events import run_to_memory, stream_stream_asof

    base = pd.Timestamp("2024-01-01 00:00:00")
    b0 = pd.DataFrame(
        {
            "event_id": [1, 2],
            "ts": [base, base + pd.Timedelta(minutes=5)],
            "user_id": [7, 7],
            "event_type": ["click", "purchase"],
            "value": [np.nan, 3.0],  # the click's payload is NULL
            "props": ["{}"] * 2,
        }
    )
    b1 = pd.DataFrame(
        {
            "event_id": [9], "ts": [base + pd.Timedelta(days=30)], "user_id": [-1],
            "event_type": ["purchase"], "value": [0.0], "props": ["{}"],
        }
    )
    b2 = b1.assign(event_id=[10], ts=[base + pd.Timedelta(days=31)])
    src = _write_event_batches(tmp_path, "nullpay_src", [b0, b1, b2])
    stream = read_event_stream(spark, str(src))
    lefts = stream.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    rights = stream.filter(F.col("event_type") == "click").select("user_id", "ts", "value")
    out = stream_stream_asof(
        lefts, rights, on=["user_id"], payload_col="value", watermark="1 minute"
    )
    run_to_memory(out, "ss_nullpay_test", output_mode="append")
    got = {r["event_id"]: (r["ts_right"], r["value_right"]) for r in spark.table("ss_nullpay_test").collect()}
    assert 2 in got
    ts_right, value_right = got[2]
    assert ts_right is not None, "the null-payload click is still the as-of match"
    assert value_right is None


def test_stream_incremental_dedup_matches_batch(spark, tmp_path):
    """foreachBatch ingest dedup: the union of per-micro-batch candidate
    sets against a standing corpus index must equal the batch operator
    run over all streamed docs at once (same code path per batch; the
    split must not change results — batch docs only join the CORPUS
    index, never each other)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hpaste_spark.operators.dedup import (
        incremental_lsh_candidates,
        minhash_band_keys,
    )
    from hpaste_spark.streaming.dedup import stream_incremental_dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    newdocs = docs.filter(F.col("doc_id") % 5 == 0)
    corpus_bands = minhash_band_keys(corpus).persist()

    # stream source: the new docs split into 2 mtime-ordered files
    pdf = newdocs.toPandas().sort_values("doc_id")
    half = len(pdf) // 2
    src = _write_event_batches(
        tmp_path, "inc_dedup_src", [pdf.iloc[:half], pdf.iloc[half:]]
    )
    stream = (
        spark.readStream.schema(newdocs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )

    got: set = set()
    batches: list = []

    def sink(df, batch_id):
        batches.append(batch_id)
        got.update(
            (r["batch_id"], r["corpus_id"], r["n_bands"]) for r in df.collect()
        )

    stream_incremental_dedup(stream, corpus_bands, sink)

    want = {
        (r["batch_id"], r["corpus_id"], r["n_bands"])
        for r in incremental_lsh_candidates(corpus_bands, newdocs).collect()
    }
    assert len(batches) == 2, "expected one foreachBatch call per file"
    assert want, "fixture must produce at least one near-dup candidate"
    assert got == want
    corpus_bands.unpersist()


def test_stream_bloom_flags_stateless_and_matches_batch(spark, tmp_path):
    """Append-mode bloom decontamination: the k-chained semi-join form
    must emit EXACTLY the batch operator's flagged (doc, gram) rows
    over the union of micro-batches, and the streaming query must run
    with zero stateful operators (no watermark, no state store — the
    property that lets the filter run as a plain always-on map)."""
    import pyarrow  # noqa: F401  (parquet batches helper dependency)

    from hpaste_spark.operators.dedup import (
        _doc_grams,
        bloom_bits,
        bloom_membership,
    )
    from hpaste_spark.streaming.dedup import stream_bloom_flags

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    bench = docs.filter(F.col("source") == "src0")
    corpus = docs.filter(F.col("source") != "src0")
    bits = bloom_bits(
        _doc_grams(bench, "text", "doc_id", 5).select("g"), "g"
    ).persist()

    pdf = corpus.toPandas().sort_values("doc_id")
    half = len(pdf) // 2
    src = _write_event_batches(
        tmp_path, "bloom_src", [pdf.iloc[:half], pdf.iloc[half:]]
    )
    stream = (
        spark.readStream.schema(corpus.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    flagged = stream_bloom_flags(stream, bits)

    q = (
        flagged.writeStream.format("memory")
        .queryName("bloom_flags")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "stream did not drain"
    for p in q.recentProgress:
        assert not p["stateOperators"], "bloom flag stream must be stateless"

    got = {
        (r["doc_id"], r["g"])
        for r in spark.sql("SELECT * FROM bloom_flags").collect()
    }
    want = {
        (r["doc_id"], r["g"])
        for r in bloom_membership(
            _doc_grams(corpus, "text", "doc_id", 5), bits
        ).collect()
    }
    assert want, "fixture must flag at least one gram"
    assert got == want
    bits.unpersist()


def test_stream_bloom_flags_stored_derives_geometry_and_pins_family(
    spark, tmp_path
):
    """The stored-artifact entry point must derive n/m_bits/k_hashes
    from {path}/meta.json (hand-typed geometry that disagrees with the bits
    yields silent false negatives — ADVICE r7), emit exactly the batch
    stored-probe rows, and hard-error on a probe-family mismatch like
    its batch twin decontaminate_bloom_stored."""
    import pytest

    from hpaste_spark.operators.artifacts import read_meta, write_meta
    from hpaste_spark.operators.dedup import (
        _doc_grams,
        bloom_membership,
        build_bloom_filter,
    )
    from hpaste_spark.streaming.dedup import stream_bloom_flags_stored

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    bench = docs.filter(F.col("source") == "src0")
    corpus = docs.filter(F.col("source") != "src0")
    # non-default geometry: the stream side must pick these up from meta
    path = str(tmp_path / "bloom_art")
    build_bloom_filter(bench, path, n=4, m_bits=8192, k_hashes=2)

    pdf = corpus.toPandas().sort_values("doc_id")
    src = _write_event_batches(tmp_path, "bloom_stored_src", [pdf])
    stream = spark.readStream.schema(corpus.schema).parquet(str(src))
    flagged = stream_bloom_flags_stored(spark, path, stream)

    q = (
        flagged.writeStream.format("memory")
        .queryName("bloom_flags_stored")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "stream did not drain"

    got = {
        (r["doc_id"], r["g"])
        for r in spark.sql("SELECT * FROM bloom_flags_stored").collect()
    }
    bits = spark.read.parquet(f"{path}/bits")
    want = {
        (r["doc_id"], r["g"])
        for r in bloom_membership(
            _doc_grams(corpus, "text", "doc_id", 4),
            bits, m_bits=8192, k_hashes=2,
        ).collect()
    }
    assert want, "fixture must flag at least one gram"
    assert got == want

    # family pinning: an artifact stamped with a foreign probe family
    # must be rejected before any probe runs
    bad = str(tmp_path / "bloom_bad_family")
    bits.write.parquet(f"{bad}/bits")
    write_meta(bad, {**read_meta(path), "family": 1})
    with pytest.raises(ValueError, match="probe family"):
        stream_bloom_flags_stored(spark, bad, stream)


def test_stream_registry_queries_state_posture(spark):
    """The streaming REGISTRY queries split exactly as documented:
    stream_decontaminate_bloom runs with zero stateful operators and
    stream_dedup_exact with exactly one (the dropDuplicates keyed
    state); the windowed pair carries one stateful operator each.  All
    return the batch-collectable landed relation the driver hashes
    against the DuckDB oracle.  (stream_incremental_dedup's parity is
    pinned by test_stream_incremental_dedup_matches_batch and the
    gate; stream_ss_asof_attribution's by the four stream-stream as-of
    tests and the gate.)"""
    import __spark_entry__ as m

    out = m.stream_decontaminate_bloom(spark, SF)
    assert out.columns == ["doc_id", "n_flagged"]
    assert out.count() > 0

    out2 = m.stream_dedup_exact(spark, SF)
    assert out2.columns == ["text_hash"]
    n_stream = out2.count()
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    n_batch = (
        docs.filter(F.length(F.trim("text")) > 0)
        .select(F.md5("text"))
        .distinct()
        .count()
    )
    assert n_stream == n_batch

    # state posture: the dedup stream must carry EXACTLY ONE stateful
    # operator (the dropDuplicates keyed state) — replay the registry's
    # stream shape and read it off the drained query's progress.  (The
    # bloom stream's zero-state posture is pinned by
    # test_stream_bloom_flags_stateless_and_matches_batch.)
    src = m._stage_stream_dir(SF, "documents")
    stream = (
        spark.readStream.schema(docs.schema)
        .parquet(src)
        .filter(F.length(F.trim("text")) > 0)
        .select(F.md5("text").alias("text_hash"))
        .dropDuplicates(["text_hash"])
    )
    _, qh = m._drain_to_memory(stream, "stream_dedup_posture")
    n_stateful = {len(p["stateOperators"]) for p in qh.recentProgress}
    assert n_stateful == {1}, n_stateful

    # the windowed registry queries: one stateful operator each, of the
    # documented kind (fixed window agg vs merging session window) —
    # and both return the batch-collectable landed relation
    out3 = m.stream_tw_tumbling(spark, SF)
    assert out3.columns == ["window_start", "event_type", "n_events", "total_value"]
    assert out3.count() > 0
    out4 = m.stream_session_window(spark, SF)
    assert out4.columns == ["user_id", "session_start", "n_events", "total_value"]
    assert out4.count() > 0


def test_multibatch_replays_run_real_micro_batches(spark):
    """The multibatch registry queries pin batch count STRUCTURALLY:
    each callable raises unless >= 3 (tumbling) / >= 4 (as-of, incl.
    sentinel) DATA micro-batches actually ran, so the gate can never
    silently regress to a single-batch drain.  Executing them here at
    the tiny SF is the pytest pin (r8 verdict ask #3) — a run that
    collapsed to one batch would raise, not pass."""
    import __spark_entry__ as m

    out = m._QUERIES["stream_tw_tumbling_multibatch"](
        spark, "/root/testdata/sf0.001"
    )
    assert out.count() > 0

    out2 = m._QUERIES["stream_ss_asof_multibatch"](
        spark, "/root/testdata/sf0.001"
    )
    assert out2.count() > 0

    # merging session state across batches (raises unless >= 3 data
    # batches; landed set includes E1 sessions evicted at batch 2)
    out_sess = m._QUERIES["stream_session_window_multibatch"](
        spark, "/root/testdata/sf0.001"
    )
    assert out_sess.count() > 0

    # per-batch KMV bottom-k partials re-bottom-k to the identical
    # corpus sketch (bottom-k associative over set union)
    out_kmv = m._QUERIES["stream_sketch_kmv"](spark, "/root/testdata/sf0.001")
    batch_kmv = m._QUERIES["sketch_kmv_distinct"](spark, "/root/testdata/sf0.001")
    assert sorted(map(tuple, out_kmv.collect())) == sorted(
        map(tuple, batch_kmv.collect())
    )

    # the per-batch HDR partials merge to the identical batch sketch
    # regardless of the 3-way split (associativity under the gate)
    out3 = m._QUERIES["stream_sketch_hdr"](spark, "/root/testdata/sf0.001")
    batch = m._QUERIES["sketch_hdr_quantiles"](spark, "/root/testdata/sf0.001")
    assert sorted(map(tuple, out3.collect())) == sorted(
        map(tuple, batch.collect())
    )


def test_checkpoint_recovery_resumes_not_restarts(spark):
    """stream_tw_tumbling_recovered (r9 verdict ask #2): the query is
    killed after the first committed micro-batch and restarted from
    the same checkpointLocation.  Pins: the restarted run did real
    work, began PAST batch 0 (i.e. from batch >= 2 in 1-based terms —
    a 0 would mean the checkpoint was ignored and the sink double-
    counted), never re-committed a run-1 batch, and the landed
    relation equals the uninterrupted multibatch run's."""
    import __spark_entry__ as m

    sf = "/root/testdata/sf0.001"
    out = m._QUERIES["stream_tw_tumbling_recovered"](spark, sf)
    run1, run2 = m._LAST_RECOVERY_RUNS["stream_tw_tumbling_recovered"]
    assert len(run2) >= 1, "recovery run must commit at least one batch"
    assert min(run2) >= 1, "restart must resume past batch 0"
    assert not (set(run1) & set(run2)), "no batch may commit twice"
    # ids come from the checkpoint commit log (async-race-free), and
    # all three staged-file batches must have committed across the runs
    assert {0, 1, 2} <= set(run1) | set(run2)

    uninterrupted = m._QUERIES["stream_tw_tumbling_multibatch"](spark, sf)
    assert sorted(map(tuple, out.collect())) == sorted(
        map(tuple, uninterrupted.collect())
    )


def test_checkpoint_recovery_custom_state_asof(spark):
    """stream_ss_asof_recovered (r11 verdict ask #3): kill+restart of
    the applyInPandasWithState stream-stream as-of — the one operator
    whose state is HAND-ROLLED (pending lefts + compacted right
    history), so recovery bugs would hide exactly here.  Pins: the
    restarted run did real work, began past batch 0 (checkpoint
    honored), never re-committed a run-1 batch, and the landed
    relation equals the uninterrupted multibatch run's."""
    import __spark_entry__ as m

    sf = "/root/testdata/sf0.001"
    out = m._QUERIES["stream_ss_asof_recovered"](spark, sf)
    run1, run2 = m._LAST_RECOVERY_RUNS["stream_ss_asof_recovered"]
    assert len(run2) >= 1, "recovery run must commit at least one batch"
    assert min(run2) >= 1, "restart must resume past batch 0"
    assert not (set(run1) & set(run2)), "no batch may commit twice"
    assert {0, 1, 2, 3} <= set(run1) | set(run2)

    uninterrupted = m._QUERIES["stream_ss_asof_multibatch"](spark, sf)
    assert sorted(map(tuple, out.collect())) == sorted(
        map(tuple, uninterrupted.collect())
    )


def test_multibatch_state_telemetry_captured(spark):
    """The multibatch streams record per-micro-batch state-store
    telemetry (numRowsTotal / memoryUsedBytes — r9 verdict ask #4):
    >= 3 data batches each carrying non-empty stateOperators rows,
    the measured basis of SCALE.md's state-growth table."""
    import __spark_entry__ as m

    sf = "/root/testdata/sf0.001"
    m._QUERIES["stream_tw_tumbling_multibatch"](spark, sf)
    prog = m._LAST_STREAM_PROGRESS["stream_tw_tumbling_multibatch"]
    data = [p for p in prog if p["numInputRows"] > 0]
    assert len(data) >= 3
    with_state = [p for p in prog if p["stateOperators"]]
    assert len(with_state) >= 3
    assert any(
        op["numRowsTotal"] and op["numRowsTotal"] > 0
        for p in with_state
        for op in p["stateOperators"]
    )
    assert any(
        op["memoryUsedBytes"] and op["memoryUsedBytes"] > 0
        for p in with_state
        for op in p["stateOperators"]
    )
    # r14: the stateful shuffle is sized from the DATA (streaming/
    # sizing.py rule), not from the session shuffle-partition default —
    # at this fixture every term rounds to 1 and the floor (4) governs
    from hpaste_spark.streaming.sizing import FLOOR_PARTITIONS

    parts = {
        op.get("numShufflePartitions")
        for p in with_state
        for op in p["stateOperators"]
    }
    assert parts == {FLOOR_PARTITIONS}, parts


def test_stream_shuffle_partitions_rule():
    """The sizing rule is data-derived and scale-monotone: tiny inputs
    floor at FLOOR_PARTITIONS, the input term tracks batch bytes at
    128 MB/partition, the state term tracks state bytes at 64 MB, the
    Python term tracks batch rows at 4 k/task, and the env override
    wins (cluster operators with better information)."""
    import os

    from hpaste_spark.streaming.sizing import (
        CAP_PARTITIONS,
        FLOOR_PARTITIONS,
        stream_shuffle_partitions,
    )

    assert stream_shuffle_partitions(0) == FLOOR_PARTITIONS
    assert stream_shuffle_partitions(2 << 20) == FLOOR_PARTITIONS
    assert stream_shuffle_partitions(1 << 30) == 8  # 1 GiB / 128 MiB
    assert stream_shuffle_partitions(0, est_state_bytes=100 << 30) == 1600
    assert stream_shuffle_partitions(0, python_batch_rows=33078) == 9
    assert stream_shuffle_partitions(1 << 50) == CAP_PARTITIONS
    os.environ["SPARK_GRAFT_STREAM_SHUFFLE_PARTITIONS"] = "7"
    try:
        assert stream_shuffle_partitions(1 << 50) == 7
    finally:
        del os.environ["SPARK_GRAFT_STREAM_SHUFFLE_PARTITIONS"]


def test_stream_partitions_rejects_a_query_left_running(spark, tmp_path):
    """_stream_partitions sizes only the queries that drain inside it:
    leaving the block with a query started there still active raises,
    and the session conf is restored either way."""
    import pytest

    import __spark_entry__ as em

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    qh = None
    with pytest.raises(RuntimeError, match="still active"):
        with em._stream_partitions(spark, str(tmp_path)):
            qh = (
                spark.readStream.format("rate").option("rowsPerSecond", 1).load()
                .writeStream.format("noop").queryName("left_running").start()
            )
    try:
        assert qh.isActive
        assert spark.conf.get(key) == before
    finally:
        qh.stop()
    # a query drained inside the block passes the check
    src = str(tmp_path / "src")
    spark.range(3).write.parquet(src)
    with em._stream_partitions(spark, src):
        done = (
            spark.readStream.schema("id LONG").parquet(src)
            .writeStream.format("noop").trigger(availableNow=True).start()
        )
        done.awaitTermination(120)
    assert not done.isActive


def test_checkpoint_recovery_session_window_state(spark, tmp_path):
    """Checkpoint recovery for the HARDEST state shape — MERGING
    session windows: kill the 3-file session-window stream after the
    first committed micro-batch, restart from the same
    checkpointLocation, and the landed parquet equals the
    uninterrupted multibatch run's relation — session state (open,
    mergeable windows per user) recovered exactly, late-drop rule
    replayed identically.  Complements the tumbling-window recovery
    GATE query with the sessionWindowStateStoreSaveExec path."""
    import __spark_entry__ as m
    from pyspark.sql import functions as F

    from hpaste_spark.functions.money import dsum
    from hpaste_spark.streaming.events import (
        drain_parquet_with_restart,
        read_event_stream,
    )

    sf = "/root/testdata/sf0.001"
    src = m._stage_multibatch_events(sf)
    agg = (
        read_event_stream(spark, src)
        .withWatermark("ts", "2 hours")
        .groupBy(F.session_window(F.col("ts"), "30 minutes"), F.col("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("total_value"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            "n_events",
            "total_value",
        )
    )
    land = str(tmp_path / "land")
    ckpt = str(tmp_path / "ckpt")
    run1, run2 = drain_parquet_with_restart(agg, land, ckpt, stop_after_batches=1)
    assert len(run2) >= 1 and min(run2) >= 1
    assert {0, 1, 2} <= set(run1) | set(run2)

    landed = spark.read.parquet(land)
    uninterrupted = m._QUERIES["stream_session_window_multibatch"](spark, sf)
    assert sorted(map(tuple, landed.collect())) == sorted(
        map(tuple, uninterrupted.collect())
    )


def test_stream_increments_marker_survives_foreign_writer_and_respelled_ckpt(
    spark, tmp_path
):
    """Round-12 ADVICE closures on the exactly-once increment sink.

    (1) STICKY MARKERS: a foreign merge-style writer (here the client
    put DSL, same publish path as bulk_merge_put) commits a snapshot
    between the stream's last batch and a crash-replay.  Merge-derived
    overwrites CARRY the batch's counter effect forward — but before
    round 12 they erased the last-applied-batch marker with it, so the
    replay double-applied.  Now every publish carries the previous
    snapshot's markers forward, and the replay is still skipped.

    (2) PATH NORMALIZATION: the replay restart spells the SAME
    checkpoint directory differently (a redundant '/./' segment).  A
    raw string compare would fail the scope check and re-apply; the
    realpath-normalized compare recognizes it."""
    import os

    import pandas as pd

    from hpaste_spark.schema import HTable, Schema
    from hpaste_spark.streaming.events import (
        INCREMENT_SINK_MARKER,
        read_event_stream,
        stream_increments_into,
    )

    src_dir = tmp_path / "inc_src"
    src_dir.mkdir()
    full = pd.read_parquet(f"{SF}/events.parquet")
    third = len(full) // 3
    full.iloc[:third].to_parquet(src_dir / "part0.parquet")
    full.iloc[third : 2 * third].to_parquet(src_dir / "part1.parquet")
    full.iloc[2 * third :].to_parquet(src_dir / "part2.parquet")

    sch = Schema(base_dir=str(tmp_path / "tables"))

    class Counters(HTable):
        def __init__(self, schema):
            super().__init__(schema, "event_counters_fw", key_type=str)
            meta = self.family("meta")
            self.n_events = self.column(meta, "n_events", "long")
            self.total_value = self.column(meta, "total_value", float)

    tbl = Counters(sch)
    sch.create_all(spark)
    ckpt = str(tmp_path / "ckpt")

    stream_increments_into(
        read_event_stream(spark, str(src_dir)), tbl, checkpoint_dir=ckpt
    )
    assert tbl.storage.snapshot_marker(INCREMENT_SINK_MARKER) is not None

    # the foreign writer: a client put of an unrelated row — its
    # merge-publish used to erase the stream's marker
    tbl.put("zzz_foreign").value("n_events", 99).value(
        "total_value", 0.0
    ).execute(spark)
    assert (
        tbl.storage.snapshot_marker(INCREMENT_SINK_MARKER) is not None
    ), "sticky marker must survive a foreign merge publish"

    want = {
        r["event_type"]: (r["n"], round(r["v"], 6))
        for r in load_table(spark, SF, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("v"))
        .collect()
    }
    want["zzz_foreign"] = (99, 0.0)
    counters = lambda: {  # noqa: E731
        r["rowkey"]: (r["n_events"], round(r["total_value"], 6))
        for r in tbl.to_df(spark).collect()
    }
    assert counters() == want

    # force the crash-replay window, then restart with the SAME
    # checkpoint spelled differently
    commits = sorted(c for c in os.listdir(os.path.join(ckpt, "commits")) if c.isdigit())
    os.remove(os.path.join(ckpt, "commits", commits[-1]))
    crc = os.path.join(ckpt, "commits", f".{commits[-1]}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    respelled = os.path.join(os.path.dirname(ckpt), ".", os.path.basename(ckpt))
    assert respelled != ckpt and os.path.realpath(respelled) == os.path.realpath(ckpt)
    stream_increments_into(
        read_event_stream(spark, str(src_dir)), tbl, checkpoint_dir=respelled
    )
    assert counters() == want, (
        "replayed batch must be skipped despite the foreign publish and "
        "the respelled checkpoint path"
    )
