"""Mutation-batch behavioral tests, ported from the reference suite:
put+get round-trip (WebCrawlSchemaTest.scala:165-203), op chaining & +
(:205-231, ExampleSchema.scala:383-410), deletes (:338-351), empty
no-op (:332-336), increments, per-cell timestamps
(ExampleSchema.scala:354-381), complex types (:139-151, :213-240)."""

import datetime as dt

from tests.fixtures import Kitten, example_schema, web_schema

D = dt.date
TS = dt.datetime


def test_put_get_roundtrip(spark, base_dir):
    _, pages, _ = web_schema(base_dir, spark)
    url = "http://mycrawledsite.com/crawledpage.html"
    res = (
        pages.put(url)
        .value(lambda t: t.title, "My Crawled Page Title")
        .value("lastCrawled", TS(2011, 6, 18, 0, 0))
        .value("article", "Jonsie went to the store. She didn't go to the movies.")
        .value("attributes", {"foo": "bar", "custom": "data"})
        .value_map("searchMetrics", {D(2011, 6, 18): 3, D(2011, 6, 19): 7})
        .execute(spark)
    )
    assert res.numPuts == 1

    row = pages.query2(spark).with_key(url).with_all_columns().single()
    assert row.column("title") == "My Crawled Page Title"
    assert row.column(lambda t: t.lastCrawled) == TS(2011, 6, 18)
    assert row.column("attributes") == {"foo": "bar", "custom": "data"}
    assert row.family("searchMetrics") == {D(2011, 6, 18): 3, D(2011, 6, 19): 7}
    assert row.family_key_set("searchMetrics") == {D(2011, 6, 18), D(2011, 6, 19)}
    assert row.column_from_family("searchMetrics", D(2011, 6, 19)) == 7


def test_projection_only_selected_family(spark, base_dir):
    _, pages, _ = web_schema(base_dir, spark)
    url = "http://site.com/a.html"
    pages.put(url).value("title", "T").value_map("searchMetrics", {D(2011, 6, 1): 1}).execute(spark)

    row = pages.query2(spark).with_key(url).with_families("meta").single()
    assert row.column("title") == "T"
    assert "searchMetrics" not in row.as_dict()

    row2 = pages.query2(spark).with_key(url).with_columns("title").single()
    assert row2.column("title") == "T"
    assert "lastCrawled" not in row2.as_dict()


def test_op_chaining_and_plus(spark, base_dir):
    """WebCrawlSchemaTest.scala:205-231 + OpsResult combiner
    ExampleSchema.scala:383-410."""
    _, pages, _ = web_schema(base_dir, spark)
    op1 = pages.put("http://a.com/1").value("title", "A")
    op2 = pages.put("http://b.com/1").value("title", "B").put("http://c.com/1").value("title", "C")
    combined = op1 + op2
    res = combined.execute(spark)
    assert res.numPuts == 3
    rows = pages.query2(spark).with_keys(
        ["http://a.com/1", "http://b.com/1", "http://c.com/1"]
    ).with_columns("title").multi_map()
    assert {k: v.column("title") for k, v in rows.items()} == {
        "http://a.com/1": "A",
        "http://b.com/1": "B",
        "http://c.com/1": "C",
    }
    # OpsResult addition
    from hpaste_spark.operators import OpsResult

    assert (OpsResult(1, 2, 3) + OpsResult(4, 5, 6)).numPuts == 7


def test_empty_execute_noop(spark, base_dir):
    """WebCrawlSchemaTest.scala:332-336."""
    _, pages, _ = web_schema(base_dir, spark)
    res = pages.put("http://nothing.com/").execute(spark)
    assert (res.numDeletes, res.numPuts, res.numIncrements) == (0, 0, 0)


def test_delete_roundtrip(spark, base_dir):
    """WebCrawlSchemaTest.scala:338-351."""
    _, pages, _ = web_schema(base_dir, spark)
    pages.put("k1").value("title", "X").execute(spark)
    assert pages.query2(spark).with_key("k1").with_all_columns().single_option() is not None
    pages.delete("k1").execute(spark)
    assert pages.query2(spark).with_key("k1").with_all_columns().single_option() is None


def test_delete_family_and_qualifiers(spark, base_dir):
    """DeleteOp.scala:27-39 scopes."""
    _, tbl = example_schema(base_dir, spark)
    (
        tbl.put("Chris")
        .value("title", "Book")
        .value_map("viewCounts", {"Today": 5, "Yesterday": 6})
        .execute(spark)
    )
    tbl.delete("Chris").values("viewCounts", {"Today"}).execute(spark)
    row = tbl.query2(spark).with_key("Chris").with_all_columns().single()
    assert row.family("viewCounts") == {"Yesterday": 6}
    tbl.delete("Chris").family("viewCounts").execute(spark)
    row = tbl.query2(spark).with_key("Chris").with_all_columns().single()
    assert row.family("viewCounts") == {}
    assert row.column("title") == "Book"  # other families untouched


def test_scoped_deletes_plan_one_projection(spark, base_dir):
    """A batch's .family()/.values() deletes compose into one projection:
    the analyzed plan has as many Project nodes for 40 scoped deletes as
    for one, instead of one per column per key."""
    from hpaste_spark.operators.mutations import apply_deletes

    _, tbl = example_schema(base_dir, spark)
    tbl.put("Chris").value("title", "Book").execute(spark)
    fams = set(tbl.families)

    def n_projects(keys):
        df = apply_deletes(
            tbl,
            tbl.to_df(spark),
            set(),
            {k: fams for k in keys},
            {k: {"viewCounts": {"Today"}} for k in keys},
        )
        plan = df._jdf.queryExecution().analyzed().toString()
        return sum(1 for l in plan.splitlines() if l.lstrip(" :+-").startswith("Project"))

    assert n_projects([f"k{i}" for i in range(40)]) == n_projects(["k0"])


def test_increment(spark, base_dir):
    """IncrementOp.scala:26-38; merge semantics M8."""
    _, tbl = example_schema(base_dir, spark)
    tbl.put("Joe").value("views", 10).execute(spark)
    tbl.increment("Joe").value("views", 5).execute(spark)
    tbl.increment("Joe").value_map("viewCounts", {"Today": 3}).execute(spark)
    tbl.increment("Joe").value_map("viewCounts", {"Today": 2, "Yesterday": 1}).execute(spark)
    row = tbl.query2(spark).with_key("Joe").with_all_columns().single()
    assert row.column("views") == 15
    assert row.family("viewCounts") == {"Today": 5, "Yesterday": 1}


def test_increment_on_missing_row(spark, base_dir):
    _, tbl = example_schema(base_dir, spark)
    tbl.increment("Ghost").value("views", 7).execute(spark)
    row = tbl.query2(spark).with_key("Ghost").with_all_columns().single()
    assert row.column("views") == 7


def test_per_cell_timestamps(spark, base_dir):
    """ExampleSchema.scala:354-381 — explicit put timestamps readable."""
    _, tbl = example_schema(base_dir, spark)
    t1 = TS(2013, 1, 1, 10, 0)
    t2 = TS(2013, 1, 2, 10, 0)
    (
        tbl.put("TsRow")
        .value_map("viewCounts", {"time1": 1, "time2": 2}, timestamps={"time1": t1, "time2": t2})
        .value("title", "Stamped", timestamp=t1)
        .execute(spark)
    )
    row = tbl.query2(spark).with_key("TsRow").with_all_columns().single()
    assert row.column_from_family_timestamp("viewCounts", "time1") == t1
    assert row.column_from_family_timestamp("viewCounts", "time2") == t2
    assert row.column_timestamp("title") == t1
    assert row.family_latest_timestamp("viewCounts") == t2


def test_naive_timestamps_read_as_local_time(spark, base_dir, monkeypatch):
    """A naive datetime — a per-cell ``timestamp=`` or a timestamp cell —
    is read in the process's local time zone, as Spark reads a naive
    datetime in a row list.  The batch is staged through Arrow, whose
    UTC-zoned timestamp field would read a naive value as UTC; under a
    non-UTC ``TZ`` that would shift every stored instant.  A cell put
    without a timestamp is stamped with the current instant."""
    import time

    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    try:
        _, tbl = example_schema(base_dir, spark)
        t = TS(2013, 1, 1, 10, 0)  # 15:00 UTC (EST is UTC-5)
        before = time.time()
        (
            tbl.put("TsRow")
            .value("title", "Stamped", timestamp=t)
            .value("creationDate", t)
            .value_map("viewCounts", {"time1": 1}, timestamps={"time1": t})
            .put("NowRow")
            .value("title", "Now")
            .execute(spark)
        )
        stored = {
            r["rowkey"]: r
            for r in tbl.to_df(spark).selectExpr(
                "rowkey",
                "CAST(meta__ts['title'] AS STRING) AS title_ts",
                "CAST(creationDate AS STRING) AS created",
                "CAST(viewCounts__ts['time1'] AS STRING) AS time1_ts",
                "unix_seconds(meta__ts['title']) AS title_epoch",
            ).collect()
        }
        ts_row = stored["TsRow"]
        assert (ts_row["title_ts"], ts_row["created"], ts_row["time1_ts"]) == (
            "2013-01-01 15:00:00",
        ) * 3
        assert abs(stored["NowRow"]["title_epoch"] - before) < 120
        row = tbl.query2(spark).with_key("TsRow").with_all_columns().single()
        assert row.column_timestamp("title") == t
        assert row.column("creationDate") == t
    finally:
        monkeypatch.undo()
        time.tzset()


def test_complex_types_roundtrip(spark, base_dir):
    """ExampleSchema.scala:139-151 (Kitten), :213-240 (Seq/Map)."""
    _, tbl = example_schema(base_dir, spark)
    kittens = {
        "Suki": Kitten("Suki", 9, 8.6),
        "Efrem": Kitten("Efrem", 8, 6.8),
        "Rory": Kitten("Rory", 9, 9.6),
        "Scout": Kitten("Scout", 8, 12.3),
    }
    (
        tbl.put("Chris")
        .value("viewsArr", ["a", "b", "c"])
        .value("viewsMap", {"x": 1, "y": 2})
        .value_map("kittens", kittens)
        .execute(spark)
    )
    row = tbl.query2(spark).with_key("Chris").with_all_columns().single()
    assert row.column("viewsArr") == ["a", "b", "c"]
    assert row.column("viewsMap") == {"x": 1, "y": 2}
    got = row.family("kittens")
    assert set(got) == set(kittens)
    assert got["Scout"].age == 8 and abs(got["Scout"].height - 12.3) < 1e-9


def test_yearday_keyed_family(spark, base_dir):
    """YearDay map keys (ExampleSchema.scala:108; Schema.scala:258)."""
    from hpaste_spark.schema import YearDay

    _, tbl = example_schema(base_dir, spark)
    counts = {YearDay(2011, 16 + d): 50 + d for d in range(5)}
    tbl.put("YD").value_map("viewCountsByDay", counts).execute(spark)
    row = tbl.query2(spark).with_key("YD").with_all_columns().single()
    fam = row.family("viewCountsByDay")
    assert len(fam) == 5
    assert {tuple(k) for k in fam} == {(2011, 16 + d) for d in range(5)}


def test_put_overlays_existing_cells(spark, base_dir):
    """Cell-level last-writer-wins: untouched cells survive a new put."""
    _, tbl = example_schema(base_dir, spark)
    tbl.put("R").value("title", "T1").value("url", "u1").execute(spark)
    tbl.put("R").value("title", "T2").execute(spark)
    row = tbl.query2(spark).with_key("R").with_all_columns().single()
    assert row.column("title") == "T2"
    assert row.column("url") == "u1"


def test_multi_table_batch_routing(spark, base_dir):
    """S13 HMultiTableOutput: mutations route to validated target
    tables; one execute commits all targets (mapreduce2.scala:575-587)."""
    import pytest

    from hpaste_spark.operators.mutations import MultiTableBatch

    _, pages, sites = web_schema(base_dir, spark)
    batch = MultiTableBatch(pages, sites)
    batch.on("pages").put("http://x.com/1").value("title", "X1")
    batch.on("site_metrics").put("x.com").value("name", "X")
    batch.on("pages").put("http://x.com/2").value("title", "X2")
    res = batch.execute(spark)
    assert (res.numPuts, res.numDeletes) == (3, 0)
    assert pages.query2(spark).with_key("http://x.com/2").with_all_columns().single().column("title") == "X2"
    assert sites.query2(spark).with_key("x.com").with_all_columns().single().column("name") == "X"
    with pytest.raises(KeyError):
        batch.on("unknown_table")


def test_empty_put_chains_skipped_and_uncounted(spark, base_dir):
    """Reference parity (OpBase.scala prepareOperations !put.isEmpty):
    a .put(key) with no cells is excluded from numPuts and must not
    merge a phantom all-null row visible to scans."""
    _, pages, _ = web_schema(base_dir, spark)
    res = (
        pages.put("http://real.example/page")
        .value(lambda t: t.title, "Real")
        .put("http://phantom.example/empty")  # no cells staged
        .execute(spark)
    )
    assert res.numPuts == 1, "empty put chain must not count"
    keys = pages.query2(spark).with_all_columns().scan_to_iterable(lambda r: r.rowid)
    assert "http://phantom.example/empty" not in keys
    assert "http://real.example/page" in keys

    # a batch of ONLY empty puts is a full no-op (no new snapshot)
    v_before = pages.storage.current_version()
    res2 = pages.put("http://phantom2.example/empty").execute(spark)
    assert (res2.numDeletes, res2.numPuts, res2.numIncrements) == (0, 0, 0)
    assert pages.storage.current_version() == v_before
