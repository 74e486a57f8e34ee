"""Driver-harness compatibility meta-tests.

The driver hash-compares Spark results against DuckDB oracle results
fetched through pandas, which has two sharp edges (VERDICT r2 #3/#4):

- DuckDB widens ``SUM(INTEGER)`` to HUGEINT, which pandas renders as
  float64 — so a bit-exact 1 hashes as 1.0 and the row goes red.
- LIST-typed cells arrive as numpy arrays, which pandas cannot
  factorize — the whole comparison errors out.

These tests pin both properties for every registered query so a new
query can't silently reintroduce either failure mode.
"""

from __future__ import annotations

import os

import duckdb
import pytest

import __spark_entry__ as entry

SF_DIR = "/root/testdata/sf0.001"
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con


@pytest.fixture(scope="module")
def schemas(spark):
    """Every registry DataFrame built once (plan only — nothing
    executes beyond the builds' own eager jobs); the Spark-side checks
    below all read these schemas."""
    return {name: fn(spark, SF_DIR).schema for name, fn in entry.queries().items()}


def test_no_oracle_column_is_hugeint(duck):
    bad = {}
    for name, sql in entry.oracle_sql().items():
        desc = duck.execute(f"DESCRIBE {sql}").fetchall()
        huge = [(c, t) for c, t, *_ in desc if "HUGEINT" in t.upper()]
        if huge:
            bad[name] = huge
    assert not bad, f"HUGEINT oracle columns hash as float64 in the driver: {bad}"


def test_no_oracle_column_is_list_typed(duck):
    bad = {}
    for name, sql in entry.oracle_sql().items():
        desc = duck.execute(f"DESCRIBE {sql}").fetchall()
        lists = [(c, t) for c, t, *_ in desc if "[]" in t or t.upper().startswith("LIST")]
        if lists:
            bad[name] = lists
    assert not bad, f"LIST oracle columns are unhashable in the driver: {bad}"


def test_no_spark_query_returns_array_columns(schemas):
    from pyspark.sql import types as T

    bad = {}
    for name, schema in schemas.items():
        arrs = [f.name for f in schema.fields if isinstance(f.dataType, (T.ArrayType, T.MapType))]
        if arrs:
            bad[name] = arrs
    assert not bad, f"array/map output columns are unhashable in the driver: {bad}"


def test_oracle_and_spark_column_names_match(schemas, duck):
    """The driver sorts columns BY NAME before hashing values, so a
    Spark result aliased `sum_qty` against an oracle emitting
    `sum(l_quantity)` hash-mismatches even on identical values.  Pin
    name parity for every oracle-bearing query at plan time — alias
    drift fails here, not in a driver round.  (Plan-only on the Spark
    side; DESCRIBE-only on the DuckDB side.)"""
    bad = {}
    for name, sql in entry.oracle_sql().items():
        duck_cols = {c for c, *_ in duck.execute(f"DESCRIBE {sql}").fetchall()}
        spark_cols = {f.name for f in schemas[name].fields}
        if duck_cols != spark_cols:
            bad[name] = {"oracle_only": sorted(duck_cols - spark_cols),
                         "spark_only": sorted(spark_cols - duck_cols)}
    assert not bad, f"column-name drift between Spark and oracle: {bad}"


def test_survey_registry_count_in_sync():
    """SURVEY §8's end-state paragraph states the registry size; r7's
    verdict caught it stale (221 vs 224).  Pin the doc to
    len(queries()) so the count can never drift again — adding a query
    means updating SURVEY.md in the same commit."""
    import re

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "SURVEY.md")) as fh:
        text = fh.read()
    m = re.search(r"End state: (\d+) registry queries", text)
    assert m, "SURVEY.md end-state paragraph missing the registry count"
    assert int(m.group(1)) == len(entry.queries())
