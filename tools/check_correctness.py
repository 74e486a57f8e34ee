"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB over the same parquet fixtures, then compares row count, column
names, and an order-insensitive value multiset.

Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import datetime
import math
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings".split()
)


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == 0.0:
            return "0"  # collapse -0.0/0.0 (%g keeps the sign!)
        # collapse fp noise beyond ~12 significant digits
        return f"{v:.10g}"
    if isinstance(v, datetime.datetime):
        return v.isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, list):
        return tuple(norm_cell(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((norm_cell(k), norm_cell(x)) for k, x in v.items()))
    return v


def as_multiset(cols: list[str], rows) -> dict:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out: dict = {}
    for r in rows:
        key = tuple(norm_cell(r[i]) for i in order)
        out[key] = out.get(key, 0) + 1
    return out


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entry_mod
    from hpaste_spark import get_spark

    spark = get_spark("correctness-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        # per-query isolation: one AnalysisException must not hide the
        # status of every query after it (VERDICT r2 "What's wrong" #1)
        try:
            sdf = fn(spark, sf_dir)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception as e:
            failures.append(name)
            msg = str(e).splitlines()[0][:160] if str(e) else type(e).__name__
            print(f"{name:32s} SPARK ERROR: {msg}")
            continue
        if name not in oracles:
            print(f"{name:32s} rows={len(srows)} (rows-only check, no oracle)")
            continue
        try:
            res = con.execute(oracles[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception as e:
            failures.append(name)
            print(f"{name:32s} ORACLE ERROR: {e}")
            continue
        ok_cols = sorted(scols) == sorted(dcols)
        ok_count = len(srows) == len(drows)
        ok_vals = as_multiset(scols, [tuple(r) for r in srows]) == as_multiset(dcols, drows)
        status = "OK" if (ok_cols and ok_count and ok_vals) else "MISMATCH"
        if status != "OK":
            failures.append(name)
        print(
            f"{name:32s} {status}  spark={len(srows)} duck={len(drows)} "
            f"cols={'ok' if ok_cols else f'{sorted(scols)}!={sorted(dcols)}'} vals={'ok' if ok_vals else 'DIFF'}"
        )
        if status != "OK" and not ok_vals and ok_cols and ok_count:
            sm = as_multiset(scols, [tuple(r) for r in srows])
            dm = as_multiset(dcols, drows)
            s_extra = [k for k in sm if sm[k] != dm.get(k, 0)][:3]
            d_extra = [k for k in dm if dm[k] != sm.get(k, 0)][:3]
            print(f"    spark-only sample: {s_extra}")
            print(f"    duck-only  sample: {d_extra}")
    spark.stop()
    print(f"\n{len(failures)} failures: {failures}" if failures else "\nall OK")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
