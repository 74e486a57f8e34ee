"""Exact-compare gate: like check_correctness.py but with NO fp
normalization — floats compare by repr().  Used to verify the
deterministic-money sweep: every swept query must match the oracle
bit-for-bit, not just to 10 significant digits.

Usage: python tools/exact_check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import datetime
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings".split()
)


def cell(v):
    if isinstance(v, float):
        return repr(v)  # exact: no rounding, -0.0 != 0.0
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, list):
        return tuple(cell(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((cell(k), cell(x)) for k, x in v.items()))
    return repr(v)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as em
    from hpaste_spark import get_spark

    spark = get_spark("exact-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    oracles = em.oracle_sql()
    failures = []
    for name, fn in em.queries().items():
        if (only and name not in only) or name not in oracles:
            continue
        sdf = fn(spark, sf_dir)
        srows = sorted(
            tuple(cell(v) for _, v in sorted(zip(sdf.columns, r))) for r in sdf.collect()
        )
        res = con.execute(oracles[name])
        dcols = [d[0] for d in res.description]
        drows = sorted(tuple(cell(v) for _, v in sorted(zip(dcols, r))) for r in res.fetchall())
        ok = srows == drows
        print(f"{name:32s} {'EXACT' if ok else 'DIFF'}  spark={len(srows)} duck={len(drows)}")
        if not ok:
            failures.append(name)
            for a, b in zip(srows, drows):
                if a != b:
                    print(f"    spark: {a}\n    duck:  {b}")
                    break
    spark.stop()
    print(f"\n{len(failures)} exact-diffs: {failures}" if failures else "\nall EXACT")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
