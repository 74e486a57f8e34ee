"""30x A/B probe for the round-12 torn-append protocol overhead.

The protocol adds three costs to every ANN index append:

1. the delta SIGNATURE pass (one xxhash64/bit_xor aggregation over the
   delta — distributed, should scale linearly with the delta),
2. the journal SNAPSHOT (driver-side os.walk of the data tree — O(#files),
   the same metadata class as write_partial's hardlink loop; file count
   grows with appends x cid partitions, NOT with rows),
3. the meta publish (1 JSON file, constant).

This probe measures each against the append's own data write at 1x and
30x delta sizes, and the snapshot walk at few-files vs many-files tree
states, so SCALE.md can price the protocol instead of asserting it.

Usage: python tools/append_protocol_probe.py   (writes a table to stdout)
"""

from __future__ import annotations

import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.join(REPO, ".scratch", "append_probe")

BASE_N = 20_000
DIM = 64
SCALE = 30


def synth(spark, n, id_start=0):
    """Deterministic synthetic embeddings: hash-derived doubles."""
    from pyspark.sql import functions as F

    df = spark.range(id_start, id_start + n).select(
        F.col("id").cast("int").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(DIM - 1)),
            lambda d: (F.xxhash64(F.col("id"), d) % 1000) / 500.0 - 1.0,
        ).alias("embedding"),
    )
    return df


def main() -> int:
    from pyspark.sql import SparkSession

    from hpaste_spark.operators import artifacts
    from hpaste_spark.operators.similarity import append_index, build_ivf_index

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    shutil.rmtree(ROOT, ignore_errors=True)
    os.makedirs(ROOT, exist_ok=True)
    path = os.path.join(ROOT, "ivf")

    base = synth(spark, BASE_N).localCheckpoint()  # materialize inputs once
    d1 = synth(spark, BASE_N, id_start=10_000_000).localCheckpoint()
    d30 = synth(spark, SCALE * BASE_N, id_start=20_000_000).localCheckpoint()

    build_ivf_index(base, path, k_centroids=8)

    rows = []

    def timed(label, fn):
        t0 = time.time()
        out = fn()
        dt = time.time() - t0
        rows.append((label, dt))
        return out, dt

    # component: signature pass, 1x vs 30x
    timed("sig 1x (20k rows)", lambda: artifacts.delta_signature(d1, "vec_id", "embedding"))
    timed(f"sig 30x ({SCALE*BASE_N//1000}k rows)", lambda: artifacts.delta_signature(d30, "vec_id", "embedding"))

    # component: snapshot walk at few-files state
    def walk():
        return artifacts._list_rel_files(os.path.join(path, "vectors"))

    (files_few, _), _ = timed("snapshot walk (post-build tree)", lambda: (walk(), None))

    # full appends (protocol inclusive), 1x then 30x
    timed("append 1x TOTAL (protocol incl.)", lambda: append_index(spark, path, d1))
    timed("append 30x TOTAL (protocol incl.)", lambda: append_index(spark, path, d30))

    # inflate file count: 20 more tiny appends, then re-walk
    for i in range(20):
        tiny = synth(spark, 500, id_start=30_000_000 + i * 1000)
        append_index(spark, path, tiny)
    (files_many, _), _ = timed("snapshot walk (post-22-appends tree)", lambda: (walk(), None))

    n_few, n_many = len(files_few), len(files_many)
    print(f"\nvectors tree: {n_few} files post-build -> {n_many} files post-22-appends")
    print(f"{'component':44s} {'sec':>8s}")
    for label, dt in rows:
        print(f"{label:44s} {dt:8.3f}")
    sig1 = rows[0][1]
    sig30 = rows[1][1]
    import math

    print(f"sig alpha (log ratio / log {SCALE}): {math.log(max(sig30,1e-9)/max(sig1,1e-9))/math.log(SCALE):.2f}")
    tot1 = rows[3][1]
    tot30 = rows[4][1]
    print(f"append total alpha: {math.log(max(tot30,1e-9)/max(tot1,1e-9))/math.log(SCALE):.2f}")
    print(f"sig share of 30x append: {sig30/tot30*100:.1f}% (measured inside total too)")
    spark.stop()
    shutil.rmtree(ROOT, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
