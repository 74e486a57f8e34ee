"""30x A/B probe for the round-13 minor/major IVF compaction split.

The question SCALE.md must answer with numbers, not prose: when
artifact_stats flags small-files growth but the drift monitor says the
geometry is still good, how much does the MINOR pass
(compact_artifact — one repartition-on-stored-cid shuffle, no
clustering) actually save versus running the only previously-available
pass (compact_ivf_index — full re-cluster + re-assign + rewrite)?  And
do both scale linearly so the split survives 100 TB?

Protocol per scale (1x = 20k rows x 64 dims, 30x = 600k):
  build_ivf_index on the standing slice, 8 append_artifact deltas
  (fragmenting the vectors tree exactly the way an ingest loop does),
  copy the fragmented tree aside, then time the minor pass on one copy
  and the major pass on the other (identical initial state; file
  counts recorded before/after).

Usage: python tools/maintenance_probe.py   (table to stdout)
"""

from __future__ import annotations

import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.join(REPO, ".scratch", "maintenance_probe")

BASE_N = 20_000
DIM = 64
SCALE = 30
N_APPENDS = 8


def synth(spark, n, id_start=0):
    from pyspark.sql import functions as F

    return spark.range(id_start, id_start + n).select(
        F.col("id").cast("int").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(DIM - 1)),
            lambda d: (F.xxhash64(F.col("id"), d) % 1000) / 500.0 - 1.0,
        ).alias("embedding"),
    )


def n_files(d):
    return sum(
        1
        for _root, _dirs, files in os.walk(d)
        for f in files
        if not f.startswith(("_", "."))
    )


def main() -> int:
    from pyspark.sql import SparkSession

    from hpaste_spark.operators import artifacts
    from hpaste_spark.operators.artifacts import append_artifact, compact_artifact
    from hpaste_spark.operators.similarity import build_ivf_index, compact_ivf_index

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

    results = {}
    for mult, tag in ((1, "1x"), (SCALE, f"{SCALE}x")):
        n = BASE_N * mult
        path = os.path.join(ROOT, f"ivf_{tag}")
        corpus = synth(spark, n).localCheckpoint()
        t0 = time.time()
        build_ivf_index(corpus, path, k_centroids=8)
        t_build = time.time() - t0
        delta_n = max(1, n // (4 * N_APPENDS))  # 8 appends, +25% total
        t0 = time.time()
        for i in range(N_APPENDS):
            append_artifact(
                spark,
                path,
                synth(spark, delta_n, id_start=10_000_000 + i * delta_n),
            )
        t_appends = time.time() - t0
        frag_files = n_files(os.path.join(path, "vectors"))

        minor_path, major_path = path + "_minor", path + "_major"
        shutil.copytree(path, minor_path)
        os.rename(path, major_path)

        t0 = time.time()
        compact_artifact(spark, minor_path)
        t_minor = time.time() - t0
        minor_files = n_files(os.path.join(minor_path, "vectors"))
        assert artifacts.artifact_stats(minor_path)["appends_since_compact"] == 0
        # the drift clock counts WRITE GENERATIONS since training (the
        # minor pass's own version bump included) — what matters is it
        # did not reset
        assert artifacts.artifact_stats(minor_path)["appends_since_trained"] \
            == N_APPENDS + 1, "minor pass must NOT reset the drift clock"

        t0 = time.time()
        compact_ivf_index(spark, major_path, k_centroids=8)
        t_major = time.time() - t0
        major_files = n_files(os.path.join(major_path, "vectors"))
        assert artifacts.artifact_stats(major_path)["appends_since_trained"] \
            == 0, "major pass resets the drift clock"

        results[tag] = dict(
            rows=n + N_APPENDS * delta_n, build=t_build, appends=t_appends,
            frag_files=frag_files, minor=t_minor, minor_files=minor_files,
            major=t_major, major_files=major_files,
        )
        print(
            f"[{tag}] rows={results[tag]['rows']:,} files "
            f"{frag_files}->{minor_files}(minor)/{major_files}(major)  "
            f"build={t_build:.1f}s appends={t_appends:.1f}s "
            f"minor={t_minor:.1f}s major={t_major:.1f}s "
            f"minor/major={t_minor / t_major:.2f}",
            flush=True,
        )

    import math

    r1, r30 = results["1x"], results[f"{SCALE}x"]
    for key in ("minor", "major"):
        alpha = math.log(r30[key] / r1[key]) / math.log(SCALE)
        print(f"alpha[{key}] = {alpha:.2f}")
    print(
        f"minor/major at {SCALE}x: {r30['minor'] / r30['major']:.2f} "
        f"(1x: {r1['minor'] / r1['major']:.2f})"
    )
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
