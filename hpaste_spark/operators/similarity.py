"""Similarity search over embedding columns (north-star operator).

- brute_force_topk      — exact cosine top-k against a query vector
  (broadcast the query; one narrow pass + global top-k)
- hyperplane_buckets    — deterministic random-hyperplane LSH bucket id
  per vector (sign pattern of dot products with pseudo-random planes)
- ann_topk              — approximate top-k: only vectors sharing the
  query's bucket are scored.  The 100 TB path: the bucket id is a
  partitionable key, so candidate retrieval is a partition-pruned scan,
  not a full sweep.  Recall is tunable via n_planes (fewer planes →
  bigger buckets → higher recall, more compute).

The hyperplane components are generated by a fixed integer formula
(not an RNG), so the DuckDB oracle reproduces them exactly:
    plane[j][d] = ((j*2654435761 + d*40503) % 10007 - 5003) / 5003.0
"""

from __future__ import annotations

import dataclasses
import os
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hpaste_spark.functions.vectors import as_double, cosine, dot

PLANE_P1 = 2654435761
PLANE_P2 = 40503
PLANE_MOD = 10007
PLANE_HALF = 5003

#: Broadcast ceiling for exploded centroid-dim tables, in DIM ROWS
#: (k·d).  1M rows ≈ tens of MB replicated per executor — safe.  Above
#: it the table must NOT be broadcast: under the auto-k contract
#: (k = ⌈n/512⌉) the dim table holds ~n·d/512 rows, i.e. it grows
#: LINEARLY with the corpus, and a forced broadcast is a guaranteed
#: executor OOM at exactly the corpus sizes auto-k exists for
#: (round-5 verdict finding).  Tests monkeypatch this down to prove
#: the plan degrades to a shuffle join, not an error.
BROADCAST_DIM_ROWS = 1_000_000


def _dims_hint(dims: DataFrame, n_dim_rows: "int | None") -> DataFrame:
    """Broadcast-hint an exploded centroid-dim table only when its row
    count is known to be small.  ``n_dim_rows=None`` (callers with an
    explicit small k — the back-compat default) keeps the hint; a known
    count above :data:`BROADCAST_DIM_ROWS` drops it so Spark plans a
    shuffle join on the dim key (and AQE may still choose broadcast at
    runtime if actual stats allow)."""
    if n_dim_rows is None or n_dim_rows <= BROADCAST_DIM_ROWS:
        return F.broadcast(dims)
    return dims


#: Salt fan-out for the degraded (non-broadcast) FLAT dim join: the
#: join key ``pos`` alone has only d (~64) distinct values, so a plain
#: shuffle join would cap reduce parallelism at d with massive per-key
#: fan-out at exactly the auto-k corpus sizes the gate exists for
#: (round-6 advice).  Salting multiplies distinct keys to d·P at the
#: cost of replicating the centroid-dim side P× — bounded and chosen
#: so P ≈ a typical executor-core count.
DIM_JOIN_SALT = 16


def _flat_dims_join(vdims: DataFrame, cdims: DataFrame, n_dim_rows: "int | None", id_col: str) -> DataFrame:
    """Join vector dims to FLAT centroid dims on ``pos``.

    Small dim table (or unknown count): broadcast-hint, map-side join,
    no shuffle of either side.  Above :data:`BROADCAST_DIM_ROWS`: a
    SALTED shuffle join — the probe side keys (pos, hash(id) % P) and
    the centroid side is exploded P ways, so the exchange partitions
    by d·P distinct keys instead of d.  Join output is identical
    (every (id, pos) row still meets every centroid's (pos) row exactly
    once); only the physical key space changes.  The two-level path
    needs none of this — its sub-level join already keys (cid1, pos),
    k1·d distinct values."""
    if n_dim_rows is None or n_dim_rows <= BROADCAST_DIM_ROWS:
        return vdims.join(F.broadcast(cdims), "pos")
    p = DIM_JOIN_SALT
    salted_c = cdims.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(p - 1)))
    )
    salted_v = vdims.withColumn(
        "_salt", F.pmod(F.hash(F.col(id_col)), F.lit(p))
    )
    return salted_v.join(salted_c, ["pos", "_salt"]).drop("_salt")


#: estimated-input-bytes threshold above which :func:`_ivfadc_model`
#: cuts its shared model tables (cents / assign / rcb).  Below it the
#: r13 measurement governs (cuts 1.1-1.4x slower: replays ride idle
#: cores, cuts serialize); above it a replay is a paid corpus scan.
#: Probe: plans/r14/ivfadc_cut_probe.md (a probe sets this attribute).
IVFADC_CUT_BYTES = 1 << 30


def _plan_size_bytes(df: DataFrame) -> int:
    """Catalyst's estimated output size of ``df`` in bytes (file-size
    based for parquet scans) — a driver-side stats read, NO job.  0
    when the estimate is unavailable, which keeps size-gated
    optimizations at their small-input default."""
    try:
        return int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:
        return 0


def _stored_rows(spark, path: str) -> int:
    """EXACT row count of a stored parquet tree.  A local directory is
    counted from its FOOTER metadata only — no Spark job, no data scan
    (r14: the artifact cardinality hard-checks need just the count, and
    a ``.count()`` over a corpus×m-row codes tree was a full scan job
    serialized before any useful work); a tree with no data files
    counts 0, and an unreadable footer raises naming its file instead
    of being mistaken for an empty or a differently-sized tree.  A
    non-local path (remote object store) is counted by Spark."""
    if not os.path.isdir(path):
        return spark.read.parquet(path).count()
    import glob

    import pyarrow as pa
    import pyarrow.parquet as pq

    total = 0
    for f in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True):
        try:
            total += pq.ParquetFile(f).metadata.num_rows
        except (OSError, pa.ArrowException) as e:
            raise ValueError(f"unreadable parquet footer in {f}: {e}") from e
    return total


def _sq_dist(x: str) -> F.Column:
    """Σ(x−c)² over the rows of a group — the L2² aggregate of every
    exploded-dims distance in this module (``c``: the codeword or
    centroid component)."""
    return F.sum((F.col(x) - F.col("c")) * (F.col(x) - F.col("c")))


def _subspace(sd: int) -> "tuple[F.Column, F.Column]":
    """(sub, wpos) of an exploded dim ``pos``: its subspace of width
    ``sd`` and its position within it."""
    return (F.col("pos") / sd).cast("int").alias("sub"), (F.col("pos") % sd).alias("wpos")


def _vec_dim(df: DataFrame, vec_col: str) -> int:
    """Vector width from one row — a single cheap driver action."""
    first = df.select(vec_col).first()
    return len(first[0])


def _require_single_query(query_df: DataFrame) -> DataFrame:
    """Enforce the ADC single-query contract.

    The PQ/IVFADC top-k functions collapse the query's exploded dims
    into ONE broadcast distance table (``F.lit(1)`` key); a multi-row
    ``query_df`` would silently SUM distance tables across queries and
    return garbage.  One cheap action on the (tiny) query side turns
    that silent corruption into an error.  Batch retrieval is
    :func:`knn_join` / :func:`ivf_knn_join`'s job."""
    if query_df.limit(2).count() != 1:
        raise ValueError(
            "query_df must contain exactly one row (single-query ADC "
            "contract); use knn_join/ivf_knn_join for batch queries"
        )
    return query_df


def _plane_component(j: int, d: F.Column) -> F.Column:
    """Deterministic pseudo-random plane component in [-1, 1)."""
    return ((F.lit(j * PLANE_P1) + d * PLANE_P2) % PLANE_MOD - PLANE_HALF) / F.lit(float(PLANE_HALF))


def _plane_component_col(j: F.Column, d: F.Column) -> F.Column:
    """Same formula with the plane index as a lambda variable."""
    return (
        (j.cast("long") * PLANE_P1 + d.cast("long") * PLANE_P2) % PLANE_MOD - PLANE_HALF
    ) / F.lit(float(PLANE_HALF))


def hyperplane_buckets(vec: F.Column, n_planes: int = 8) -> F.Column:
    """LSH bucket id: bit j = sign(vec · plane_j).

    All n_planes dot products accumulate in ONE fold over the vector
    with an array accumulator (dots[j] += x * plane[j][d]); a separate
    aggregate per plane would re-evaluate the element cast and zip per
    plane (§ the HOF lambda-body re-evaluation rule)."""
    v = as_double(vec)
    dims = F.sequence(F.lit(0), F.size(v) - 1)
    jseq = F.sequence(F.lit(0), F.lit(n_planes - 1))
    dots = F.aggregate(
        F.zip_with(v, dims, lambda x, d: F.struct(x.alias("x"), d.alias("d"))),
        F.array_repeat(F.lit(0.0), n_planes),
        lambda acc, e: F.zip_with(
            acc, jseq, lambda a, j: a + e["x"] * _plane_component_col(j, e["d"])
        ),
    )
    return F.aggregate(
        F.zip_with(
            dots,
            jseq,
            lambda dj, j: F.when(
                dj > 0, F.pow(F.lit(2.0), j).cast("long")
            ).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, b: acc + b,
    )


def hyperplane_band_keys(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    bands: int = 8,
    planes_per_band: int = 4,
    quant: int = 1_000_000,
    dim: int | None = None,
) -> DataFrame:
    """(id, band_idx, band_key) LSH band keys for cosine blocking.

    Band b's key packs the sign bits of the vector's dot products with
    planes [b*r, (b+1)*r).  Two determinism details:

    - **Integer-quantized dots.** Components quantize to
      ``round(x*quant)`` and plane components stay as the raw integers
      of the fixed formula (range ±5003).  Every product and partial
      sum is then an integer below 2^53, and double addition of such
      integers is EXACT — so the sign test can't flip with partition
      layout or fold order, unlike a raw double dot product near 0.
    - **Explode + broadcast-join + hash-agg**, not an array-lambda fold:
      higher-order functions are CodegenFallback; the join form stays in
      whole-stage codegen with map-side partial agg (same rationale as
      ann_topk/ivf_assign).

    Scale shape: the planes broadcast is grouped per DIMENSION (pos →
    all n_planes components as one array), so the join fans out 1×
    (rows × dims joined rows, not rows × dims × planes — measured 2.9×
    faster at 32 planes), every per-plane product is a codegen
    array-index expression inside ONE hash-agg keyed by the vector id
    (map-side partial), and the 8 band keys fall out of a final narrow
    projection + posexplode.  Exactness is unchanged by the regrouping:
    every partial sums the same sub-2^53 integers.  Band keys are
    equi-join-able blocking keys — the downstream pair expansion never
    sees a cartesian.
    """
    n_planes = bands * planes_per_band
    vdims = df.select(
        F.col(id_col), F.posexplode(as_double(F.col(vec_col))).alias("pos", "x")
    ).select(F.col(id_col), "pos", F.round(F.col("x") * quant).alias("xq"))
    # The planes table is a pure function of (dim, n_planes).  With a
    # caller-supplied ``dim`` it's a driver-side range (zero data
    # touched); otherwise it's derived LAZILY from ONE row of df
    # (limit(1) → posexplode → positions 0..dim-1) so that merely
    # BUILDING the query never runs a Spark job (a plan-time df.head()
    # here used to re-execute the full upstream lineage of a derived
    # df per construction) — the 1-row probe executes with the query,
    # early-exiting the scan.  Either way the table is dim×n_planes
    # rows and broadcasts; never `vdims.select("pos").distinct()`,
    # which re-scanned and re-exploded the WHOLE vector table.
    if dim is not None:
        pos_src = df.sparkSession.range(dim).select(F.col("id").cast("int").alias("pos"))
    else:
        pos_src = df.limit(1).select(
            F.posexplode(as_double(F.col(vec_col))).alias("pos", "_x")
        ).select("pos")
    comps = F.transform(
        F.sequence(F.lit(0), F.lit(n_planes - 1)),
        lambda j: (
            j.cast("long") * PLANE_P1 + F.col("pos").cast("long") * PLANE_P2
        )
        % PLANE_MOD
        - PLANE_HALF,
    )
    planes = F.broadcast(pos_src.select("pos", comps.alias("comps")))
    # 1× join fan-out: one joined row per (vector, dim) carrying ALL
    # n_planes components; the n_planes dots are codegen array-index
    # products inside one id-keyed hash-agg (map-side partial), and the
    # band keys are a final narrow projection.
    joined = vdims.join(planes, "pos")
    dots = joined.groupBy(id_col).agg(
        *[
            F.sum(F.col("xq") * F.col("comps")[j]).alias(f"_dot{j}")
            for j in range(n_planes)
        ]
    )

    def _key(b: int):
        return sum(
            (
                F.when(
                    F.col(f"_dot{b * planes_per_band + m}") > 0,
                    F.lit(2**m).cast("long"),
                ).otherwise(F.lit(0).cast("long"))
                for m in range(planes_per_band)
            ),
            F.lit(0).cast("long"),
        )

    keys = F.array(*[_key(b) for b in range(bands)])
    return dots.select(
        F.col(id_col), F.posexplode(keys).alias("band_idx", "band_key")
    ).select(id_col, F.col("band_idx").cast("int").alias("band_idx"), "band_key")


def random_projection(
    df: DataFrame,
    out_dim: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    quant: int = 1_000_000,
) -> DataFrame:
    """Johnson–Lindenstrauss random projection to ``out_dim`` dims —
    (id, pos, proj_val) rows — the embedding-compression step before
    cheap ANN / clustering passes (project 1536→64, then index).

    Determinism is engineered, not hoped for: components quantize to
    ``round(x·quant)`` and the projection matrix is the module's
    integer plane formula, so every dot is an EXACT integer below 2^53
    (double addition of such integers is associative in effect — no
    fold-order noise), and the single final division by
    ``quant · PLANE_HALF · sqrt(out_dim)`` is one correctly-rounded op
    both engines agree on.  Shape: a per-row array fold — ONE fold
    carrying all out_dim accumulators (HOF lambda-body re-evaluation
    rule, same as :func:`hyperplane_buckets`) — then posexplode.  Zero
    shuffles; a 100 TB embedding table projects in a narrow map stage.
    """
    import math

    v = as_double(F.col(vec_col))
    xq = F.transform(v, lambda x: F.round(x * quant))
    dims = F.sequence(F.lit(0), F.size(v) - 1)
    jseq = F.sequence(F.lit(0), F.lit(out_dim - 1))
    pairs = F.zip_with(xq, dims, lambda x, d: F.struct(x.alias("x"), d.alias("d")))
    int_comp = lambda j, d: (  # noqa: E731 — plane comp WITHOUT /5003
        (j.cast("long") * PLANE_P1 + d.cast("long") * PLANE_P2) % PLANE_MOD - PLANE_HALF
    )
    units = F.aggregate(
        pairs,
        F.array_repeat(F.lit(0.0), out_dim),
        lambda acc, e: F.zip_with(acc, jseq, lambda a, j: a + e["x"] * int_comp(j, e["d"])),
    )
    scale = float(quant * PLANE_HALF) * math.sqrt(float(out_dim))
    return df.select(
        F.col(id_col), F.posexplode(units).alias("pos", "_u")
    ).select(
        id_col,
        F.col("pos").cast("long").alias("pos"),
        F.round(F.col("_u") / F.lit(scale), 6).alias("proj_val"),
    )


def brute_force_topk(
    df: DataFrame, query_df: DataFrame, k: int = 10, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Exact cosine top-k.  query_df: single row with column `qv`."""
    return (
        df.crossJoin(F.broadcast(query_df))
        .withColumn("cos_raw", cosine(F.col(vec_col), F.col("qv")))
        .orderBy(F.col("cos_raw").desc(), F.col(id_col))
        .limit(k)
        .select(id_col, F.round("cos_raw", 6).alias("cos_sim"))
    )


def with_buckets(df: DataFrame, vec_col: str = "embedding", n_planes: int = 8) -> DataFrame:
    return df.withColumn("bucket", hyperplane_buckets(F.col(vec_col), n_planes))


def ann_topk(
    df: DataFrame,
    query_df: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 8,
) -> DataFrame:
    """Approximate top-k: score only the query's LSH bucket.

    The data-side bucket ids are computed via posexplode → broadcast
    join with the (plane, dim) component table → codegen hash-agg
    (HOF folds are CodegenFallback/interpreted; with_buckets remains
    the column-expression form for single-vector use).  The component
    formula is identical, so both forms and the oracle agree."""
    planes = F.broadcast(
        query_df.select(F.posexplode(F.col("qv")).alias("pos", "_q"))
        .select("pos")
        .crossJoin(query_df.sparkSession.range(n_planes).select(F.col("id").cast("int").alias("j")))
        .select(
            "pos",
            "j",
            (
                ((F.col("j").cast("long") * PLANE_P1 + F.col("pos").cast("long") * PLANE_P2) % PLANE_MOD - PLANE_HALF)
                / F.lit(float(PLANE_HALF))
            ).alias("comp"),
        )
    )
    vdims = df.select(F.col(id_col), F.posexplode(as_double(F.col(vec_col))).alias("pos", "x"))
    buckets = (
        vdims.join(planes, "pos")
        .groupBy(id_col, "j")
        .agg(F.sum(F.col("x") * F.col("comp")).alias("dot"))
        .groupBy(id_col)
        .agg(
            F.sum(
                F.when(F.col("dot") > 0, F.pow(F.lit(2.0), F.col("j")).cast("long")).otherwise(F.lit(0))
            ).alias("bucket")
        )
    )
    q = query_df.withColumn("qbucket", hyperplane_buckets(F.col("qv"), n_planes))
    cands = df.join(buckets, id_col).join(F.broadcast(q), F.col("bucket") == F.col("qbucket"))
    return (
        cands.withColumn("cos_raw", cosine(F.col(vec_col), F.col("qv")))
        .orderBy(F.col("cos_raw").desc(), F.col(id_col))
        .limit(k)
        .select(id_col, F.round("cos_raw", 6).alias("cos_sim"))
    )


def knn_join(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    bands: int = 8,
    planes_per_band: int = 4,
    max_bucket: int | None = None,
) -> DataFrame:
    """Batch k-NN join: EVERY query row gets its top-k cosine neighbors
    from the corpus (vs ann_topk's single broadcast query vector) —
    the retrieval primitive of embedding-based training-data curation
    (hard-negative mining, near-dup expansion, RAG eval sets).

    Distributed shape, and why it survives 100 TB:

    - Both sides hash to banded hyperplane LSH keys
      (hyperplane_band_keys: integer-quantized sign bits, exactly
      reproducible in the oracle).  Candidates come from an EQUI-join
      on (band_idx, band_key) — a shuffle on the band key, never the
      |Q|×|C| cartesian a per-query loop or cross-join would plan.
    - ``max_bucket`` drops degenerate corpus buckets (an all-equal
      embedding column) BEFORE the pair expansion, bounding the
      per-bucket fan-out an executor ever materializes.
    - Per-query top-k is a window partitioned by query id — scales out
      with query count; no global sort, no driver collect.
    - Ordering is by ROUNDED cosine (6 dp) with neighbor-id tie-break,
      so ranks can't flip on last-ulp summation-order noise between
      partition layouts (or vs the oracle).

    Returns (query_id, neighbor_id, cos_sim, rank); self-matches
    (query_id == neighbor_id) are excluded so a corpus-subset query
    table doesn't return itself as rank 1.
    """
    from pyspark.sql import Window

    qk = hyperplane_band_keys(queries, vec_col, query_id_col, bands, planes_per_band)
    ck = hyperplane_band_keys(corpus, vec_col, id_col, bands, planes_per_band)
    if max_bucket is not None:
        w_b = Window.partitionBy("band_idx", "band_key")
        ck = (
            ck.withColumn("_n", F.count(F.lit(1)).over(w_b))
            .filter(F.col("_n") <= max_bucket)
            .drop("_n")
        )
    cand = (
        qk.join(ck, ["band_idx", "band_key"])
        .filter(F.col(query_id_col) != F.col(id_col))
        .select(query_id_col, id_col)
        .distinct()  # a pair sharing several bands scores once
    )
    # norms hoisted to per-ROW columns (|Q|+|C| sqrt-dots) instead of
    # recomputed inside cosine() per candidate PAIR (3× the interpreted
    # higher-order-function work); same arithmetic → bit-identical
    qn = queries.select(
        query_id_col, as_double(F.col(vec_col)).alias("_qv")
    ).withColumn("_qnorm", F.sqrt(dot(F.col("_qv"), F.col("_qv"))))
    cn = corpus.select(id_col, as_double(F.col(vec_col)).alias("_cv")).withColumn(
        "_cnorm", F.sqrt(dot(F.col("_cv"), F.col("_cv")))
    )
    denom = F.col("_qnorm") * F.col("_cnorm")
    scored = (
        cand.join(qn, query_id_col)
        .join(cn, id_col)
        .withColumn(
            "cos_sim",
            F.round(
                F.when(denom == 0, F.lit(0.0)).otherwise(
                    dot(F.col("_qv"), F.col("_cv")) / denom
                ),
                6,
            ),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("cos_sim").desc(), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, F.col(id_col).alias("neighbor_id"), "cos_sim", "rank")
    )


# ---------------------------------------------------------------------------
# IVF-Flat: the second classic ANN scale path (inverted file over coarse
# centroids).  Centroids are deterministic (mean of a hash partition of
# the data, rounded to 6 dp so Spark's and the oracle's summation-order
# double noise can't flip an argmax); assignment and probing are both
# row_number-deterministic.  At 100 TB the assignment column becomes the
# partition key of the stored index, so a query scans nprobe/k_centroids
# of the data — partition pruning, the IVF point.
# ---------------------------------------------------------------------------


def _centroid_means(assigned: DataFrame) -> DataFrame:
    """Element-wise cluster means of an assigned (cid, e) relation —
    the Lloyd averaging step shared by :func:`ivf_centroids` and the
    drift monitor's incremental candidate chain.  posexplode →
    (cid, pos) hash agg (map-side partial) → re-assemble, 6-dp round;
    deterministic for a fixed input partitioning."""
    return (
        assigned.select("cid", F.posexplode("e").alias("pos", "x"))
        .groupBy("cid", "pos")
        .agg(F.avg("x").alias("m"))
        .groupBy("cid")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: F.round(s["m"], 6)
            ).alias("cvec")
        )
    )


def ivf_centroids(
    df: DataFrame,
    k_centroids: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    iterations: int = 1,
) -> DataFrame:
    """Element-wise mean per cluster → (cid, cvec), optionally refined
    with deterministic Lloyd iterations.

    Iteration 1 seeds clusters from the hash partition ``id % k``;
    each further iteration re-assigns every vector to its nearest
    current centroid (:func:`ivf_assign` — broadcast equi-join on the
    dim index, argmax windowed) and re-averages.  Every step is
    deterministic (seed is a pure id function, assignment tie-breaks on
    cid, means round to 6 dp), so any fixed ``iterations`` is
    reproducible across engines and partitionings; the oracle pins
    ``iterations=1`` and the k-means invariant test covers refinement.

    Shape per iteration: posexplode → (cid, pos) hash agg → re-assemble;
    two small shuffles over dim-exploded rows (rows × dim), each with
    map-side partial agg — Lloyd at 100 TB is exactly this loop."""
    if iterations < 1:
        raise ValueError("iterations must be >= 1")

    _means = _centroid_means

    v = df.select(F.col(id_col), as_double(F.col(vec_col)).alias("e"))
    cents = _means(v.select((F.col(id_col) % k_centroids).alias("cid"), "e"))
    # dim inferred ONCE (one tiny action), only when refinement will
    # call ivf_assign — k·d gates the centroid-dim broadcast so Lloyd
    # refinement at auto-k-scale k cannot OOM the executors
    ndr = k_centroids * _vec_dim(df, vec_col) if iterations > 1 else None
    for _ in range(iterations - 1):
        # No persist here: each iteration's centroids feed exactly ONE
        # consumer (the next assign's broadcast) in a linear lineage, so
        # Spark computes them once per action anyway — an in-loop
        # persist leaked one session-lifetime cached DataFrame per
        # iteration.  Callers that execute the RESULT repeatedly persist
        # it themselves (ivf_topk does).
        assign = ivf_assign(df, cents, vec_col, id_col, n_dim_rows=ndr)
        cents = _means(v.join(assign, id_col).select("cid", "e"))
    return cents


def ivf_assign(
    df: DataFrame,
    centroids: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    with_score: bool = False,
    n_dim_rows: "int | None" = None,
) -> DataFrame:
    """Nearest-centroid assignment, arg-max by (cosine desc, cid).

    Dot products run as posexplode → equi-join on the dim index →
    codegen hash-agg, NOT as array-lambda folds: higher-order
    functions are CodegenFallback (interpreted), so the explode form is
    ~2× faster despite materializing (row × dim × K) products — the
    partial agg combines them map-side before any exchange.  The
    row_number tiebreak makes ties cross-engine deterministic.

    ``n_dim_rows`` (= k·d when the caller knows both) gates the
    broadcast hint on the centroid-dim table: callers on the auto-k
    contract (k ∝ n) MUST pass it, because their dim table grows
    linearly with the corpus and an unconditional broadcast would OOM
    at design scale — above :data:`BROADCAST_DIM_ROWS` the join runs
    as a SALTED shuffle on (pos, hash(id)%P) instead, because bare
    ``pos`` has only d distinct values (see :func:`_flat_dims_join`)."""
    from pyspark.sql import Window

    cdims = centroids.select(
        "cid",
        F.sqrt(
            F.aggregate(F.col("cvec"), F.lit(0.0), lambda a, x: a + x * x)
        ).alias("cnorm"),
        F.posexplode("cvec").alias("pos", "c"),
    )
    vdims = df.select(
        F.col(id_col), F.posexplode(as_double(F.col(vec_col))).alias("pos", "x")
    )
    # zero-norm guard: an all-zero corpus vector (or a centroid whose
    # cell means cancel exactly) makes the denominator 0, which under
    # ANSI mode is a hard ArithmeticException, not a quiet NaN — score
    # such pairs 0 (no direction ⇒ no similarity; assignment then
    # falls to the lowest cid via the deterministic tiebreak).  The
    # fixture has no zero vectors, so oracle twins (which divide
    # unguarded) are unaffected; pytest pins the zero-vector case.
    denom = F.sqrt("sq") * F.col("cnorm")
    scored = (
        _flat_dims_join(vdims, cdims, n_dim_rows, id_col)
        .groupBy(id_col, "cid", "cnorm")
        .agg(F.sum(F.col("x") * F.col("c")).alias("dot"), F.sum(F.col("x") * F.col("x")).alias("sq"))
        .withColumn(
            "cc",
            F.when(denom == 0, F.lit(0.0)).otherwise(F.col("dot") / denom),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.col("cc").desc(), F.col("cid"))
    out = ["cid", "cc"] if with_score else ["cid"]
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(id_col, *out)
    )


def ivf_topk(
    df: DataFrame,
    query_df: DataFrame,
    k: int = 10,
    k_centroids: int = 8,
    nprobe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF-Flat approximate top-k: exact cosine over the nprobe nearest
    centroid lists only.  query_df: single row with column `qv`."""
    # K rows; consumed by both the assignment and the query-probe branch.
    # Materialized to the driver and re-created (round-13): a persist()
    # here could never be unpersisted (the returned plan is lazy) and
    # leaked one cached relation per call — the r12-ADVICE monitor leak,
    # same shape.  Bounded by k_centroids, not a corpus collect.
    cent_df = ivf_centroids(df, k_centroids, vec_col, id_col)
    cent = df.sparkSession.createDataFrame(cent_df.collect(), cent_df.schema)
    assign = ivf_assign(df, cent, vec_col, id_col)
    qscore = (
        query_df.crossJoin(F.broadcast(cent))
        .withColumn("qc", cosine(as_double(F.col("qv")), F.col("cvec")))
    )
    # top-nprobe of k_centroids rows: orderBy+limit plans as
    # TakeOrderedAndProject — no single-partition WindowExec
    probes = (
        qscore.orderBy(F.col("qc").desc(), F.col("cid"))
        .limit(nprobe)
        .select("cid")
    )
    cands = df.join(assign.join(F.broadcast(probes), "cid").select(id_col), id_col)
    return (
        cands.crossJoin(F.broadcast(query_df))
        .withColumn("cos_raw", cosine(F.col(vec_col), F.col("qv")))
        .orderBy(F.col("cos_raw").desc(), F.col(id_col))
        .limit(k)
        .select(id_col, F.round("cos_raw", 6).alias("cos_sim"))
    )


def build_ivf_index(
    corpus: DataFrame,
    path: str,
    k_centroids: int = 8,
    iterations: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """Write-once IVF index build: ``{path}/centroids`` (cid, cvec) and
    ``{path}/vectors`` — the corpus stored parquet-PARTITIONED BY its
    nearest-centroid assignment.

    This is the write-time-layout move the reference makes with region
    pre-splits (HBaseTestingUtility splits, mapreduce2.scala:546
    locality): pay the clustering pass ONCE at build, and every
    subsequent query prunes to its ``nprobe`` cid partitions instead of
    re-clustering the corpus (what in-plan :func:`ivf_topk` must do).
    Size ``k_centroids`` ~ sqrt(corpus) so one cid list ≈ one task.
    Refresh a standing index with
    :func:`~hpaste_spark.operators.artifacts.append_artifact`,
    re-cluster with :func:`compact_ivf_index`.

    Written LAST: ``{path}/meta.json`` (:func:`_publish_index`) —
    pinned ``dim``, ``k_centroids`` and column names plus the
    clustering epoch, also stamped as an ``_epoch`` sidecar inside both
    data dirs so :func:`~hpaste_spark.operators.artifacts.check_artifact`
    can adjudicate a crashed two-directory compaction.
    """
    from hpaste_spark.operators import artifacts

    dim = len(corpus.select(vec_col).first()[0])
    cent = ivf_centroids(corpus, k_centroids, vec_col, id_col, iterations).persist()
    epoch = artifacts.new_epoch()
    try:
        cent.write.mode("overwrite").parquet(f"{path}/centroids")
        artifacts.write_rows(
            _ivf_rows(corpus, cent, vec_col, id_col), f"{path}/vectors", "cid"
        )
    finally:
        cent.unpersist()
    artifacts.write_epoch(f"{path}/centroids", epoch)
    artifacts.write_epoch(f"{path}/vectors", epoch)
    _publish_index(
        path, "ivf", dim, vec_col, id_col, k_centroids=int(k_centroids), epoch=epoch
    )


def _ivf_rows(df: DataFrame, cent: DataFrame, vec_col: str, id_col: str) -> DataFrame:
    """The stored IVF rows of ``df``: each vector with the cid of its
    nearest centroid in ``cent``."""
    return df.join(ivf_assign(df, cent, vec_col, id_col), id_col)


def _publish_index(
    path: str, kind: str, dim: int, vec_col: str, id_col: str, **pinned
) -> None:
    """Publish a fresh ANN build's ``meta.json`` LAST
    (:func:`~hpaste_spark.operators.artifacts.publish_build`): the
    pinned ``dim``, the family's geometry and the column names a delta
    is read by."""
    from hpaste_spark.operators import artifacts

    artifacts.publish_build(
        path, kind, dim=int(dim), vec_col=vec_col, id_col=id_col, **pinned
    )


def compact_ivf_index(
    spark,
    path: str,
    k_centroids: "int | None" = None,
    iterations: int = 1,
) -> None:
    """MAJOR COMPACTION for an append-refreshed :func:`build_ivf_index`
    artifact — IVF's re-train (LSM-style: appends assign the delta
    under FROZEN build-time centroids, so recall decays as the data
    distribution drifts from them; the periodic heavy pass re-clusters
    the WHOLE standing corpus and restores fresh-build recall).  Run
    it when :func:`drift_recall` (appended-index recall vs a fresh
    re-cluster's, graded against exact truth) says the gap is no
    longer acceptable;
    :func:`~hpaste_spark.operators.artifacts.maintain_artifact` does,
    at the measured-best ``iterations``.

    Equivalent by construction to ``build_ivf_index(stored corpus,
    path)`` with the same (k_centroids, iterations) — pytest pins that
    the compacted index answers queries bit-identically to a fresh
    build on the union.  ``k_centroids`` defaults to the artifact's
    current centroid count.  Also the SMALL-FILES consolidation for
    the vectors tree: the rewrite repartitions on cid, so each cid
    partition lands as one file in practice.

    OFFLINE, SINGLE-WRITER, JOURNALED
    (:func:`~hpaste_spark.operators.artifacts._rewrite_journaled`):
    centroids and vectors are rebuilt into ``*_compact_tmp`` dirs
    stamped with one fresh clustering EPOCH (the two directories
    belong together iff their epochs match), then vectors swap before
    centroids.  A crash between the two swaps leaves NEW vectors under
    OLD centroids — cid numbers are unrelated across clusterings, so
    that mixed-geometry state would silently collapse recall if
    served; the journal + epoch stamps make it LOUD instead (readers
    refuse a journaled tree) and ``check_artifact(path, repair=True)``
    COMPLETES the remaining centroids swap from its epoch-matching
    tmp, yielding an index bit-identical to an uninterrupted
    compaction (pytest-pinned)."""
    from hpaste_spark.operators import artifacts

    _, meta = artifacts.open_artifact(path, "ivf")
    vec_col, id_col = meta["vec_col"], meta["id_col"]

    def fill(tmp: dict) -> dict:
        corpus = spark.read.parquet(f"{path}/vectors").drop("cid")
        k = k_centroids
        if k is None:
            k = spark.read.parquet(f"{path}/centroids").count()
        cent = ivf_centroids(corpus, k, vec_col, id_col, iterations).persist()
        try:
            cent.write.mode("overwrite").parquet(tmp["centroids"])
            artifacts.write_rows(
                # consolidate append fragments per cid
                _ivf_rows(corpus, cent, vec_col, id_col).repartition("cid"),
                tmp["vectors"],
                "cid",
            )
        finally:
            cent.unpersist()
        return {"k_centroids": int(k)}

    artifacts._rewrite_journaled(path, ["vectors", "centroids"], fill, retrains=True)


def ivf_topk_indexed(
    spark,
    path: str,
    query_df: DataFrame,
    k: int = 10,
    nprobe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF top-k over a PREBUILT :func:`build_ivf_index` index — same
    results as :func:`ivf_topk` with the same (k_centroids, iterations),
    but the centroid/assignment passes are replaced by reads, and the
    probe restriction becomes PARTITION PRUNING: the broadcast probe
    join on the cid partition column plans a
    ``dynamicpruningexpression`` PartitionFilter, so the scan touches
    ~nprobe/k_centroids of the stored corpus — no re-cluster, no full
    scan.  query_df: single row with column ``qv``."""
    from hpaste_spark.operators.artifacts import require_clean

    require_clean(path, "IVF index")
    cent = spark.read.parquet(f"{path}/centroids")
    vectors = spark.read.parquet(f"{path}/vectors")
    qscore = query_df.crossJoin(F.broadcast(cent)).withColumn(
        "qc", cosine(as_double(F.col("qv")), F.col("cvec"))
    )
    probes = (
        qscore.orderBy(F.col("qc").desc(), F.col("cid"))
        .limit(nprobe)
        .select("cid")
    )
    cands = vectors.join(F.broadcast(probes), "cid")
    return (
        cands.crossJoin(F.broadcast(query_df))
        .withColumn("cos_raw", cosine(F.col(vec_col), F.col("qv")))
        .orderBy(F.col("cos_raw").desc(), F.col(id_col))
        .limit(k)
        .select(id_col, F.round("cos_raw", 6).alias("cos_sim"))
    )


def ivf_knn_join_indexed(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Batch IVF k-NN join over a PREBUILT :func:`build_ivf_index`
    index — same results as :func:`ivf_knn_join` with matching
    (k_centroids, iterations), with the corpus clustering replaced by
    index reads.  The union of every query's probes reaches the
    cid-partitioned vectors table through a broadcast equi-join, so the
    scan is partition-pruned (dynamicpruningexpression) to the probed
    lists — at 100 TB a query batch touches only the cid partitions it
    probes, never the full stored corpus."""
    from pyspark.sql import Window

    from hpaste_spark.operators.artifacts import require_clean

    require_clean(path, "IVF index")
    cent = spark.read.parquet(f"{path}/centroids")
    vectors = spark.read.parquet(f"{path}/vectors")
    qscore = queries.crossJoin(F.broadcast(cent)).withColumn(
        "qc", cosine(as_double(F.col(vec_col)), F.col("cvec"))
    )
    wq = Window.partitionBy(query_id_col).orderBy(F.col("qc").desc(), F.col("cid"))
    probes = (
        qscore.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= nprobe)
        .select(query_id_col, "cid")
    )
    # the candidate scan CARRIES the embedding so scoring never joins
    # back to the unpruned vectors table (which would re-scan every cid
    # partition for norms); one pruned scan feeds the whole query.  A
    # (query, corpus-vector) pair is unique by construction — a vector
    # has ONE cid and a query's probes are distinct cids — so no
    # distinct pass is needed.
    cand = (
        vectors.select(id_col, "cid", as_double(F.col(vec_col)).alias("_cv"))
        .join(F.broadcast(probes), "cid")
        .filter(F.col(query_id_col) != F.col(id_col))
        .select(query_id_col, id_col, "_cv")
        .withColumn("_cnorm", F.sqrt(dot(F.col("_cv"), F.col("_cv"))))
    )
    qn = queries.select(
        query_id_col, as_double(F.col(vec_col)).alias("_qv")
    ).withColumn("_qnorm", F.sqrt(dot(F.col("_qv"), F.col("_qv"))))
    denom = F.col("_qnorm") * F.col("_cnorm")
    scored = (
        cand.join(qn, query_id_col)  # AQE broadcasts when the batch is small
        .withColumn(
            "cos_sim",
            F.round(
                F.when(denom == 0, F.lit(0.0)).otherwise(
                    dot(F.col("_qv"), F.col("_cv")) / denom
                ),
                6,
            ),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("cos_sim").desc(), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, F.col(id_col).alias("neighbor_id"), "cos_sim", "rank")
    )


def ivf_knn_join(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    k_centroids: int = 8,
    nprobe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Batch k-NN join down the IVF path: every query row gets top-k
    cosine neighbors from its ``nprobe`` nearest centroid lists — the
    second ANN scale route next to :func:`knn_join`'s banded LSH, with
    the complementary tradeoff (recall tracks cluster structure instead
    of random-hyperplane collision probability, at the cost of the
    centroid pass).

    Scale shape: candidates come from the (query → probe centroids) ×
    (corpus → assigned centroid) EQUI-join on the centroid id, so a
    query scans ~nprobe/k_centroids of the corpus and the plan never
    contains a |Q|×|C| product.  At 100 TB the assignment column is the
    stored index's partition key (partition pruning per probe); size
    k_centroids ~ sqrt(corpus) so the per-centroid lists — and the cid
    join fan-out — stay bounded.  Per-query top-k is a window over the
    query id; ordering is rounded cosine + neighbor-id tie-break
    (engine-stable, as everywhere in this module).
    """
    from pyspark.sql import Window

    # K rows, two consumers; driver-materialized instead of a never-
    # unpersisted persist() (round-13 — see ivf_topk)
    cent_df = ivf_centroids(corpus, k_centroids, vec_col, id_col)
    cent = corpus.sparkSession.createDataFrame(cent_df.collect(), cent_df.schema)
    assign = ivf_assign(corpus, cent, vec_col, id_col)
    qscore = queries.crossJoin(F.broadcast(cent)).withColumn(
        "qc", cosine(as_double(F.col(vec_col)), F.col("cvec"))
    )
    wq = Window.partitionBy(query_id_col).orderBy(F.col("qc").desc(), F.col("cid"))
    probes = (
        qscore.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= nprobe)
        .select(query_id_col, "cid")
    )
    cand = (
        probes.join(assign, "cid")
        .filter(F.col(query_id_col) != F.col(id_col))
        .select(query_id_col, id_col)
    )
    qn = queries.select(
        query_id_col, as_double(F.col(vec_col)).alias("_qv")
    ).withColumn("_qnorm", F.sqrt(dot(F.col("_qv"), F.col("_qv"))))
    cn = corpus.select(id_col, as_double(F.col(vec_col)).alias("_cv")).withColumn(
        "_cnorm", F.sqrt(dot(F.col("_cv"), F.col("_cv")))
    )
    denom = F.col("_qnorm") * F.col("_cnorm")
    scored = (
        cand.join(qn, query_id_col)
        .join(cn, id_col)
        .withColumn(
            "cos_sim",
            F.round(
                F.when(denom == 0, F.lit(0.0)).otherwise(
                    dot(F.col("_qv"), F.col("_cv")) / denom
                ),
                6,
            ),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("cos_sim").desc(), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, F.col(id_col).alias("neighbor_id"), "cos_sim", "rank")
    )


# ---------------------------------------------------------------------------
# Product quantization (Jégou et al. 2011, "Product Quantization for
# Nearest Neighbor Search"): split each d-dim vector into m subvectors,
# learn a tiny k-codeword codebook per subspace, store each vector as m
# small codes.  64 float64 dims → m bytes: the memory-compression leg of
# a 100 TB ANN stack (IVF prunes WHICH vectors to score; PQ shrinks WHAT
# is stored/scored).  Query-time ADC scores a vector as the sum of m
# table lookups — the codebooks and the query distance table are
# broadcast-tiny, so search is one narrow scan + hash-agg, never a
# full-precision sweep.
# ---------------------------------------------------------------------------

def pq_codebooks(
    df: DataFrame,
    m: int = 4,
    k: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: "int | None" = None,
) -> DataFrame:
    """(sub, code, cvec) codebooks: the subspace-``sub`` codeword
    ``code`` is the element-wise mean (6 dp) of the sub-slices of the
    vectors seeded into it by ``id % k`` — the same deterministic
    one-iteration k-means contract as :func:`ivf_centroids`, so the
    DuckDB oracle reproduces every codeword exactly.  ``dim`` is
    inferred from one row when not given (must divide into m equal
    subspaces)."""
    if dim is None:
        first = df.select(vec_col).first()
        dim = len(first[0])
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible into {m} subspaces")
    sd = dim // m
    dims = df.select(
        (F.col(id_col) % k).alias("code"),
        F.posexplode(as_double(F.col(vec_col))).alias("pos", "x"),
    ).select(
        *_subspace(sd),
        "code",
        "x",
    )
    return (
        dims.groupBy("sub", "code", "wpos")
        .agg(F.avg("x").alias("_m"))
        .groupBy("sub", "code")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("wpos", "_m"))),
                lambda s: F.round(s["_m"], 6),
            ).alias("cvec")
        )
    )


def _pq_dists(vdims: DataFrame, codebooks: DataFrame, key_cols: list) -> DataFrame:
    """Σ(x−c)² per (key, sub, code): posexplode'd vector dims joined to
    the broadcast codebook dims on (sub, wpos) — the partial agg
    combines map-side, the codebook side is always broadcast-tiny."""
    cdims = F.broadcast(
        codebooks.select(
            "sub", "code", F.posexplode("cvec").alias("wpos", "c")
        )
    )
    return (
        vdims.join(cdims, ["sub", "wpos"])
        .groupBy(*key_cols, "sub", "code")
        .agg(_sq_dist("x").alias("d2"))
    )


def _sub_dims(df: DataFrame, vec_col: str, id_col: str, sd: int) -> DataFrame:
    return df.select(
        F.col(id_col), F.posexplode(as_double(F.col(vec_col))).alias("pos", "x")
    ).select(
        id_col,
        *_subspace(sd),
        "x",
    )


def pq_encode(
    df: DataFrame,
    codebooks: DataFrame,
    m: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: "int | None" = None,
) -> DataFrame:
    """(id, codes ARRAY<INT>[m]): per subspace, the L2-nearest codeword
    by ROUND(d2, 6) (ties → lowest code) — the rounding makes
    near-equidistant codewords land identically across engines whose
    float-summation order differs.  This is the stored form — m small
    ints instead of d doubles.

    The argmin is a ``min_by`` hash-agg (ordering key = (rounded d2,
    code), a total order, so ties are impossible and the agg is
    deterministic), not a row_number window — one less sort over the
    n·m·k distance rows, and the partial agg combines map-side."""
    if dim is None:
        first = df.select(vec_col).first()
        dim = len(first[0])
    sd = dim // m
    d2 = _pq_dists(_sub_dims(df, vec_col, id_col, sd), codebooks, [id_col])
    best = d2.groupBy(id_col, "sub").agg(
        F.min_by("code", F.struct(F.round("d2", 6), F.col("code"))).alias("code")
    )
    return best.groupBy(id_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("sub", "code"))),
            lambda s: s["code"].cast("int"),
        ).alias("codes")
    )


def pq_topk(
    df: DataFrame,
    query_df: DataFrame,
    m: int = 4,
    k: int = 16,
    topk: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_col: str = "qv",
    dim: "int | None" = None,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k: approx L2²(q, v) =
    Σ_sub table[sub][code_sub(v)] where table is the query's exact
    distance to every codeword — (vec_id, approx_dist, rank), ranked
    ascending with id tie-break.

    Plan: codebooks and the m·k query table are broadcast; the corpus
    side is its ENCODED form (explode m codes per vector → broadcast
    lookup → per-id hash-agg of m addends) finished by a distributed
    top-k (TakeOrderedAndProject) — at 100 TB the scan reads m ints
    per vector, not d doubles, and nothing ever shuffles by vector."""
    from pyspark.sql import Window

    if dim is None:
        first = df.select(vec_col).first()
        dim = len(first[0])
    query_df = _require_single_query(query_df)
    sd = dim // m
    # cb feeds BOTH the corpus encode and the query's distance table —
    # uncut, the codebook training agg replays per reference (r13).
    # LAZY deliberately (r13 ADVICE): the m·k-row materialization folds
    # into the first action instead of paying its own blocking job
    # here.  Values unchanged.
    cb = pq_codebooks(df, m, k, vec_col, id_col, dim).localCheckpoint(eager=False)
    codes = pq_encode(df, cb, m, vec_col, id_col, dim)
    qdims = query_df.select(
        F.posexplode(as_double(F.col(query_col))).alias("pos", "x")
    ).select(
        *_subspace(sd),
        "x",
        F.lit(1).alias("_q"),
    )
    qtab = F.broadcast(_pq_dists(qdims, cb, ["_q"]).select("sub", "code", "d2"))
    exploded = codes.select(
        id_col, F.posexplode("codes").alias("sub", "code")
    )
    scored = (
        exploded.join(qtab, ["sub", "code"])
        .groupBy(id_col)
        .agg((F.round(F.sum("d2"), 6) + F.lit(0.0)).alias("approx_dist"))
    )
    # distributed top-k FIRST (TakeOrderedAndProject), then rank the
    # tiny survivor set — a bare global row_number here would funnel
    # the whole corpus through one partition's sort
    top = scored.orderBy("approx_dist", id_col).limit(topk)
    w = Window.orderBy("approx_dist", id_col)
    return top.withColumn("rank", F.row_number().over(w))


def ivf_pq_topk(
    df: DataFrame,
    query_df: DataFrame,
    k_centroids: int = 8,
    nprobe: int = 2,
    m: int = 4,
    k: int = 16,
    topk: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_col: str = "qv",
    dim: "int | None" = None,
) -> DataFrame:
    """IVF + PQ composed (the IVFADC shape of Jégou et al. 2011 §V):
    coarse centroids prune WHICH inverted lists are scanned (``nprobe``
    of ``k_centroids``), PQ codes compress WHAT is scored inside them —
    together the billion-scale ANN recipe: the scan touches
    ~nprobe/k_centroids of the corpus and m ints per vector.

    Both stages run on L2²: the query probes the nprobe centroids
    nearest by exact L2² (6 dp rounded, cid tie-break), then ADC-scores
    only vectors ASSIGNED to those cells (assignment = nearest centroid
    by the same metric).  Codebooks are trained on the FULL corpus
    (global codebooks, the paper's IVFADC variant WITHOUT residual
    encoding; :func:`ivfadc_topk` is the full residual-encoded form —
    same plan shape, finer quantization at the same code budget).

    Plan: centroids, codebooks, and the query's m·k distance table are
    all broadcast-tiny; the only corpus-sized operations are the
    assignment (narrow after its hash-agg) and one hash-agg over the
    probed cells' exploded codes, finished by a distributed top-k.  On
    a stored layout, partition by cid (see :func:`build_ivf_index`) and
    the probe becomes a PartitionFilter."""
    from pyspark.sql import Window

    if dim is None:
        first = df.select(vec_col).first()
        dim = len(first[0])
    query_df = _require_single_query(query_df)
    sd = dim // m

    # coarse quantizer: full-dim centroids on the ivf seeding contract
    # (cut: cdims feeds BOTH the corpus assignment and the query probe
    # — uncut, the centroid training agg replays per reference; r13)
    cents = ivf_centroids(df, k_centroids, vec_col, id_col).localCheckpoint(
        eager=False
    )
    # L2² assignment (posexplode → broadcast dim join → hash-agg),
    # argmin (dist, cid) — same plan family as ivf_assign but L2, so
    # probing and assignment share one metric
    cdims = F.broadcast(
        cents.select("cid", F.posexplode("cvec").alias("pos", "c"))
    )
    vdims = df.select(
        F.col(id_col), F.posexplode(as_double(F.col(vec_col))).alias("pos", "x")
    )
    d2 = (
        vdims.join(cdims, "pos")
        .groupBy(id_col, "cid")
        .agg(_sq_dist("x").alias("d2"))
    )
    assign = d2.groupBy(id_col).agg(
        F.min_by("cid", F.struct(F.round("d2", 6), F.col("cid"))).alias("cid")
    )

    qdims = query_df.select(
        F.posexplode(as_double(F.col(query_col))).alias("pos", "x")
    )
    probed = F.broadcast(
        qdims.join(cdims, "pos")
        .groupBy("cid")
        .agg(_sq_dist("x").alias("qd2"))
        .orderBy(F.round("qd2", 6), "cid")
        .limit(nprobe)
        .select("cid")
    )

    # cb feeds the encode AND the query table — same cut as pq_topk
    cb = pq_codebooks(df, m, k, vec_col, id_col, dim).localCheckpoint(eager=False)
    codes = pq_encode(df, cb, m, vec_col, id_col, dim)
    qsub = query_df.select(
        F.posexplode(as_double(F.col(query_col))).alias("pos", "x")
    ).select(
        *_subspace(sd),
        "x",
        F.lit(1).alias("_q"),
    )
    qtab = F.broadcast(_pq_dists(qsub, cb, ["_q"]).select("sub", "code", "d2"))
    scored = (
        codes.join(assign, id_col)
        .join(probed, "cid", "left_semi")
        .select(id_col, F.posexplode("codes").alias("sub", "code"))
        .join(qtab, ["sub", "code"])
        .groupBy(id_col)
        .agg((F.round(F.sum("d2"), 6) + F.lit(0.0)).alias("approx_dist"))
    )
    top = scored.orderBy("approx_dist", id_col).limit(topk)
    w2 = Window.orderBy("approx_dist", id_col)
    return top.withColumn("rank", F.row_number().over(w2))


def _two_level_model(
    df: DataFrame,
    k1: int,
    k2: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> "tuple[DataFrame, DataFrame, DataFrame]":
    """(cents1, cents2, assign) — the hierarchical model tables behind
    :func:`two_level_assign`, exposed so the write-once
    :func:`build_two_level_index` stores definitionally the same model
    it computes in-plan (the _ivfadc_model posture).

    Hierarchical (two-level) cluster assignment: k1 coarse cells via
    :func:`ivf_centroids`/:func:`ivf_assign`, then k2 sub-centroids
    trained WITHIN each coarse cell (seeded ``id % k2`` per cell, the
    same deterministic contract) and each vector assigned to the
    nearest sub-centroid of ITS OWN coarse cell — (id, cid1, scid, cc).

    Why: flat assignment against k centroids is n·k·d work; when k must
    grow ∝ n (the semantic-dedup contract), that term turns ~n²/target.
    Two levels make it n·(k1+k2)·d — with k1≈k2≈√k, ~2√k per row
    instead of k (measured in SCALE.md's 30× probe).  Every vector
    always has a home: its own cell's sub-centroids are means over that
    cell's members, so none can be empty for the cells that matter.

    Same plan family as :func:`ivf_assign` at both levels — posexplode
    → centroid-dim equi-join → map-side-combined hash-agg → per-id
    argmax window; the sub-level join adds cid1 to the join key, so a
    vector is only ever scored against its own cell's k2 sub-centroids.
    BOTH centroid-dim tables carry a k·d-gated broadcast hint
    (:func:`_dims_hint`): under auto-k the sub-centroid table holds
    k1·k2·d ≈ n·d/512 rows — linear in the corpus — so above
    :data:`BROADCAST_DIM_ROWS` the sub-level join runs as a shuffle
    keyed (cid1, pos), which partitions cleanly (k1·d distinct keys)
    instead of OOMing every executor with a forced broadcast."""
    from pyspark.sql import Window
    from pyspark.storagelevel import StorageLevel

    dim = _vec_dim(df, vec_col)
    cents1 = ivf_centroids(df, k1, vec_col, id_col)
    a1 = ivf_assign(
        df, cents1, vec_col, id_col, n_dim_rows=k1 * dim
    ).withColumnRenamed("cid", "cid1")
    v = (
        df.select(F.col(id_col), as_double(F.col(vec_col)).alias("e"))
        .join(a1, id_col)
        # v (corpus + coarse cell) feeds BOTH the sub-centroid means
        # and the sub-assignment — uncut, the coarse train+assign above
        # executes once per branch (r13).  Lazy DISK_ONLY per the
        # corpus-memory rule; values unchanged.
        .localCheckpoint(eager=False, storageLevel=StorageLevel.DISK_ONLY)
    )
    cents2 = _sub_means(
        v.select(id_col, "cid1", (F.col(id_col) % k2).alias("scid"), "e")
    )
    assign = _sub_assign(v, cents2, k1 * k2 * dim, id_col)
    return cents1, cents2, assign


def _sub_means(assigned: DataFrame) -> DataFrame:
    """Per-(cid1, scid) ROUNDED mean vectors from an assignment table
    (id, cid1, scid, e) — the level-2 twin of ivf_centroids' _means:
    posexplode → (cid1, scid, pos) map-side-combined hash-agg →
    re-assemble, rounding at 6dp so both engines fold identical
    values downstream."""
    return (
        assigned.select("cid1", "scid", F.posexplode("e").alias("pos", "x"))
        .groupBy("cid1", "scid", "pos")
        .agg(F.avg("x").alias("m"))
        .groupBy("cid1", "scid")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))),
                lambda s: F.round(s["m"], 6),
            ).alias("cvec")
        )
    )


def _sub_assign(
    v: DataFrame, cents2: DataFrame, n_dim_rows: int, id_col: str = "vec_id"
) -> DataFrame:
    """Nearest SUB-centroid within each vector's own coarse cell —
    (id, cid1, scid, cc).  The join adds cid1 to the dim key, so a
    vector only ever scores its cell's k2 sub-centroids, and the
    shuffle (when the k·d gate drops the broadcast hint) partitions
    by k1·d distinct (cid1, pos) keys.  ``v`` carries (id, cid1, e)."""
    from pyspark.sql import Window

    c2dims = _dims_hint(
        cents2.select(
            "cid1",
            "scid",
            F.sqrt(
                F.aggregate(F.col("cvec"), F.lit(0.0), lambda a, x: a + x * x)
            ).alias("cnorm"),
            F.posexplode("cvec").alias("pos", "c"),
        ),
        n_dim_rows,
    )
    vdims = v.select(id_col, "cid1", F.posexplode("e").alias("pos", "x"))
    scored = (
        vdims.join(c2dims, ["cid1", "pos"])
        .groupBy(id_col, "cid1", "scid", "cnorm")
        .agg(
            F.sum(F.col("x") * F.col("c")).alias("dot"),
            F.sum(F.col("x") * F.col("x")).alias("sq"),
        )
        .withColumn("cc", F.col("dot") / (F.sqrt("sq") * F.col("cnorm")))
    )
    w = Window.partitionBy(id_col).orderBy(F.col("cc").desc(), F.col("scid"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(id_col, "cid1", "scid", "cc")
    )


def two_level_centroids(
    df: DataFrame,
    k1: int,
    k2: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    iterations: int = 2,
    sub_iterations: int = 2,
) -> DataFrame:
    """Hierarchical k-means TRAINING (round-6 verdict #2): Lloyd-refine
    k1 COARSE centroids, hard-assign cells once, then Lloyd-refine k2
    sub-centroids WITHIN each cell — (cid1, scid, cvec), k1·k2 trained
    centroids total.

    Why: flat Lloyd (:func:`ivf_centroids` with ``iterations>1``)
    scores all k centroids per vector per iteration — n·k·d — which
    under the k ∝ n contract is the same super-linear term flat
    ASSIGNMENT had.  Training hierarchically costs
    n·(iters·k1 + sub_iters·k2)·d: with k1 ≈ k2 ≈ √k that is ~2√k per
    vector per iteration instead of k.  The level-2 refinement keeps
    every pass inside the cell — the re-assignment join is keyed
    (cid1, pos), so no vector ever scores another cell's
    sub-centroids, and cell boundaries stay fixed after level 1 (the
    standard coarse/fine quantizer split: IVF trains its coarse and
    product/residual quantizers separately for the same reason).

    Determinism contract unchanged: id%k seeding at both levels,
    (cc desc, id-or-scid) argmax tie-breaks, 6dp rounding of every
    mean — the DuckDB oracle replays the full chain."""
    if sub_iterations < 1:
        raise ValueError("sub_iterations must be >= 1")
    dim = _vec_dim(df, vec_col)
    cents1 = ivf_centroids(df, k1, vec_col, id_col, iterations)
    a1 = ivf_assign(
        df, cents1, vec_col, id_col, n_dim_rows=k1 * dim
    ).withColumnRenamed("cid", "cid1")
    v = (
        df.select(F.col(id_col), as_double(F.col(vec_col)).alias("e"))
        .join(a1, id_col)
    )
    cents2 = _sub_means(
        v.select(id_col, "cid1", (F.col(id_col) % k2).alias("scid"), "e")
    )
    for _ in range(sub_iterations - 1):
        assign = _sub_assign(v, cents2, k1 * k2 * dim, id_col)
        cents2 = _sub_means(
            v.join(assign.select(id_col, "scid"), id_col).select(
                id_col, "cid1", "scid", "e"
            )
        )
    return cents2


def two_level_assign(
    df: DataFrame,
    k1: int,
    k2: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(id, cid1, scid, cc) hierarchical assignment — see
    :func:`_two_level_model` for the algorithm and scale posture."""
    return _two_level_model(df, k1, k2, vec_col, id_col)[2]


def build_two_level_index(
    corpus: DataFrame,
    path: str,
    k1: int = 4,
    k2: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """Write-once HIERARCHICAL index build (the :func:`build_ivf_index`
    move applied to :func:`_two_level_model`): ``{path}/centroids``
    (cid1, cvec), ``{path}/subcentroids`` (cid1, scid, cvec),
    ``{path}/vectors`` — the corpus + (scid, cc) stored
    parquet-PARTITIONED BY cid1 — and ``{path}/meta.json`` (k1, k2),
    written last.

    One coarse cell = one partition directory, so per-cell work —
    :func:`~hpaste_spark.operators.dedup.semantic_dedup_two_level_stored`,
    probe-style reads — is PartitionFilter pruning
    (dynamicpruningexpression under a cells join), and a full 100 TB
    sweep is embarrassingly parallel over cid1 partitions off this
    write-once layout instead of re-clustering per run.  Cf. the
    reference's region pre-split locality move (mapreduce2.scala:546)."""
    from hpaste_spark.operators import artifacts

    cents1, cents2, assign = _two_level_model(corpus, k1, k2, vec_col, id_col)
    # cents2's lineage re-runs the level-1 assignment and assign's re-runs
    # cents2: persist both so each pass over the corpus happens once
    cents2 = cents2.persist()
    assign = assign.persist()
    try:
        cents1.withColumnRenamed("cid", "cid1").write.mode("overwrite").parquet(
            f"{path}/centroids"
        )
        cents2.write.mode("overwrite").parquet(f"{path}/subcentroids")
        artifacts.write_rows(corpus.join(assign, id_col), f"{path}/vectors", "cid1")
    finally:
        assign.unpersist()
        cents2.unpersist()
    artifacts.write_meta(path, {"kind": "two_level", "k1": int(k1), "k2": int(k2)})


def build_pq_index(
    corpus: DataFrame,
    path: str,
    m: int = 4,
    k: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """Write-once PQ index build: ``{path}/codebooks`` (sub, code,
    cvec) and ``{path}/codes`` (id, codes ARRAY<INT>[m]) — the
    compressed corpus.  The :func:`build_ivf_index` move applied to
    the COMPRESSION leg: pay codebook training + encoding once at
    build; every later query reads m ints per vector instead of d
    doubles and never touches the raw embeddings (what in-plan
    :func:`pq_topk` must re-derive per query).  At 100 TB the codes
    table is ~d·8/m× smaller than the corpus — often the difference
    between a cached working set and a cold scan.  ``meta.json`` last
    (:func:`_publish_index`), pinning ``dim``, ``m``, ``k`` and the
    column names."""
    from hpaste_spark.operators import artifacts

    dim = len(corpus.select(vec_col).first()[0])
    if dim % m != 0:
        raise ValueError(
            f"PQ requires dim % m == 0 (dim={dim}, m={m}) — subvector "
            "splits would be ragged"
        )
    cb = pq_codebooks(corpus, m, k, vec_col, id_col).persist()
    try:
        cb.write.mode("overwrite").parquet(f"{path}/codebooks")
        artifacts.write_rows(
            pq_encode(corpus, cb, m, vec_col, id_col), f"{path}/codes", None
        )
    finally:
        cb.unpersist()
    _publish_index(path, "pq", dim, vec_col, id_col, m=int(m), k=int(k))


def pq_topk_indexed(
    spark,
    path: str,
    query_df: DataFrame,
    topk: int = 10,
    query_col: str = "qv",
    id_col: str = "vec_id",
) -> DataFrame:
    """ADC top-k over a PREBUILT :func:`build_pq_index` index — same
    results as :func:`pq_topk` with the same (m, k), but training and
    encoding are replaced by reads: the query builds its m·k distance
    table against the stored codebooks (broadcast-tiny) and the only
    corpus-sized operation is one scan of the CODES table (m ints per
    vector) + hash-agg + distributed top-k."""
    from pyspark.sql import Window

    from hpaste_spark.operators.artifacts import require_clean

    require_clean(path, "PQ index")
    query_df = _require_single_query(query_df)
    cb = spark.read.parquet(f"{path}/codebooks")
    codes = spark.read.parquet(f"{path}/codes")
    sd = len(cb.select("cvec").first()[0])
    qdims = query_df.select(
        F.posexplode(as_double(F.col(query_col))).alias("pos", "x")
    ).select(
        *_subspace(sd),
        "x",
        F.lit(1).alias("_q"),
    )
    qtab = F.broadcast(_pq_dists(qdims, cb, ["_q"]).select("sub", "code", "d2"))
    scored = (
        codes.select(id_col, F.posexplode("codes").alias("sub", "code"))
        .join(qtab, ["sub", "code"])
        .groupBy(id_col)
        .agg((F.round(F.sum("d2"), 6) + F.lit(0.0)).alias("approx_dist"))
    )
    top = scored.orderBy("approx_dist", id_col).limit(topk)
    w = Window.orderBy("approx_dist", id_col)
    return top.withColumn("rank", F.row_number().over(w))


def _ivfadc_model(
    df: DataFrame,
    k_centroids: int,
    m: int,
    k: int,
    vec_col: str,
    id_col: str,
    dim: int,
) -> "tuple[DataFrame, DataFrame, DataFrame]":
    """(cents, rcb, coded) — the IVFADC model tables: coarse centroids,
    the RESIDUAL codebooks (sub, code, wpos, c), and the stored code
    rows (id, sub, code, cid) of :func:`_ivfadc_encode`.  Shared by
    the in-plan :func:`ivfadc_topk`, the write-once
    :func:`build_ivfadc_index` and the drift monitor's re-train
    candidate, so the stored index is definitionally the same model."""
    # r13 measured the shared-model lineage cuts (cents/assign/rcb as
    # lazy localCheckpoints) 1.1-1.4x SLOWER at sf0.1 — the replayed
    # subtrees ride otherwise-idle cores inside one job, while each
    # cut serializes an extra materialization into the critical path —
    # and reverted them.  r14 (VERDICT ask #5) gates them on the
    # ESTIMATED input size instead of dropping them: above
    # IVFADC_CUT_BYTES a model replay is a PAID corpus pass (the scan
    # alone outweighs the serialization), so the cuts flip on; below
    # it the r13 measurement stands and the plan keeps its replays.
    # Probe evidence (plans/r14/ivfadc_cut_probe.md): forced-on at the
    # 10x synthetic fixture vs forced-off, isolated best-of-3.
    cut = _plan_size_bytes(df) >= IVFADC_CUT_BYTES
    cents = ivf_centroids(df, k_centroids, vec_col, id_col)
    if cut:
        # model-sized (k rows): default storage, lazy — folds into the
        # first action (the pq_topk codebook-cut posture)
        cents = cents.localCheckpoint(eager=False)
    rcb, coded = _ivfadc_encode(df, cents, m, vec_col, id_col, dim, k=k, cut=cut)
    return cents, rcb, coded


def _ivfadc_encode(
    df: DataFrame,
    cents: DataFrame,
    m: int,
    vec_col: str,
    id_col: str,
    dim: int,
    rcb: "DataFrame | None" = None,
    k: "int | None" = None,
    cut: bool = False,
) -> "tuple[DataFrame, DataFrame]":
    """(rcb, coded): assign every vector of ``df`` to its L2²-nearest
    coarse centroid and residual-encode it — ``coded`` holds the stored
    code rows (id, sub, code, cid), m per vector.  ``rcb`` is the
    residual codebook: given, the delta is encoded under it (an
    append, frozen model); None, it is trained here from the residuals
    seeded ``id % k`` (the build).  Both argmins (assignment, residual
    encode) are ``min_by`` hash-aggs over a (ROUND(metric, 6),
    tiebreak) total order — deterministic across engines, no per-id
    sort.  ``cut`` turns on the size-gated lineage cuts of
    :func:`_ivfadc_model`."""
    from pyspark.storagelevel import StorageLevel

    sd = dim // m
    centdims = F.broadcast(
        cents.select("cid", F.posexplode("cvec").alias("pos", "c"))
    )
    vdims = df.select(
        F.col(id_col), F.posexplode(as_double(F.col(vec_col))).alias("pos", "x")
    )
    # L2² assignment (same metric as the probe step)
    ad = (
        vdims.join(centdims, "pos")
        .groupBy(id_col, "cid")
        .agg(_sq_dist("x").alias("d2"))
    )
    assign = ad.groupBy(id_col).agg(
        F.min_by("cid", F.struct(F.round("d2", 6), F.col("cid"))).alias("cid")
    )
    if cut:
        # corpus-sized (one (id, cid) row per vector): DISK_ONLY per
        # the corpus-memory rule.  assign feeds the residual dims AND
        # the coded relation — uncut, each replays the full dim-join
        # argmin.
        assign = assign.localCheckpoint(
            eager=False, storageLevel=StorageLevel.DISK_ONLY
        )
    # residual dims: x − centroid(v)[pos], split into subspaces
    rdims = (
        vdims.join(assign, id_col)
        .join(centdims, ["cid", "pos"])
        .select(
            id_col,
            "cid",
            *_subspace(sd),
            (F.col("x") - F.col("c")).alias("rx"),
        )
    )
    if rcb is None:
        rcb = (
            rdims.select((F.col(id_col) % k).alias("code"), "sub", "wpos", "rx")
            .groupBy("sub", "code", "wpos")
            .agg(F.round(F.avg("rx"), 6).alias("c"))
        )
        if cut:
            # model-sized (m·k·sd rows): default storage, lazy
            rcb = rcb.localCheckpoint(eager=False)
    rd2 = (
        rdims.join(F.broadcast(rcb), ["sub", "wpos"])
        .groupBy(id_col, "sub", "code")
        .agg(_sq_dist("rx").alias("d2"))
    )
    codes = rd2.groupBy(id_col, "sub").agg(
        F.min_by("code", F.struct(F.round("d2", 6), F.col("code"))).alias("code")
    )
    return rcb, codes.join(assign, id_col).select(id_col, "sub", "code", "cid")


def _ivfadc_query(
    centdims,
    rcb: DataFrame,
    coded: DataFrame,
    query_df: DataFrame,
    nprobe: int,
    m: int,
    topk: int,
    id_col: str,
    query_col: str,
    sd: int,
) -> DataFrame:
    """ADC scoring tail shared by the in-plan and indexed forms:
    probe nprobe cells by L2², build one distance table per probed
    cell from the query's residual there, score ``coded`` rows
    (id, cid, sub, code) by table lookup, distributed top-k."""
    from pyspark.sql import Window

    qdims = query_df.select(
        F.posexplode(as_double(F.col(query_col))).alias("pos", "x")
    )
    probed = F.broadcast(
        qdims.join(centdims, "pos")
        .groupBy("cid")
        .agg(_sq_dist("x").alias("qd2"))
        .orderBy(F.round("qd2", 6), "cid")
        .limit(nprobe)
        .select("cid")
    )
    qres = (
        qdims.join(centdims.join(probed, "cid"), "pos")
        .select(
            "cid",
            *_subspace(sd),
            (F.col("x") - F.col("c")).alias("rx"),
        )
    )
    qtab = F.broadcast(
        qres.join(F.broadcast(rcb), ["sub", "wpos"])
        .groupBy("cid", "sub", "code")
        .agg(_sq_dist("rx").alias("qd2"))
    )
    scored = (
        coded.join(qtab, ["cid", "sub", "code"])
        .groupBy(id_col)
        .agg(
            (F.round(F.sum("qd2"), 6) + F.lit(0.0)).alias("approx_dist"),
            F.count(F.lit(1)).alias("_nsub"),
        )
        .filter(F.col("_nsub") == m)
        .drop("_nsub")
    )
    top = scored.orderBy("approx_dist", id_col).limit(topk)
    wrank = Window.orderBy("approx_dist", id_col)
    return top.withColumn("rank", F.row_number().over(wrank))


def ivfadc_topk(
    df: DataFrame,
    query_df: DataFrame,
    k_centroids: int = 8,
    nprobe: int = 2,
    m: int = 4,
    k: int = 16,
    topk: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_col: str = "qv",
    dim: "int | None" = None,
) -> DataFrame:
    """Full IVFADC with RESIDUAL encoding (Jégou et al. 2011 §V eq. 17
    — the variant :func:`ivf_pq_topk` documents as its simplification):
    each vector is PQ-encoded as (v − centroid(v)), and the query
    builds a SEPARATE distance table per probed cell from its own
    residual (q − centroid(cell)).  Residuals are much smaller in
    magnitude than raw vectors, so the same m·k code budget quantizes
    them far more finely — the recall edge that makes residual IVFPQ
    the production default in ANN libraries.

    Everything runs in the exploded-dims domain (posexplode →
    broadcast equi-joins → map-side-combined hash-aggs): centroids and
    residual codebooks are id%k-seeded one-iteration means (6 dp),
    assignment/argmin tie-breaks are (rounded metric, id) — fully
    cross-engine deterministic.  Per-query broadcast is nprobe·m·k
    table rows; the corpus-sized work is one assignment + one encode
    (both narrow after their aggs) and one scan of m codes per vector."""
    if dim is None:
        first = df.select(vec_col).first()
        dim = len(first[0])
    query_df = _require_single_query(query_df)
    cents, rcb, coded = _ivfadc_model(
        df, k_centroids, m, k, vec_col, id_col, dim
    )
    centdims = F.broadcast(
        cents.select("cid", F.posexplode("cvec").alias("pos", "c"))
    )
    return _ivfadc_query(
        centdims, rcb, coded, query_df, nprobe, m, topk, id_col, query_col,
        dim // m,
    )


def build_ivfadc_index(
    corpus: DataFrame,
    path: str,
    k_centroids: int = 8,
    m: int = 4,
    k: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: "int | None" = None,
) -> None:
    """Write-once build of the COMPLETE production ANN artifact:
    ``{path}/centroids`` (cid, cvec), ``{path}/codebooks`` (the
    residual codebooks as (sub, code, wpos, c) rows), and
    ``{path}/codes`` — (id, sub, code) rows PARTITIONED BY the
    vector's assigned cid.  Queries then combine BOTH index moves:
    the probe restriction partition-prunes which code files are read
    (the :func:`build_ivf_index` leg) and each read row is m ints, not
    d doubles (the :func:`build_pq_index` leg).  Definitionally the
    same model as :func:`ivfadc_topk` (shared :func:`_ivfadc_model`).
    ``meta.json`` last (:func:`_publish_index`), pinning ``dim``,
    ``m``, ``k``, ``k_centroids`` and the column names."""
    from hpaste_spark.operators import artifacts

    if dim is None:
        first = corpus.select(vec_col).first()
        dim = len(first[0])
    if dim % m != 0:
        raise ValueError(
            f"IVFADC requires dim % m == 0 (dim={dim}, m={m}) — residual "
            "subvector splits would be ragged"
        )
    cents, rcb, coded = _ivfadc_model(
        corpus, k_centroids, m, k, vec_col, id_col, dim
    )
    cents.write.mode("overwrite").parquet(f"{path}/centroids")
    rcb.write.mode("overwrite").parquet(f"{path}/codebooks")
    artifacts.write_rows(coded, f"{path}/codes", "cid")
    _publish_index(
        path, "ivfadc", dim, vec_col, id_col,
        m=int(m), k=int(k), k_centroids=int(k_centroids),
    )


def ivfadc_topk_indexed(
    spark,
    path: str,
    query_df: DataFrame,
    nprobe: int = 2,
    m: int = 4,
    topk: int = 10,
    query_col: str = "qv",
    id_col: str = "vec_id",
) -> DataFrame:
    """Residual-IVFADC top-k over a PREBUILT :func:`build_ivfadc_index`
    index — same results as :func:`ivfadc_topk` with the same
    (k_centroids, m, k): training, assignment, and encoding are reads;
    the probe join on the cid PARTITION column prunes the codes scan
    to ~nprobe/k_centroids of the files, and each surviving row is m
    small ints.  This is the full 100 TB query shape: broadcast-tiny
    model tables, one pruned compressed scan, one hash-agg, one
    distributed top-k."""
    from hpaste_spark.operators.artifacts import require_clean

    require_clean(path, "IVFADC index")
    query_df = _require_single_query(query_df)
    cents = spark.read.parquet(f"{path}/centroids")
    rcb = spark.read.parquet(f"{path}/codebooks")
    coded = spark.read.parquet(f"{path}/codes")
    centdims = F.broadcast(
        cents.select("cid", F.posexplode("cvec").alias("pos", "c"))
    )
    sd = len(cents.select("cvec").first()[0]) // m
    return _ivfadc_query(
        centdims, rcb, coded, query_df, nprobe, m, topk, id_col, query_col, sd
    )


def ivfadc_rerank(
    df: DataFrame,
    query_df: DataFrame,
    shortlist: int = 50,
    topk: int = 10,
    k_centroids: int = 8,
    nprobe: int = 2,
    m: int = 4,
    k: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_col: str = "qv",
    dim: "int | None" = None,
) -> DataFrame:
    """IVFADC shortlist → EXACT re-rank: the full production ANN
    recipe (Jégou et al. 2011 §VII "re-ranking").  ADC distances are
    quantized approximations, so the compressed search keeps a
    ``shortlist`` of candidates (R ≫ topk) and only those R rows are
    re-scored against their FULL vectors; the final top-k is exact
    within the shortlist.

    Why this is the 100 TB shape: the corpus-sized work stays in the
    compressed domain (partition-pruned probe + m-int codes scan from
    :func:`ivfadc_topk`); the full-precision vectors are fetched for
    only R ids — an equi-join that touches R rows of the raw table,
    not a second corpus scan (with column pruning, parquet reads just
    (id, vec) pages).  Any exact-top-k member that made the shortlist
    is guaranteed into the final top-k, so recall@k(rerank) ≥
    recall@k(ADC) by construction — graded by ``sim_rerank_recall``.

    Returns (id, ed2, rank): exact L2² re-ranked ascending, 6 dp
    rounding + id tie-break (cross-engine deterministic).
    """
    from pyspark.sql import Window

    cand = ivfadc_topk(
        df, query_df, k_centroids=k_centroids, nprobe=nprobe, m=m, k=k,
        topk=shortlist, vec_col=vec_col, id_col=id_col, query_col=query_col,
        dim=dim,
    ).select(id_col)
    e = df.select(id_col, as_double(F.col(vec_col)).alias("_e"))
    qe = _require_single_query(query_df).select(
        as_double(F.col(query_col)).alias("_qe")
    )
    scored = (
        cand.join(e, id_col)
        .crossJoin(F.broadcast(qe))
        .select(
            id_col,
            (F.round(_l2sq(F.col("_e"), F.col("_qe")), 6) + F.lit(0.0)).alias("ed2"),
        )
    )
    # shortlist is R rows — the rank window is trivially small
    w = Window.orderBy(F.col("ed2"), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
        .select(id_col, "ed2", F.col("rank").cast("int").alias("rank"))
    )


def hard_negative_mining(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    label_col: str = "label",
    bands: int = 8,
    planes_per_band: int = 4,
    max_bucket: int | None = None,
) -> DataFrame:
    """Hard-negative mining for contrastive / embedding training: for
    every query row, the top-k most-similar corpus rows whose label
    DIFFERS from the query's — the near-miss impostors a contrastive
    loss learns the most from (easy negatives are already far away).

    Same distributed skeleton as :func:`knn_join` (banded hyperplane
    LSH keys → equi-join on (band_idx, band_key), never a |Q|×|C|
    cartesian), with the label-mismatch predicate applied at the
    CANDIDATE stage — before cosine scoring and ranking — so
    same-label pairs never reach the expensive dot products.  Labels
    attach to each band-key table via a narrow id-keyed equi-join
    (two skinny columns; co-partitioned with the band shuffle).
    Per-query top-k is a window keyed by query id; ordering is
    rounded cosine (6 dp) + neighbor-id tie-break, cross-engine
    deterministic.

    Returns (query_id, neighbor_id, neg_label, cos_sim, rank).
    """
    from pyspark.sql import Window

    qk = hyperplane_band_keys(queries, vec_col, query_id_col, bands, planes_per_band)
    qk = qk.join(
        queries.select(F.col(query_id_col), F.col(label_col).alias("_qlab")),
        query_id_col,
    )
    ck = hyperplane_band_keys(corpus, vec_col, id_col, bands, planes_per_band)
    ck = ck.join(
        corpus.select(F.col(id_col), F.col(label_col).alias("_clab")), id_col
    )
    if max_bucket is not None:
        w_b = Window.partitionBy("band_idx", "band_key")
        ck = (
            ck.withColumn("_n", F.count(F.lit(1)).over(w_b))
            .filter(F.col("_n") <= max_bucket)
            .drop("_n")
        )
    cand = (
        qk.join(ck, ["band_idx", "band_key"])
        .filter(
            (F.col(query_id_col) != F.col(id_col))
            & (F.col("_qlab") != F.col("_clab"))
        )
        .select(query_id_col, id_col, F.col("_clab").alias("neg_label"))
        .distinct()
    )
    qn = queries.select(
        query_id_col, as_double(F.col(vec_col)).alias("_qv")
    ).withColumn("_qnorm", F.sqrt(dot(F.col("_qv"), F.col("_qv"))))
    cn = corpus.select(id_col, as_double(F.col(vec_col)).alias("_cv")).withColumn(
        "_cnorm", F.sqrt(dot(F.col("_cv"), F.col("_cv")))
    )
    denom = F.col("_qnorm") * F.col("_cnorm")
    scored = (
        cand.join(qn, query_id_col)
        .join(cn, id_col)
        .withColumn(
            "cos_sim",
            F.round(
                F.when(denom == 0, F.lit(0.0)).otherwise(
                    dot(F.col("_qv"), F.col("_cv")) / denom
                ),
                6,
            ),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("cos_sim").desc(), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            query_id_col,
            F.col(id_col).alias("neighbor_id"),
            "neg_label",
            "cos_sim",
            F.col("rank").cast("int").alias("rank"),
        )
    )


# ---------------------------------------------------------------------------
# The ANN leg of the standing-artifact lifecycle (artifacts.py owns the
# append, the layout compaction and the maintenance pass for all six
# families): the delta encoders under the stored model, the drift monitor
# and the re-train, each written ONCE over a per-family ``_Ann`` — the
# exact-truth metric, which re-train candidates the monitor grades, and
# how a candidate is realized.
# ---------------------------------------------------------------------------


@dataclasses.dataclass(frozen=True)
class _Ann:
    #: the artifact stores its full vectors (IVF): it is its own store
    #: of record, so it re-trains and grades from itself; a code-only
    #: artifact needs the caller-named corpus
    stores_vectors: bool
    #: meta keys a re-train rebuilds with (the pinned geometry)
    geometry: "tuple[str, ...]"
    #: data rows stored per vector (the cardinality check's multiplier)
    rows_per_vector: Callable[[dict], int]
    #: build_<kind>_index(corpus, path, **geometry, vec_col, id_col)
    build: Callable
    #: (e, qe) -> the exact-truth ordering column (best first)
    exact_key: Callable
    #: (spark, path, meta, corpus, id_col, iterations) -> [(variant, model)]
    candidates: Callable
    #: (model, q_df, meta, nprobe, id_col) -> (scored (qid, id, ...) rows,
    #: their ordering column)
    approx: Callable

    def retrain(self, spark, path, corpus, meta, variant, apply) -> str:
        """The call that realizes the graded re-train ``variant`` (run
        when ``apply``), named as the maintenance plan."""
        if self.stores_vectors:
            its = int(variant.removeprefix("compact_it"))
            if apply:
                compact_ivf_index(spark, path, iterations=its)
            return f"compact_ivf_index(path, iterations={its})"
        if apply:
            retrain_index(spark, corpus, path)
        return "retrain_index(corpus, path)  # blue/green root swap; " + ", ".join(
            f"{g}={meta[g]}" for g in self.geometry
        )


def _l2sq(a: F.Column, b: F.Column) -> F.Column:
    """Σ(a−b)² of two equal-length arrays, as an array fold."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _cosine_desc(e: F.Column, qe: F.Column) -> F.Column:
    return cosine(e, qe).desc()


def _l2_asc(e: F.Column, qe: F.Column) -> F.Column:
    # ROUND(·,6): the cross-engine ordering contract every PQ leg uses
    return F.round(_l2sq(e, qe), 6).asc()


def _ivf_encode(spark, path, meta, df) -> DataFrame:
    cent = spark.read.parquet(f"{path}/centroids")
    return _ivf_rows(df, cent, meta["vec_col"], meta["id_col"])


def _pq_encode_stored(spark, path, meta, df) -> DataFrame:
    cb = spark.read.parquet(f"{path}/codebooks")
    return pq_encode(df, cb, int(meta["m"]), meta["vec_col"], meta["id_col"])


def _ivfadc_encode_stored(spark, path, meta, df) -> DataFrame:
    cents, rcb = (spark.read.parquet(f"{path}/{d}") for d in ("centroids", "codebooks"))
    m, dim = int(meta["m"]), int(meta["dim"])
    return _ivfadc_encode(
        df, cents, m, meta["vec_col"], meta["id_col"], dim, rcb=rcb
    )[1]


def _ivf_candidates(spark, path, meta, corpus, id_col, candidate_iterations):
    """``appended`` — the stored centroids (driver-local) over the
    stored per-vector cids — and ``compact_it{n}``, what
    :func:`compact_ivf_index` (``iterations=n``) WOULD give: a
    re-cluster of the stored corpus, assignment recomputed, in-plan,
    nothing written.  Models are (centroids, corpus rows with cid)."""
    from pyspark.storagelevel import StorageLevel

    stored_cent = spark.read.parquet(f"{path}/centroids")
    # ONE collect feeds the centroid count, the vector dim (k·d gates
    # the assign broadcast), and the appended variant's local table —
    # r13 ran a count() + a corpus .first() + a second collect() as
    # three separate serial driver jobs (r14; the monitor's cost at
    # sf0.1 is its serial job chain, 44 jobs measured).  K-row table,
    # not a corpus collect.
    cent_rows = stored_cent.collect()
    k_centroids = len(cent_rows)
    bare = corpus.select(id_col, F.col("_e"))

    # Candidate re-clusters built INCREMENTALLY (r13, guide §1.2):
    # candidates it{n} share their first min(n, n') Lloyd passes, but
    # ivf_centroids-from-scratch per candidate recomputed the seed
    # means (and every shared refine pass) once per variant — it1+it2
    # cost 1 + 3 = 4 corpus passes instead of the 3 the chain needs.
    # Each refine step assigns against the PREVIOUS candidate's
    # driver-materialized K-row centroids (the collect roundtrip
    # preserves ivf_centroids' 6-dp-rounded doubles exactly, and
    # n_dim_rows keeps the same broadcast-hinted assign plan, so the
    # per-partition summation order — hence every mean — is identical
    # to the from-scratch chain's).  The driver materialization itself
    # is the r12-ADVICE leak fix, unchanged.
    # the incremental chain below starts at it1 and only refines
    # FORWARD, so a 0/negative candidate would silently grade the it1
    # seed model under a mislabeled compact_it0 row (pre-r13 the
    # from-scratch ivf_centroids call raised for it) — keep the raise
    if any(n < 1 for n in candidate_iterations):
        raise ValueError(
            f"candidate_iterations must all be >= 1: {candidate_iterations}"
        )
    # centroid dim == corpus vector dim (build invariant), read from
    # the already-collected rows — the corpus .first() it replaces
    # forced the whole DISK_ONLY corpus cut to materialize inside a
    # blocking driver call before any useful work
    ndr = k_centroids * len(cent_rows[0]["cvec"])
    cand_cent: "dict[int, DataFrame]" = {}
    cand_assign: "dict[int, DataFrame]" = {}
    done, cur = 0, None
    for n in sorted(set(candidate_iterations)):
        if cur is None:
            cur = ivf_centroids(
                bare, k_centroids, vec_col="_e", id_col=id_col, iterations=1
            )
            done = 1
        while done < n:
            step = ivf_assign(
                bare, cur, vec_col="_e", id_col=id_col, n_dim_rows=ndr
            )
            if done in cand_cent:
                # the refine step's assignment IS candidate it{done}'s
                # assignment (same driver-local centroid table) — the
                # variant leg needed the identical relation and re-ran
                # the corpus-dim assign for it (r14).  Lazy DISK_ONLY
                # cut: materializes as a byproduct of this refine
                # pass's means action, the variant leg then reads
                # (id, cid) rows instead of replaying the dim-join.
                # Corpus-sized ⇒ DISK_ONLY per the corpus-memory rule.
                step = step.localCheckpoint(
                    eager=False, storageLevel=StorageLevel.DISK_ONLY
                )
                cand_assign[done] = step
            cur = _centroid_means(
                bare.join(step, id_col).select(
                    "cid", F.col("_e").alias("e")
                )
            )
            done += 1
        # K-row model table, read by the refine chain AND the variant's
        # assignment/probe branches: materialize to the driver and
        # re-create (r12 ADVICE — a persist() here leaked one cached
        # relation per variant per monitor call).  Bounded by
        # k_centroids — the ≤|groups| driver-side class, not a corpus
        # collect.
        cur = spark.createDataFrame(cur.collect(), cur.schema)
        cand_cent[n] = cur

    variants = [
        # the live artifact: stored centroids (driver-local from the
        # single collect above), stored assignment
        (
            "appended",
            (
                spark.createDataFrame(cent_rows, stored_cent.schema),
                corpus.select(id_col, "cid"),
            ),
        ),
    ]
    for n in candidate_iterations:
        assign = cand_assign.get(n)
        if assign is None:
            assign = ivf_assign(
                bare, cand_cent[n], vec_col="_e", id_col=id_col, n_dim_rows=ndr
            )
        variants.append((f"compact_it{n}", (cand_cent[n], assign)))
    return [(name, (cent, bare.join(a, id_col))) for name, (cent, a) in variants]


def _ivf_approx(model, q_df, meta, nprobe, id_col):
    """Exact cosine over each query's ``nprobe`` nearest lists."""
    from pyspark.sql import Window

    cent, assigned = model
    wp = Window.partitionBy("qid").orderBy(F.col("_qc").desc(), "cid")
    probes = (
        q_df.crossJoin(F.broadcast(cent))
        .withColumn("_qc", cosine(F.col("qe"), F.col("cvec")))
        .withColumn("_rn", F.row_number().over(wp))
        .filter(F.col("_rn") <= nprobe)
        .select("qid", "cid")
    )
    scored = (
        assigned.join(F.broadcast(probes), "cid")
        .filter(F.col(id_col) != F.col("qid"))
        .join(F.broadcast(q_df), "qid")
    )
    return scored, _cosine_desc(F.col("_e"), F.col("qe"))


def _pq_candidates(spark, path, meta, corpus, id_col, candidate_iterations):
    """``appended`` — the stored codebooks and codes — and
    ``retrained``, what a fresh :func:`build_pq_index` on the corpus
    would give (codebooks + encoding in-plan, nothing written).
    Models are (codebooks, codes rows)."""
    m, kk, dim = int(meta["m"]), int(meta["k"]), int(meta["dim"])
    # cut: the candidate codebooks feed BOTH the in-plan encode and the
    # retrained variant's query table (r13, same as pq_topk's cb)
    cand_cb = pq_codebooks(
        corpus, m, kk, vec_col="_e", id_col=id_col, dim=dim
    ).localCheckpoint(eager=False)
    return [
        (
            "appended",
            (spark.read.parquet(f"{path}/codebooks"), spark.read.parquet(f"{path}/codes")),
        ),
        (
            "retrained",
            (cand_cb, pq_encode(corpus, cand_cb, m, vec_col="_e", id_col=id_col, dim=dim)),
        ),
    ]


def _pq_approx(model, q_df, meta, nprobe, id_col):
    """ADC over the whole coded corpus, one distance table per query."""
    cb, codes = model
    sd = int(meta["dim"]) // int(meta["m"])
    qdims = q_df.select(
        "qid", F.posexplode(F.col("qe")).alias("pos", "x")
    ).select(
        "qid",
        *_subspace(sd),
        "x",
    )
    qtab = F.broadcast(
        _pq_dists(qdims, cb, ["qid"]).select("qid", "sub", "code", "d2")
    )
    scored = (
        codes.select(id_col, F.posexplode("codes").alias("sub", "code"))
        .join(qtab, ["sub", "code"])
        .groupBy("qid", id_col)
        .agg(F.round(F.sum("d2"), 6).alias("_ad"))
        .filter(F.col(id_col) != F.col("qid"))
    )
    return scored, F.col("_ad").asc()


def _ivfadc_candidates(spark, path, meta, corpus, id_col, candidate_iterations):
    """``appended`` — the stored coarse centroids, residual codebooks
    and codes+cids — and ``retrained``, a fresh :func:`_ivfadc_model`
    on the corpus, in-plan, nothing written.  Models are (centroids,
    residual codebooks, code rows)."""
    return [
        (
            "appended",
            tuple(
                spark.read.parquet(f"{path}/{d}")
                for d in ("centroids", "codebooks", "codes")
            ),
        ),
        (
            "retrained",
            _ivfadc_model(
                corpus, int(meta["k_centroids"]), int(meta["m"]), int(meta["k"]),
                "_e", id_col, int(meta["dim"]),
            ),
        ),
    ]


def _ivfadc_approx(model, q_df, meta, nprobe, id_col):
    """The per-query per-probed-cell ADC machinery of
    :func:`_ivfadc_query` generalized to a query BATCH (the qid-keyed
    distance tables stay broadcast-tiny: |q|·nprobe·m·k rows)."""
    from pyspark.sql import Window

    cents, rcb, coded = model
    m = int(meta["m"])
    sd = int(meta["dim"]) // m
    qdims = q_df.select("qid", F.posexplode(F.col("qe")).alias("pos", "x"))
    wp = Window.partitionBy("qid").orderBy(F.round("qd2", 6).asc(), F.col("cid"))
    centdims = F.broadcast(
        cents.select("cid", F.posexplode("cvec").alias("pos", "c"))
    )
    probed = F.broadcast(
        qdims.join(centdims, "pos")
        .groupBy("qid", "cid")
        .agg(_sq_dist("x").alias("qd2"))
        .withColumn("_rn", F.row_number().over(wp))
        .filter(F.col("_rn") <= nprobe)
        .select("qid", "cid")
    )
    qres = qdims.join(centdims.join(probed, "cid"), ["qid", "pos"]).select(
        "qid",
        "cid",
        *_subspace(sd),
        (F.col("x") - F.col("c")).alias("rx"),
    )
    qtab = F.broadcast(
        qres.join(F.broadcast(rcb), ["sub", "wpos"])
        .groupBy("qid", "cid", "sub", "code")
        .agg(_sq_dist("rx").alias("qd2"))
    )
    scored = (
        coded.join(qtab, ["cid", "sub", "code"])
        .groupBy("qid", id_col)
        .agg(
            (F.round(F.sum("qd2"), 6) + F.lit(0.0)).alias("approx_dist"),
            F.count(F.lit(1)).alias("_nsub"),
        )
        .filter((F.col("_nsub") == m) & (F.col(id_col) != F.col("qid")))
    )
    return scored, F.col("approx_dist").asc()


#: late-bound builds: a patched module attribute is honoured
_IVF = _Ann(
    stores_vectors=True,
    geometry=("k_centroids",),
    rows_per_vector=lambda meta: 1,
    build=lambda *a, **kw: build_ivf_index(*a, **kw),
    exact_key=_cosine_desc,
    candidates=_ivf_candidates,
    approx=_ivf_approx,
)
_PQ = _Ann(
    stores_vectors=False,
    geometry=("m", "k"),
    rows_per_vector=lambda meta: 1,
    build=lambda *a, **kw: build_pq_index(*a, **kw),
    exact_key=_l2_asc,
    candidates=_pq_candidates,
    approx=_pq_approx,
)
_IVFADC = _Ann(
    stores_vectors=False,
    geometry=("k_centroids", "m", "k"),
    rows_per_vector=lambda meta: int(meta["m"]),
    build=lambda *a, **kw: build_ivfadc_index(*a, **kw),
    exact_key=_l2_asc,
    candidates=_ivfadc_candidates,
    approx=_ivfadc_approx,
)


def _open_index(path: str) -> "tuple[object, dict]":
    """(codec, meta) of the stored ANN index at ``path``: the
    artifacts check every reader runs, plus a refusal of the families
    with no drift leg."""
    from hpaste_spark.operators import artifacts

    codec, meta = artifacts.open_artifact(path)
    if codec.ann is None:
        raise ValueError(
            f"artifact at {path} has kind={meta['kind']!r} — not a stored "
            "ANN index; build it with build_ivf_index / build_pq_index / "
            "build_ivfadc_index"
        )
    return codec, meta


def drift_recall(
    spark,
    path: str,
    queries: DataFrame,
    corpus: "DataFrame | None" = None,
    k: int = 10,
    nprobe: int = 2,
    candidate_iterations: "tuple[int, ...]" = (1, 2),
    budget: int = 100,
    query_id_col: str = "qid",
    query_vec_col: str = "qe",
) -> DataFrame:
    """The OPERATIONAL drift-recall monitor for a LIVE append-refreshed
    ANN index (round-12 verdict ask #3): grade recall@k of ``appended``
    — the artifact AS IT STANDS — and of the in-plan re-train
    candidates against exact truth over the store of record, on a
    FIXED ≤``budget`` query sample (deterministic: ``ORDER BY qid
    LIMIT budget`` — the monitor's cost stays linear in the corpus; an
    uncapped corpus-proportional sample made the exact-truth grader
    O(n²), the round-11 scale bug).  Returns one row per variant:
    (variant, n_queries, k, n_hit, recall_at_k).  The re-train is due
    when a candidate's recall exceeds appended's by more than the
    rebuild is worth
    (:func:`~hpaste_spark.operators.artifacts.maintain_artifact`).

    Per family (the codec's ANN leg):

    - IVF — exact cosine truth over the artifact's own stored vectors
      (``corpus`` is not needed); candidates ``compact_it{n}``, what
      :func:`compact_ivf_index` (``iterations=n``) WOULD give, for
      each n in ``candidate_iterations``.  The measured sign surprise
      (SCALE.md 'Appended-IVF drift recall'): a seed-only it1
      re-cluster can actively HURT (0.47 vs 0.54 appended on the drift
      fixture) while a Lloyd it2 recovers, so the monitor grades BOTH.
    - PQ / IVFADC — the artifact stores codes, not vectors, so the
      monitor needs ``corpus``, the store of record the artifact was
      built+appended from (cardinality-hard-checked: grading against
      the wrong slice would skew recall silently); exact L2² truth;
      candidate ``retrained``, a fresh build on the corpus; ``nprobe``
      applies to IVFADC.

    ``queries``: DataFrame with (``query_id_col``, ``query_vec_col``);
    the corpus is read by the vector and id columns pinned at build.
    Queries that are themselves corpus rows are excluded from their
    own truth/candidates by id.  The corpus is read ONCE (DISK_ONLY
    cut) for the exact-truth pass, which is itself cut and reused by
    every variant's hit-join (the corpus-memory rule)."""
    from pyspark.storagelevel import StorageLevel

    codec, meta = _open_index(path)
    ann, kind, id_col = codec.ann, meta["kind"], meta["id_col"]
    cols = [F.col(id_col), as_double(F.col(meta["vec_col"])).alias("_e")]
    if ann.stores_vectors:
        corpus = spark.read.parquet(f"{path}/{codec.data}")
        cols.append(F.col("cid"))  # the stored assignment
    elif corpus is None:
        raise ValueError(
            f"{kind} drift monitoring needs the store-of-record "
            "corpus (the artifact stores codes, not vectors)"
        )
    # the corpus feeds the exact-truth pass and every candidate's
    # re-train + scoring (and an appended tree is fragmented into one
    # file per (write, cid, task)): cut it ONCE, DISK_ONLY per the
    # corpus-memory rule (O(corpus) intermediates never claim executor
    # storage memory), so the tree is scanned a single time
    base = corpus.select(*cols).localCheckpoint(
        eager=False, storageLevel=StorageLevel.DISK_ONLY
    )
    if not ann.stores_vectors:
        # the corpus count also materializes the DISK_ONLY cut before
        # the fan-out; the stored count reads parquet footers only
        n_corpus = base.count()
        want = n_corpus * ann.rows_per_vector(meta)
        n_stored = _stored_rows(spark, f"{path}/{codec.data}")
        if n_stored != want:
            raise ValueError(
                f"corpus has {n_corpus} rows but the {kind} artifact "
                f"at {path} holds {n_stored} {codec.data} rows (expected "
                f"{want}) — the monitor must be given exactly the store of "
                "record the artifact was built+appended from"
            )
    q_df = (
        queries.select(
            F.col(query_id_col).alias("qid"),
            as_double(F.col(query_vec_col)).alias("qe"),
        )
        .orderBy("qid")
        .limit(budget)
    )
    nq = q_df.agg(F.count(F.lit(1)).alias("n"))
    exact = _per_query_topk(
        base.crossJoin(F.broadcast(q_df)).filter(F.col(id_col) != F.col("qid")),
        ann.exact_key(F.col("_e"), F.col("qe")),
        k,
        id_col,
    ).localCheckpoint(eager=False, storageLevel=StorageLevel.DISK_ONLY)

    out = None
    for name, model in ann.candidates(
        spark, path, meta, base, id_col, candidate_iterations
    ):
        scored, key = ann.approx(model, q_df, meta, nprobe, id_col)
        row = (
            _per_query_topk(scored, key, k, id_col)
            .join(exact, ["qid", id_col])
            .agg(F.count(F.lit(1)).alias("n_hit"))
            .crossJoin(F.broadcast(nq))
            .select(
                F.lit(name).alias("variant"),
                F.col("n").cast("long").alias("n_queries"),
                F.lit(k).alias("k"),
                F.col("n_hit").cast("long").alias("n_hit"),
                F.round(F.col("n_hit") / (F.col("n") * float(k)), 4).alias(
                    "recall_at_k"
                ),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("variant")


def _per_query_topk(scored: DataFrame, key: F.Column, k: int, id_col: str) -> DataFrame:
    """(qid, id) of each query's top ``k`` rows by ``key``, id
    tie-break."""
    from pyspark.sql import Window

    w = Window.partitionBy("qid").orderBy(key, id_col)
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .select("qid", id_col)
    )


def retrain_index(spark, corpus: DataFrame, path: str) -> int:
    """BLUE/GREEN re-train of a stored ANN index from the caller-named
    store-of-record ``corpus`` — the action :func:`drift_recall`'s
    ``retrained`` variant prices for the code-only families (PQ,
    IVFADC: the artifact stores codes, not vectors, so drift repair is
    a fresh build; IVF re-trains in place from its own vectors with
    :func:`compact_ivf_index`).  The geometry and the column names
    ``corpus`` is read by are the ones pinned in the meta.  An in-place ``mode='overwrite'`` rebuild of a LIVE artifact
    is not crash-safe (a kill mid-build leaves half-replaced relations
    with valid-looking meta); instead the replacement is built
    COMPLETE at the sibling root ``path + RETRAIN_TMP_SUFFIX``, its
    meta carries the version chain forward (``version = old + 1``,
    fresh ``compacted_version`` / ``trained_version``, empty replay
    ring — a new store generation owes no replay protection to the old
    one's deltas), and the ROOTS swap with the narrowed rename-aside
    sequence.  The old root's compaction journal (opened before the
    build — appends/compactions against the dying artifact fail loudly
    for the whole window) leaves with the old root; the new root is
    born clean.  Crash windows: mid-build → build-phase journal on the
    live root (fsck discards it) + a re-derivable sibling tmp
    (:func:`~hpaste_spark.operators.artifacts.recover_artifact_root`,
    run automatically at entry, deletes it); between the root renames
    → the complete old artifact parked at ``path + '_old'`` (recover
    renames it back).  Reference context: the HBase posture of
    rebuilding a table NEXT TO the live one and flipping readers, vs
    truncate-and-reload in place.  Returns the published version."""
    import shutil

    from hpaste_spark.operators import artifacts

    artifacts.recover_artifact_root(path)
    codec, meta = _open_index(path)
    target = meta["version"] + 1
    tmp = path + artifacts.RETRAIN_TMP_SUFFIX
    artifacts.open_compact(path)  # exclusion covers build+swap
    try:
        shutil.rmtree(tmp, ignore_errors=True)
        codec.ann.build(
            corpus, tmp, **{g: int(meta[g]) for g in codec.ann.geometry},
            vec_col=meta["vec_col"], id_col=meta["id_col"],
        )
        new_meta = artifacts.read_meta(tmp)
        new_meta.update(
            version=target, compacted_version=target, trained_version=target
        )
        artifacts.write_meta(tmp, new_meta)
    except BaseException:
        artifacts.abort_compact(path)
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    artifacts.swap_live_dir(path, tmp)
    return target
