"""Deduplication operators for large-scale training-data pipelines.

Beyond reference parity (the reference has no text analytics); these are
the north-star operators BASELINE.json asks for, built Spark-first:

- exact_dedup            — hash-groupBy keeper selection; one shuffle
- minhash_lsh_candidates — shingle → minhash signature → banded LSH →
  per-bucket pair expansion.  The classic Broder scheme: only documents
  sharing a band bucket are compared (|bucket|² per bucket, not n²) —
  the 100 TB-safe path.
- ngram_jaccard_pairs    — exact shingle-set Jaccard for candidate
  pairs (explode + co-group; used standalone on bounded subsets or as
  the verify stage after LSH)
- simhash                — 30-bit SimHash from token hashes (bit-wise
  majority vote), plus hamming-distance pairs
- embedding_neardup_pairs— cosine-threshold pairs over embedding
  vectors (brute force; LSH-bucketed variant in similarity.py)

All hash arithmetic uses deterministic primitives shared with the
DuckDB oracle — md5-prefix token hashes (functions.text.token_hash)
and polynomial combines — no engine-specific hash functions in
results.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hpaste_spark.functions.text import HASH_MOD, tokens

# MinHash parameters (shared with the oracle SQL): hash_i(h) = (a_i*h + b_i) % p
MINHASH_A = lambda i: 2 * i + 1  # noqa: E731
MINHASH_B = lambda i: 7919 * i  # noqa: E731

SIMHASH_BITS = 30  # < 31 so all arithmetic stays in BIGINT in both engines


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: md5-hash groups, keep the minimum id (A1-style
    hash aggregation — one shuffle on the hash, map-side partial agg)."""
    return (
        df.groupBy(F.md5(F.col(text_col).cast("binary")).alias("text_hash"))
        .agg(F.min(id_col).alias("keeper_" + id_col), F.count(F.lit(1)).alias("n_copies"))
    )


def minhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", num_hashes: int = 16, shingle: int = 3
) -> DataFrame:
    """Per-document MinHash signature as `sig` ARRAY<BIGINT>[num_hashes].

    Shape: explode distinct shingle hashes to (id, h) rows, then ONE
    hash-aggregate computes all num_hashes minima.  Two details make
    this the fast AND scale-right form:
    - the min aggregates run in whole-stage codegen, while any
      array-fold formulation (aggregate/zip_with with a num_hashes-wide
      accumulator) is CodegenFallback — interpreted, ~4× slower;
    - map-side partial agg combines before the exchange, so the shuffle
      carries num_hashes longs per doc (~136 B), NOT the exploded rows.
    The single-projection expression form exists as
    functions.text.minhash_signature for column-level use."""
    # Token hashes materialize as a real column FIRST: the shingle
    # combine references the array 4× (size + one slice per shingle
    # position), HOF lambdas get no codegen subexpression elimination,
    # and CollapseProject declines to inline a multiply-referenced
    # expensive expression — so this projection boundary makes the
    # md5 pass run once per row instead of 4× (measured 2.0s → 0.9s
    # for the signature stage at sf0.1).
    from hpaste_spark.functions.text import HASH_BASE, token_hash

    th_df = df.select(
        F.col(id_col), F.transform(tokens(F.col(text_col)), token_hash).alias("th")
    )
    th = F.col("th")
    m = F.greatest(F.size(th) - (shingle - 1), F.lit(0))
    acc = F.slice(th, 1, m)
    for j in range(1, shingle):
        acc = F.zip_with(
            acc, F.slice(th, 1 + j, m), lambda a, t: (a * HASH_BASE + t) % HASH_MOD
        )
    exploded = th_df.select(F.col(id_col), F.explode(F.array_distinct(acc)).alias("h"))
    mins = [
        F.min((F.lit(MINHASH_A(i)) * F.col("h") + F.lit(MINHASH_B(i))) % HASH_MOD).alias(f"m{i}")
        for i in range(num_hashes)
    ]
    agg = exploded.groupBy(id_col).agg(*mins)
    return agg.select(F.col(id_col), F.array(*[F.col(f"m{i}") for i in range(num_hashes)]).alias("sig"))


def minhash_band_keys(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle: int = 3,
) -> DataFrame:
    """(id, band_idx, band_key) banded-LSH keys — the stored "dedup
    index" of a corpus.  Persist this table (partitioned/bucketed by the
    band key) and every future batch dedups against it with one
    equi-join instead of re-signing the corpus
    (:func:`incremental_lsh_candidates`)."""
    assert num_hashes % bands == 0
    rows = num_hashes // bands
    # sigs ends in an aggregation, so `sig` is an attribute below — the
    # band-key expressions referencing it `bands` times stay cheap
    # (attribute reads, no re-computation)
    sigs = minhash_signatures(df, text_col, id_col, num_hashes, shingle)
    # band key: polynomial combine of the band's minhash values
    band_entries = []
    for b in range(bands):
        part = F.slice(F.col("sig"), b * rows + 1, rows)
        key = F.aggregate(part, F.lit(0).cast("long"), lambda acc, h: (acc * 31 + h) % HASH_MOD)
        band_entries.append(F.struct(F.lit(b).alias("band_idx"), key.alias("band_key")))
    return sigs.select(
        F.col(id_col), F.explode(F.array(*band_entries)).alias("band")
    ).select(id_col, "band.band_idx", "band.band_key")


def incremental_lsh_candidates(
    corpus_bands: DataFrame,
    batch: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle: int = 3,
    max_bucket: int | None = None,
) -> DataFrame:
    """Incremental (batch-vs-corpus) near-dup candidates: for each NEW
    document, the existing-corpus docs sharing ≥1 LSH band —
    (batch_id, corpus_id, n_bands).

    The ingest-time dedup shape at 100 TB: the corpus index
    (``corpus_bands`` from :func:`minhash_band_keys`) is computed once
    and stored; each incoming batch signs only ITSELF and equi-joins
    the index on (band_idx, band_key) — no corpus re-signing, no
    corpus×corpus pair expansion, and the corpus side of the join is a
    partition-prunable stored table.  ``max_bucket`` drops degenerate
    corpus buckets (boilerplate bands) by grouping the corpus side
    before the join, so the quadratic bucket never materializes.
    """
    bb = minhash_band_keys(batch, text_col, id_col, num_hashes, bands, shingle)
    cb = corpus_bands
    if max_bucket is not None:
        buckets = (
            cb.groupBy("band_idx", "band_key")
            .agg(F.collect_list(F.col(id_col)).alias("ids"))
            .filter(F.size("ids") <= max_bucket)
        )
        cb = buckets.select("band_idx", "band_key", F.explode("ids").alias(id_col))
    pairs = bb.alias("b").join(
        cb.alias("c"),
        (F.col("b.band_idx") == F.col("c.band_idx"))
        & (F.col("b.band_key") == F.col("c.band_key")),
    )
    return (
        pairs.groupBy(
            F.col(f"b.{id_col}").alias("batch_id"), F.col(f"c.{id_col}").alias("corpus_id")
        )
        .agg(F.count(F.lit(1)).alias("n_bands"))
    )


#: MinHash/LSH probe-family version: 1 = md5-prefix token hashes
#: (functions.text.token_hash), HASH_BASE polynomial shingle fold mod
#: HASH_MOD, affine minhash h_i = (MINHASH_A(i)·h + MINHASH_B(i)) mod
#: HASH_MOD, and minhash_band_keys' poly-31 band combine.  Bump when
#: ANY of those changes: band keys from two families are disjoint
#: value spaces, so probing an index built under another family yields
#: silent FALSE NEGATIVES (nothing collides, everything looks unique)
#: — the same failure mode the Bloom family pin guards against, at the
#: dedup layer where a miss means a duplicate ships into training.
LSH_FAMILY = 1


def build_lsh_index(
    corpus: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle: int = 3,
) -> None:
    """Write-once LSH band-index artifact (round-8 verdict ask #1):
    sign the standing corpus ONCE and persist the band table so every
    future batch/stream probe is an equi-join against stored parquet —
    no corpus re-signature per run, and, critically, no caller-typed
    geometry: ``{path}/meta.json`` pins (num_hashes, bands, shingle,
    family) and the column names, and the stored probes derive their
    parameters FROM the artifact.  Hand-typed geometry that disagrees
    with the stored bands is the LSH analog of probing a Bloom filter
    with the wrong (m, k): band keys simply never collide and every
    duplicate sails through as unique — a silent false negative, which
    is why the stored readers hard-error on a family mismatch instead
    of falling back.

    Layout: ``{path}/bands`` — the (id, band_idx, band_key) relation
    of :func:`minhash_band_keys` — then ``meta.json`` written LAST
    (:func:`~hpaste_spark.operators.artifacts.publish_build`), so a
    reader never sees a half-built artifact.  Refreshing with new
    corpus material is
    :func:`~hpaste_spark.operators.artifacts.append_artifact` (signs
    only the delta under the pinned geometry)."""
    from hpaste_spark.operators import artifacts

    minhash_band_keys(
        corpus, text_col, id_col, num_hashes, bands, shingle
    ).write.mode("overwrite").parquet(f"{path}/bands")
    artifacts.publish_build(
        path, "lsh", family=LSH_FAMILY, num_hashes=num_hashes, bands=bands,
        shingle=shingle, text_col=text_col, id_col=id_col,
    )


def read_lsh_index(spark, path: str):
    """(bands DataFrame, meta dict) of a :func:`build_lsh_index`
    artifact, after the check every stored reader shares
    (:func:`~hpaste_spark.operators.artifacts.open_artifact`: no
    pending journal, an LSH artifact, this build's probe family).  The
    bands read is a plain parquet scan — at production scale the table
    is partition-prunable on the band key and read once per (re)start,
    never per batch."""
    from hpaste_spark.operators import artifacts

    _, meta = artifacts.open_artifact(path, "lsh")
    return spark.read.parquet(f"{path}/bands"), meta


def _lsh_encode(spark, path: str, meta: dict, docs: DataFrame) -> DataFrame:
    """The band rows of ``docs`` under the artifact's pinned geometry —
    the LSH append delta; it scans only ``docs``, never the stored
    bands (the pre-existing corpus is never re-signed)."""
    return minhash_band_keys(
        docs, meta["text_col"], meta["id_col"], meta["num_hashes"],
        meta["bands"], meta["shingle"],
    )


def incremental_lsh_candidates_stored(
    spark,
    path: str,
    batch: DataFrame,
    text_col: str = "text",
    max_bucket: int | None = None,
) -> DataFrame:
    """:func:`incremental_lsh_candidates` against a write-once
    :func:`build_lsh_index` artifact: num_hashes/bands/shingle and the
    id column name come FROM ``{path}/meta.json`` — the caller supplies
    only the batch and its text column, so a geometry mismatch between
    the batch's signature and the stored bands is impossible by
    construction (the hazard the free-parameter form documents away;
    here it is closed structurally).  The batch must carry the id
    column the index was built under (``meta['id_col']``)."""
    corpus_bands, meta = read_lsh_index(spark, path)
    return incremental_lsh_candidates(
        corpus_bands,
        batch,
        text_col=text_col,
        id_col=meta["id_col"],
        num_hashes=meta["num_hashes"],
        bands=meta["bands"],
        shingle=meta["shingle"],
        max_bucket=max_bucket,
    )


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle: int = 3,
    max_bucket: int | None = None,
) -> DataFrame:
    """Banded-LSH candidate pairs (id_a < id_b, with the band count that
    matched).  rows_per_band = num_hashes // bands; two docs are
    candidates iff at least one band's sub-signature matches exactly.

    Scale shape: explode to (band_idx, band_key) → shuffle on the band
    key → pair expansion within buckets.  ``max_bucket`` skips
    degenerate buckets: an adversarial corpus (everything identical)
    collects all n ids into one bucket whose |bucket|² expansion would
    OOM a single executor — capped buckets are dropped BEFORE expansion
    (the filter runs on the aggregated list size, so the executor never
    materializes the quadratic array).  Members of a skipped bucket
    still pair through any band where they differ; an all-bands-capped
    clique is better handled by exact_dedup first (identical docs are
    exact dups by definition).
    """
    banded = minhash_band_keys(df, text_col, id_col, num_hashes, bands, shingle)

    # Pairs via bucket grouping, NOT a self-join: a self-join consumes the
    # banded relation (and the signature computation behind it) twice.
    # collect_list bounds each group by its bucket size — exactly the
    # quantity LSH is designed to keep small; pair expansion is a pure
    # array expression over the grouped ids (attribute references, cheap).
    buckets = (
        banded.groupBy("band_idx", "band_key")
        .agg(F.sort_array(F.collect_list(F.col(id_col))).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    if max_bucket is not None:
        buckets = buckets.filter(F.size("ids") <= max_bucket)
    pair_structs = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    return (
        buckets.select(F.explode(pair_structs).alias("p"))
        .groupBy(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_bands"))
    )


def shingle_sets(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3) -> DataFrame:
    """Distinct word-n-gram shingles per doc, exploded to rows
    (doc_id, set_size, shingle) — the co-group substrate for exact
    Jaccard/containment.

    ``set_size`` comes from a count-window over the EXPLODED rows, not
    ``size(arr)`` next to ``explode(arr)``: with both in one projection
    the optimizer evaluates the (expensive) tokenize+shingle expression
    twice per row — measured 1.16 s → 0.65 s for the sf0.1 explode.
    The window costs one narrow (id, shingle) shuffle; since the
    shingles are distinct per doc, the per-id row count IS the set
    size.  Sizes ride the exploded rows either way, so downstream pair
    scoring still never joins sizes onto the — much larger — pair
    table."""
    from pyspark.sql import Window

    from hpaste_spark.functions.text import word_shingles

    arr = F.array_distinct(word_shingles(F.col(text_col), n))
    ex = df.select(F.col(id_col), F.explode(arr).alias("shingle"))
    w = Window.partitionBy(id_col)
    return ex.withColumn("set_size", F.count(F.lit(1)).over(w)).select(
        id_col, "set_size", "shingle"
    )


#: default document-frequency cap for shingle buckets.  A shingle shared
#: by k docs contributes C(k,2) pair rows; boilerplate (licence headers,
#: navigation chrome) can push k to corpus scale and k² past any
#: executor.  Hot shingles carry no dedup signal — every doc "matches"
#: them — so dropping their buckets bounds the blow-up the same way
#: ``max_bucket`` does for LSH.  Inert on the driver fixtures (max df
#: 25 at sf0.1), so oracle results are unchanged there.
MAX_SHINGLE_DF = 1024


def _hashed(sh: DataFrame) -> DataFrame:
    """Replace the shingle string with its xxhash64 before the shuffle:
    grouping/shuffling on an 8-byte long instead of a ~30-byte 3-gram
    string (distinctness already computed on the exact strings).  A
    64-bit collision would merge two shingle buckets — probability
    ~|shingles|²/2⁶⁵, vanishing next to MinHash's own design error."""
    return sh.withColumn("shingle", F.xxhash64("shingle"))


def _shingle_pair_counts(sh: DataFrame, id_col: str, max_shingle_df: int | None) -> DataFrame:
    """(id_x, id_y, n_inter, size_x, size_y) with id_x < id_y from an
    exploded shingle table — via per-shingle bucket grouping, NOT a
    self-join.

    A self-join consumes the shingle pipeline (text scan, tokenize,
    shingle arrays, explode) twice — Spark does not reuse it across the
    join sides.  Grouping by shingle computes it once; the pair
    expansion is a pure array expression over each bucket's collected
    (id, size) structs, and the bucket's list size is exactly the
    quantity the ``max_shingle_df`` cap bounds — a capped bucket is
    dropped BEFORE the quadratic array is ever materialized (same
    reasoning as ``max_bucket`` in the LSH path).  Capped shingles stop
    contributing intersection evidence; set sizes still count them, so
    containment/Jaccard of surviving pairs are conservative
    (never overestimated) under the cap.
    """
    buckets = (
        sh.groupBy("shingle")
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col(id_col).alias("id"), F.col("set_size").alias("sz")))
            ).alias("docs")
        )
        .filter(F.size("docs") >= 2)
    )
    if max_shingle_df is not None:
        buckets = buckets.filter(F.size("docs") <= max_shingle_df)
    pair_structs = F.flatten(
        F.transform(
            F.col("docs"),
            lambda x, i: F.transform(
                F.slice(F.col("docs"), i + 2, F.size(F.col("docs"))),
                lambda y: F.struct(
                    x["id"].alias("id_x"),
                    y["id"].alias("id_y"),
                    x["sz"].alias("size_x"),
                    y["sz"].alias("size_y"),
                ),
            ),
        )
    )
    return (
        buckets.select(F.explode(pair_structs).alias("p"))
        .groupBy(F.col("p.id_x").alias("id_x"), F.col("p.id_y").alias("id_y"))
        .agg(
            F.count(F.lit(1)).alias("n_inter"),
            F.first("p.size_x").alias("size_x"),
            F.first("p.size_y").alias("size_y"),
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.1,
    max_shingle_df: int | None = MAX_SHINGLE_DF,
) -> DataFrame:
    """Exact shingle-set Jaccard ≥ threshold pairs.

    Distributed shape: explode shingles (set sizes riding along) →
    group by shingle → bounded per-bucket pair expansion
    (:func:`_shingle_pair_counts`; only docs sharing ≥1 shingle ever
    meet — shuffle on the shingle, never n²) → one agg producing
    intersection counts AND both sizes → Jaccard as a projection.
    """
    sh = _hashed(shingle_sets(df, text_col, id_col, n))
    inter = _shingle_pair_counts(sh, id_col, max_shingle_df).withColumnsRenamed(
        {"id_x": "id_a", "id_y": "id_b", "size_x": "size_a", "size_y": "size_b"}
    )
    return (
        inter.withColumn(
            "jaccard",
            F.round(F.col("n_inter") / (F.col("size_a") + F.col("size_b") - F.col("n_inter")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def repeated_ngram_spans(
    df: DataFrame,
    n: int = 5,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact repeated n-gram spans across documents — (shingle, n_docs,
    n_occurrences) for every n-gram appearing in ≥ ``min_docs`` distinct
    docs.  The span-level exact-substring dedup signal of Lee et al.
    2021 ("Deduplicating Training Data Makes Language Models Better"):
    document-level near-dup passes (MinHash) miss boilerplate /
    license-header / quoted spans repeated inside otherwise-distinct
    documents; this surfaces them for span REMOVAL rather than doc
    removal.

    Shape: one narrow shingle explode (zip_with chain — no O(tokens²)
    re-split) → ONE hash-agg keyed by the shingle computing
    count(*) + count(distinct doc) (Spark plans the distinct as the
    standard two-phase expand — both phases map-side combined) →
    having-filter.  The output is bounded by the repeated-span count,
    never the corpus; at 100 TB this is the same single-shuffle shape
    as word-count.
    """
    from hpaste_spark.functions.text import word_shingles

    ex = df.select(
        F.col(id_col), F.explode(word_shingles(F.col(text_col), n)).alias("shingle")
    )
    return (
        ex.groupBy("shingle")
        .agg(
            F.countDistinct(id_col).alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .filter(F.col("n_docs") >= min_docs)
    )


def winnow_fingerprint_sets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    w: int = 4,
) -> DataFrame:
    """Distinct winnowing fingerprints per doc, exploded to
    (doc_id, set_size, shingle) rows — the same co-group substrate
    shape as ``shingle_sets`` but over the ~2/(w+1)-density MOSS
    selection instead of every shingle, so the downstream pair shuffle
    moves a fraction of the rows for the same guaranteed-match length
    (>= n+w-1 tokens).  ``set_size`` via the count-window for the same
    double-evaluation reason documented on shingle_sets."""
    from pyspark.sql import Window

    from hpaste_spark.functions.text import shingle_hashes, winnow_select

    # two-step select: the hash array becomes an attribute BEFORE the
    # window-min chain references it ~2w times (see winnow_select)
    base = df.select(F.col(id_col), shingle_hashes(F.col(text_col), n).alias("_h"))
    ex = base.select(
        F.col(id_col), F.explode(winnow_select(F.col("_h"), w)).alias("shingle")
    )
    win = Window.partitionBy(id_col)
    return ex.withColumn("set_size", F.count(F.lit(1)).over(win)).select(
        id_col, "set_size", "shingle"
    )


def winnow_overlap_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    w: int = 4,
    min_common: int = 2,
    max_fp_df: int | None = MAX_SHINGLE_DF,
) -> DataFrame:
    """(id_a, id_b, n_common) — document pairs sharing >= ``min_common``
    winnowing fingerprints.  The plagiarism/boilerplate-overlap detector
    at fingerprint density instead of full-shingle density: the bucket
    grouping, quadratic-guard cap, and never-self-join reuse
    ``_shingle_pair_counts`` verbatim (fingerprints are already 64-bit
    hashes, so the xxhash64 pre-hash step is skipped)."""
    sets = winnow_fingerprint_sets(df, text_col, id_col, n, w)
    pairs = _shingle_pair_counts(sets, id_col, max_fp_df)
    return (
        pairs.filter(F.col("n_inter") >= min_common)
        .select(
            F.col("id_x").alias("id_a"),
            F.col("id_y").alias("id_b"),
            F.col("n_inter").alias("n_common"),
        )
    )


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = MAX_SHINGLE_DF,
) -> DataFrame:
    """Asymmetric shingle containment: |A∩B| / |A| ≥ threshold pairs,
    oriented so id_a is the CONTAINED (smaller-set) side.

    Jaccard misses quote/excerpt duplication: a 100-word doc pasted
    into a 10,000-word doc has Jaccard ≈ 0.01 but containment ≈ 1.0 —
    the contained doc contributes no new training signal and should be
    dropped by a dedup pass even though symmetric similarity is tiny.

    Same distributed shape as ngram_jaccard_pairs (shuffle on the
    shingle, bounded per-bucket expansion, never n²); orientation by
    set size (tie → lower id contained) instead of id order, since
    containment is directional.
    """
    sh = _hashed(shingle_sets(df, text_col, id_col, n))
    inter = _shingle_pair_counts(sh, id_col, max_shingle_df)
    oriented = (
        inter.select(
            F.when(F.col("size_x") <= F.col("size_y"), F.col("id_x")).otherwise(F.col("id_y")).alias("id_a"),
            F.when(F.col("size_x") <= F.col("size_y"), F.col("id_y")).otherwise(F.col("id_x")).alias("id_b"),
            F.col("n_inter"),
            F.least("size_x", "size_y").alias("size_a"),
        )
    )
    return (
        oriented.withColumn("containment", F.round(F.col("n_inter") / F.col("size_a"), 6))
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "containment")
    )


def edit_distance_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_edits: int = 20,
    num_hashes: int = 16,
    bands: int = 4,
    shingle: int = 3,
    max_bucket: int | None = None,
) -> DataFrame:
    """Near-dup pairs VERIFIED BY EXACT EDIT DISTANCE (the RETSim /
    SuperMinHash-verify posture): MinHash-LSH blocks the candidates,
    then each surviving pair pays one exact Levenshtein check and only
    pairs within ``max_edits`` character edits are reported —
    (id_a, id_b, edit_distance).

    Why this exists next to the Jaccard stack: shingle Jaccard can't
    see BLOCK MOVES — a doc with two swapped halves keeps nearly all
    its shingles (Jaccard ≈ 1) while sitting half-a-document of edits
    away, and conversely one repeated find-and-replace kills many
    shingles while costing few edits.  Edit distance is the
    character-level ground truth, but O(len²) per PAIR — viable only
    AFTER blocking, never as the candidate metric (which is exactly
    how RETSim-class systems deploy it: ANN/LSH recall stage, exact
    verify stage).  The verify joins the candidate ids back to their
    texts (two id-equi joins), and Spark's ``levenshtein`` takes the
    threshold so the DP can early-exit rows whose distance already
    exceeds ``max_edits`` (returns −1, filtered).

    Recall contract is inherited from the blocking stage: a pair
    missed by every band is not checked (same LSH amplification as
    dedup_minhash_lsh); at the default 4×4 signature, pairs within a
    few dozen edits of each other on realistic documents share most
    shingles and block reliably."""
    cand = minhash_lsh_candidates(
        df, text_col, id_col, num_hashes, bands, shingle, max_bucket
    ).select("id_a", "id_b")
    t = df.select(F.col(id_col), F.col(text_col))
    ta = t.select(F.col(id_col).alias("id_a"), F.col(text_col).alias("_ta"))
    tb = t.select(F.col(id_col).alias("id_b"), F.col(text_col).alias("_tb"))
    return (
        cand.join(ta, "id_a")
        .join(tb, "id_b")
        .withColumn(
            "edit_distance",
            F.levenshtein(F.col("_ta"), F.col("_tb"), max_edits).cast("long"),
        )
        .filter(F.col("edit_distance") >= 0)
        .select("id_a", "id_b", "edit_distance")
    )


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = SIMHASH_BITS) -> DataFrame:
    """SimHash: per token hash, vote ±1 on each of `bits` bit positions;
    bit set iff the vote sum is positive.  Whole computation is nested
    array expressions (token array → hash array → per-bit fold) — one
    narrow projection, no shuffle, no UDF.

    Single fold over the token hashes with a bits-wide vote accumulator:
    a per-bit outer transform would re-evaluate the token-hash array
    (one md5 per token) once per bit, since lambda-body subexpressions
    run per element."""
    from hpaste_spark.functions.text import token_hash

    tok_hashes = F.transform(F.array_distinct(tokens(F.col(text_col))), token_hash)
    # bit i of h extracted arithmetically ((h / 2^i) is exact in doubles
    # for h < 2^53) because shiftright needs a literal bit count while i
    # here is a lambda variable
    pow2 = lambda i: F.pow(F.lit(2.0), i)  # noqa: E731
    bit_seq = F.sequence(F.lit(0), F.lit(bits - 1))
    bit_votes = F.aggregate(
        tok_hashes,
        F.array_repeat(F.lit(0).cast("long"), bits),
        lambda acc, h: F.zip_with(
            acc,
            bit_seq,
            lambda a, i: a
            + F.when(F.floor(h / pow2(i)).cast("long") % 2 == 1, F.lit(1)).otherwise(F.lit(-1)),
        ),
    )
    fingerprint = F.aggregate(
        F.zip_with(
            bit_votes,
            F.sequence(F.lit(0), F.lit(bits - 1)),
            lambda v, i: F.when(v > 0, pow2(i).cast("long")).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return df.select(F.col(id_col), fingerprint.alias("simhash"))


def _bucket_pairs(buckets: DataFrame, max_bucket: int | None) -> DataFrame:
    """Expand sorted per-bucket id lists into distinct (id_a < id_b)
    pairs.  ``max_bucket`` skips degenerate buckets (an all-identical
    corpus would otherwise collect one giant bucket and OOM an executor
    on the |bucket|² expansion); skipped buckets are non-discriminative
    by definition — their members still pair up through any other band
    where they differ."""
    sized = buckets.filter(F.size("ids") >= 2)
    if max_bucket is not None:
        sized = sized.filter(F.size("ids") <= max_bucket)
    pair_structs = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    return sized.select(F.explode(pair_structs).alias("p")).select("p.id_a", "p.id_b").distinct()


def simhash_band_keys(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bands: int = 4,
    bits: int = SIMHASH_BITS,
) -> DataFrame:
    """(id, band_idx, band_key) rows: the `bits`-bit fingerprint split
    into `bands` contiguous bit slices (sizes differ by ≤1).  Pigeonhole
    guarantee: two fingerprints within hamming distance `bands - 1`
    match EXACTLY in at least one band — banding is lossless up to that
    distance, unlike probabilistic LSH."""
    s = simhash(df, text_col, id_col, bits)
    base, extra = divmod(bits, bands)
    entries, offset = [], 0
    for b in range(bands):
        width = base + (1 if b < extra else 0)
        # offset/width are Python literals, so shiftright codegens
        key = F.shiftright(F.col("simhash"), offset) % (2**width)
        entries.append(F.struct(F.lit(b).alias("band_idx"), key.alias("band_key")))
        offset += width
    return s.select(
        F.col(id_col), F.col("simhash"), F.explode(F.array(*entries)).alias("band")
    ).select(id_col, "simhash", "band.band_idx", "band.band_key")


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bits: int = SIMHASH_BITS,
    bands: int | None = None,
    max_bucket: int | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance ≤ max_hamming, via
    bit-band blocking: equi-join on (band_idx, band_key) buckets, then
    the exact hamming check on the candidates.

    With ``bands = max_hamming + 1`` (the default) the result EQUALS the
    brute-force n² join — pigeonhole: ≤ max_hamming differing bits can't
    touch all bands, so every qualifying pair shares one exact band
    bucket.  Candidates never form a cartesian; the plan is
    explode → hash-agg buckets → pair expansion → hash-join verify."""
    bands = bands if bands is not None else max_hamming + 1
    keys = simhash_band_keys(df, text_col, id_col, bands, bits)
    buckets = keys.groupBy("band_idx", "band_key").agg(
        F.sort_array(F.collect_list(F.col(id_col))).alias("ids")
    )
    pairs = _bucket_pairs(buckets, max_bucket)
    fp = keys.select(F.col(id_col), "simhash").distinct()
    fa = fp.select(F.col(id_col).alias("id_a"), F.col("simhash").alias("sim_a"))
    fb = fp.select(F.col(id_col).alias("id_b"), F.col("simhash").alias("sim_b"))
    ham = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return (
        pairs.join(fa, "id_a")
        .join(fb, "id_b")
        .select("id_a", "id_b", ham.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


def embedding_neardup_pairs_bruteforce(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id", threshold: float = 0.4
) -> DataFrame:
    """Exact cosine-threshold pairs via the n²/2 inequality join.
    BOUNDED SUBSETS ONLY (the join is a cartesian): this is the recall
    oracle for the blocked variant below, not a shipped scale path."""
    from hpaste_spark.functions.vectors import cosine

    a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("cos_raw", cosine(F.col("va"), F.col("vb")))
        .filter(F.col("cos_raw") >= threshold)
        .select("id_a", "id_b", F.round("cos_raw", 6).alias("cos_sim"))
    )


def embedding_neardup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.4,
    bands: int = 8,
    planes_per_band: int = 4,
    max_bucket: int | None = None,
) -> DataFrame:
    """Cosine-threshold near-dup pairs via banded hyperplane-LSH
    blocking: candidates are pairs sharing at least one band's sign
    pattern (equi-join-able key — NO cartesian anywhere in the plan),
    verified by exact cosine ≥ threshold.

    Recall is the standard OR-of-ANDs LSH amplification
    1-(1-p^r)^L with p = 1-θ/π: near-identical vectors (cos ≥ 0.9,
    p ≥ 0.86) are found with ≥ 0.95 probability at the defaults; at
    the loose θ≈66° end (cos 0.4, p≈0.64) measured recall on the
    sf0.01 fixture is 36/59 ≈ 0.61 vs the brute-force oracle — the
    regime where hyperplane LSH is weakest.  More/wider bands raise
    it; the parameters trade candidate volume against recall.

    Scale shape: band keys from one narrow (id, j) hash-agg
    (similarity.hyperplane_band_keys — integer-quantized, fold-order
    deterministic); per-bucket pair expansion with the
    ``max_bucket`` degenerate-bucket cap; verify joins fetch the two
    vectors by id (shuffle hash join on the id, linear in candidates).
    """
    from hpaste_spark.functions.vectors import cosine
    from hpaste_spark.operators.similarity import hyperplane_band_keys

    from hpaste_spark.functions.vectors import dot

    keys = hyperplane_band_keys(df, vec_col, id_col, bands, planes_per_band)
    buckets = keys.groupBy("band_idx", "band_key").agg(
        F.sort_array(F.collect_list(F.col(id_col))).alias("ids")
    )
    pairs = _bucket_pairs(buckets, max_bucket)
    # norms hoisted per ROW (not recomputed per candidate pair inside
    # cosine(); same arithmetic, bit-identical values)
    va = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va")).withColumn(
        "_na", F.sqrt(dot(F.col("va"), F.col("va")))
    )
    vb = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb")).withColumn(
        "_nb", F.sqrt(dot(F.col("vb"), F.col("vb")))
    )
    denom = F.col("_na") * F.col("_nb")
    return (
        pairs.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn(
            "cos_raw",
            F.when(denom == 0, F.lit(0.0)).otherwise(dot(F.col("va"), F.col("vb")) / denom),
        )
        .filter(F.col("cos_raw") >= threshold)
        .select("id_a", "id_b", F.round("cos_raw", 6).alias("cos_sim"))
    )


def semantic_dedup(
    df: DataFrame,
    k_centroids: "int | None" = None,
    threshold: float = 0.9,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    iterations: int = 1,
    max_cluster: "int | None" = None,
    target_cluster_size: int = 512,
    k_min: int = 8,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): cluster embeddings with k-means,
    then inside each cluster drop every vector that has an
    above-threshold cosine neighbor CLOSER to the centroid — semantic
    near-duplicates are pruned while one representative (the most
    central copy, the paper's keep rule) survives.  Returns the kept
    rows as (id, cid, centroid_sim).

    Unlike the LSH near-dup paths (which find lexical/embedding
    near-IDENTICAL pairs), clustering first makes the quadratic step
    local: the only pair expansion is a cid equi-join, so total work is
    Σ|cluster|² — bounded by keeping cluster size ~n/k constant, i.e.
    ``k_centroids`` MUST scale with corpus size (the paper uses k in
    the tens of thousands at 100M+ points; at 100 TB, build the
    clusters once via :func:`~hpaste_spark.operators.similarity.
    build_ivf_index` and run per-cid).  The DEFAULT
    (``k_centroids=None``) therefore derives k from the corpus:
    ``k = max(k_min, ceil(n / target_cluster_size))`` via one
    metadata-cheap count — pair work stays ~n·target_cluster_size
    (linear in n) no matter how large the input grows, which is the
    fix for the measured α=1.25 super-linearity at a PINNED k
    (SCALE.md round 4).  Pass an explicit ``k_centroids`` only when
    the cluster count itself is the contract (e.g. a cross-engine
    oracle that must reproduce the exact seeding).  ``max_cluster``
    optionally caps each cluster's PAIR EXPANSION to its most-central
    members (deterministic (cc desc, id) rank, same posture as the LSH
    ``max_bucket`` guards) so one degenerate mega-cluster cannot go
    quadratic; rows ranked beyond the cap skip the neighbor test but
    STAY in the output (they are never dropped — only ids that lose a
    tested pair are).

    Keep rule determinism: a pair (a < b) above threshold drops the
    member with the LOWER centroid-cosine, ties drop the higher id —
    pure expressions over values both engines compute identically, so
    the kept-row SET is the oracle contract.

    **Auto-k routes HIERARCHICAL** (round-6 verdict): with
    ``k_centroids=None``, k grows ∝ n by contract, so FLAT assignment
    is n·k·d ≈ n²·d/target — the one super-linear term left at design
    scale (30× probe: α=0.87 flat vs 0.43 two-level).  The default
    therefore delegates to :func:`semantic_dedup_two_level` (k1=⌈√k⌉
    coarse cells, k2=⌈k/k1⌉ sub-centroids → n·2√k·d assignment); the
    keep rule is byte-identical either way (shared
    :func:`_semantic_prune`).  Flat assignment remains available via
    an EXPLICIT ``k_centroids`` — the right tool when k is a fixed
    small contract, where flat is both cheaper and simpler."""
    from pyspark.sql import Window

    from hpaste_spark.functions.vectors import as_double, dot
    from hpaste_spark.operators.similarity import (_vec_dim, ivf_assign,
                                                   ivf_centroids)

    if k_centroids is None:
        if iterations != 1:
            raise ValueError(
                "auto-k semantic_dedup routes through hierarchical "
                "assignment, which refines per level and takes no "
                "iterations knob; pass an explicit k_centroids to use "
                "flat Lloyd refinement"
            )
        return semantic_dedup_two_level(
            df,
            threshold=threshold,
            vec_col=vec_col,
            id_col=id_col,
            max_cluster=max_cluster,
            target_cluster_size=target_cluster_size,
            k_min=k_min,
        )
    cents = ivf_centroids(df, k_centroids, vec_col, id_col, iterations)
    # k·d gates the centroid-dim broadcast: under auto-k that table is
    # ~n·d/512 rows (linear in the corpus) — above the ceiling the
    # assignment join degrades to a shuffle instead of a broadcast OOM
    assign = ivf_assign(
        df, cents, vec_col, id_col, with_score=True,
        n_dim_rows=k_centroids * _vec_dim(df, vec_col),
    )
    m = (
        df.select(F.col(id_col), as_double(F.col(vec_col)).alias("_e"))
        # norm hoisted per ROW: the pair step below would otherwise fold
        # both 64-element norms once per CANDIDATE PAIR (3 array folds
        # per pair instead of 1 — measured 3.4x on the sf0.1 bench).
        # sqrt(dot(e,e)) here times sqrt(dot(e,e)) there is bit-identical
        # to cosine()'s norm(a)*norm(b).
        .withColumn("_n", F.sqrt(dot(F.col("_e"), F.col("_e"))))
        .join(assign, id_col)
    )
    # _semantic_prune consumes m THREE times (pair sides a and b, plus
    # the final kept-set anti-join) — without a cut the whole
    # cluster+assign lineage above re-executes per consumer (r13
    # measurement: 32 exchanges / 18 scans in the flat plan, 3x the
    # single-pass shape).  Lazy DISK_ONLY per the corpus-memory rule;
    # values are unchanged (the checkpoint materializes the rows the
    # replayed lineage would deterministically recompute).
    from pyspark.storagelevel import StorageLevel

    m = m.localCheckpoint(eager=False, storageLevel=StorageLevel.DISK_ONLY)
    return _semantic_prune(m, threshold, id_col, max_cluster)


def _semantic_prune(
    m: DataFrame,
    threshold: float,
    id_col: str,
    max_cluster: "int | None",
) -> DataFrame:
    """The SemDeDup keep rule over an assignment table ``m`` with
    columns (id, _e vector, _n norm, cid, cc): expand within-cid pairs,
    drop the less-central member of every above-threshold pair, return
    the kept rows as (id, cid, centroid_sim).  Shared by the flat and
    two-level clusterings — the keep rule is identical; only how
    ``cid``/``cc`` were produced differs."""
    from pyspark.sql import Window

    from hpaste_spark.functions.vectors import dot

    # the cap narrows only the pair-EXPANSION sides; the kept-set is
    # anti-joined from the UNCAPPED assignment, so capped-out rows
    # survive untested instead of vanishing from the output
    mp = m
    if max_cluster is not None:
        w = Window.partitionBy("cid").orderBy(F.col("cc").desc(), F.col(id_col))
        mp = m.withColumn("_rk", F.row_number().over(w)).filter(
            F.col("_rk") <= max_cluster
        ).drop("_rk")
    a = mp.select(
        F.col(id_col).alias("id_a"), "cid", F.col("cc").alias("ca"),
        F.col("_e").alias("ea"), F.col("_n").alias("_na"),
    )
    b = mp.select(
        F.col(id_col).alias("id_b"), "cid", F.col("cc").alias("cb"),
        F.col("_e").alias("eb"), F.col("_n").alias("_nb"),
    )
    denom = F.col("_na") * F.col("_nb")
    losers = (
        a.join(b, "cid")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cos_raw",
            F.when(denom == 0, F.lit(0.0)).otherwise(
                dot(F.col("ea"), F.col("eb")) / denom
            ),
        )
        .filter(F.col("cos_raw") >= threshold)
        # id_a < id_b here, so "ties drop the higher id" is ca >= cb -> b
        .select(
            F.when(F.col("ca") >= F.col("cb"), F.col("id_b"))
            .otherwise(F.col("id_a"))
            .alias(id_col)
        )
        .distinct()
    )
    return m.join(losers, id_col, "left_anti").select(
        F.col(id_col),
        "cid",
        (F.round(F.col("cc"), 6) + F.lit(0.0)).alias("centroid_sim"),
    )


def keep_best_per_cluster(
    df: DataFrame,
    pairs: DataFrame,
    quality,
    id_col: str = "doc_id",
) -> DataFrame:
    """Duplicate-cluster survivor selection by QUALITY, not id order:
    real pipelines keep the best copy of a duplicated document (longest,
    cleanest, least boilerplate), not the one with the smallest key.

    ``pairs`` is any candidate duplicate-pair table (id_a, id_b) — LSH
    output upstream; ``quality`` is a Column expression evaluated per
    row of ``df``.  Docs in no pair survive as their own singleton
    cluster (COALESCE of the cluster id with the doc id), so the output
    is one row per surviving doc: (id, quality).

    Scale shape: connected components over the pair graph (one shuffle
    per round, O(log d) star variant available), one shuffle join to
    attach cluster ids, and a per-cluster window — cluster sizes are
    bounded by dedup blocking, so no window partition is hot.  Quality
    must be a ROUNDED expression (the 4-dp composite here) so the
    argmax can't flip on fp noise; ties break on the id.
    """
    from pyspark.sql import Window

    from hpaste_spark.operators.graph import connected_components

    comp = connected_components(pairs, src="id_a", dst="id_b")
    scored = df.select(F.col(id_col), quality.alias("quality"))
    withc = scored.join(
        comp, scored[id_col] == comp["node"], "left"
    ).select(
        scored[id_col],
        "quality",
        F.coalesce(F.col("cluster_id"), scored[id_col]).alias("_ck"),
    )
    w = Window.partitionBy("_ck").orderBy(F.col("quality").desc(), F.col(id_col))
    return (
        withc.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(id_col, "quality")
    )


def cross_containment_pairs(
    train: DataFrame,
    evals: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = MAX_SHINGLE_DF,
) -> DataFrame:
    """Eval-set contamination detection: (eval_id, train_id, containment)
    pairs where ``containment = |shingles(eval) ∩ shingles(train)| /
    |shingles(eval)|`` ≥ threshold — the decontamination primitive run
    before any benchmark number is trusted.  The EVAL side is always
    the containment denominator (a benchmark item quoted inside a big
    training doc is contaminated no matter how large that doc is).

    Same blocked shape as :func:`containment_pairs` but across two
    corpora: union the exploded shingle tables with a side tag, group by
    shingle once, and expand eval×train pairs per bucket — only
    co-shingled (train, eval) docs ever meet, never |train|×|eval|, and
    the ``max_shingle_df`` cap bounds each side of a bucket before the
    cross array is materialized (boilerplate shared by both corpora is
    exactly where the k_eval × k_train blow-up lives).
    """
    ev = _hashed(shingle_sets(evals, text_col, id_col, n)).withColumn("_side", F.lit(0))
    tr = _hashed(shingle_sets(train, text_col, id_col, n)).withColumn("_side", F.lit(1))
    # collect_list skips nulls, so the per-side WHEN splits one grouping
    # into the two bucket lists — a single shuffle on the shingle
    doc = F.struct(F.col(id_col).alias("id"), F.col("set_size").alias("sz"))
    buckets = (
        ev.unionByName(tr)
        .groupBy("shingle")
        .agg(
            F.collect_list(F.when(F.col("_side") == 0, doc)).alias("evals"),
            F.collect_list(F.when(F.col("_side") == 1, doc)).alias("trains"),
        )
        .filter((F.size("evals") >= 1) & (F.size("trains") >= 1))
    )
    if max_shingle_df is not None:
        buckets = buckets.filter(
            (F.size("evals") <= max_shingle_df) & (F.size("trains") <= max_shingle_df)
        )
    pair_structs = F.flatten(
        F.transform(
            F.col("evals"),
            lambda e: F.transform(
                F.col("trains"),
                lambda t: F.struct(
                    e["id"].alias("eval_id"),
                    t["id"].alias("train_id"),
                    e["sz"].alias("eval_size"),
                ),
            ),
        )
    )
    inter = (
        buckets.select(F.explode(pair_structs).alias("p"))
        .groupBy(F.col("p.eval_id").alias("eval_id"), F.col("p.train_id").alias("train_id"))
        .agg(F.count(F.lit(1)).alias("n_inter"), F.first("p.eval_size").alias("eval_size"))
    )
    return (
        inter.withColumn("containment", F.round(F.col("n_inter") / F.col("eval_size"), 6))
        .filter(F.col("containment") >= threshold)
        .select("eval_id", "train_id", "containment")
    )


def pair_eval(
    candidates: DataFrame,
    truth: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """One-row precision/recall/F1 of a candidate pair set against a
    ground-truth pair set — the dedup-pipeline QA step: "what recall
    does this LSH parameterization actually buy, and at what candidate
    volume?".  Both inputs are (id_a, id_b) tables (id_a < id_b by the
    pair-generator contract); dedup'd here defensively.

    Shape: one full-outer equi-join on the pair key + one global
    aggregate — never materializes anything wider than the union of
    the two pair sets.  Metrics rounded to 6 dp; empty-side edge
    cases report 0.0 (not NULL) so monitors can threshold them."""
    c = candidates.select(id_a, id_b).distinct().withColumn("_c", F.lit(1))
    t = truth.select(id_a, id_b).distinct().withColumn("_t", F.lit(1))
    j = c.join(t, [id_a, id_b], "full_outer")
    agg = j.agg(
        F.coalesce(F.sum("_c"), F.lit(0)).cast("long").alias("n_candidates"),
        F.coalesce(F.sum("_t"), F.lit(0)).cast("long").alias("n_truth"),
        F.coalesce(F.sum(F.col("_c") * F.col("_t")), F.lit(0))
        .cast("long")
        .alias("n_hit"),
    )
    p = F.when(F.col("n_candidates") > 0, F.col("n_hit") / F.col("n_candidates")).otherwise(F.lit(0.0))
    r = F.when(F.col("n_truth") > 0, F.col("n_hit") / F.col("n_truth")).otherwise(F.lit(0.0))
    return agg.select(
        "n_candidates",
        "n_truth",
        "n_hit",
        F.round(p, 6).alias("precision"),
        F.round(r, 6).alias("recall"),
        F.round(
            F.when(p + r > 0, 2 * p * r / (p + r)).otherwise(F.lit(0.0)), 6
        ).alias("f1"),
    )


def prefix_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: "int | None" = None,
) -> DataFrame:
    """LOSSLESS prefix-filtered exact-Jaccard pairs (the PPJoin family,
    Xiao et al. 2008): identical output to :func:`ngram_jaccard_pairs`
    at the same threshold, from far fewer candidates.

    Losslessness holds at the default ``max_shingle_df=None``: unlike
    the full-shingle LSH paths, a dropped prefix posting can be a
    pair's ONLY candidate route, so capping here trades completeness
    for a bound on degenerate buckets — opt in explicitly when a
    corpus has pathological prefix skew and a recall dip is acceptable
    (prefixes are the globally RAREST shingles, so in practice the
    postings stay short without a cap).

    Shingles get a GLOBAL rarity order (document frequency, shingle);
    each doc indexes only its PREFIX — the first
    ``|s| − ⌈t·|s|⌉ + 1`` shingles in that order.  Any pair with
    J ≥ t shares at least one prefix shingle (pigeonhole on the
    required overlap), so the candidate set is complete, and because
    prefixes are the RAREST shingles, their postings are short — the
    frequent-shingle buckets that force ngram_jaccard_pairs' df cap
    mostly never get indexed at all.  Candidates are then verified
    with the exact full-set intersection.

    Shuffles: one (id, shingle) df-join + per-id rank window
    (PARTITIONED by id — bounded sort), one bucket-grouped pair
    expansion over prefix postings, one id-keyed verify join against
    the full shingle arrays."""
    if not (0 < threshold <= 1):
        raise ValueError("threshold must be in (0, 1]")
    from pyspark.sql import Window

    from hpaste_spark.functions.text import word_shingles

    # xxhash64 the shingles up front: every downstream shuffle (df
    # count, rank window, postings) and the verify-stage intersection
    # then works on 8-byte longs instead of ~30-byte 3-gram strings —
    # measured 7.3 s -> 5.3 s at sf0.1.  A 64-bit collision merging two
    # shingles inside one doc pair shifts a jaccard by ~1/|set| with
    # probability ~|set|^2/2^65 — the same vanishing-error posture as
    # _hashed documents for the bucket paths.
    sets = _hashed(shingle_sets(df, text_col, id_col, n))
    dfreq = sets.groupBy("shingle").agg(F.count(F.lit(1)).alias("_df"))
    ranked = sets.join(dfreq, "shingle")
    w = Window.partitionBy(id_col).orderBy("_df", "shingle")
    # ceil over a 9dp-rounded product, NOT the raw double: when t·|s|
    # is an exact integer whose binary product overshoots (0.55×100 =
    # 55.000000000000004), raw ceil lands one too high and the prefix
    # one too SHORT — silently breaking the completeness pigeonhole.
    # 9dp absorbs the ~1 ulp overshoot while never crossing a real
    # fractional boundary for any threshold a caller can express.
    prefix_len = (
        F.col("set_size")
        - F.ceil(F.round(F.lit(threshold) * F.col("set_size"), 9))
        + 1
    )
    prefix = (
        ranked.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= prefix_len)
        .select(id_col, "set_size", "shingle")
    )
    cand = _shingle_pair_counts(prefix, id_col, max_shingle_df).select(
        "id_x", "id_y"
    )
    arrs = df.select(
        F.col(id_col),
        F.transform(
            F.array_distinct(word_shingles(F.col(text_col), n)),
            lambda s: F.xxhash64(s),
        ).alias("_sh"),
    ).filter(F.size("_sh") > 0)
    a = arrs.select(F.col(id_col).alias("id_x"), F.col("_sh").alias("_sa"))
    b = arrs.select(F.col(id_col).alias("id_y"), F.col("_sh").alias("_sb"))
    inter = F.size(F.array_intersect("_sa", "_sb"))
    union = F.size("_sa") + F.size("_sb") - inter
    return (
        cand.join(a, "id_x")
        .join(b, "id_y")
        .withColumn("jaccard", F.round(inter / union, 6))
        .filter(F.col("jaccard") >= threshold)
        .select(
            F.col("id_x").alias("id_a"),
            F.col("id_y").alias("id_b"),
            "jaccard",
        )
    )


def _materialize_corpus_table(df: DataFrame, storage: str) -> DataFrame:
    """Cut the lineage of an O(corpus) intermediate consumed by many
    branches.  ``'disk'`` (DEFAULT) = lazy persist(DISK_ONLY) — no
    executor-memory claim at all; ``'checkpoint'`` = eager
    localCheckpoint (block manager, memory-and-disk deserialized).
    The default was MEASURED, not assumed (round-9 verdict ask #3,
    numbers in SCALE.md): at the 30× probe for dedup_weighted_jaccard
    the checkpoint form OOMs the default 8 GiB heap outright, and even
    at 16 GiB it runs ~2× SLOWER than DISK_ONLY (243 s vs 112 s best-
    of-2) — the deserialized cached rows crowd the unified memory the
    pair-join stages need and the job thrashes GC.  DISK_ONLY completes
    at the default heap (131 s) because the corpus table spills
    serialized to local disk and execution keeps the heap.  That is the
    100 TB posture stated generally: corpus-sized intermediates must
    never claim executor storage memory."""
    if storage == "disk":
        from pyspark.storagelevel import StorageLevel

        return df.persist(StorageLevel.DISK_ONLY)
    if storage != "checkpoint":
        raise ValueError(f"storage must be 'checkpoint' or 'disk': {storage}")
    return df.localCheckpoint()


def weighted_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold_num: int = 1,
    threshold_den: int = 2,
    corpus_storage: str = "disk",
) -> DataFrame:
    """LOSSLESS prefix-filtered IDF-WEIGHTED Jaccard pairs: like
    :func:`prefix_jaccard_pairs`, but every shingle carries an integer
    rarity weight w = bit_length(N // df) (an idf in whole bits —
    log2 via binary-digit count, the sketches.hdr_sketch integer-only
    idiom, so no libm and no float anywhere), and a pair qualifies
    when  Σ_{shared} w  /  Σ_{union} w  ≥  threshold_num/threshold_den
    — rare shared shingles count for much more than boilerplate.  This
    is the weighted set-similarity posture of Chaudhuri et al. 2006
    (SSJoin) / Xiao et al. 2008 (PPJoin) with integer weights; vs the
    unweighted Jaccard it stops a pair of docs that share only a
    common template from qualifying while two docs sharing a rare
    paragraph still do.

    Completeness of the prefix filter (proved on the weighted form):
    order shingles by the global rarity order (df, key); a doc's
    PREFIX is every position i whose tail weight rem(i) = Σ_{j≥i} w
    satisfies rem(i)·den ≥ num·w(doc).  If WJ(A,B) ≥ θ, let t* be the
    first shared shingle in the global order; were t* beyond A's
    prefix, ALL shared shingles would sit in A's tail (they order
    after t*), so Σ_shared w ≤ rem < θ·w(A) ≤ θ·w(A∪B) — contradiction;
    hence t* is in BOTH prefixes and the prefix self-join sees every
    qualifying pair.  No df cap: prefixes are the globally rarest
    shingles, so their postings are short by construction.

    Shingle keys are 52-bit md5 prefixes (functions.text.token_hash) —
    the SAME digest DuckDB computes, so a key collision (≈ m²/2⁵³)
    perturbs both engines identically and the output stays exactly
    integer: (id_a, id_b, inter_w, union_w, wj_ppm).

    Shuffles at 100 TB: one (id, key) distinct, one df hash-agg, one
    per-doc rank window (bounded by doc shingle count), one prefix
    self-join on the key, and one pair-keyed verify agg — every stage
    an equi-join/agg on a bounded key, no all-pairs anywhere."""
    if not (0 < threshold_num <= threshold_den):
        raise ValueError("threshold must be in (0, 1]")
    from pyspark.sql import Window

    from hpaste_spark.functions.text import token_hash, word_shingles

    # the (doc, key) set table feeds df-counts, N, the prefix window,
    # BOTH verify sides, and the per-doc weights — materialize it once
    # (and the weighted table once more): re-deriving the lineage per
    # branch re-scanned + re-shingled the corpus 18× (the hll_rollup
    # two-branch lesson; measured in this query's first plan audit).
    # DISK_ONLY by default — see _materialize_corpus_table for the
    # measured OOM/2×-slowdown that ruled out localCheckpoint here
    sets = (
        df.select(
            F.col(id_col).alias("_id"),
            F.explode(
                F.array_distinct(word_shingles(F.col(text_col), n))
            ).alias("_sh"),
        )
        .select("_id", token_hash(F.col("_sh")).alias("_sk"))
        .distinct()  # md5-52bit collisions inside one doc collapse
    )
    sets = _materialize_corpus_table(sets, corpus_storage)
    dfreq = sets.groupBy("_sk").agg(F.count(F.lit(1)).alias("_df"))
    ndocs = sets.agg(F.countDistinct("_id").alias("_n"))
    tw = (
        sets.join(dfreq, "_sk")
        .crossJoin(F.broadcast(ndocs))
        .withColumn(
            "_w",
            F.length(
                F.conv(F.expr("_n div _df").cast("string"), 10, 2)
            ).cast("long"),
        )
        .select("_id", "_sk", "_df", "_w")
    )
    tw = _materialize_corpus_table(tw, corpus_storage)
    wdoc = Window.partitionBy("_id")
    worder = Window.partitionBy("_id").orderBy("_df", "_sk")
    ranked = tw.withColumn("_wd", F.sum("_w").over(wdoc)).withColumn(
        "_rem",
        F.col("_wd")
        - F.coalesce(
            F.sum("_w").over(
                worder.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    )
    prefix = ranked.filter(
        F.col("_rem") * threshold_den >= threshold_num * F.col("_wd")
    ).select("_id", "_sk")
    # prefix feeds BOTH self-join sides, and one side sits under a
    # BroadcastExchange — physically different subtrees, so Spark's
    # exchange reuse can never fire and the per-doc rank window (an
    # exchange + two window passes over the corpus-sized tw) ran once
    # PER SIDE (r14; plan evidence plans/r14/dedup_weighted_jaccard_*).
    # One DISK_ONLY cut computes it once.  Measured at sf0.1:
    # 5.46 -> 4.96 best-of-3 (cache-cleared reps), output identical.
    prefix = _materialize_corpus_table(prefix, corpus_storage)
    cand = (
        prefix.alias("pa")
        .join(prefix.alias("pb"), "_sk")
        .filter(F.col("pa._id") < F.col("pb._id"))
        .select(
            F.col("pa._id").alias("id_a"), F.col("pb._id").alias("id_b")
        )
        .distinct()
    )
    ta = tw.select(
        F.col("_id").alias("id_a"), "_sk", F.col("_w").alias("_wa")
    )
    tb = tw.select(F.col("_id").alias("id_b"), "_sk")
    inter = (
        cand.join(ta, "id_a")
        .join(tb, ["id_b", "_sk"])
        .groupBy("id_a", "id_b")
        .agg(F.sum("_wa").alias("inter_w"))
    )
    dw = tw.groupBy("_id").agg(F.sum("_w").alias("_wd"))
    return (
        inter.join(dw.select(F.col("_id").alias("id_a"), F.col("_wd").alias("_wda")), "id_a")
        .join(dw.select(F.col("_id").alias("id_b"), F.col("_wd").alias("_wdb")), "id_b")
        .withColumn("union_w", F.col("_wda") + F.col("_wdb") - F.col("inter_w"))
        .filter(
            F.col("inter_w") * threshold_den >= threshold_num * F.col("union_w")
        )
        .select(
            "id_a",
            "id_b",
            F.col("inter_w").cast("long").alias("inter_w"),
            F.col("union_w").cast("long").alias("union_w"),
            F.expr("1000000 * inter_w div union_w").cast("long").alias("wj_ppm"),
        )
    )


def semantic_dedup_two_level(
    df: DataFrame,
    k1: "int | None" = None,
    k2: "int | None" = None,
    threshold: float = 0.9,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_cluster: "int | None" = None,
    target_cluster_size: int = 512,
    k_min: int = 8,
) -> DataFrame:
    """SemDeDup with HIERARCHICAL assignment (the SCALE.md 30×-probe
    follow-up): same keep rule as :func:`semantic_dedup`, but vectors
    reach their cell through :func:`~hpaste_spark.operators.similarity.
    two_level_assign` — k1 coarse cells, k2 sub-centroids within each —
    so assignment work is n·(k1+k2)·d ≈ n·2√k·d instead of flat n·k·d.
    With k ∝ n (the contract), the flat term is ~n²/target; two levels
    cut it to ~n^1.5, the piece alpha=1.07 at 30× was measuring.

    Defaults derive k_total = max(k_min, ceil(n/target_cluster_size)),
    k1 = ceil(√k_total), k2 = ceil(k_total/k1) — cells stay
    ~target-sized, and the effective cid is (cid1·k2 + scid).  The
    clustering differs from flat k-means (coarse boundaries are hard),
    which is fine for dedup: near-identical vectors land in the same
    coarse cell with overwhelming probability, and the pair step within
    each (cid1, scid) cell is unchanged.  Fully deterministic — both
    levels use the id%k seeding + (cc desc, id) argmax tie-breaks — so
    the DuckDB oracle reproduces the kept set exactly."""
    from hpaste_spark.functions.vectors import as_double, dot
    from hpaste_spark.operators.similarity import two_level_assign

    if k1 is None or k2 is None:
        import math

        n = df.count()
        k_total = max(k_min, -(-n // max(1, target_cluster_size)))
        # exact integer ceil(sqrt) — the oracle mirrors CEIL(SQRT(kt))
        k1 = k1 or max(2, math.ceil(math.sqrt(k_total)))
        k2 = k2 or -(-k_total // k1)
    assign = two_level_assign(df, k1, k2, vec_col, id_col)
    m = (
        df.select(F.col(id_col), as_double(F.col(vec_col)).alias("_e"))
        .withColumn("_n", F.sqrt(dot(F.col("_e"), F.col("_e"))))
        .join(assign, id_col)
        .select(
            id_col,
            "_e",
            "_n",
            (F.col("cid1") * k2 + F.col("scid")).alias("cid"),
            "cc",
        )
    )
    # same 3-consumer cut as the flat path (see semantic_dedup) — here
    # the replayed lineage is the ENTIRE two-level train+assign (r13
    # measurement: 66 exchanges / 42 scans before the cut).  The
    # stored variant deliberately takes no checkpoint: its lineage is
    # a parquet read whose cid1 partition pruning must stay visible.
    from pyspark.storagelevel import StorageLevel

    m = m.localCheckpoint(eager=False, storageLevel=StorageLevel.DISK_ONLY)
    return _semantic_prune(m, threshold, id_col, max_cluster)


def semantic_dedup_two_level_stored(
    spark,
    path: str,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cluster: "int | None" = None,
    cells: "DataFrame | None" = None,
) -> DataFrame:
    """SemDeDup keep rule off a PREBUILT :func:`~hpaste_spark.operators.
    similarity.build_two_level_index` layout — same kept set as
    :func:`semantic_dedup_two_level` with the same (k1, k2): both
    assignment levels and the centroid-cosine are READS; the only
    corpus-sized work left is the cid-local pair step.

    This is the 100 TB shape the in-plan form can't reach: the vectors
    table is parquet-PARTITIONED BY cid1, so each coarse cell's pair
    expansion reads exactly its own partition (the effective cid
    (cid1·k2 + scid) never crosses cid1, so the equi-join's shuffle
    keys are partition-local), and ``cells`` — an optional 1-column
    (cid1) DataFrame — restricts a run to chosen coarse cells via a
    broadcast join on the PARTITION column, planned as
    dynamicpruningexpression partition pruning (plan-tested).  Dedup a
    trillion-vector corpus cell-range by cell-range off one write-once
    clustering instead of re-assigning per run."""
    from hpaste_spark.functions.vectors import as_double, dot

    from hpaste_spark.operators import artifacts

    artifacts.require_clean(path, "two-level index")
    k2 = artifacts.read_meta(path)["k2"]
    v = spark.read.parquet(f"{path}/vectors")
    if cells is not None:
        v = v.join(F.broadcast(cells), "cid1")
    m = (
        v.select(
            F.col(id_col),
            as_double(F.col(vec_col)).alias("_e"),
            (F.col("cid1") * k2 + F.col("scid")).alias("cid"),
            "cc",
        )
        .withColumn("_n", F.sqrt(dot(F.col("_e"), F.col("_e"))))
    )
    return _semantic_prune(m, threshold, id_col, max_cluster)


def decontaminate_ngram(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
) -> DataFrame:
    """Benchmark decontamination (the GPT-3 Appendix-C / PaLM recipe):
    flag every corpus document sharing at least one n-gram with any
    benchmark/eval document — (doc_id, n_hits, n_benchmark_docs),
    where n_hits counts the document's DISTINCT contaminated n-grams
    and n_benchmark_docs the distinct eval docs it collides with.
    Downstream, anti-join the corpus against this list (the
    dedup_near_keep posture) before training.

    Differs from the dedup ops above in being CROSS-SET and
    asymmetric: the benchmark is tiny (eval suites are KBs-MBs) while
    the corpus is the 100 TB side — so the benchmark's distinct-gram
    table broadcasts and the corpus side streams through one
    equi-join on the gram hash with NO shuffle of corpus rows and no
    pair expansion; per-doc aggregation shuffles only the matching
    (doc, gram) hits.  Gram hashes are the shared two-level md5 +
    polynomial fold (functions.text.shingle_hashes), mirrored
    verbatim in the DuckDB oracle."""
    from hpaste_spark.functions.text import shingle_hashes

    def grams(df: DataFrame, out_id: str) -> DataFrame:
        return (
            df.filter(F.length(F.trim(F.col(text_col))) > 0)
            .select(
                F.col(id_col).alias(out_id),
                F.explode(
                    F.array_distinct(shingle_hashes(F.col(text_col), n))
                ).alias("g"),
            )
        )

    hits = grams(corpus, id_col).join(
        F.broadcast(grams(benchmark, "bench_id")), "g"
    )
    return hits.groupBy(id_col).agg(
        F.countDistinct("g").alias("n_hits"),
        F.countDistinct("bench_id").alias("n_benchmark_docs"),
    )


def longest_shared_run_pairs(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    min_shared_tokens: int = 10,
) -> DataFrame:
    """Contamination by LONGEST SHARED TOKEN RUN (the PaLM refinement
    on top of :func:`decontaminate_ngram`): an n-gram collision alone
    over-flags short idioms — "as a result of" collides everywhere —
    so flag a (corpus doc, benchmark doc) pair only when they share
    ≥ ``min_shared_tokens`` CONSECUTIVE tokens.  Returns
    (doc_id, bench_id, lcs_tokens) for flagged pairs, lcs_tokens =
    the longest shared run found (exact for every run ≥ n).

    How consecutive-ness falls out of the same gram join: keep each
    gram's START POSITION on both sides; a shared run of r tokens
    produces r−n+1 collided grams whose (corpus_pos − bench_pos)
    difference is CONSTANT — so group hits by (doc, bench, diagonal),
    find maximal consecutive-position islands with the classic
    pos − row_number() trick, and an island of c grams is a shared
    run of c+n−1 tokens.

    Scale posture unchanged from the gram join it refines: the
    benchmark's positional gram table broadcasts (eval suites are
    tiny), the corpus side streams through one equi-join and is never
    shuffled at corpus size — only HITS reach the island window, and
    its partitions are per (doc, bench, diagonal), bounded by the
    matched span, never corpus-sized."""
    from pyspark.sql import Window

    from hpaste_spark.functions.text import shingle_hashes

    def pgrams(df: DataFrame, out_id: str, out_pos: str) -> DataFrame:
        return df.filter(F.length(F.trim(F.col(text_col))) > 0).select(
            F.col(id_col).alias(out_id),
            F.posexplode(shingle_hashes(F.col(text_col), n)).alias(out_pos, "g"),
        )

    hits = (
        pgrams(corpus, id_col, "pc")
        .join(F.broadcast(pgrams(benchmark, "bench_id", "pb")), "g")
        .select(id_col, "bench_id", "pc", (F.col("pc") - F.col("pb")).alias("diag"))
    )
    w = Window.partitionBy(id_col, "bench_id", "diag").orderBy("pc")
    runs = (
        hits.withColumn("grp", F.col("pc") - F.row_number().over(w))
        .groupBy(id_col, "bench_id", "diag", "grp")
        .agg((F.count(F.lit(1)) + F.lit(n - 1)).alias("_run"))
    )
    return (
        runs.groupBy(id_col, "bench_id")
        .agg(F.max("_run").cast("long").alias("lcs_tokens"))
        .filter(F.col("lcs_tokens") >= min_shared_tokens)
    )


def mask_shared_runs(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    min_shared_tokens: int = 10,
) -> DataFrame:
    """Decontamination by EXCISION (the ExactSubstr posture of Lee et
    al. 2022, "Deduplicating Training Data Makes Language Models
    Better", applied cross-set): instead of dropping a contaminated
    document wholesale, cut exactly the token runs it shares with the
    benchmark (runs ≥ ``min_shared_tokens``) and keep the rest — the
    right trade when a long, otherwise-good document quotes one eval
    item.  Returns every corpus doc as (id, clean_text, n_tokens,
    n_masked_tokens); untouched docs pass through with
    n_masked_tokens = 0 and clean_text = the ORIGINAL text byte-for-
    byte (whitespace included — only docs that actually lose tokens
    are rebuilt, and the rebuild is single-space-joined, the same
    normalization the tokenizer applies).

    Same diagonal-island machinery as
    :func:`longest_shared_run_pairs`, carried one step further: each
    qualifying island (start position + gram count) expands to its
    covered TOKEN positions via a bounded ``sequence`` (bounded by
    matched material, not corpus size), positions are unioned across
    benchmark docs/diagonals, and the doc is rebuilt from its
    surviving tokens in order — the dedup_lines reassembly shape at
    token granularity.  The benchmark side broadcasts; the corpus
    streams through the gram join and one token-level anti-join."""
    from pyspark.sql import Window

    from hpaste_spark.functions.text import shingle_hashes, tokens

    base = corpus.filter(F.length(F.trim(F.col(text_col))) > 0)

    def pgrams(df: DataFrame, out_id: str, out_pos: str) -> DataFrame:
        return df.filter(F.length(F.trim(F.col(text_col))) > 0).select(
            F.col(id_col).alias(out_id),
            F.posexplode(shingle_hashes(F.col(text_col), n)).alias(out_pos, "g"),
        )

    hits = (
        pgrams(base, id_col, "pc")
        .join(F.broadcast(pgrams(benchmark, "bench_id", "pb")), "g")
        .select(id_col, "bench_id", "pc", (F.col("pc") - F.col("pb")).alias("diag"))
    )
    w = Window.partitionBy(id_col, "bench_id", "diag").orderBy("pc")
    islands = (
        hits.withColumn("grp", F.col("pc") - F.row_number().over(w))
        .groupBy(id_col, "bench_id", "diag", "grp")
        .agg(F.min("pc").alias("_start"), F.count(F.lit(1)).alias("_c"))
        .filter(F.col("_c") + F.lit(n - 1) >= min_shared_tokens)
    )
    maskpos = islands.select(
        F.col(id_col),
        F.explode(
            F.sequence(F.col("_start"), F.col("_start") + F.col("_c") + F.lit(n - 2))
        ).alias("tpos"),
    ).distinct()
    toks = base.select(
        F.col(id_col), F.posexplode(tokens(F.col(text_col))).alias("tpos", "tok")
    )
    kept = toks.join(maskpos, [id_col, "tpos"], "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("tpos", "tok"))),
                lambda s: s["tok"],
            ),
            " ",
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("_n_kept"),
    )
    totals = base.select(
        F.col(id_col),
        F.col(text_col).alias("_orig"),
        F.size(tokens(F.col(text_col))).cast("long").alias("n_tokens"),
    )
    masked = (
        F.col("n_tokens") - F.coalesce(F.col("_n_kept"), F.lit(0))
    ).cast("long")
    return totals.join(rebuilt, id_col, "left").select(
        F.col(id_col),
        # untouched docs return the ORIGINAL text (tabs, runs of
        # spaces, leading/trailing whitespace intact) — only docs
        # that actually lose tokens are rebuilt space-joined
        F.when(masked == 0, F.col("_orig"))
        .otherwise(F.coalesce(F.col("clean_text"), F.lit("")))
        .alias("clean_text"),
        F.col("n_tokens"),
        masked.alias("n_masked_tokens"),
    )


def _self_run_islands(
    corpus: DataFrame,
    text_col: str,
    id_col: str,
    n: int,
    max_occ: int | None,
):
    """Shared candidate machinery of :func:`exact_substr_pairs` /
    :func:`exact_substr_mask`: maximal shared-token-run islands between
    pairs of documents of ONE corpus — (id_a, id_b, diag, _s, _c) with
    id_a < id_b, _s = the run's first gram position in id_b, _c = its
    gram count (token run length = _c + n − 1).

    Blocking design (why not LSH bands or CDC chunks): ExactSubstr's
    whole point is catching a shared substring between two GLOBALLY
    DISSIMILAR documents — a long quote inside otherwise-different
    text — which is precisely the pair MinHash LSH is designed to
    *ignore* (low whole-doc Jaccard), and a run shorter than ~2 CDC
    chunks need not contain any complete chunk, so chunk-anchored
    candidacy misses short-but-qualifying runs.  The n-token gram hash
    itself is the tightest sound block key: a shared run of r ≥ n
    tokens contains r−n+1 shared n-grams (completeness — every
    qualifying pair MUST collide), and any collision already IS a
    shared n-token run (precision — modulo fold collisions, which the
    DuckDB oracle replays identically).  Candidate generation and run
    detection collapse into one equi-join.

    Fan-out bound: a gram occurring t times corpus-wide contributes
    ≤ t² hit rows, so ubiquitous boilerplate n-grams (licence
    headers, navigation chrome) are dropped when their TOTAL
    occurrence count exceeds ``max_occ`` — the same guardrail as LSH's
    max_bucket, with the same documented bias: a run all of whose
    grams are shared by > max_occ occurrences is not reported (that
    mass-duplicated boilerplate is dedup_lines' job, not pairwise
    excision's).  The occurrence count rides a window over the SAME
    gram-hash partitioning the self-join shuffles on — one exchange,
    reused by both join sides, no second aggregation pass.

    Gram keys are 128-BIT (md5 over the window's 13-hex-char token
    hashes), NOT the 30-bit polynomial fold the cross-set gram ops
    use: here one colliding gram IS a reported pair (n = the
    threshold), and the fold's mod-1e9+7 space has a birthday floor —
    measured 21,930 spurious cross-replica pairs at a mere 3.75M
    grams (30× probe), every one an exactly-n-token 'run', and at
    corpus scale the floor grows quadratically.  The cross-set ops
    keep the cheap fold because their run filter (≥ min_shared_tokens
    consecutive n-grams, n ≪ threshold) already suppresses isolated
    collisions.  One md5 per token window — the cost class every
    bloom path already pays per gram.
    """
    from pyspark.sql import Window

    from hpaste_spark.functions.text import tokens

    base = corpus.filter(F.length(F.trim(F.col(text_col))) > 0)
    th = F.transform(
        tokens(F.col(text_col)),
        lambda t: F.substring(F.md5(t.cast("binary")), 1, 13),
    )
    m = F.greatest(F.size("_th") - F.lit(n - 1), F.lit(0))
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(m, F.lit(1))),
        lambda i: F.md5(F.concat_ws(",", F.slice(F.col("_th"), i, n))),
    )
    p = (
        base.select(F.col(id_col), th.alias("_th"))
        .filter(F.size("_th") >= n)
        .select(F.col(id_col), F.posexplode(grams).alias("pos", "g"))
    )
    if max_occ is not None:
        p = p.withColumn(
            "_occ", F.count(F.lit(1)).over(Window.partitionBy("g"))
        ).filter(F.col("_occ") <= max_occ)
    # the (id, pos, gram) table feeds BOTH self-join sides — cut it so
    # the tokenize + per-window md5 gram pass runs once (r13; lazy
    # DISK_ONLY per the corpus-memory rule, values unchanged)
    from pyspark.storagelevel import StorageLevel

    p = p.localCheckpoint(eager=False, storageLevel=StorageLevel.DISK_ONLY)
    a = p.select(F.col(id_col).alias("id_a"), F.col("pos").alias("pa"), "g")
    b = p.select(F.col(id_col).alias("id_b"), F.col("pos").alias("pb"), "g")
    hits = (
        a.join(b, "g")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "pb", (F.col("pa") - F.col("pb")).alias("diag"))
    )
    w = Window.partitionBy("id_a", "id_b", "diag").orderBy("pb")
    return (
        hits.withColumn("grp", F.col("pb") - F.row_number().over(w))
        .groupBy("id_a", "id_b", "diag", "grp")
        .agg(F.min("pb").alias("_s"), F.count(F.lit(1)).alias("_c"))
    )


def exact_substr_pairs(
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_shared_tokens: int = 10,
    max_occ: int | None = 64,
) -> DataFrame:
    """CORPUS-SELF ExactSubstr detection (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better", the
    train-train shape — :func:`longest_shared_run_pairs` is the same
    statistic corpus-vs-benchmark): every unordered pair of training
    documents sharing ≥ ``min_shared_tokens`` CONSECUTIVE tokens, as
    (id_a, id_b, lcs_tokens), id_a < id_b, lcs_tokens = the longest
    shared run (exact for every run ≥ the threshold).

    Where Lee et al. build a corpus-wide suffix array, the distributed
    form blocks on the ``min_shared_tokens``-token gram hash and runs
    diagonal-island detection on the collisions (see
    :func:`_self_run_islands` for why that beats LSH- or CDC-blocked
    candidacy here) — one corpus-sized gram pass, one self equi-join
    on the gram hash whose per-key fan-out is capped by ``max_occ``,
    and a window over hits only.  Nothing is ever all-pairs."""
    n = min_shared_tokens
    islands = _self_run_islands(corpus, text_col, id_col, n, max_occ)
    return islands.groupBy("id_a", "id_b").agg(
        F.max(F.col("_c") + F.lit(n - 1)).cast("long").alias("lcs_tokens")
    )


def exact_substr_mask(
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_shared_tokens: int = 10,
    max_occ: int | None = 64,
) -> DataFrame:
    """CORPUS-SELF ExactSubstr EXCISION (Lee et al. 2022): for every
    shared run ≥ ``min_shared_tokens`` between two training documents,
    keep the occurrence in the LOWER-id document and cut it from the
    higher-id one (the keep='first' posture of dedup_lines /
    dedup_exact, applied at token-run granularity) — each duplicated
    span survives exactly once per detected pair chain, long documents
    are never dropped wholesale for one repeated quote.  Returns every
    corpus doc as (id, clean_text, n_tokens, n_masked_tokens);
    untouched docs pass through with n_masked_tokens = 0 and
    clean_text = the ORIGINAL text byte-for-byte (whitespace
    included); only docs that actually lose tokens are rebuilt
    single-space-joined.

    Same blocked candidate machinery as :func:`exact_substr_pairs`;
    each qualifying island expands to its covered token positions in
    the HIGHER-id doc via a bounded ``sequence`` (bounded by matched
    material, not corpus size), positions union across partners and
    diagonals, and the doc is rebuilt from its surviving tokens in
    order — the :func:`mask_shared_runs` reassembly, turned self-wise.

    Chain/overlap semantics (pinned by
    test_exact_substr_mask_chain_topologies_fixpoint): keep-first is
    PER PAIR, so in a–b/b–c chains the middle doc keeps the run it is
    the lower id for; when the two runs OVERLAP inside the middle doc,
    its kept copy of the later run is clipped where the overlap was
    cut by the lower-id pair — a contiguous span can then survive
    nowhere in full (its pieces remain across the lower-id docs).
    Either way ONE pass is a fixpoint: re-running detection on the
    masked output finds no qualifying run, so no iterative excision
    loop is ever needed.
    """
    from hpaste_spark.functions.text import tokens

    n = min_shared_tokens
    base = corpus.filter(F.length(F.trim(F.col(text_col))) > 0)
    islands = _self_run_islands(base, text_col, id_col, n, max_occ)
    maskpos = islands.select(
        F.col("id_b").alias(id_col),
        F.explode(
            F.sequence(F.col("_s"), F.col("_s") + F.col("_c") + F.lit(n - 2))
        ).alias("tpos"),
    ).distinct()
    toks = base.select(
        F.col(id_col), F.posexplode(tokens(F.col(text_col))).alias("tpos", "tok")
    )
    kept = toks.join(maskpos, [id_col, "tpos"], "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("tpos", "tok"))),
                lambda s: s["tok"],
            ),
            " ",
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("_n_kept"),
    )
    totals = base.select(
        F.col(id_col),
        F.col(text_col).alias("_orig"),
        F.size(tokens(F.col(text_col))).cast("long").alias("n_tokens"),
    )
    masked = (
        F.col("n_tokens") - F.coalesce(F.col("_n_kept"), F.lit(0))
    ).cast("long")
    return totals.join(rebuilt, id_col, "left").select(
        F.col(id_col),
        # untouched docs pass the ORIGINAL text through unmodified —
        # see mask_shared_runs (same contract)
        F.when(masked == 0, F.col("_orig"))
        .otherwise(F.coalesce(F.col("clean_text"), F.lit("")))
        .alias("clean_text"),
        F.col("n_tokens"),
        masked.alias("n_masked_tokens"),
    )


#: Bloom probe-family version: 2 = Kirsch-Mitzenmacher double hashing
#: (one md5 per value, bit_i = (h1 + i·h2) mod m).  Family 1 hashed
#: "<value>:<i>" per probe — k md5 calls per value; the md5 dominated
#: the cost of every bloom path (decontaminate_bloom / bloom_fp_eval
#: were 2 of the 4 slowest bench queries), and KM 1977 shows i
#: independent hashes are not needed: two 52-bit slices of ONE digest
#: give the same asymptotic FP rate.  h2 is forced odd so the probe
#: stride is invertible mod the power-of-two m_bits (even h2 would
#: alias probes into half the filter).  Artifacts built under family
#: 1 are unreadable by design — stored-filter meta pins the family
#: (a silent family mismatch = false negatives, the one failure mode
#: a Bloom filter must never have).
BLOOM_FAMILY = 2


def _bloom_h1h2(val_col):
    """The two 52-bit digest slices of ONE md5(value) — h1 = hex chars
    1-13, h2 = hex chars 14-26 forced odd.  Mirrored verbatim in
    DuckDB (__spark_entry__._bloom_bit_sql):
    ``('0x'||substr(md5(v),1,13))::BIGINT`` and
    ``('0x'||substr(md5(v),14,13))::BIGINT | 1``."""
    dig = F.md5(val_col.cast("string").cast("binary"))
    h1 = F.conv(F.substring(dig, 1, 13), 16, 10).cast("long")
    h2 = F.conv(F.substring(dig, 14, 13), 16, 10).cast("long").bitwiseOR(1)
    return h1, h2


def _bloom_bit(h1_col, h2_col, i_col, m_bits: int):
    """Bit position i under Kirsch-Mitzenmacher double hashing:
    (h1 + i·h2) mod m.  Pure arithmetic — callers project h1/h2 ONCE
    per value (before the k-way explode), so the md5 runs once per
    value instead of once per probe."""
    return (h1_col + i_col * h2_col) % m_bits


def bloom_bits(
    values: DataFrame,
    val_col: str = "g",
    m_bits: int = 16384,
    k_hashes: int = 3,
    distinct: bool = True,
) -> DataFrame:
    """The SET-BIT table of a distributed Bloom filter over a value
    column: each distinct value sets ``k_hashes`` md5-derived bit
    positions; the filter is the distinct (bit) relation — at most
    ``m_bits`` rows NO MATTER how many values went in.

    That bound is the whole point vs broadcasting the value set
    itself: a benchmark/blocklist side that outgrows comfortable
    broadcast (decontaminate_ngram ships every distinct gram hash)
    compresses to a fixed-size bit table, trading a false-positive
    rate of ~(1 − e^{-k·n/m})^k — sized by the caller, priced
    empirically by the bloom_fp_eval grader.  No false negatives,
    ever: every inserted value finds all k of its bits set.
    """
    ks = F.explode(F.sequence(F.lit(0), F.lit(k_hashes - 1))).alias("i")
    h1, h2 = _bloom_h1h2(F.col(val_col))
    out = (
        values.select(F.col(val_col)).distinct()
        # md5 ONCE per value: h1/h2 are materialized by this projection
        # boundary, the k-way explode below is pure arithmetic
        .select(h1.alias("_h1"), h2.alias("_h2"))
        .select("_h1", "_h2", ks)
        .select(_bloom_bit(F.col("_h1"), F.col("_h2"), F.col("i"), m_bits).alias("bit"))
    )
    # ``distinct=False`` (r13): a caller feeding :func:`bloom_mask`
    # can skip the bit-level dedup exchange — the mask's bit_or
    # absorbs duplicates, so the packed filter is identical.  Artifact
    # writers keep the default (the stored bits relation is
    # contractually duplicate-free for the append anti-join).
    return out.distinct() if distinct else out


def bloom_mask(
    bits: DataFrame, m_bits: int, bits_distinct: bool = True
) -> DataFrame:
    """ONE-ROW bitmask form of the set-bit table: ``_mask`` is an
    ``array<long>`` of ``ceil(m_bits/64)`` words, word ``j`` holding
    bits ``[64j, 64j+63]`` (bit ``b`` → word ``b >> 6``, position
    ``b & 63``).  Exactly the information of the (bit) relation packed
    8 bits/byte, so membership becomes per-row ARITHMETIC instead of a
    join: probing k positions reads k words out of one broadcast row —
    no explode, no equi-join, no re-aggregation of the probe side
    (r13 optimization; guide §2.4 "remove shuffles outright").

    Build shape: ≤ m_bits input rows → ≤ m_bits/64-group bit_or — two
    KB-sized exchanges, independent of both corpus and blocklist
    cardinality.  Missing words (no bit set in that 64-bit span) fill
    with 0 via the map lookup, so the array is always dense.

    For small geometries (m_bits ≤ 2^20, mask ≤ 128 KB) a bit relation
    the caller declares ALREADY-DEDUPED (``bits_distinct=True``, the
    stored-artifact contract — provably ≤ m_bits rows) is first
    coalesced to ONE task: an append-fragmented bits tree otherwise
    fans the trivial word-OR into dozens of scheduled tasks across two
    shuffle stages (measured +0.5 s per probe on the appended
    artifact).  ``bits_distinct=False`` feeds (an in-plan
    ``bloom_bits(distinct=False)`` lineage, whose row count tracks the
    BLOCKLIST, not m_bits) must keep the parallel groupBy build — the
    r13 unconditional coalesce pulled the whole md5 + k-way bit
    projection into that one task and serialized the build on large
    blocklists (r13 ADVICE).  The map-side partial bit_or keeps the
    exchange ≤ m_bits/64 rows per task either way."""
    n_words = (m_bits + 63) // 64
    if bits_distinct and m_bits <= (1 << 20):
        bits = bits.coalesce(1)
    return (
        bits.select(
            F.shiftright(F.col("bit"), 6).alias("_w"),
            F.expr("shiftleft(1L, cast(bit % 64 as int))").alias("_v"),
        )
        .groupBy("_w")
        .agg(F.expr("bit_or(_v)").alias("_or"))
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct(F.col("_w"), F.col("_or")))
            ).alias("_m")
        )
        .select(
            F.transform(
                F.sequence(F.lit(0), F.lit(n_words - 1)),
                lambda j: F.coalesce(
                    F.element_at(F.col("_m"), j.cast("long")), F.lit(0).cast("long")
                ),
            ).alias("_mask")
        )
    )


def _bloom_mask_test(h1, h2, mask_col, m_bits: int, k_hashes: int):
    """Boolean Column: all ``k_hashes`` Kirsch-Mitzenmacher positions
    of (h1, h2) are set in ``mask_col`` (a :func:`bloom_mask` word
    array).  Pure codegen arithmetic — k element_at + shift + AND per
    value; identical positive set to the old count-of-matched-bits
    join by construction (same probe family, same bit table)."""
    test = F.lit(True)
    for i in range(k_hashes):
        bit = _bloom_bit(h1, h2, F.lit(i), m_bits)
        word = F.element_at(mask_col, F.shiftright(bit, 6).cast("int") + 1)
        test = test & (
            F.call_function(
                "shiftright", word, (bit % 64).cast("int")
            ).bitwiseAND(F.lit(1))
            == 1
        )
    return test


def bloom_membership(
    probes: DataFrame,
    bits: DataFrame,
    val_col: str = "g",
    m_bits: int = 16384,
    k_hashes: int = 3,
    bits_distinct: bool = True,
) -> DataFrame:
    """Rows of ``probes`` whose value tests POSITIVE against the Bloom
    bit table: the bit relation is packed into a one-row
    :func:`bloom_mask` word array, attached to the probe side by a
    single-row broadcast cross join (the attach-a-constant plan), and
    every probe row tests its k positions with in-row bit arithmetic
    (:func:`_bloom_mask_test`).  The probe side is the 100 TB side and
    is never shuffled, never exploded k-way, and never re-aggregated —
    the whole membership check is map-side (r13: previously this was
    explode ×k → broadcast equi-join → count==k re-aggregation, which
    shuffled the exploded probe relation once per call; guide §2.4).

    Unlike the old count-based form, duplicate probe rows are safe
    (each copy tests independently — the old form silently DROPPED a
    duplicated row as a false negative); callers here still feed
    per-doc-distinct grams, so declared outputs are unchanged."""
    keys = [c for c in probes.columns]
    h1, h2 = _bloom_h1h2(F.col(val_col))
    return (
        # md5 ONCE per probe row; the k probes are pure arithmetic
        probes.select(*keys, h1.alias("_h1"), h2.alias("_h2"))
        .crossJoin(F.broadcast(bloom_mask(bits, m_bits, bits_distinct)))
        .filter(
            _bloom_mask_test(
                F.col("_h1"), F.col("_h2"), F.col("_mask"), m_bits, k_hashes
            )
        )
        .select(*keys)
    )


def _bloom_flag_counts(
    corpus: DataFrame,
    bits: DataFrame,
    text_col: str,
    id_col: str,
    n: int,
    m_bits: int,
    k_hashes: int,
    bits_distinct: bool = True,
) -> DataFrame:
    """The shared corpus leg of :func:`bloom_decontaminate` /
    :func:`decontaminate_bloom_stored`: (id, n_flagged) with
    n_flagged = count of the doc's distinct grams testing
    bloom-positive, docs with zero positives absent.  The gram explode
    and the md5 probe projection stay whole-stage-codegen (a
    higher-order-function lambda would interpret the md5 per element —
    the measured shingle-pipeline lesson), the membership test is a
    map-side codegen filter against the broadcast one-row
    :func:`bloom_mask`, and the only shuffle is the per-doc count over
    the FLAGGED rows (benchmark-hit grams only) — not over the full
    exploded gram relation as in the pre-r13 count-of-matched-bits
    form."""
    return (
        bloom_membership(
            _doc_grams(corpus, text_col, id_col, n),
            bits,
            "g",
            m_bits=m_bits,
            k_hashes=k_hashes,
            bits_distinct=bits_distinct,
        )
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_flagged"))
    )


def bloom_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    m_bits: int = 16384,
    k_hashes: int = 3,
) -> DataFrame:
    """Benchmark decontamination through a fixed-size Bloom filter:
    like :func:`decontaminate_ngram` (flag corpus docs sharing an
    n-gram with the eval set) but the broadcast side is the Bloom BIT
    table (≤ m_bits rows) instead of the benchmark's full distinct-
    gram table — the shape that still works when the blocklist side
    is itself large (all eval suites + opt-out lists + PII hashes).

    Conservative by construction: false positives over-flag (a doc
    can be flagged for a gram the benchmark never contained — rate
    priced by bloom_fp_eval), false negatives cannot happen, so
    nothing contaminated ever slips through.  Returns (id, n_flagged)
    with n_flagged = the doc's count of bloom-positive distinct
    grams.

    r13 shape (see :func:`_bloom_flag_counts`): the corpus side
    explodes each doc's distinct grams ONCE (codegen explode — an
    in-row HOF filter would interpret the md5 per element), tests
    each gram map-side against the broadcast one-row
    :func:`bloom_mask` word array (no k-way explode, no join), and
    the only shuffle is the per-doc count over the FLAGGED grams only
    (previously: explode ×k probes → broadcast join → two shuffled
    re-aggregations of the full exploded gram relation; guide §2.4)."""
    from hpaste_spark.functions.text import shingle_hashes

    bits = bloom_bits(
        _doc_grams(benchmark, text_col, id_col, n).select("g"),
        "g",
        m_bits=m_bits,
        k_hashes=k_hashes,
        distinct=False,  # mask build absorbs duplicate bits
    )
    return _bloom_flag_counts(
        corpus, bits, text_col, id_col, n, m_bits, k_hashes,
        bits_distinct=False,  # built with distinct=False just above
    )


def dedup_lines(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_df: int = 2,
    sep: str = "\n",
    keep: str = "none",
) -> DataFrame:
    """Sub-document EXACT dedup (the RefinedWeb / CCNet crawl-cleaning
    step): remove every line that occurs in ≥ ``min_df`` DISTINCT
    documents — headers, footers, cookie banners, nav boilerplate —
    and reconstruct each document from its surviving lines in order.
    The complement of :func:`repeated_ngram_spans` (which finds
    WITHIN-doc repetition); this kills ACROSS-doc repetition below the
    whole-doc granularity that dedup_exact/MinHash operate at.

    Returns one row per input document: (id, clean_text, n_lines,
    n_removed).  A fully-boilerplate document survives as
    ``clean_text = ''`` (dropping docs is a separate policy decision —
    compose with a filter).  Blank/whitespace-only lines are never
    removal candidates: they carry document structure, and their
    corpus-wide frequency is meaningless as a boilerplate signal.

    ``sep`` is a LITERAL separator (regex-escaped for the split,
    reused verbatim for the re-join): '\\n' for lines, '\\n\\n' for
    paragraphs.

    ``keep`` picks the policy for a boilerplate line: ``'none'``
    (default, RefinedWeb) removes it from EVERY document; ``'first'``
    (CCNet) keeps one canonical copy — in the lowest-``id_col``
    document holding it (the deterministic analog of
    first-in-processing-order) — and removes the rest.

    Scale shape: posexplode lines → one map-side-combinable
    distinct-doc count per line (the line-hash groupBy) → equi-join
    lines against the ≥min_df "boilerplate" set → per-doc re-assembly
    via a sort-free collect_list + array_sort + array_join (all
    JVM-side).  No pair expansion anywhere — a line shared by 100k
    docs costs 100k join rows, never 100k² pairs — so the plan is two
    shuffles (line key, then doc key) regardless of duplication
    structure."""
    import re as _re

    if keep not in ("none", "first"):
        raise ValueError(f"keep must be 'none' or 'first', got {keep!r}")
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), _re.escape(sep), -1)).alias(
            "pos", "line"
        ),
    )
    boiler = (
        lines.filter(F.length(F.trim(F.col("line"))) > 0)
        .groupBy("line")
        .agg(
            F.countDistinct(id_col).alias("_df"),
            F.min(id_col).alias("_keeper"),
        )
        .filter(F.col("_df") >= min_df)
        .select("line", "_keeper")
    )
    if keep == "first":
        # remove (line, doc) only where doc is NOT the canonical holder
        marked = lines.join(boiler, "line", "left")
        kept = marked.filter(
            F.col("_keeper").isNull() | (F.col(id_col) == F.col("_keeper"))
        ).drop("_keeper")
    else:
        kept = lines.join(boiler.select("line"), "line", "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
            sep,
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("_n_kept"),
    )
    totals = lines.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_lines"))
    return totals.join(rebuilt, id_col, "left").select(
        F.col(id_col),
        F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
        F.col("n_lines"),
        (F.col("n_lines") - F.coalesce(F.col("_n_kept"), F.lit(0))).alias(
            "n_removed"
        ),
    )


def _doc_grams(df: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    """(id, g) — per-doc DISTINCT n-gram hashes, the probe/insert unit
    shared by the ngram and Bloom decontamination paths (array_distinct
    per doc keeps n_flagged a count of DISTINCT contaminated grams)."""
    from hpaste_spark.functions.text import shingle_hashes

    return df.filter(F.length(F.trim(F.col(text_col))) > 0).select(
        F.col(id_col),
        F.explode(F.array_distinct(shingle_hashes(F.col(text_col), n))).alias("g"),
    )


def build_bloom_filter(
    benchmark: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    m_bits: int = 16384,
    k_hashes: int = 3,
) -> None:
    """Write-once Bloom BLOCKLIST artifact (round-6 verdict ask): at
    100 TB the blocklist — all eval suites + opt-out lists + PII
    hashes — is built ONCE and probed by every ingest run, the same
    pay-the-pass-once posture as
    :func:`~hpaste_spark.operators.similarity.build_ivf_index`;
    :func:`bloom_decontaminate` recomputing the bit table per run is
    the in-plan convenience form.

    Layout: ``{path}/bits`` — the ≤ m_bits-row set-bit relation — and
    ``{path}/meta.json``, written last, pinning the filter GEOMETRY
    (m_bits, k_hashes, n), the probe family and the column names, so
    readers always probe with the same (m, k, shingle width) the bits
    were inserted under (probing a filter with the wrong geometry
    silently yields false negatives, the one failure mode a Bloom
    filter must never have).  Refreshing with new blocklist material is
    :func:`~hpaste_spark.operators.artifacts.append_artifact` — Bloom
    bits are MONOTONE (insert-only set), the friendliest artifact to
    append."""
    from hpaste_spark.operators import artifacts

    bloom_bits(
        _doc_grams(benchmark, text_col, id_col, n).select("g"),
        "g",
        m_bits=m_bits,
        k_hashes=k_hashes,
    ).write.mode("overwrite").parquet(f"{path}/bits")
    artifacts.publish_build(
        path, "bloom", family=BLOOM_FAMILY, m_bits=m_bits, k_hashes=k_hashes,
        n=n, text_col=text_col, id_col=id_col,
    )


def _bloom_encode(spark, path: str, meta: dict, benchmark: DataFrame) -> DataFrame:
    """The Bloom append delta: the bits the new blocklist material sets
    under the pinned geometry that are NOT already set — a left-anti
    join against the ≤ m_bits-row stored bit table, so the bits
    relation stays duplicate-free and append-only."""
    stored = spark.read.parquet(f"{path}/bits")
    delta = bloom_bits(
        _doc_grams(benchmark, meta["text_col"], meta["id_col"], meta["n"]).select("g"),
        "g",
        m_bits=meta["m_bits"],
        k_hashes=meta["k_hashes"],
    )
    # MATERIALIZE the anti-join before writing to the same directory it
    # reads (r10 ADVICE): the append only works un-materialized because
    # Spark snapshots the file listing at read-DataFrame creation — a
    # self-read-while-append hazard if listing/plan-caching behavior
    # ever changes.  The missing-bit relation is ≤ m_bits rows, so an
    # eager localCheckpoint (completes the read BEFORE the write
    # starts) is cheap and closes the hazard structurally.
    return delta.join(stored, "bit", "left_anti").localCheckpoint()


def decontaminate_bloom_stored(
    spark,
    path: str,
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, n_flagged) against a PREBUILT :func:`build_bloom_filter`
    artifact — same output as :func:`bloom_decontaminate` with the
    same geometry (the md5 probes are deterministic, so stored and
    recomputed bits are identical relations), but the benchmark pass
    is replaced by a ≤ m_bits-row parquet READ.  The corpus side
    streams through the broadcast mask filter exactly as in the
    in-plan form: never shuffled, no pair expansion.  The geometry
    comes from the artifact after the check every stored reader shares
    (:func:`~hpaste_spark.operators.artifacts.open_artifact`: no
    pending journal, a Bloom artifact, this build's probe family —
    probing with a foreign hash family yields silent FALSE NEGATIVES,
    so a mismatch is a hard error, never a fallback)."""
    from hpaste_spark.operators import artifacts

    _, meta = artifacts.open_artifact(path, "bloom")
    bits = spark.read.parquet(f"{path}/bits")
    return _bloom_flag_counts(
        corpus,
        bits,
        text_col,
        id_col,
        meta["n"],
        meta["m_bits"],
        meta["k_hashes"],
    )


def cross_source_dup_matrix(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    key=None,
) -> DataFrame:
    """Duplicate pressure BETWEEN sources — the diagnostic a
    mixture designer reads before weighting corpora that overlap
    (multiple crawl snapshots, re-hosted dumps, mirrored forums):
    for every source pair (a ≤ b), how many identical-text doc pairs
    and how many distinct shared texts exist.

    ``key`` chooses the equivalence: default is the md5 of the raw
    text (byte-exact dups); pass a normalized fingerprint column
    (e.g. the sorted-distinct-token bag key) to count near-dup
    pressure instead — same plan either way.

    Shape: one key expression per doc, then everything happens on the
    (text_hash, source, count) aggregate — pair expansion is an
    equi-join of that table WITH ITSELF ON THE HASH, so the fan-out
    per hash is bounded by the number of SOURCES carrying it (a
    handful), never by the number of duplicate docs: a text repeated
    100k× across 2 sources contributes one joined row with
    n_pairs = n_a·n_b, not 10^10 doc pairs.  Within-source pressure
    lands on the diagonal as C(n,2).

    Returns (src_a, src_b, n_shared_texts, n_dup_pairs), src_a ≤ src_b.
    """
    if key is None:
        key = F.md5(F.col(text_col).cast("binary"))
    per = (
        df.select(key.alias("_th"), F.col(source_col))
        .groupBy("_th", source_col)
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    a = per.select(
        "_th", F.col(source_col).alias("src_a"), F.col("_n").alias("_na")
    )
    b = per.select(
        "_th", F.col(source_col).alias("src_b"), F.col("_n").alias("_nb")
    )
    pairs = a.join(b, "_th").filter(F.col("src_a") <= F.col("src_b"))
    # diagonal C(n,2) in LONG arithmetic end-to-end: `/ 2` would route
    # through double and lose exactness for n ≳ 9.4e7 (2^53 mantissa),
    # silently diverging from the oracle's integer n*(n-1)//2.  One of
    # n, n-1 is even, so integer `div` is exact.
    n_pairs = F.when(
        F.col("src_a") == F.col("src_b"),
        F.expr("_na * (_na - 1) div 2"),
    ).otherwise(F.col("_na") * F.col("_nb"))
    return (
        pairs.withColumn("_np", n_pairs.cast("long"))
        .filter(F.col("_np") > 0)
        .groupBy("src_a", "src_b")
        .agg(
            F.count(F.lit(1)).alias("n_shared_texts"),
            F.sum("_np").alias("n_dup_pairs"),
        )
    )


def _cdc_cut(tok_col) -> "F.Column":
    """Content-defined cut decision for ONE token: 52-bit md5 prefix
    (the repo-wide probe convention, see ``_bloom_bit``) — the caller
    supplies the divisor via ``% divisor == 0``.  Depends only on the
    token's BYTES, never its position, which is the whole point of
    content-defined chunking: an insertion upstream shifts positions
    but leaves every downstream cut decision — and therefore every
    downstream chunk — intact."""
    return F.conv(F.substring(F.md5(tok_col.cast("binary")), 1, 13), 16, 10).cast(
        "long"
    )


def cdc_chunks(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    divisor: int = 4,
) -> DataFrame:
    """Content-defined chunking (the FastCDC/rsync family, re-expressed
    relationally): split each document's token stream AFTER every token
    whose content hash ≡ 0 (mod ``divisor``) — expected chunk length
    ``divisor`` tokens, but boundaries are anchored to CONTENT, not
    offsets.  Fixed-width chunking (``dedup_lines``'s pseudo-line
    fixture shim) loses all alignment after a single-token insertion;
    CDC re-synchronises at the next content anchor, so edit-jittered
    copies still share every chunk outside the edit's own chunk.

    Returns (id, cpos, chunk, n_tokens): one row per chunk, ``cpos``
    the chunk's ordinal within its document (count of cuts strictly
    before it — rebuild order), ``chunk`` the space-joined token run.

    Scale shape: posexplode → per-DOC running sum of cut flags (Window
    partitioned by doc — never global) → (doc, cid) hash-agg.  Both
    shuffles key on the document, so cost is O(tokens) regardless of
    how much cross-doc duplication exists."""
    from pyspark.sql import Window

    tk = df.filter(F.length(F.trim(F.col(text_col))) > 0).select(
        F.col(id_col),
        F.posexplode(tokens(F.col(text_col))).alias("pos", "w"),
    )
    cut = (_cdc_cut(F.col("w")) % divisor == 0).cast("long")
    win = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cells = tk.select(
        F.col(id_col),
        F.col("pos"),
        F.col("w"),
        F.coalesce(F.sum(cut).over(win), F.lit(0)).alias("cpos"),
    )
    return cells.groupBy(id_col, "cpos").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "w"))),
                lambda s: s["w"],
            ),
            " ",
        ).alias("chunk"),
        F.count(F.lit(1)).alias("n_tokens"),
    )


def cdc_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    divisor: int = 4,
    min_df: int = 2,
    keep: str = "none",
) -> DataFrame:
    """Sub-document exact dedup at content-defined chunk granularity:
    drop every chunk held by ≥ ``min_df`` distinct documents (``keep``
    = 'none' removes all copies; 'first' keeps the lowest-id holder's
    copy — same policies as :func:`dedup_lines`) and reassemble each
    document from its surviving chunks in order.

    Same output contract as :func:`dedup_lines` — (id, clean_text,
    n_chunks, n_removed) — but robust to boilerplate that is SHIFTED
    by surrounding edits rather than line-aligned: the chunk key
    re-anchors on content, so a nav banner reflowed mid-paragraph
    still collides.  Same no-pair-expansion guarantee: a chunk shared
    by 100k docs costs 100k join rows, never 100k² pairs."""
    if keep not in ("none", "first"):
        raise ValueError(f"keep must be 'none' or 'first', got {keep!r}")
    ch = cdc_chunks(df, text_col=text_col, id_col=id_col, divisor=divisor)
    boiler = (
        ch.groupBy("chunk")
        .agg(
            F.countDistinct(id_col).alias("_df"),
            F.min(id_col).alias("_keeper"),
        )
        .filter(F.col("_df") >= min_df)
        .select("chunk", "_keeper")
    )
    if keep == "first":
        marked = ch.join(boiler, "chunk", "left")
        kept = marked.filter(
            F.col("_keeper").isNull() | (F.col(id_col) == F.col("_keeper"))
        ).drop("_keeper")
    else:
        kept = ch.join(boiler.select("chunk"), "chunk", "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("cpos", "chunk"))),
                lambda s: s["chunk"],
            ),
            " ",
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("_n_kept"),
    )
    totals = ch.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_chunks"))
    return totals.join(rebuilt, id_col, "left").select(
        F.col(id_col),
        F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
        F.col("n_chunks"),
        (F.col("n_chunks") - F.coalesce(F.col("_n_kept"), F.lit(0))).alias(
            "n_removed"
        ),
    )
