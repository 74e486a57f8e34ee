"""Streaming ingest-time deduplication — the micro-batch mirror of the
batch incremental LSH operator (operators/dedup.incremental_lsh_candidates).

The 100 TB ingest loop is: a standing corpus LSH index (band keys,
computed once and stored — the write-time-layout discipline of
sources/bucketed.py and similarity.build_ivf_index), and a document
STREAM whose every micro-batch must be checked against that index
before admission.  foreachBatch runs the exact batch operator per
micro-batch — same code path, hence identical semantics by
construction — so a pipeline can switch between batch backfills and
streaming ingest without changing dedup behavior.

The reference has no streaming (SURVEY §2.9); this extends the
beyond-parity streaming family (time windows, sessionization,
increments, as-of enrichment, stream-stream as-of).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame


def stream_incremental_dedup(
    stream_docs: DataFrame,
    corpus_bands: DataFrame,
    sink: "Callable[[DataFrame, int], None]",
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle: int = 3,
    max_bucket: int | None = None,
    timeout_s: int = 120,
):
    """Check each micro-batch of ``stream_docs`` against the standing
    ``corpus_bands`` LSH index; ``sink(candidates_df, batch_id)``
    receives the (batch_id, corpus_id, n_bands) candidate pairs.

    ``corpus_bands`` stays executor-resident across batches — persist
    it at the call site for repeated reuse (at scale it is a stored
    table read, so each batch's join is a broadcast-batch-side or
    shuffle equi-join on the band key, never a corpus rescan).

    GEOMETRY HAZARD (why the production posture is
    :func:`stream_incremental_dedup_stored`): this form trusts the
    caller to pass the SAME num_hashes/bands/shingle the corpus_bands
    table was built under.  A mismatch doesn't error — the batch's
    band keys simply live in a different value space and never
    collide, so every duplicate streams through flagged unique
    (silent false negatives).  Use this form only when bands and
    geometry come from the same in-scope variables; anything read
    from storage should go through the stored variant, which derives
    geometry from the artifact's pinned meta.
    """
    from hpaste_spark.operators.dedup import incremental_lsh_candidates

    def check(batch_df: DataFrame, batch_id: int) -> None:
        out = incremental_lsh_candidates(
            corpus_bands,
            batch_df,
            text_col=text_col,
            id_col=id_col,
            num_hashes=num_hashes,
            bands=bands,
            shingle=shingle,
            max_bucket=max_bucket,
        )
        sink(out, batch_id)

    q = (
        stream_docs.writeStream.foreachBatch(check)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(timeout_s):
        # returning with the query live would hand the caller a
        # silently-incomplete candidate set while foreachBatch keeps
        # firing in the background
        q.stop()
        raise TimeoutError(
            f"stream_incremental_dedup did not drain within {timeout_s}s"
        )
    return q


def stream_incremental_dedup_stored(
    spark,
    path: str,
    stream_docs: DataFrame,
    sink: "Callable[[DataFrame, int], None]",
    text_col: str = "text",
    max_bucket: int | None = None,
    timeout_s: int = 120,
):
    """:func:`stream_incremental_dedup` against a write-once
    :func:`~hpaste_spark.operators.dedup.build_lsh_index` artifact —
    the production ingest posture (round-8 verdict ask #1): band
    geometry (num_hashes/bands/shingle) and the id column come FROM
    ``{path}/meta.json``, never from the caller, closing the
    silent-false-negative hazard the free-parameter form documents
    (probing an index with mismatched banding parameters makes every
    duplicate look unique — exactly the Bloom wrong-geometry failure
    stream_bloom_flags_stored guards against, at the dedup layer).
    A pending journal or a family mismatch hard-errors via
    read_lsh_index (the check every stored reader shares).

    The bands/meta reads happen once per (re)start, not per
    micro-batch; each batch then signs only ITSELF and equi-joins the
    stored band table — persist the returned bands at scale if the
    stream is long-lived (stored-table read otherwise)."""
    from hpaste_spark.operators.dedup import read_lsh_index

    corpus_bands, meta = read_lsh_index(spark, path)
    return stream_incremental_dedup(
        stream_docs,
        corpus_bands,
        sink,
        text_col=text_col,
        id_col=meta["id_col"],
        num_hashes=meta["num_hashes"],
        bands=meta["bands"],
        shingle=meta["shingle"],
        max_bucket=max_bucket,
        timeout_s=timeout_s,
    )


def stream_bloom_flags(
    stream_docs: DataFrame,
    bits: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    m_bits: int = 16384,
    k_hashes: int = 3,
) -> DataFrame:
    """STATELESS streaming decontamination against a published Bloom
    blocklist (the always-on ingest filter): every (doc, gram) row of
    the stream that tests bloom-POSITIVE is emitted append-mode, with
    no watermark, no state store, and no micro-batch barrier.

    The batch operator (dedup.bloom_membership) tests all-k-bits-set
    with in-row bit arithmetic against the one-row
    :func:`~hpaste_spark.operators.dedup.bloom_mask` word array; this
    is the SAME plan as a stream-static single-row broadcast cross
    join — stateless, no watermark, and (since r13) no per-gram
    equi-join at all: each micro-batch's gram rows are filtered
    map-side (previously k chained broadcast semi-joins, one per probe
    position, each rebuilding its broadcast per batch).  The blocklist
    side is the write-once build_bloom_filter artifact read once per
    (re)start, never per batch.

    Returns the flagged (id, gram-hash) relation; roll up per doc
    downstream (foreachBatch, or the batch path on the landed data).
    Same conservative contract as every bloom path: false positives
    over-flag at the priced FP rate, false negatives cannot happen."""
    from pyspark.sql import functions as F

    from hpaste_spark.operators.dedup import (_bloom_h1h2, _bloom_mask_test,
                                              _doc_grams, bloom_mask)

    g = _doc_grams(stream_docs, text_col, id_col, n)
    h1, h2 = _bloom_h1h2(F.col("g"))
    return (
        g.select(F.col(id_col), F.col("g"), h1.alias("_h1"), h2.alias("_h2"))
        .crossJoin(F.broadcast(bloom_mask(bits, m_bits)))
        .filter(
            _bloom_mask_test(
                F.col("_h1"), F.col("_h2"), F.col("_mask"), m_bits, k_hashes
            )
        )
        .select(id_col, "g")
    )


def stream_bloom_flags_stored(
    spark,
    path: str,
    stream_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """:func:`stream_bloom_flags` against a write-once
    :func:`~hpaste_spark.operators.dedup.build_bloom_filter` artifact:
    reads ``{path}/meta.json`` and derives n/m_bits/k_hashes FROM THE
    ARTIFACT instead of trusting the caller — hand-typed geometry that
    disagrees with the bits yields silent FALSE NEGATIVES, the one
    failure mode a Bloom filter must never have, which is why the
    batch twin (dedup.decontaminate_bloom_stored) and this entry point
    share one check (artifacts.open_artifact: no pending journal, a
    Bloom artifact, this build's probe family).

    The bits/meta reads are batch reads of the static side of a
    stream-static join — legal and read once per (re)start, never per
    micro-batch (persist ``bits`` at scale; at ≤ m_bits rows it
    broadcasts regardless)."""
    from hpaste_spark.operators import artifacts

    _, meta = artifacts.open_artifact(path, "bloom")
    bits = spark.read.parquet(f"{path}/bits")
    return stream_bloom_flags(
        stream_docs,
        bits,
        text_col=text_col,
        id_col=id_col,
        n=meta["n"],
        m_bits=meta["m_bits"],
        k_hashes=meta["k_hashes"],
    )
