"""North-star analytics operators: dedup, similarity search, multimodal
plumbing — semantic checks on the driver fixtures at sf0.001."""

import pytest
from pyspark.sql import functions as F

from hpaste_spark.sources.catalog import load_table

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF, "documents")


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF, "embeddings")


def test_exact_dedup_identifies_copies(spark):
    from hpaste_spark.operators.dedup import exact_dedup

    df = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, "other")], "doc_id long, text string"
    )
    out = {r["keeper_doc_id"]: r["n_copies"] for r in exact_dedup(df).collect()}
    assert out == {1: 2, 3: 1}


def test_minhash_lsh_finds_planted_neardups(spark, docs):
    """LSH candidates must include the high-Jaccard pairs (recall check)."""
    from hpaste_spark.operators.dedup import minhash_lsh_candidates, ngram_jaccard_pairs

    exact = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    cands = {
        (r["id_a"], r["id_b"]) for r in minhash_lsh_candidates(docs).collect()
    }
    assert exact, "fixture should contain at least one >0.5-Jaccard pair"
    missed = exact - cands
    assert not missed, f"LSH missed high-similarity pairs: {missed}"


def test_simhash_close_for_similar_docs(spark):
    from hpaste_spark.operators.dedup import simhash_pairs

    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),
            (3, "completely different words entirely unrelated content here"),
        ],
        "doc_id long, text string",
    )
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in simhash_pairs(df, max_hamming=30).collect()}
    assert pairs[(1, 2)] < pairs[(1, 3)]
    assert pairs[(1, 2)] < pairs[(2, 3)]


def test_brute_force_vs_ann_topk(spark, emb):
    """ANN candidates are a subset ranked identically; top result in the
    query's own bucket should match brute force when recall permits."""
    from hpaste_spark.operators.similarity import ann_topk, brute_force_topk

    qv = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    rest = emb.filter(F.col("vec_id") != 0)
    bf = brute_force_topk(rest, qv, k=50)
    ann = ann_topk(rest, qv, k=50, n_planes=4)
    bf_ids = [r["vec_id"] for r in bf.collect()]
    ann_ids = [r["vec_id"] for r in ann.collect()]
    assert ann_ids, "ANN returned nothing — bucket empty"
    # every ANN result must appear in brute-force order (it's a filtered subset)
    assert set(ann_ids) <= set(bf_ids + ann_ids)
    # recall@10 sanity: with 4 planes (16 buckets) expect some overlap
    assert len(set(ann_ids[:10]) & set(bf_ids[:50])) > 0


def test_multimodal_decode_and_resize(spark, docs):
    from hpaste_spark.operators.multimodal import attach_media, decode_media, resize_meta

    media = attach_media(docs.limit(20))
    decoded = decode_media(media)
    resized = resize_meta(decoded, max_side=64).collect()
    assert len(resized) == 20
    for r in resized:
        assert max(r["out_width"], r["out_height"]) <= 64
        assert r["out_width"] >= 1 and r["out_height"] >= 1


def test_multimodal_real_codec_is_marked_stub(spark, docs):
    from hpaste_spark.operators.multimodal import attach_media, decode_media

    media = attach_media(docs.limit(2))
    with pytest.raises(Exception) as exc_info:
        decode_media(media, use_real_codec=True).collect()
    assert "NotImplementedError" in str(exc_info.value) or "codec" in str(exc_info.value)


def test_frame_sampling_counts(spark):
    from hpaste_spark.operators.multimodal import attach_media, sample_frames

    df = spark.createDataFrame([(1, "x" * 300)], "doc_id long, text string")
    media = attach_media(df)
    frames = sample_frames(media, frame_bytes=64, every_k=2).collect()
    # 300 bytes → 5 frames (0..4); every 2nd → frames 0, 2, 4
    assert [r["frame_no"] for r in frames] == [0, 2, 4]
    assert [r["frame_bytes"] for r in frames] == [64, 64, 44]


def test_near_frame_pairs_tolerates_byte_edits_where_md5_cannot(spark):
    """Perceptual frame dedup: a one-byte frame edit stays within
    Hamming ≤ 2 of the original's dHash (locality — the edit perturbs
    only its own 2-byte segment, flipping at most the two adjacent
    comparison bits), so the pair IS reported; md5 shared_frame_pairs
    misses it by construction.  A byte-reversed frame (all comparison
    bits inverted) is NOT reported, and identical frames pair at
    distance 0."""
    from hpaste_spark.operators.multimodal import (
        attach_media,
        near_frame_pairs,
        shared_frame_pairs,
    )

    base = "abcdefghijklmnopqrstuvwxyz0123456789abcdefghijklmnopqrstuvwxyz01"
    assert len(base) == 64
    edited = base[:30] + "Z" + base[31:]
    df = spark.createDataFrame(
        [(1, base), (2, edited), (3, base[::-1]), (4, base)],
        "doc_id long, text string",
    )
    media = attach_media(df)
    near = {
        (r["doc_a"], r["doc_b"]): r["n_near_frames"]
        for r in near_frame_pairs(media, frame_bytes=64, max_hamming=2).collect()
    }
    assert (1, 2) in near, "one-byte edit must stay within hamming 2"
    assert (1, 4) in near and (2, 4) in near  # identical + edited twin
    assert (1, 3) not in near and (2, 3) not in near and (3, 4) not in near
    exact = {
        (r["doc_a"], r["doc_b"])
        for r in shared_frame_pairs(media, frame_bytes=64).collect()
    }
    assert (1, 2) not in exact, "md5 frames are edit-blind — that's the gap"
    assert (1, 4) in exact


def test_edit_distance_pairs_separates_edits_from_block_moves(spark):
    """Levenshtein verify after LSH blocking: a one-word in-place edit
    is kept with its exact distance; two SWAPPED HALVES — which keep
    shingle Jaccard ≈ 1 and therefore block as candidates — are
    rejected (block moves cost ~half a document of edits, the case
    Jaccard structurally cannot see); an unrelated doc never reaches
    the verify."""
    from hpaste_spark.operators.dedup import edit_distance_pairs

    half_x = "alpha beta gamma delta epsilon zeta eta theta"
    half_y = "iota kappa lambda mu nu xi omicron pi"
    base = f"{half_x} {half_y}"
    edited = base.replace("delta", "felta")  # 1 char edit
    swapped = f"{half_y} {half_x}"
    df = spark.createDataFrame(
        [
            (1, base),
            (2, edited),
            (3, swapped),
            (4, "totally different words about other topics entirely here now"),
        ],
        "doc_id long, text string",
    )
    out = {
        (r["id_a"], r["id_b"]): r["edit_distance"]
        for r in edit_distance_pairs(df, max_edits=20).collect()
    }
    assert out == {(1, 2): 1}
    # raise the bar past the block-move cost and the swapped pair
    # appears with its true (large) distance — proving it was blocked
    # as a candidate and rejected by the verify, not missed by LSH
    loose = {
        (r["id_a"], r["id_b"]): r["edit_distance"]
        for r in edit_distance_pairs(df, max_edits=100).collect()
    }
    assert (1, 3) in loose and loose[(1, 3)] > 20


def test_shared_frame_run_measures_consecutive_alignment(spark):
    """Temporal frame alignment: two payloads sharing 3 CONSECUTIVE
    64-byte frames report run_frames=3; a payload containing the same
    frames SCATTERED (non-consecutive positions, broken diagonals)
    reports only its longest consecutive run; bag-count
    shared_frame_pairs sees both as 3 shared frames."""
    from hpaste_spark.operators.multimodal import (
        attach_media,
        shared_frame_pairs,
        shared_frame_run_pairs,
    )

    f = [c * 64 for c in "abcdef"]
    df = spark.createDataFrame(
        [
            (1, f[0] + f[1] + f[2]),                    # run abc
            (2, f[5] + f[0] + f[1] + f[2]),             # x + run abc
            (3, f[0] + f[3] + f[1] + f[4] + f[2]),      # a.b.c scattered
        ],
        "doc_id long, text string",
    )
    media = attach_media(df)
    runs = {
        (r["doc_a"], r["doc_b"]): r["run_frames"]
        for r in shared_frame_run_pairs(media, frame_bytes=64, min_run=1).collect()
    }
    assert runs[(1, 2)] == 3
    assert runs[(1, 3)] == 1
    bags = {
        (r["doc_a"], r["doc_b"]): r["n_shared_frames"]
        for r in shared_frame_pairs(media, frame_bytes=64).collect()
    }
    assert bags[(1, 2)] == 3 and bags[(1, 3)] == 3  # the signal bags miss


def test_ivf_topk_recall(spark, emb):
    """IVF with nprobe=all centroids IS brute force; with nprobe=2 the
    result is a subset of the data ranked by exact cosine."""
    from hpaste_spark.operators.similarity import brute_force_topk, ivf_topk

    qv = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    bf = [r["vec_id"] for r in brute_force_topk(emb, qv, k=10).collect()]
    full = [r["vec_id"] for r in ivf_topk(emb, qv, k=10, k_centroids=4, nprobe=4).collect()]
    assert full == [0] + bf[:9] or full == bf, "nprobe=K must equal brute force (self included)"
    part = [r["vec_id"] for r in ivf_topk(emb, qv, k=10, k_centroids=4, nprobe=1).collect()]
    assert 0 in part, "query vector's own list is always probed"
    assert len(part) == 10


def test_repetition_signals_exact_values(spark):
    from hpaste_spark.functions import text as X

    df = spark.createDataFrame(
        [
            (1, "a b a b a"),      # bigrams: ab ba ab ba → 2 distinct of 4; top tok a=3/5
            (2, "x y z w"),        # all distinct; top tok 1/4
            (3, "q q q q"),        # bigrams all 'q q' → 1 distinct of 3; top 4/4
            (4, "solo"),           # <2 tokens → dup ratio null, top = 1.0
        ],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            X.dup_ngram_ratio(F.col("text"), 2).alias("dup"),
            X.top_token_ratio(F.col("text")).alias("top"),
        ).collect()
    }
    assert rows[1]["dup"] == pytest.approx(0.5) and rows[1]["top"] == pytest.approx(3 / 5)
    assert rows[2]["dup"] == pytest.approx(0.0) and rows[2]["top"] == pytest.approx(0.25)
    assert rows[3]["dup"] == pytest.approx(2 / 3) and rows[3]["top"] == pytest.approx(1.0)
    assert rows[4]["dup"] is None and rows[4]["top"] == pytest.approx(1.0)


def test_pii_redaction(spark):
    from hpaste_spark.functions import text as X

    df = spark.createDataFrame(
        [
            (1, "mail bob.smith+x@corp.example.co now"),
            (2, "server 10.0.255.3 port"),
            (3, "call +1 (415) 555-0199 today"),
            (4, "clean text only"),
        ],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            X.redact_pii(F.col("text")).alias("red"),
            X.pii_counts(F.col("text")).alias("n"),
        ).collect()
    }
    assert rows[1]["red"] == "mail [EMAIL] now" and rows[1]["n"]["email"] == 1
    assert rows[2]["red"] == "server [IPV4] port" and rows[2]["n"]["ipv4"] == 1
    assert rows[3]["red"] == "call [PHONE] today" and rows[3]["n"]["phone"] == 1
    assert rows[4]["red"] == "clean text only" and sum(rows[4]["n"]) == 0


def test_lsh_bucket_cap_survives_adversarial_identical_corpus(spark):
    """An all-identical corpus puts every doc in one bucket per band;
    the cap must drop those buckets before the |bucket|² expansion."""
    from hpaste_spark.operators.dedup import minhash_lsh_candidates

    n = 200
    df = spark.createDataFrame(
        [(i, "identical text repeated for every document in the corpus") for i in range(n)],
        "doc_id long, text string",
    )
    uncapped = minhash_lsh_candidates(df).count()
    assert uncapped == n * (n - 1) // 2  # degenerate quadratic blow-up
    capped = minhash_lsh_candidates(df, max_bucket=50).count()
    assert capped == 0, "all buckets exceed the cap and must be skipped"
    # a mixed corpus: the planted near-dup pair still surfaces
    base = ("a genuinely different document about gardens rivers and meadows "
            "where herons wade through reeds beside slow water in the morning light")
    mixed = df.union(
        spark.createDataFrame(
            # high-Jaccard pair (one trailing word differs → J = 21/23):
            # every band matches with prob ~0.7, some band with prob ~0.992
            [(1000, base + " today"), (1001, base + " now")],
            "doc_id long, text string",
        )
    )
    pairs = {(r["id_a"], r["id_b"]) for r in
             minhash_lsh_candidates(mixed, max_bucket=50).collect()}
    assert (1000, 1001) in pairs


def test_simhash_banded_equals_bruteforce(spark, docs):
    """Pigeonhole losslessness: 4-band blocking over 30 bits returns
    exactly the brute-force hamming ≤ 3 pair set."""
    from hpaste_spark.operators.dedup import simhash, simhash_pairs

    sample = docs.filter(F.length(F.trim(F.col("text"))) > 0).limit(120)
    s = simhash(sample).collect()
    brute = {
        (a["doc_id"], b["doc_id"]): bin(a["simhash"] ^ b["simhash"]).count("1")
        for a in s for b in s if a["doc_id"] < b["doc_id"]
        if bin(a["simhash"] ^ b["simhash"]).count("1") <= 3
    }
    banded = {(r["id_a"], r["id_b"]): r["hamming"] for r in simhash_pairs(sample).collect()}
    assert banded == brute


def test_embedding_neardup_blocked_recall(spark, emb):
    """Blocked pairs ⊆ brute-force pairs, with usable recall even at
    the loose-threshold end of hyperplane LSH."""
    from hpaste_spark.operators.dedup import (
        embedding_neardup_pairs,
        embedding_neardup_pairs_bruteforce,
    )

    brute = {(r["id_a"], r["id_b"]) for r in
             embedding_neardup_pairs_bruteforce(emb, threshold=0.4).collect()}
    blocked = {(r["id_a"], r["id_b"]) for r in
               embedding_neardup_pairs(emb, threshold=0.4).collect()}
    assert blocked <= brute, "blocking must never invent pairs"
    if brute:
        assert len(blocked) / len(brute) >= 0.4, (
            f"recall collapsed: {len(blocked)}/{len(brute)}"
        )


def test_pii_counts_reconcile_with_scrub(spark):
    """Audit counts must equal what redact_pii replaces: an email with a
    digit-heavy local part must count once (email), not also as phone."""
    from hpaste_spark.functions import text as X

    df = spark.createDataFrame(
        [(1, "reach 4155550199.2022@corp.example.com or 10.1.2.3 thanks")],
        "doc_id long, text string",
    )
    r = df.select(
        X.redact_pii(F.col("text")).alias("red"),
        X.pii_counts(F.col("text")).alias("n"),
    ).first()
    assert r["n"]["email"] == 1
    assert r["n"]["ipv4"] == 1
    assert r["n"]["phone"] == 0, "local part already scrubbed as email"
    assert r["red"].count("[EMAIL]") == 1 and "[PHONE]" not in r["red"]


def test_containment_catches_excerpt_jaccard_misses(spark):
    """A short doc pasted into a long one: containment ≈ 1.0 while
    Jaccard is tiny — and orientation puts the contained (smaller-set)
    doc in id_a regardless of id order."""
    from hpaste_spark.operators.dedup import containment_pairs, ngram_jaccard_pairs

    excerpt = "alpha beta gamma delta epsilon zeta"
    filler = " ".join(f"word{i} next{i} more{i}" for i in range(40))
    df = spark.createDataFrame(
        [
            (7, filler + " " + excerpt + " " + filler.replace("word", "tail")),
            (9, excerpt),
            (11, "entirely unrelated content with no shared phrases at all here"),
        ],
        "doc_id long, text string",
    )
    cont = {(r["id_a"], r["id_b"]): r["containment"]
            for r in containment_pairs(df, threshold=0.5).collect()}
    assert (9, 7) in cont, "contained doc must be id_a even though 9 > 7"
    assert cont[(9, 7)] >= 0.9
    jac = {(r["id_a"], r["id_b"]) for r in ngram_jaccard_pairs(df, threshold=0.5).collect()}
    assert (7, 9) not in jac and (9, 7) not in jac, "Jaccard must miss the excerpt"


def test_hot_shingle_cap_bounds_boilerplate_fanout(spark):
    """Adversarial boilerplate: one shingle shared by every doc must not
    fan out k² pairs when capped.  With the cap below k the boilerplate
    bucket is dropped BEFORE pair expansion, so docs related only
    through boilerplate produce no pair at all, while genuinely
    duplicated docs still pair through their distinctive shingles."""
    from hpaste_spark.operators.dedup import containment_pairs

    boiler = "all rights reserved standard licence header text"
    docs = [(i, boiler + f" unique{i} body{i} tail{i} extra{i}") for i in range(20)]
    # docs 100/101 share a real duplicated passage beyond the boilerplate
    dup = "the quick brown fox jumps over the lazy dog again and again"
    docs += [(100, boiler + " " + dup), (101, boiler + " " + dup + " plus a suffix here")]
    df = spark.createDataFrame(docs, "doc_id long, text string")

    capped = {
        (r["id_a"], r["id_b"])
        for r in containment_pairs(df, threshold=0.5, max_shingle_df=10).collect()
    }
    # boilerplate-only relations are dropped; the true near-dup survives
    # (its distinctive shingles appear in only 2 docs, far below the cap)
    assert (100, 101) in capped
    assert all(a in (100, 101) and b in (100, 101) for a, b in capped)

    uncapped = {
        (r["id_a"], r["id_b"])
        for r in containment_pairs(df, threshold=0.5, max_shingle_df=None).collect()
    }
    assert (100, 101) in uncapped and len(uncapped) > len(capped), (
        "without the cap the boilerplate shingles manufacture spurious pairs"
    )


def test_knn_join_ranks_match_bruteforce(spark, emb):
    """Every (query, neighbor) the blocked k-NN join returns must carry
    the exact brute-force cosine, ranks must be contiguous and ordered,
    and no query may retrieve itself."""
    import math

    from hpaste_spark.operators.similarity import knn_join

    qs = emb.filter(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = knn_join(emb, qs, k=3).collect()
    assert out, "fixture buckets must produce at least one neighbor"

    vecs = {r["vec_id"]: r["embedding"] for r in emb.collect()}

    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        return dot / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b)))

    by_q = {}
    for r in out:
        assert r["query_id"] != r["neighbor_id"], "self-match leaked"
        assert abs(r["cos_sim"] - cos(vecs[r["query_id"]], vecs[r["neighbor_id"]])) < 1e-4
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["cos_sim"]))
    for ranks in by_q.values():
        ranks.sort()
        assert [rk for rk, _ in ranks] == list(range(1, len(ranks) + 1))
        sims = [s for _, s in ranks]
        assert sims == sorted(sims, reverse=True), "rank order must follow cosine"


def test_pack_token_budget_offsets_and_stability(spark, docs):
    """Packing must lay docs at contiguous per-shard offsets with
    bin = start // budget, and the assignment must not change when the
    input is repartitioned (no dependence on physical layout)."""
    from hpaste_spark.operators.sampling import pack_token_budget
    from hpaste_spark.functions.text import token_count

    d = docs.filter(F.length(F.trim(F.col("text"))) > 0)
    out = pack_token_budget(d, "doc_id", token_count(F.col("text")), budget=256, n_shards=4)
    rows = out.collect()
    by_shard = {}
    for r in rows:
        assert r["bin_id"] == r["start_off"] // 256
        by_shard.setdefault(r["shard_id"], []).append(r)
    for shard_rows in by_shard.values():
        shard_rows.sort(key=lambda r: r["doc_id"])
        off = 0
        for r in shard_rows:
            assert r["start_off"] == off, "offsets must be gapless in id order"
            off += r["n_tokens"]
    again = pack_token_budget(
        d.repartition(7), "doc_id", token_count(F.col("text")), budget=256, n_shards=4
    ).collect()
    key = lambda r: (r["doc_id"], r["shard_id"], r["bin_id"], r["start_off"])
    assert sorted(map(key, rows)) == sorted(map(key, again))


def test_tfidf_ranks_rare_terms_over_boilerplate(spark):
    """A term unique to one doc must outscore a term present in every
    doc, and ranks must be contiguous with the term tie-break."""
    from hpaste_spark.operators.tfidf import tfidf_top_terms

    df = spark.createDataFrame(
        [
            (1, "common zebra"),
            (2, "common words here"),
            (3, "common words there"),
        ],
        "doc_id long, text string",
    )
    out = {(r["doc_id"], r["rank"]): r["term"] for r in tfidf_top_terms(df, k=2).collect()}
    assert out[(1, 1)] == "zebra", "unique term must outrank the everywhere-term"


def test_bigram_counts_exact(spark):
    from hpaste_spark.operators.tfidf import corpus_ngram_counts

    df = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b c")], "doc_id long, text string"
    )
    out = {r["ngram"]: r["n_occurrences"] for r in corpus_ngram_counts(df, n=2, top=10).collect()}
    assert out == {"a b": 3, "b a": 1, "b c": 1}


def test_ivf_knn_join_scores_match_bruteforce(spark, emb):
    """IVF-probed neighbors must carry exact brute-force cosines with
    contiguous, cosine-ordered ranks and no self-matches."""
    import math

    from hpaste_spark.operators.similarity import ivf_knn_join

    qs = emb.filter(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = ivf_knn_join(emb, qs, k=3, k_centroids=4, nprobe=2).collect()
    assert out
    vecs = {r["vec_id"]: r["embedding"] for r in emb.collect()}

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return d / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b)))

    by_q = {}
    for r in out:
        assert r["query_id"] != r["neighbor_id"]
        assert abs(r["cos_sim"] - cos(vecs[r["query_id"]], vecs[r["neighbor_id"]])) < 1e-4
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["cos_sim"]))
    for ranks in by_q.values():
        ranks.sort()
        assert [rk for rk, _ in ranks] == list(range(1, len(ranks) + 1))
        sims = [s for _, s in ranks]
        assert sims == sorted(sims, reverse=True)


def test_mixture_sample_rates_and_monotonicity(spark, docs):
    """rate=1 keeps a stratum whole, rate=0 drops it, and raising a
    rate only ever ADDS rows (stable incremental re-mixes)."""
    from hpaste_spark.operators.sampling import mixture_sample

    en_total = docs.filter(F.col("lang") == "en").count()
    full = mixture_sample(docs, "lang", "doc_id", {"en": 1.0}, default_rate=0.0)
    assert full.count() == en_total
    assert full.filter(F.col("lang") != "en").count() == 0
    small = {r["doc_id"] for r in
             mixture_sample(docs, "lang", "doc_id", {"en": 0.3}, 0.0).collect()}
    big = {r["doc_id"] for r in
           mixture_sample(docs, "lang", "doc_id", {"en": 0.6}, 0.0).collect()}
    assert small <= big
    assert len(small) < en_total


def test_keep_best_per_cluster_prefers_quality_over_id(spark):
    """In a duplicate cluster the HIGHER-quality doc survives even with
    the larger id; unclustered docs survive as singletons."""
    from hpaste_spark.operators.dedup import keep_best_per_cluster

    base = "the cat sat on the mat and the dog sat on the log"
    df = spark.createDataFrame(
        [
            (1, base),                       # short -> lower quality
            (2, base + " " + base + " and it is a tale of two copies, in the end."),
            (3, "совершенно другой текст без общих фраз вообще"),
        ],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    from hpaste_spark.functions.text import quality_score

    kept = {r["doc_id"] for r in
            keep_best_per_cluster(df, pairs, quality_score(F.col("text"))).collect()}
    assert kept == {2, 3}, kept


def test_extract_features_deterministic_and_ann_composable(spark, docs):
    """The feature stage must be deterministic across repartitioning and
    its output must feed the ANN join unchanged (the full multimodal →
    embedding → retrieval pipeline)."""
    from hpaste_spark.operators.multimodal import attach_media, extract_features
    from hpaste_spark.operators.similarity import knn_join

    media = attach_media(docs.limit(50))
    a = {r["doc_id"]: r["features"] for r in extract_features(media, dim=8).collect()}
    b = {r["doc_id"]: r["features"] for r in
         extract_features(attach_media(docs.limit(50).repartition(7)), dim=8).collect()}
    assert a == b
    assert all(len(v) == 8 and all(0 <= x < 1000 for x in v) for v in a.values())

    emb = extract_features(media, dim=8).selectExpr(
        "doc_id as vec_id", "transform(features, x -> cast(x as double)) as embedding"
    )
    qs = emb.limit(5).selectExpr("vec_id as query_id", "embedding")
    out = knn_join(emb, qs, k=2, bands=4, planes_per_band=2)
    for r in out.collect():
        assert r["query_id"] != r["neighbor_id"]


def test_extract_features_real_model_is_marked_stub(spark, docs):
    from hpaste_spark.operators.multimodal import attach_media, extract_features

    with pytest.raises(Exception) as exc_info:
        extract_features(attach_media(docs.limit(2)), use_real_model=True).collect()
    assert "NotImplementedError" in str(exc_info.value) or "extractor" in str(exc_info.value)


def test_contamination_flags_quoted_eval_items(spark):
    """An eval item quoted verbatim inside a big training doc must flag
    with containment 1.0; unrelated eval items must pass clean."""
    from hpaste_spark.operators.dedup import cross_containment_pairs

    bench_item = "what is the capital of france the answer is paris"
    filler = " ".join(f"tok{i} mid{i} end{i}" for i in range(30))
    train = spark.createDataFrame(
        [(100, filler + " " + bench_item + " " + filler)],
        "doc_id long, text string",
    )
    evals = spark.createDataFrame(
        [(1, bench_item), (2, "unrelated question about something else entirely here")],
        "doc_id long, text string",
    )
    out = {(r["eval_id"], r["train_id"]): r["containment"]
           for r in cross_containment_pairs(train, evals, threshold=0.5).collect()}
    assert out.keys() == {(1, 100)}
    assert out[(1, 100)] == pytest.approx(1.0)


def test_incremental_lsh_matches_full_lsh_cross_pairs(spark):
    """The incremental batch-vs-corpus candidates must be exactly the
    cross-partition subset of the full all-pairs LSH run (same bands,
    same counts) — indexing the corpus once loses nothing."""
    from hpaste_spark.operators.dedup import (
        incremental_lsh_candidates,
        minhash_band_keys,
        minhash_lsh_candidates,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").filter(
        F.length(F.trim(F.col("text"))) > 0
    )
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    batch = docs.filter(F.col("doc_id") % 10 == 0)
    inc = {
        (r["batch_id"], r["corpus_id"]): r["n_bands"]
        for r in incremental_lsh_candidates(minhash_band_keys(corpus), batch).collect()
    }
    full = {}
    for r in minhash_lsh_candidates(docs).collect():
        a, b, n = r["id_a"], r["id_b"], r["n_bands"]
        if (a % 10 == 0) != (b % 10 == 0):
            batch_id, corpus_id = (a, b) if a % 10 == 0 else (b, a)
            full[(batch_id, corpus_id)] = n
    assert inc == full


def test_int8_quantization_roundtrip_error_bound(spark, emb):
    """Dequantized vectors must be within scale/2 per component
    (half-step rounding error) and preserve cosine ranks closely."""
    from hpaste_spark.functions.vectors import dequantize, quantize_int8

    qz = quantize_int8(F.col("embedding"))
    rows = (
        emb.limit(50)
        .select("vec_id", "embedding", qz.alias("qz"), dequantize(qz).alias("back"))
        .collect()
    )
    assert rows
    for r in rows:
        scale = r["qz"]["scale"]
        assert all(abs(int(c)) <= 127 for c in r["qz"]["q"]), "codes must fit int8"
        for orig, rec in zip(r["embedding"], r["back"]):
            assert abs(float(orig) - rec) <= scale / 2 + 1e-12


def test_ivf_lloyd_iterations_do_not_increase_sse(spark, emb):
    """k-means invariant: each Lloyd round's within-cluster SSE (against
    the centroids it produced) must not exceed the previous round's —
    and the refinement must stay deterministic across re-runs."""
    from hpaste_spark.operators.similarity import ivf_assign, ivf_centroids

    def sse(iters):
        cents = ivf_centroids(emb, k_centroids=4, iterations=iters).persist()
        assign = ivf_assign(emb, cents)
        joined = (
            emb.join(assign, "vec_id")
            .join(cents, "cid")
            .select(
                F.aggregate(
                    F.zip_with(
                        F.col("embedding").cast("array<double>"),
                        F.col("cvec"),
                        lambda x, c: (x - c) * (x - c),
                    ),
                    F.lit(0.0),
                    lambda a, x: a + x,
                ).alias("d2")
            )
        )
        return joined.agg(F.sum("d2")).first()[0]

    s1, s2, s3 = sse(1), sse(2), sse(3)
    assert s2 <= s1 + 1e-6 and s3 <= s2 + 1e-6, (s1, s2, s3)
    assert sse(2) == s2, "refined centroids must be run-deterministic"


def test_semantic_dedup_prunes_central_neighbor_rule(spark):
    """SemDeDup keep rule: in an above-threshold within-cluster pair
    the member FARTHER from the centroid is dropped; unrelated vectors
    survive; the kept set is partitioning-stable."""
    from hpaste_spark.operators.dedup import semantic_dedup

    rows = [
        # even ids seed cluster 0 (id % 2): two near-identical vectors
        # plus one distant one
        (0, [1.0, 0.0, 0.0, 0.05]),
        (2, [1.0, 0.01, 0.0, 0.0]),   # ~cos 0.999 with id 0
        (4, [0.1, 0.0, 1.0, 0.0]),    # unrelated
        # odd ids seed cluster 1: all mutually distant
        (1, [0.0, 1.0, 0.0, 0.0]),
        (3, [0.0, 0.1, 0.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    kept = semantic_dedup(df, k_centroids=2, threshold=0.9)
    ids = {r["vec_id"] for r in kept.collect()}
    assert len(ids & {0, 2}) == 1          # exactly one of the near-pair survives
    assert {1, 3, 4} <= ids                 # everything else survives
    again = {r["vec_id"] for r in semantic_dedup(
        df.repartition(5), k_centroids=2, threshold=0.9).collect()}
    assert again == ids


def test_semantic_dedup_plan_is_cluster_local_equi_join(spark, emb):
    """The quadratic step must ride a cid EQUI-join — never a
    cartesian/nested-loop pair expansion — and max_cluster caps the
    per-cluster expansion deterministically."""
    from hpaste_spark.operators.dedup import semantic_dedup

    plan = semantic_dedup(emb, k_centroids=8, threshold=0.4)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the cap narrows only the PAIR EXPANSION: rows ranked beyond it
    # skip the neighbor test but stay in the output, so the capped
    # kept-set is a superset of the uncapped one (fewer tested pairs
    # -> fewer losers), never an arbitrary truncation of the corpus
    full_ids = {r["vec_id"] for r in semantic_dedup(
        emb, k_centroids=8, threshold=0.4).collect()}
    capped_ids = {r["vec_id"] for r in semantic_dedup(
        emb, k_centroids=8, threshold=0.4, max_cluster=10).collect()}
    assert capped_ids >= full_ids


def test_bm25_hand_computed(spark):
    """BM25 on a 3-doc corpus vs a by-hand score: rarer query term
    dominates, longer docs are penalized, ranks are contiguous."""
    import math

    from hpaste_spark.operators.tfidf import bm25_topk

    df = spark.createDataFrame(
        [
            (1, "cat cat dog"),
            (2, "cat fish fish fish"),
            (3, "bird bird bird bird"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: (r["score"], r["rank"]) for r in bm25_topk(df, ["cat", "dog"], k=3).collect()}
    # N=3, avgdl = (3+4+4)/3; df(cat)=2, df(dog)=1
    k1, b = 1.2, 0.75
    avgdl = 11 / 3

    def s(tf, dfreq, dl):
        idf = math.log(1.0 + (3 - dfreq + 0.5) / (dfreq + 0.5))
        return round(idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl)), 6)

    exp1 = round(s(2, 2, 3) + s(1, 1, 3), 4)
    exp2 = round(s(1, 2, 4), 4)
    assert out[1] == (exp1, 1)
    assert out[2] == (exp2, 2)
    assert 3 not in out, "doc without any query term must not appear"


def test_winnow_guarantee_and_density(spark):
    """Winnowing's match guarantee: two docs sharing a run of
    >= n+w-1 tokens (here 3+4-1=6) MUST share a fingerprint; and the
    selected set is strictly sparser than the full shingle set."""
    from pyspark.sql import functions as F

    from hpaste_spark.functions.text import shingle_hashes, winnow_fingerprints
    from hpaste_spark.operators.dedup import winnow_overlap_pairs

    shared = "alpha beta gamma delta epsilon zeta"  # 6-token run
    df = spark.createDataFrame(
        [
            (1, f"one two {shared} three four five six seven"),
            (2, f"eight nine ten {shared} eleven twelve thirteen"),
            (3, "totally different words with no run overlap at all here"),
        ],
        "doc_id long, text string",
    )
    pairs = {
        (r["id_a"], r["id_b"])
        for r in winnow_overlap_pairs(df, min_common=1).collect()
    }
    assert (1, 2) in pairs, "guaranteed-length shared run must fingerprint-match"
    assert not any(3 in p for p in pairs)

    sizes = df.select(
        F.size(shingle_hashes(F.col("text"))).alias("all_sh"),
        F.size(winnow_fingerprints(F.col("text"))).alias("fps"),
    ).collect()
    assert all(r["fps"] < r["all_sh"] for r in sizes)
    assert all(r["fps"] >= 1 for r in sizes)


def test_winnow_short_doc_empty(spark):
    from pyspark.sql import functions as F

    from hpaste_spark.functions.text import winnow_fingerprints

    # 5 tokens -> 3 shingles < w=4 -> no complete window -> empty
    df = spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string")
    assert df.select(F.size(winnow_fingerprints(F.col("text"))).alias("s")).first()["s"] == 0


def test_pair_eval_metrics(spark):
    from hpaste_spark.operators.dedup import pair_eval

    cand = spark.createDataFrame([(1, 2), (1, 3), (2, 3)], "id_a long, id_b long")
    truth = spark.createDataFrame([(1, 2), (4, 5)], "id_a long, id_b long")
    r = pair_eval(cand, truth).first()
    assert (r.n_candidates, r.n_truth, r.n_hit) == (3, 2, 1)
    p, rec = 1 / 3, 1 / 2
    assert r.precision == round(p, 6) and r.recall == round(rec, 6)
    assert r.f1 == round(2 * p * rec / (p + rec), 6)
    # empty candidate set: 0.0 metrics, not NULL
    empty = spark.createDataFrame([], "id_a long, id_b long")
    z = pair_eval(empty, truth).first()
    assert (z.n_candidates, z.precision, z.recall, z.f1) == (0, 0.0, 0.0, 0.0)


def test_prefix_jaccard_lossless_and_cheaper(spark):
    """Prefix-filtered pairs == full ngram_jaccard_pairs at the same
    threshold (losslessness), and the prefix index is strictly smaller
    than the full shingle index."""
    from pyspark.sql import functions as F

    from hpaste_spark.operators.dedup import (ngram_jaccard_pairs,
                                              prefix_jaccard_pairs, shingle_sets)
    from hpaste_spark.sources.catalog import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    full = {
        (r.id_a, r.id_b, r.jaccard)
        for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    pref = {
        (r.id_a, r.id_b, r.jaccard)
        for r in prefix_jaccard_pairs(docs, threshold=0.5).collect()
    }
    assert pref == full and len(full) > 0
    # index-size reduction: prefix rows < full shingle rows
    n_full = shingle_sets(docs).count()
    # reproduce the operator's prefix row count
    from pyspark.sql import Window

    sets = shingle_sets(docs)
    dfreq = sets.groupBy("shingle").agg(F.count(F.lit(1)).alias("_df"))
    w = Window.partitionBy("doc_id").orderBy("_df", "shingle")
    n_pref = (
        sets.join(dfreq, "shingle")
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= F.col("set_size") - F.ceil(0.5 * F.col("set_size")) + 1)
        .count()
    )
    assert n_pref < 0.7 * n_full, (n_pref, n_full)


def test_bigram_pmi_collocation_beats_chance(spark):
    """'new york' always adjacent -> strongly positive PMI; a pair of
    independent frequent words hovers near 0; min_count prunes."""
    import math

    from hpaste_spark.operators.tfidf import bigram_pmi

    rows = [("new york",)] * 10 + [("a b",)] * 5 + [("b a",)] * 5 + [("a rare",)]
    df = spark.createDataFrame(rows, "text string")
    out = {(r.w1, r.w2): (r.n_pair, r.pmi) for r in bigram_pmi(df, min_count=5).collect()}
    assert ("a", "rare") not in out, "min_count must prune rare pairs"
    n, pmi = out[("new", "york")]
    assert n == 10
    # exact: p(new york)=10/21 bigrams; p(new)=p(york)=10/42 tokens
    assert pmi == round(math.log((10 / 21) / ((10 / 42) * (10 / 42))), 6)
    assert out[("new", "york")][1] > out[("a", "b")][1]


def test_prefix_length_integer_safe_at_exact_products(spark):
    """ADVICE r4 (medium): ceil of the RAW double t*|s| overshoots when
    the product is an exact integer (0.55*20 = 11.000000000000002 ->
    ceil 12), shortening the prefix by one and silently breaking the
    completeness pigeonhole.  The operator must use the 9dp-rounded
    guard; this pins both the guard and the failure mode it prevents."""
    from pyspark.sql import functions as F

    cases = spark.createDataFrame(
        [(20,), (40,), (60,), (100,)], "set_size int"
    )
    t = 0.55
    out = {
        r.set_size: (r.guarded, r.raw)
        for r in cases.select(
            "set_size",
            (F.col("set_size") - F.ceil(F.round(F.lit(t) * F.col("set_size"), 9)) + 1)
            .alias("guarded"),
            (F.col("set_size") - F.ceil(F.lit(t) * F.col("set_size")) + 1)
            .alias("raw"),
        ).collect()
    }
    # t·|s| is an exact integer in all four cases -> prefix must be
    # |s| - t|s| + 1 exactly
    for s in (20, 40, 60, 100):
        assert out[s][0] == s - round(t * s) + 1, (s, out[s])
    # the raw double product overshoots at |s|=100 (0.55*100 =
    # 55.00000000000001 -> ceil 56 -> prefix one too SHORT); the guard
    # is what keeps the completeness pigeonhole intact there
    assert out[100][1] == 100 - 56 + 1
    assert out[100][0] == 100 - 55 + 1


def test_semantic_dedup_auto_k_scales_with_corpus(spark, emb):
    """Default k_centroids=None derives k_total = max(k_min,
    ceil(n/target)) and (since r7) routes through the HIERARCHICAL
    k1=⌈√k_total⌉ / k2=⌈k_total/k1⌉ split: a smaller
    target_cluster_size must yield MORE cells (≤ k1·k2 effective cids),
    output stays deterministic, and no input row vanishes except pair
    losers."""
    from hpaste_spark.operators.dedup import semantic_dedup

    coarse = semantic_dedup(emb, threshold=0.4, target_cluster_size=250)
    fine = semantic_dedup(emb, threshold=0.4, target_cluster_size=50)
    n_coarse = coarse.select("cid").distinct().count()
    n_fine = fine.select("cid").distinct().count()
    # 500 vectors: ceil(500/250)=2 -> k_min=8 floor -> k1=3,k2=3 (≤9
    # cells); ceil(500/50)=10 -> k1=4,k2=3 (≤12 cells)
    assert n_coarse <= 9 and n_fine <= 12 and n_fine > n_coarse
    again = {r["vec_id"] for r in semantic_dedup(
        emb.repartition(7), threshold=0.4, target_cluster_size=50).collect()}
    assert again == {r["vec_id"] for r in fine.collect()}


def test_semantic_dedup_autok_routes_two_level(spark, emb):
    """Pins the r7 routing contract: k_centroids=None delegates to
    semantic_dedup_two_level (the n·2√k·d path) with the same derived
    k_total, and matches it row-for-row; an explicit k keeps the flat
    single-level assignment (exactly one per-id argmax window)."""
    import hpaste_spark.operators.dedup as dd

    routed = dd.semantic_dedup(emb, threshold=0.4, target_cluster_size=50)
    direct = dd.semantic_dedup_two_level(
        emb, threshold=0.4, target_cluster_size=50
    )
    assert sorted(map(tuple, routed.collect())) == sorted(
        map(tuple, direct.collect())
    )
    # routing pin: auto-k must CALL the two-level form (a plan-node
    # count is brittle — the prune's a/b/anti-join branches each expand
    # the assignment subtree in the logical tree); explicit k must not
    calls = []
    real = dd.semantic_dedup_two_level
    dd.semantic_dedup_two_level = lambda *a, **kw: (calls.append(kw), real(*a, **kw))[1]
    try:
        dd.semantic_dedup(emb, threshold=0.4, target_cluster_size=50)
        assert len(calls) == 1 and calls[0]["target_cluster_size"] == 50
        dd.semantic_dedup(emb, k_centroids=8, threshold=0.4)
        assert len(calls) == 1, "explicit k must stay flat"
    finally:
        dd.semantic_dedup_two_level = real
    with pytest.raises(ValueError, match="hierarchical"):
        dd.semantic_dedup(emb, threshold=0.4, iterations=2)


def test_multimodal_codec_seam_contract(spark):
    """Pins the codec integration seam (VERDICT r4 #6) so a future real
    decoder is a one-function drop-in: the exact NotImplementedError
    wording at both seams, the Arrow batch schemas either side of them,
    and the (doc_id, media) input projection the codec receives."""
    import pyspark.sql.types as T

    from hpaste_spark.operators.multimodal import (DECODED_SCHEMA,
                                                   FEATURES_SCHEMA,
                                                   attach_media,
                                                   decode_media,
                                                   extract_features)

    df = spark.createDataFrame([(1, "payload")], "doc_id long, text string")
    media = attach_media(df)

    # packed shape: opaque binary + typed metadata struct
    mt = dict(media.dtypes)
    assert mt["media"] == "binary"
    assert mt["media_meta"] == "struct<mime:string,n_bytes:bigint,checksum:string>"

    # seam OUTPUT schemas are the drop-in contract
    assert DECODED_SCHEMA == T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
    ])
    assert FEATURES_SCHEMA == T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("features", T.ArrayType(T.LongType())),
    ])

    # the decode seam is an OPTIONAL-DEPENDENCY contract (round 6):
    # with pillow installed the real path must actually decode; without
    # it, the documented NotImplementedError — the test passes either way
    try:
        import PIL  # noqa: F401

        have_pil = True
    except ImportError:
        have_pil = False
    if have_pil:
        png_1x1 = bytes.fromhex(
            "89504e470d0a1a0a0000000d4948445200000001000000010806"
            "0000001f15c4890000000d4944415478da63fcffff3f03000500"
            "01a5f645400000000049454e44ae426082"
        )
        mdf = spark.createDataFrame(
            [(1, bytearray(png_1x1))], "doc_id long, media binary"
        )
        row = decode_media(mdf, use_real_codec=True).collect()[0]
        assert (row["width"], row["height"], row["n_frames"]) == (1, 1, 1)
    else:
        try:
            decode_media(media, use_real_codec=True).collect()
            assert False, "gated seam did not raise"
        except Exception as e:  # Py4J wraps the executor-side error
            assert "real media codecs unavailable" in str(e), (
                f"seam message drifted: {e}"
            )

    # the model seam stays a marked stub (no torch/onnx either way)
    try:
        extract_features(media, use_real_model=True).collect()
        assert False, "gated seam did not raise"
    except Exception as e:
        assert "real feature extractors unavailable" in str(e), (
            f"seam message drifted: {e}"
        )

    # the fake paths honor the pinned schemas end-to-end
    assert decode_media(media).schema == DECODED_SCHEMA
    assert extract_features(media).schema == FEATURES_SCHEMA


def test_pq_adc_exact_when_vectors_are_codewords(spark):
    """Degenerate PQ check: with n==k every vector seeds its own
    codeword (the codebook IS the data), so encoding is the identity
    and ADC distance equals the exact L2² — pins the distance-table
    arithmetic end to end."""
    from hpaste_spark.operators.similarity import (pq_codebooks, pq_encode,
                                                   pq_topk)

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0, 0.0]),
        (2, [0.0, 0.0, 1.0, 0.0]),
        (3, [0.0, 0.0, 0.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cb = pq_codebooks(df, m=2, k=4)
    codes = {r["vec_id"]: r["codes"] for r in pq_encode(df, cb, m=2).collect()}
    assert all(len(c) == 2 and all(0 <= x < 4 for x in c) for c in codes.values())
    # every sub-slice is itself a codeword (n==k), so quantization is
    # LOSSLESS: the chosen codeword's values equal the slice exactly.
    # Several identical slices ([0,0] appears in 3 codewords per
    # subspace) tie and break to the LOWEST code — so assert
    # reconstruction, not a specific code identity.
    cbmap = {(r["sub"], r["code"]): r["cvec"] for r in cb.collect()}
    for i, vec in rows:
        for sub in (0, 1):
            assert cbmap[(sub, codes[i][sub])] == vec[2 * sub: 2 * sub + 2]
    qv = df.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    out = {r["vec_id"]: r["approx_dist"] for r in pq_topk(df, qv, m=2, k=4, topk=4).collect()}
    # exact L2²(e0, e_i) = 0 for i=0, 2 otherwise
    assert out[0] == 0.0 and out[1] == 2.0 and out[2] == 2.0 and out[3] == 2.0


def test_pq_encode_deterministic_and_compact(spark, emb):
    from hpaste_spark.operators.similarity import pq_codebooks, pq_encode

    cb = pq_codebooks(emb, m=4, k=16)
    a = {r["vec_id"]: r["codes"] for r in pq_encode(emb, cb, m=4).collect()}
    b = {r["vec_id"]: r["codes"] for r in pq_encode(emb.repartition(9), cb, m=4).collect()}
    assert a == b and len(a) == 500
    assert all(len(c) == 4 and all(0 <= x < 16 for x in c) for c in a.values())


def test_pq_topk_plan_is_broadcast_lookup_topk(spark, emb):
    """ADC search must be broadcast-join + hash-agg + distributed
    top-k: no cartesian pair expansion, no global sort of the corpus."""
    from hpaste_spark.operators.similarity import pq_topk

    qv = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    plan = pq_topk(emb, qv, m=4, k=16, topk=10)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan


def test_gopher_gates_hand_cases(spark):
    from hpaste_spark.operators.corpus import gopher_gates

    rows = [
        (1, "the cat sat of the mat and it is in good order today fine"),  # passes (14 words)
        (2, "word " * 4),                        # too few words
        (3, "zz qq ww ee rr tt yy uu ii oo pp"),  # no stopwords
        (4, "1 2 3 4 5 6 7 8 9 10 11 12"),       # alpha ratio 0
    ]
    df = spark.createDataFrame([(i, t.strip()) for i, t in rows], "doc_id long, text string")
    out = {r["doc_id"]: r for r in gopher_gates(df, min_words=10).collect()}
    assert out[1]["passes"] and out[1]["gate_stopwords"]
    assert not out[2]["gate_word_count"] and not out[2]["passes"]
    assert not out[3]["gate_stopwords"] and not out[3]["passes"]
    assert out[4]["alpha_ratio"] == 0.0 and not out[4]["gate_alpha_ratio"]
    assert out[1]["n_words"] == 14


def test_bigram_backoff_hand_computed(spark):
    """Repeated bigram scores cnt(prev,w)/cnt(prev·); a singleton
    bigram is PRUNED from the model and backs off to α·p_unigram —
    verified against by-hand arithmetic."""
    import math

    from hpaste_spark.operators.corpus import bigram_backoff_logprob

    # corpus: "a b a b" (bigrams ab, ba, ab) and "c d" (singleton cd)
    df = spark.createDataFrame(
        [(1, "a b a b"), (2, "c d")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in bigram_backoff_logprob(
        df, vocab_size=10, min_bigram_count=2).collect()}
    # doc1: ab survives (cnt 2): S = 2/2=1 twice; ba singleton -> backoff
    # unigram: tokens a,b,a,b,c,d (N=6); cnt(a)=2 -> S(ba)=0.4*2/6
    lp1 = -(math.log(1.0) + math.log(0.4 * 2 / 6) + math.log(1.0)) / 3
    assert out[1]["n_bigrams"] == 3
    assert out[1]["logprob"] == round(lp1, 4)
    # doc2: cd singleton -> backoff to 0.4 * cnt(d)/6 = 0.4/6
    lp2 = -math.log(0.4 * 1 / 6)
    assert out[2]["n_bigrams"] == 1
    assert out[2]["logprob"] == round(lp2, 4)


def test_ivf_pq_composes_to_full_pq_at_nprobe_all(spark, emb):
    """IVFADC with nprobe == k_centroids prunes nothing, so it must
    reproduce plain PQ ADC search exactly; with nprobe=1 it returns a
    nonempty subset scored identically (same codebooks, same table)."""
    from hpaste_spark.operators.similarity import ivf_pq_topk, pq_topk

    qv = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    full = [(r["vec_id"], r["approx_dist"]) for r in pq_topk(emb, qv, m=4, k=16, topk=10).collect()]
    comp = [(r["vec_id"], r["approx_dist"]) for r in ivf_pq_topk(
        emb, qv, k_centroids=8, nprobe=8, m=4, k=16, topk=10).collect()]
    assert comp == full
    part = {r["vec_id"]: r["approx_dist"] for r in ivf_pq_topk(
        emb, qv, k_centroids=8, nprobe=1, m=4, k=16, topk=10).collect()}
    assert part and set(part) <= {v for v, _ in full} | set(part)
    dist = dict(full)
    for v, d in part.items():
        if v in dist:
            assert d == dist[v], "probed subset must score identically"


def test_semantic_dedup_two_level_matches_keep_rule_and_scales_assignment(spark, emb):
    """Hierarchical SemDeDup: deterministic across partitionings, prunes
    like the flat rule within its cells (near-identical pair loses its
    less-central member), and the auto-derived (k1, k2) splits k_total
    ~ evenly (assignment is n·(k1+k2)·d, not n·k·d)."""
    from hpaste_spark.operators.dedup import semantic_dedup_two_level

    out = semantic_dedup_two_level(emb, k1=4, k2=3, threshold=0.4)
    ids = {r["vec_id"] for r in out.collect()}
    again = {r["vec_id"] for r in semantic_dedup_two_level(
        emb.repartition(11), k1=4, k2=3, threshold=0.4).collect()}
    assert again == ids and 0 < len(ids) <= 500
    # pruning really happened at this threshold on the fixture
    assert len(ids) < 500
    # planted near-pair: duplicate vector 0 as id 10001 -> the pair
    # shares coarse+sub cell (identical vectors, identical scores) and
    # exactly one survives
    row0 = emb.filter(F.col("vec_id") == 0).select(
        F.lit(10001).cast("long").alias("vec_id"), "embedding", "label"
    )
    aug = emb.select("vec_id", "embedding", "label").unionAll(row0)
    kept = {r["vec_id"] for r in semantic_dedup_two_level(
        aug, k1=4, k2=3, threshold=0.99).collect()}
    assert len(kept & {0, 10001}) == 1


def test_stored_pq_index_matches_inplan_and_reads_codes(spark, emb, tmp_path):
    """build_pq_index + pq_topk_indexed must reproduce pq_topk exactly
    (same codebook contract), and the indexed query's corpus-side scan
    must read the CODES table (m ints/vector), not the raw embeddings
    — the scan of the stored embeddings appears only for the 1-row
    query-vector lookup done by the caller."""
    from hpaste_spark.operators.similarity import (build_pq_index, pq_topk,
                                                   pq_topk_indexed)

    idx = str(tmp_path / "pq")
    build_pq_index(emb, idx, m=4, k=16)
    qv = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    inplan = [(r["vec_id"], r["approx_dist"], r["rank"])
              for r in pq_topk(emb, qv, m=4, k=16, topk=10).collect()]
    stored = [(r["vec_id"], r["approx_dist"], r["rank"])
              for r in pq_topk_indexed(spark, idx, qv, topk=10).collect()]
    assert stored == inplan
    plan = pq_topk_indexed(spark, idx, qv, topk=10)._jdf.queryExecution().executedPlan().toString()
    assert "codes" in plan and "TakeOrderedAndProject" in plan


def test_ivfadc_residual_deterministic_and_self_nearest(spark, emb):
    """Residual IVFADC: stable across partitionings; the query's own
    vector (vec 0 lives in a probed cell by construction — its own
    cell is the L2-nearest) surfaces with the SMALLEST approx distance
    (its own residual quantization error); ranks are contiguous."""
    from hpaste_spark.operators.similarity import ivfadc_topk

    qv = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    out = [(r["vec_id"], r["approx_dist"], r["rank"])
           for r in ivfadc_topk(emb, qv, k_centroids=8, nprobe=2, m=4, k=16, topk=10).collect()]
    again = [(r["vec_id"], r["approx_dist"], r["rank"])
             for r in ivfadc_topk(emb.repartition(13), qv, k_centroids=8,
                                  nprobe=2, m=4, k=16, topk=10).collect()]
    assert out == again and len(out) == 10
    assert [r[2] for r in out] == list(range(1, 11))
    assert out[0][0] == 0, "query's own vector must be ADC-nearest"


def test_stored_ivfadc_index_matches_inplan_and_prunes_partitions(spark, emb, tmp_path):
    """build_ivfadc_index + ivfadc_topk_indexed must reproduce
    ivfadc_topk exactly (shared _ivfadc_model), and the stored query's
    codes scan must carry a dynamic-partition-pruning filter on cid —
    the probe restriction prunes FILES, combining the compressed-scan
    and pruned-scan legs in one artifact."""
    from hpaste_spark.operators.similarity import (build_ivfadc_index,
                                                   ivfadc_topk,
                                                   ivfadc_topk_indexed)

    idx = str(tmp_path / "ivfadc")
    build_ivfadc_index(emb, idx, k_centroids=8, m=4, k=16)
    qv = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    inplan = [(r["vec_id"], r["approx_dist"], r["rank"])
              for r in ivfadc_topk(emb, qv, k_centroids=8, nprobe=2, m=4,
                                   k=16, topk=10).collect()]
    stored_df = ivfadc_topk_indexed(spark, idx, qv, nprobe=2, m=4, topk=10)
    stored = [(r["vec_id"], r["approx_dist"], r["rank"]) for r in stored_df.collect()]
    assert stored == inplan
    plan = stored_df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruningexpression" in plan, plan


def test_decontaminate_ngram_flags_shared_ngrams_only(spark):
    """A corpus doc quoting a 5-gram from the benchmark is flagged with
    the right hit counts; an unrelated doc is not; and the benchmark
    side of the join is the broadcast side (the corpus must stream)."""
    from hpaste_spark.operators.dedup import decontaminate_ngram

    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta"),
         (101, "one two three four five six")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [(1, "intro words alpha beta gamma delta epsilon tail"),   # 1 shared 5-gram
         (2, "totally unrelated text with other words entirely"),
         (3, "one two three four five six seven")],                # 2 shared 5-grams
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in decontaminate_ngram(corpus, bench, n=5).collect()}
    assert set(out) == {1, 3}
    assert out[1]["n_hits"] == 1 and out[1]["n_benchmark_docs"] == 1
    assert out[3]["n_hits"] == 2 and out[3]["n_benchmark_docs"] == 1

    plan = decontaminate_ngram(corpus, bench, n=5)._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "BroadcastHashJoin" in plan and "CartesianProduct" not in plan


def test_matryoshka_recall_is_one_when_tail_is_zero(spark):
    """If every vector's tail dims are zero, prefix retrieval IS
    full-dim retrieval — recall@k must be exactly 1.0."""
    import __spark_entry__ as em
    import os as _os
    import shutil, tempfile

    d = tempfile.mkdtemp(prefix="mrl_")
    try:
        rows = [
            (i, [float((i * 7 + j * 3) % 11 - 5) for j in range(32)] + [0.0] * 32, 0)
            for i in range(40)
        ]
        spark.createDataFrame(
            rows, "vec_id long, embedding array<float>, label int"
        ).write.parquet(_os.path.join(d, "embeddings.parquet"))
        r = em.sim_matryoshka_recall(spark, d).collect()[0]
        assert (r["n_hit"], r["recall_at_k"]) == (10, 1.0)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_zipf_slope_negative_on_fixture(spark):
    """Term frequency must fall with rank on any natural-ish corpus —
    the fitted slope is negative and the fit uses exactly 50 terms."""
    import __spark_entry__ as em

    r = em.text_zipf_slope(spark, SF).collect()[0]
    # fixture vocabulary is < 50 terms; the top-k cap just passes it through
    assert 2 <= r["n_terms"] <= 50
    assert r["zipf_slope"] < 0


def test_embedding_stats_shapes_and_bounds(spark, emb):
    import __spark_entry__ as em

    rows = em.prof_embedding_stats(spark, SF).collect()
    assert len(rows) == 64
    n = emb.count()
    for r in rows:
        assert r["n"] == n
        assert r["min_x"] <= r["mean"] <= r["max_x"]
        assert r["std"] >= 0


def test_dsir_weights_prefer_target_like_docs(spark):
    """A raw doc written in the target's vocabulary must out-weigh a
    raw doc with disjoint vocabulary, and the feature join must be a
    broadcast (the raw pool streams — no corpus-side shuffle before
    the per-doc rollup)."""
    from hpaste_spark.operators.sampling import dsir_weights

    target = spark.createDataFrame(
        [(100, "finance market stock bond yield equity " * 5)],
        "doc_id long, text string",
    )
    raw = spark.createDataFrame(
        [(1, "finance market stock bond yield equity asset"),
         (2, "recipe butter flour sugar oven bake whisk")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in dsir_weights(raw, target).collect()}
    assert set(out) == {1, 2}
    assert out[1]["n_tokens"] == 7 and out[2]["n_tokens"] == 7
    assert out[1]["log_weight"] > out[2]["log_weight"]

    plan = dsir_weights(raw, target)._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "BroadcastHashJoin" in plan and "CartesianProduct" not in plan


def test_perplexity_buckets_partition_corpus_in_quality_order(spark, docs):
    """Buckets partition the scored docs and their mean NLLs are
    ordered head < middle < tail (head = most fluent by construction)."""
    from hpaste_spark.operators.corpus import (bigram_backoff_logprob,
                                               perplexity_buckets)

    d = docs.filter(F.length(F.trim(F.col("text"))) > 0)
    out = {r["bucket"]: r for r in perplexity_buckets(d).collect()}
    scored = bigram_backoff_logprob(d).count()
    assert sum(r["n_docs"] for r in out.values()) == scored
    present = [b for b in ("head", "middle", "tail") if b in out]
    nlls = [out[b]["avg_nll"] for b in present]
    assert nlls == sorted(nlls)


def test_kmeans_lloyd_partitions_corpus_and_shifts_nonneg(spark, emb):
    import __spark_entry__ as em

    rows = em.vec_kmeans_lloyd(spark, SF).collect()
    assert len(rows) == 8
    assert sum(r["n_members"] for r in rows) == emb.count()
    assert all(r["shift"] >= 0 for r in rows)
    # the seed partition is arbitrary, so at least one centroid must move
    assert any(r["shift"] > 0 for r in rows)


def test_sq8_recall_perfect_when_quantization_is_lossless(spark):
    """Vectors whose components are already integers in [-127, 127]
    with max |x| = 127 quantize losslessly (scale = 1.0, codes =
    values) — the SQ8 top-k IS the exact top-k, recall@10 = 1.0."""
    import os as _os
    import shutil, tempfile

    import __spark_entry__ as em

    d = tempfile.mkdtemp(prefix="sq8_")
    try:
        rows = [
            (i, [float(((i * 13 + j * 5) % 255) - 127) for j in range(63)] + [127.0], 0)
            for i in range(40)
        ]
        spark.createDataFrame(
            rows, "vec_id long, embedding array<float>, label int"
        ).write.parquet(_os.path.join(d, "embeddings.parquet"))
        r = em.sim_sq8_recall(spark, d).collect()[0]
        assert (r["n_hit"], r["recall_at_k"]) == (10, 1.0)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_shared_frame_pairs_finds_copied_segments(spark):
    """Docs sharing an aligned 64-byte frame pair up with the right
    count; disjoint payloads don't; empty payloads emit no frames; the
    ubiquitous-frame cap drops over-shared frames."""
    from hpaste_spark.operators.multimodal import attach_media, shared_frame_pairs

    seg = "A" * 64
    rows = [
        (1, seg + "B" * 64),      # shares frame 0 with 2, frames differ after
        (2, seg + "C" * 64),
        (3, "D" * 64),            # disjoint
        (4, ""),                  # empty — no frames
        (5, seg),                 # shares frame 0 with 1 and 2
    ]
    media = attach_media(
        spark.createDataFrame(rows, "doc_id long, text string")
    )
    out = {(r["doc_a"], r["doc_b"]): r["n_shared_frames"]
           for r in shared_frame_pairs(media, frame_bytes=64).collect()}
    assert out == {(1, 2): 1, (1, 5): 1, (2, 5): 1}

    # the 'A'*64 frame appears in 3 docs; capping df at 2 kills those pairs
    capped = shared_frame_pairs(media, frame_bytes=64, max_frame_df=2).collect()
    assert capped == []


def test_recall_graders_bounded_and_consistent(spark):
    """Every recall grader emits one row with 0 <= n_hit <= k and
    recall = n_hit/k — and IVF at nprobe=8/8 (full probe) must be
    exact-recall by construction."""
    import __spark_entry__ as em
    from hpaste_spark.functions.vectors import as_double, cosine
    from hpaste_spark.operators.similarity import ivf_topk

    for name in ("sim_ivf_recall", "sim_lsh_recall", "sim_sq8_recall"):
        r = em.queries()[name](spark, SF).collect()[0]
        assert 0 <= r["n_hit"] <= r["k"]
        assert r["recall_at_k"] == round(r["n_hit"] / r["k"], 2)

    emb = load_table(spark, SF, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    full_probe = {
        r["vec_id"]
        for r in ivf_topk(emb, qv, k=10, k_centroids=8, nprobe=8).collect()
    }
    e = emb.select("vec_id", as_double(F.col("embedding")).alias("e"))
    qe = e.filter(F.col("vec_id") == 0).select(F.col("e").alias("qe"))
    exact = {
        r["vec_id"]
        for r in e.crossJoin(F.broadcast(qe))
        .withColumn("cs", cosine(F.col("e"), F.col("qe")))
        .orderBy(F.col("cs").desc(), "vec_id")
        .limit(10)
        .collect()
    }
    assert full_probe == exact


def test_langid_eval_counts_partition_scored_docs(spark, docs):
    import __spark_entry__ as em

    rows = em.text_langid_eval(spark, SF).collect()
    scored = docs.filter(F.length(F.trim(F.col("text"))) > 0).count()
    assert sum(r["n_docs"] for r in rows) == scored
    assert all(r["n_docs"] > 0 for r in rows)


def test_pipe_target_corpus_selects_clean_target_leaning_docs(spark, docs):
    """The composite selection never contains a contaminated doc, only
    above-mean-weight docs survive, and every selected doc clears the
    quality gate (checked by reconstructing the stages independently)."""
    import __spark_entry__ as em
    from hpaste_spark.functions.text import quality_score
    from hpaste_spark.operators.dedup import decontaminate_ngram
    from hpaste_spark.operators.sampling import dsir_weights

    out = em.pipe_target_corpus(spark, SF).collect()
    assert out, "selection must be non-empty on the fixture"
    assert all(r["n_docs"] > 0 and r["n_tokens"] > 0 for r in out)

    corpus = docs.filter(F.col("source") != "src0")
    bench = docs.filter(F.col("source") == "src0")
    flagged = {r["doc_id"] for r in decontaminate_ngram(corpus, bench).collect()}
    w = {r["doc_id"]: r["log_weight"] for r in dsir_weights(corpus, bench).collect()}
    mu = round(sum(w.values()) / len(w), 6)
    q = {
        r["doc_id"]: r["q"]
        for r in corpus.select(
            "doc_id", quality_score(F.col("text")).alias("q")
        ).collect()
    }
    expect = [
        d for d, lw in w.items() if d not in flagged and lw > mu and q[d] >= 0.5
    ]
    assert sum(r["n_docs"] for r in out) == len(expect)


def test_quality_threshold_filter_matches_naive_per_group_selection(spark, docs):
    """The two-phase threshold plan must select EXACTLY the rows a
    naive per-group computation picks: threshold = lowest score whose
    from-the-top cumulative count fits ceil(frac*n), whole tie groups
    kept, top-tie fallback when the best group alone overflows."""
    import math
    from collections import Counter

    from hpaste_spark.functions.text import quality_score
    from hpaste_spark.operators.sampling import quality_threshold_filter

    scored = (
        docs.filter(F.length(F.trim(F.col("text"))) > 0)
        .select("doc_id", "source", quality_score(F.col("text")).alias("q"))
    )
    rows = scored.collect()
    got = {
        r["doc_id"]
        for r in quality_threshold_filter(scored, "q", "source", 0.3).collect()
    }

    expect = set()
    by_src = {}
    for r in rows:
        by_src.setdefault(r["source"], []).append((r["q"], r["doc_id"]))
    for src, pairs in by_src.items():
        target = math.ceil(0.3 * len(pairs))
        counts = Counter(q for q, _ in pairs)
        cum, thr = 0, None
        for qv in sorted(counts, reverse=True):
            cum += counts[qv]
            if cum <= target:
                thr = qv
            else:
                break
        if thr is None:
            thr = max(counts)
        expect |= {d for qv, d in pairs if qv >= thr}
    assert got == expect


def test_shard_manifest_partitions_all_docs_and_balances(spark, docs):
    from hpaste_spark.functions.text import token_count
    from hpaste_spark.operators.sampling import shard_manifest

    d = docs.filter(F.length(F.trim(F.col("text"))) > 0).withColumn(
        "_ntok", token_count(F.col("text"))
    )
    out = shard_manifest(d, n_shards=16, token_count_col="_ntok").collect()
    n = d.count()
    tok = d.agg(F.sum("_ntok")).first()[0]
    assert sum(r["n_docs"] for r in out) == n
    assert sum(r["n_tokens"] for r in out) == tok
    assert all(0 <= r["shard"] < 16 for r in out)
    for r in out:
        assert abs(r["balance"] - r["n_docs"] * 16 / n) < 1e-3
        # md5 sharding should be roughly uniform on the fixture
        assert 0.3 < r["balance"] < 3.0


def test_ivfadc_rerank_is_exact_within_shortlist_and_lifts_recall(spark, emb):
    """Re-ranked top-k must equal the exact-L2² ordering of the ADC
    shortlist, and recall@10 after re-rank must be >= raw ADC recall
    (guaranteed: every exact-top-10 member in the shortlist survives)."""
    import __spark_entry__ as em
    from hpaste_spark.operators.similarity import ivfadc_rerank, ivfadc_topk

    qv = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    short = {
        r["vec_id"]
        for r in ivfadc_topk(
            emb, qv, k_centroids=8, nprobe=2, m=4, k=16, topk=50
        ).collect()
    }
    rr = ivfadc_rerank(emb, qv, shortlist=50, topk=10).collect()
    assert {r["vec_id"] for r in rr} <= short
    assert [r["rank"] for r in sorted(rr, key=lambda r: r["rank"])] == list(
        range(1, len(rr) + 1)
    )
    ed2s = [r["ed2"] for r in sorted(rr, key=lambda r: r["rank"])]
    assert ed2s == sorted(ed2s)

    rec = em.sim_rerank_recall(spark, SF).collect()[0]
    assert rec["recall_rerank"] >= rec["recall_adc"]
    assert rec["n_hit_rerank"] <= 10 and rec["n_hit_adc"] <= 10


def test_hard_negatives_never_share_the_query_label(spark, emb):
    from hpaste_spark.operators.similarity import hard_negative_mining

    qs = emb.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding", "label"
    )
    out = hard_negative_mining(emb, qs, k=5, max_bucket=2000).collect()
    assert out, "fixture must produce hard negatives"
    labels = {r["vec_id"]: r["label"] for r in emb.select("vec_id", "label").collect()}
    for r in out:
        assert r["neg_label"] == labels[r["neighbor_id"]]
        assert labels[r["query_id"]] != r["neg_label"]
        assert r["query_id"] != r["neighbor_id"]
        assert 1 <= r["rank"] <= 5


def test_bloom_decontaminate_is_a_conservative_superset(spark, docs):
    """Structural Bloom guarantees on the fixture: (a) no false
    negatives — every exactly-contaminated doc is bloom-flagged with
    at least its exact hit count; (b) the broadcast bit table never
    exceeds m_bits rows."""
    from hpaste_spark.functions.text import shingle_hashes
    from hpaste_spark.operators.dedup import (
        bloom_bits,
        bloom_decontaminate,
        decontaminate_ngram,
    )

    corpus = docs.filter(F.col("source") != "src0")
    bench = docs.filter(F.col("source") == "src0")
    exact = {
        r["doc_id"]: r["n_hits"]
        for r in decontaminate_ngram(corpus, bench, n=5).collect()
    }
    bloom = {
        r["doc_id"]: r["n_flagged"]
        for r in bloom_decontaminate(
            corpus, bench, n=5, m_bits=16384, k_hashes=3
        ).collect()
    }
    for doc, n_hits in exact.items():
        assert doc in bloom, f"false negative: doc {doc} lost by the bloom filter"
        assert bloom[doc] >= n_hits

    g = bench.filter(F.length(F.trim(F.col("text"))) > 0).select(
        F.explode(F.array_distinct(shingle_hashes(F.col("text"), 5))).alias("g")
    )
    assert bloom_bits(g, "g", m_bits=512, k_hashes=3).count() <= 512


def test_two_level_centroids_trains_within_cells_deterministically(spark, emb):
    """Hierarchical k-means training invariants: (a) at most k1·k2
    trained sub-centroids, each belonging to a level-1 cell; (b)
    deterministic under repartition; (c) sub_iterations=1 reproduces
    the seeded (unrefined) sub-means — the _two_level_model contract —
    while sub_iterations=2 actually moves centroids."""
    from hpaste_spark.operators.similarity import two_level_centroids

    c = two_level_centroids(emb, 4, 3, iterations=2, sub_iterations=2)
    rows = c.collect()
    assert len(rows) <= 12
    assert {r["cid1"] for r in rows} <= {0, 1, 2, 3}
    assert all(r["scid"] in (0, 1, 2) for r in rows)

    again = two_level_centroids(
        emb.repartition(7), 4, 3, iterations=2, sub_iterations=2
    ).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))

    seed = {
        (r["cid1"], r["scid"]): r["cvec"]
        for r in two_level_centroids(
            emb, 4, 3, iterations=2, sub_iterations=1
        ).collect()
    }
    refined = {(r["cid1"], r["scid"]): r["cvec"] for r in rows}
    assert any(seed[k] != refined[k] for k in refined if k in seed), (
        "one refinement round should move at least one sub-centroid"
    )


def test_longest_shared_run_measures_exact_spans_and_skips_idioms(spark):
    """PaLM-style LCS contamination: a planted 12-token quote is
    measured at exactly 12 shared tokens; a doc sharing only a 3-token
    idiom collides on grams but is NOT flagged; two disjoint runs on
    different diagonals report the longer; below-n overlap is
    invisible."""
    from hpaste_spark.operators.dedup import longest_shared_run_pairs

    quote = "q1 q2 q3 q4 q5 q6 q7 q8 q9 q10 q11 q12"
    bench = spark.createDataFrame(
        [(100, f"benchhead {quote} benchtail idiom x y")],
        "doc_id INT, text STRING",
    )
    corpus = spark.createDataFrame(
        [
            (1, f"intro words {quote} outro words"),      # full quote
            (2, "stuff idiom x y more stuff"),            # 3-token idiom only
            (3, f"a b {quote} c d q4 q5 q6 q7 q8 e f"),   # 12-run + separate 5-run
            (4, "zz q1 q2 yy"),                           # 2-token overlap < n
        ],
        "doc_id INT, text STRING",
    )
    out = {
        (r["doc_id"], r["bench_id"]): r["lcs_tokens"]
        for r in longest_shared_run_pairs(
            corpus, bench, n=3, min_shared_tokens=10
        ).collect()
    }
    assert out == {(1, 100): 12, (3, 100): 12}
    # lowering the bar to 3 admits the idiom pair at its true length
    loose = {
        (r["doc_id"], r["bench_id"]): r["lcs_tokens"]
        for r in longest_shared_run_pairs(
            corpus, bench, n=3, min_shared_tokens=3
        ).collect()
    }
    assert loose[(2, 100)] == 3 and (4, 100) not in loose


def test_source_report_quantized_metrics(spark):
    """Dataset-card arithmetic on constructed data: dup_ppm is exact
    integer parts-per-million of (docs − distinct texts), quality
    averages in 1e-4 integer units via integer division, languages
    counted distinct per source."""
    from hpaste_spark.operators.profile import source_report

    rows = [
        (1, "the cat sat on the mat", "en", "a"),
        (2, "the cat sat on the mat", "en", "a"),   # exact dup of 1
        (3, "unique text body here", "en", "a"),
        (4, "autre texte ici", "fr", "b"),
    ]
    df = spark.createDataFrame(rows, "doc_id INT, text STRING, lang STRING, source STRING")
    out = {r["source"]: r for r in source_report(df).collect()}
    a = out["a"]
    assert (a["n_docs"], a["n_distinct_texts"], a["n_langs"]) == (3, 2, 1)
    assert a["dup_ppm"] == (3 - 2) * 1000000 // 3
    assert a["n_tokens"] == 6 + 6 + 4
    assert out["b"]["dup_ppm"] == 0 and out["b"]["n_docs"] == 1


def test_cms_never_undercounts_and_merges_cellwise(spark):
    """Count-Min structural guarantees: (a) estimate ≥ true count for
    EVERY value, unseen values estimate ≥ 0 with no counter row
    required; (b) the sketch is mergeable — counters built on disjoint
    shards, summed cell-wise, equal the single-pass sketch (the 100 TB
    ingestion contract); (c) the table never exceeds depth·width
    rows."""
    from hpaste_spark.operators.sketches import cms_counts, cms_estimate

    vals = [f"v{i % 7}" for i in range(100)] + ["rare"]
    df = spark.createDataFrame([(v,) for v in vals], "v STRING")
    cms = cms_counts(df, "v", depth=3, width=4)
    assert cms.count() <= 12

    probes = spark.createDataFrame(
        [(v,) for v in ["v0", "v3", "rare", "never_seen"]], "v STRING"
    )
    est = {r["v"]: r["cms_n"] for r in cms_estimate(probes, cms, "v", 3, 4).collect()}
    import collections

    true = collections.Counter(vals)
    for v, e in est.items():
        assert e >= true[v], (v, e, true[v])

    half1 = spark.createDataFrame([(v,) for v in vals[:50]], "v STRING")
    half2 = spark.createDataFrame([(v,) for v in vals[50:]], "v STRING")
    merged = (
        cms_counts(half1, "v", 3, 4)
        .unionByName(cms_counts(half2, "v", 3, 4))
        .groupBy("d", "b")
        .agg(F.sum("cnt").alias("cnt"))
    )
    a = {(r["d"], r["b"]): r["cnt"] for r in cms.collect()}
    b = {(r["d"], r["b"]): r["cnt"] for r in merged.collect()}
    assert a == b


def test_mask_shared_runs_excises_exact_token_spans(spark):
    """ExactSubstr excision: the planted 12-token quote is cut
    token-exactly (surrounding text rejoins), short idiom overlap is
    untouched, a doc that IS the quote collapses to '', and unmatched
    docs round-trip byte-identical."""
    from hpaste_spark.operators.dedup import mask_shared_runs

    quote = "q1 q2 q3 q4 q5 q6 q7 q8 q9 q10 q11 q12"
    bench = spark.createDataFrame(
        [(100, f"bh {quote} bt idiom x y")], "doc_id INT, text STRING"
    )
    corpus = spark.createDataFrame(
        [
            (1, f"intro words {quote} outro words"),
            (2, "stuff idiom x y more stuff"),
            (3, quote),
            (4, "totally unrelated text here"),
        ],
        "doc_id INT, text STRING",
    )
    out = {
        r["doc_id"]: r
        for r in mask_shared_runs(
            corpus, bench, n=3, min_shared_tokens=10
        ).collect()
    }
    assert out[1]["clean_text"] == "intro words outro words"
    assert (out[1]["n_tokens"], out[1]["n_masked_tokens"]) == (16, 12)
    assert out[2]["clean_text"] == "stuff idiom x y more stuff"
    assert out[2]["n_masked_tokens"] == 0
    assert out[3]["clean_text"] == "" and out[3]["n_masked_tokens"] == 12
    assert out[4]["clean_text"] == "totally unrelated text here"


def test_exact_substr_pairs_detects_train_train_runs_exactly(spark):
    """Corpus-self ExactSubstr detection: a 12-token quote shared by
    three training docs surfaces as all three unordered pairs at
    exactly 12 tokens; sub-threshold overlap is invisible; and the
    occurrence cap drops ubiquitous grams (max_occ=2 kills a run whose
    every gram occurs 3×) — the LSH max_bucket guardrail."""
    from hpaste_spark.operators.dedup import exact_substr_pairs

    quote = "q1 q2 q3 q4 q5 q6 q7 q8 q9 q10 q11 q12"
    corpus = spark.createDataFrame(
        [
            (1, f"intro words {quote} outro words"),
            (2, f"aa bb {quote} cc dd"),
            (3, quote),
            (4, "totally unrelated text padded to ten tokens or more here"),
            (5, "zz q1 q2 q3 q4 yy and some other filler tokens"),  # 4 < 10
        ],
        "doc_id INT, text STRING",
    )
    out = {
        (r["id_a"], r["id_b"]): r["lcs_tokens"]
        for r in exact_substr_pairs(corpus, min_shared_tokens=10).collect()
    }
    assert out == {(1, 2): 12, (1, 3): 12, (2, 3): 12}
    # the 3 interior 10-grams of the quote occur 3× corpus-wide each;
    # max_occ=2 drops them all, so no candidate survives
    assert exact_substr_pairs(corpus, min_shared_tokens=10, max_occ=2).count() == 0


def test_exact_substr_mask_keeps_first_and_excises_later_copies(spark):
    """Corpus-self ExactSubstr excision is keep='first' by doc id: the
    lowest-id holder of a shared run round-trips byte-identical, every
    later copy is cut token-exact (surrounding text rejoins), a doc
    that IS the quote collapses to '', and untouched docs pass through
    with n_masked_tokens = 0.  After masking, no ≥10-token run remains
    between any pair (the quote survives only in doc 1)."""
    from hpaste_spark.operators.dedup import exact_substr_mask, exact_substr_pairs

    quote = "q1 q2 q3 q4 q5 q6 q7 q8 q9 q10 q11 q12"
    corpus = spark.createDataFrame(
        [
            (1, f"intro words {quote} outro words"),
            (2, f"aa bb {quote} cc dd"),
            (3, quote),
            (4, "totally unrelated text padded to ten tokens or more here"),
        ],
        "doc_id INT, text STRING",
    )
    out = {
        r["doc_id"]: r
        for r in exact_substr_mask(corpus, min_shared_tokens=10).collect()
    }
    assert out[1]["clean_text"] == f"intro words {quote} outro words"
    assert out[1]["n_masked_tokens"] == 0
    assert out[2]["clean_text"] == "aa bb cc dd"
    assert (out[2]["n_tokens"], out[2]["n_masked_tokens"]) == (16, 12)
    assert out[3]["clean_text"] == "" and out[3]["n_masked_tokens"] == 12
    assert out[4]["n_masked_tokens"] == 0
    # idempotence: the masked corpus carries no qualifying pair
    masked = spark.createDataFrame(
        [(k, v["clean_text"]) for k, v in out.items()], "doc_id INT, text STRING"
    )
    assert exact_substr_pairs(masked, min_shared_tokens=10).count() == 0


def test_dedup_lines_removes_cross_doc_boilerplate_in_order(spark):
    """RefinedWeb-style line dedup semantics: a line in ≥min_df docs
    vanishes from ALL of them; unique lines survive in original order;
    blank lines are never candidates; a fully-boilerplate doc yields
    clean_text='' (row kept); separator is literal (paragraph mode via
    sep='\\n\\n')."""
    from hpaste_spark.operators.dedup import dedup_lines

    hdr, ftr = "COOKIE BANNER", "(c) example.com"
    df = spark.createDataFrame(
        [
            (1, f"{hdr}\nalpha unique one\n\nbeta unique two\n{ftr}"),
            (2, f"{hdr}\ngamma unique three\n{ftr}"),
            (3, f"{hdr}\n{ftr}"),
            (4, "delta stands alone"),
        ],
        "doc_id INT, text STRING",
    )
    out = {r["doc_id"]: r for r in dedup_lines(df, min_df=2).collect()}
    assert len(out) == 4
    assert out[1]["clean_text"] == "alpha unique one\n\nbeta unique two"
    assert (out[1]["n_lines"], out[1]["n_removed"]) == (5, 2)
    assert out[2]["clean_text"] == "gamma unique three"
    assert out[3]["clean_text"] == "" and out[3]["n_removed"] == 2
    assert out[4]["clean_text"] == "delta stands alone" and out[4]["n_removed"] == 0

    # paragraph granularity: same machinery, literal '\n\n' separator
    pdf = spark.createDataFrame(
        [(1, "shared para\n\nmine alone"), (2, "shared para\n\nyours alone")],
        "doc_id INT, text STRING",
    )
    pout = {r["doc_id"]: r["clean_text"] for r in dedup_lines(pdf, sep="\n\n").collect()}
    assert pout == {1: "mine alone", 2: "yours alone"}

    # CCNet keep-first: the lowest-id holder keeps the line, others lose it
    fout = {r["doc_id"]: r for r in dedup_lines(df, min_df=2, keep="first").collect()}
    assert fout[1]["clean_text"] == f"{hdr}\nalpha unique one\n\nbeta unique two\n{ftr}"
    assert fout[1]["n_removed"] == 0          # doc 1 is the keeper of both
    assert fout[2]["clean_text"] == "gamma unique three"
    assert fout[3]["clean_text"] == "" and fout[3]["n_removed"] == 2
    with pytest.raises(ValueError, match="keep"):
        dedup_lines(df, keep="last")


def test_stored_bloom_filter_roundtrips_and_pins_geometry(spark, docs, tmp_path):
    """build_bloom_filter → decontaminate_bloom_stored equals the
    in-plan bloom_decontaminate at the same geometry (the md5 probes
    are deterministic, so the persisted bits ARE the computed bits);
    the meta row pins (m_bits, k_hashes, n) so readers probe with the
    insert-time geometry, and the bits relation respects the m_bits
    bound."""
    from hpaste_spark.operators.dedup import (
        bloom_decontaminate,
        build_bloom_filter,
        decontaminate_bloom_stored,
    )

    corpus = docs.filter(F.col("source") != "src0")
    bench = docs.filter(F.col("source") == "src0")
    path = str(tmp_path / "bloom")
    build_bloom_filter(bench, path, n=4, m_bits=2048, k_hashes=2)

    meta = spark.read.parquet(f"{path}/meta").collect()
    assert len(meta) == 1
    assert (meta[0]["m_bits"], meta[0]["k_hashes"], meta[0]["n"]) == (2048, 2, 4)
    assert spark.read.parquet(f"{path}/bits").count() <= 2048

    stored = {
        (r["doc_id"], r["n_flagged"])
        for r in decontaminate_bloom_stored(spark, path, corpus).collect()
    }
    inplan = {
        (r["doc_id"], r["n_flagged"])
        for r in bloom_decontaminate(
            corpus, bench, n=4, m_bits=2048, k_hashes=2
        ).collect()
    }
    assert stored == inplan


def test_token_budget_mixture_conserves_budget_and_respects_caps(spark, docs):
    """Single-round redistribution: capped sources sit exactly at
    max_epochs·avail, total allocation equals the (floored) budget to
    within one token per source, and uncapped sources only gain."""
    from hpaste_spark.functions.text import token_count
    from hpaste_spark.operators.sampling import token_budget_mixture

    d = docs.filter(F.length(F.trim(F.col("text"))) > 0).withColumn(
        "_ntok", token_count(F.col("text"))
    )
    out = token_budget_mixture(
        d, "_ntok", "source", weights={"src1": 3.0, "src2": 2.0},
        budget_factor=1.5, max_epochs=2.0,
    ).collect()
    assert out
    total_avail = sum(r["avail_tokens"] for r in out)
    budget = 1.5 * total_avail
    for r in out:
        if r["capped"]:
            assert r["alloc_tokens"] == 2.0 * r["avail_tokens"]
            assert r["epochs"] == 2.0
        else:
            assert r["epochs"] <= 2.0 or sum(x["capped"] for x in out) > 0
    assert abs(sum(r["alloc_tokens"] for r in out) - budget) <= len(out) + 1


def test_cross_source_dup_matrix_matches_naive_pair_count(spark, docs):
    import re
    from collections import Counter
    from itertools import combinations

    from hpaste_spark.operators.dedup import cross_source_dup_matrix

    d = docs.filter(F.length(F.trim(F.col("text"))) > 0)
    key = F.md5(
        F.array_join(
            F.array_sort(F.array_distinct(F.split(
                F.trim(F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]+", " ")),
                " +",
            ))),
            " ",
        ).cast("binary")
    )
    got = {
        (r["src_a"], r["src_b"]): (r["n_shared_texts"], r["n_dup_pairs"])
        for r in cross_source_dup_matrix(d, key=key).collect()
    }

    rows = d.select("source", "text").collect()
    def k(t):
        toks = sorted(set(re.sub(r"[^a-z0-9]+", " ", t.lower()).strip().split()))
        return " ".join(toks)
    groups = {}
    for r in rows:
        groups.setdefault(k(r["text"]), []).append(r["source"])
    shared, pairs = Counter(), Counter()
    for srcs in groups.values():
        c = Counter(srcs)
        for s, n in c.items():
            if n >= 2:
                pairs[(s, s)] += n * (n - 1) // 2
                shared[(s, s)] += 1
        for sa, sb in combinations(sorted(c), 2):
            pairs[(sa, sb)] += c[sa] * c[sb]
            shared[(sa, sb)] += 1
    expect = {pk: (shared[pk], pairs[pk]) for pk in pairs}
    assert got == expect


def test_pipe_export_manifest_composes_its_stages(spark, docs):
    """The manifest must cover exactly the docs that clear BOTH gates:
    per-source quality threshold AND not bloom-flagged."""
    import __spark_entry__ as em
    from hpaste_spark.functions.text import quality_score, token_count
    from hpaste_spark.operators.dedup import bloom_decontaminate
    from hpaste_spark.operators.sampling import quality_threshold_filter

    out = em.pipe_export_manifest(spark, SF).collect()
    assert out and all(0 <= r["shard"] < 8 for r in out)

    d = docs.filter(F.length(F.trim(F.col("text"))) > 0)
    corpus = d.filter(F.col("source") != "src0")
    bench = d.filter(F.col("source") == "src0")
    scored = corpus.select(
        "doc_id", "source", "text", quality_score(F.col("text")).alias("quality")
    )
    kept = {
        r["doc_id"]
        for r in quality_threshold_filter(scored, "quality", "source", 0.3).collect()
    }
    flagged = {
        r["doc_id"]
        for r in bloom_decontaminate(
            corpus, bench, n=5, m_bits=16384, k_hashes=3
        ).collect()
    }
    clean = kept - flagged
    assert sum(r["n_docs"] for r in out) == len(clean)
    toks = {
        r["doc_id"]: r["t"]
        for r in corpus.select("doc_id", token_count(F.col("text")).alias("t")).collect()
    }
    assert sum(r["n_tokens"] for r in out) == sum(toks[i] for i in clean)


def test_minhash_estimate_tracks_exact_jaccard(spark, docs):
    """Sketch-quality gate on the fixture: the 16-hash estimate's mean
    absolute error over the true >=0.5 pairs stays inside the theory
    band, and the query's within_band flag is TRUE."""
    import __spark_entry__ as em

    r = em.dedup_minhash_est_error(spark, SF).collect()[0]
    assert r["n_pairs"] > 0
    assert r["within_band"] is True
    assert r["mean_abs_err"] < 0.15
    assert r["max_abs_err"] < 0.45


def test_quality_token_curve_is_monotone_and_anchored(spark, docs):
    """Per source: cumulative counts grow as the cutoff drops, and the
    loosest cutoff row equals the source's full doc/token totals."""
    import __spark_entry__ as em
    from hpaste_spark.functions.text import token_count

    rows = em.prof_quality_token_curve(spark, SF).collect()
    assert rows
    by_src = {}
    for r in rows:
        by_src.setdefault(r["source"], []).append(r)
    d = docs.filter(F.length(F.trim(F.col("text"))) > 0)
    totals = {
        r["source"]: (r["nd"], r["nt"])
        for r in d.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("nd"),
            F.sum(token_count(F.col("text"))).alias("nt"),
        )
        .collect()
    }
    for src, rs in by_src.items():
        rs = sorted(rs, key=lambda r: -r["min_quality"])
        docs_seq = [r["n_docs_cum"] for r in rs]
        toks_seq = [r["n_tokens_cum"] for r in rs]
        assert docs_seq == sorted(docs_seq) and toks_seq == sorted(toks_seq)
        assert (docs_seq[-1], toks_seq[-1]) == totals[src]


def test_cdc_chunks_content_anchored_and_dedup_policies(spark):
    """Content-defined chunking semantics: a cut token ('cut' hashes
    ≡0 mod 4) ENDS its chunk; boundaries depend on content only, so a
    one-token prefix edit corrupts exactly the first chunk and every
    later chunk re-synchronises byte-identically; dedup then removes
    cross-doc chunks under the same none/first policies as
    dedup_lines."""
    from hpaste_spark.operators.dedup import cdc_chunks, cdc_dedup

    df = spark.createDataFrame(
        [
            (1, "alpha beta cut gamma delta"),
            (2, "eta alpha beta cut gamma delta"),  # doc 1 with a prefix edit
            (3, "gamma delta"),
            (4, "alpha cut"),
        ],
        "doc_id INT, text STRING",
    )
    ch = {
        (r["doc_id"], r["cpos"]): r["chunk"]
        for r in cdc_chunks(df, divisor=4).collect()
    }
    assert ch[(1, 0)] == "alpha beta cut" and ch[(1, 1)] == "gamma delta"
    # the prefix edit lands in chunk 0; chunk 1 re-syncs exactly
    assert ch[(2, 0)] == "eta alpha beta cut" and ch[(2, 1)] == "gamma delta"
    assert ch[(3, 0)] == "gamma delta"          # trailing chunk, no anchor
    assert ch[(4, 0)] == "alpha cut"            # doc ends ON the anchor

    out = {r["doc_id"]: r for r in cdc_dedup(df, min_df=2).collect()}
    assert out[1]["clean_text"] == "alpha beta cut"
    assert (out[1]["n_chunks"], out[1]["n_removed"]) == (2, 1)
    assert out[2]["clean_text"] == "eta alpha beta cut"
    assert out[3]["clean_text"] == "" and out[3]["n_removed"] == 1
    assert out[4]["clean_text"] == "alpha cut" and out[4]["n_removed"] == 0

    fout = {r["doc_id"]: r for r in cdc_dedup(df, min_df=2, keep="first").collect()}
    assert fout[1]["clean_text"] == "alpha beta cut gamma delta"  # keeper
    assert fout[2]["clean_text"] == "eta alpha beta cut"
    assert fout[3]["clean_text"] == ""
    with pytest.raises(ValueError, match="keep"):
        cdc_dedup(df, keep="last")


def test_leakage_free_split_clusters_never_straddle(spark):
    """The structural guarantee: every LSH candidate pair lands on one
    side of the cut (cluster-keyed hash), while the naive id-hash
    split demonstrably leaks on the same pair set — and the holdout
    fraction stays in a sane band around the requested 20%."""
    from hpaste_spark.operators.dedup import minhash_lsh_candidates
    from hpaste_spark.operators.sampling import hash_split, leakage_free_split

    docs = (
        spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
        .filter(F.length(F.trim("text")) > 0)
    )
    pairs = minhash_lsh_candidates(docs, num_hashes=16, bands=4, shingle=3).cache()
    assert pairs.count() > 0, "fixture must produce candidate pairs"

    def leaks(split_df):
        a = split_df.select(F.col("doc_id").alias("id_a"), F.col("split").alias("sa"))
        b = split_df.select(F.col("doc_id").alias("id_b"), F.col("split").alias("sb"))
        return (
            pairs.join(a, "id_a").join(b, "id_b")
            .filter(F.col("sa") != F.col("sb"))
            .count()
        )

    clus = leakage_free_split(docs, pairs, holdout_pct=20)
    assert leaks(clus.select("doc_id", "split")) == 0
    naive = hash_split(docs, "doc_id", holdout_pct=20)
    assert leaks(naive.select("doc_id", "split")) > 0

    n = docs.count()
    h = clus.filter(F.col("split") == "holdout").count()
    assert 0.10 * n < h < 0.35 * n, (h, n)
    # splitting must not drop or duplicate docs
    assert clus.count() == n
    pairs.unpersist()


def test_exact_substr_mask_passthrough_preserves_whitespace(spark):
    """Untouched docs return the ORIGINAL text byte-for-byte — tabs,
    newlines, runs of spaces, leading/trailing whitespace — while docs
    that lose tokens are rebuilt single-space-joined (ADVICE r8: the
    old path re-tokenized and space-rejoined EVERY doc, silently
    rewriting whitespace even at n_masked_tokens = 0)."""
    from hpaste_spark.operators.dedup import exact_substr_mask, mask_shared_runs

    quote = "q1 q2 q3 q4 q5 q6 q7 q8 q9 q10 q11 q12"
    weird = "  leading\t and\n\n odd   spacing trailing tokens here now ok  "
    corpus = spark.createDataFrame(
        [(1, f"intro {quote} outro"), (2, f"aa {quote} bb"), (3, weird)],
        "doc_id INT, text STRING",
    )
    out = {
        r["doc_id"]: r
        for r in exact_substr_mask(corpus, min_shared_tokens=10).collect()
    }
    assert out[3]["clean_text"] == weird and out[3]["n_masked_tokens"] == 0
    assert out[1]["clean_text"] == f"intro {quote} outro"  # keeper: original
    assert out[2]["clean_text"] == "aa bb"  # masked: rebuilt

    # the cross-set masker carries the same contract
    bench = spark.createDataFrame([(100, quote)], "doc_id INT, text STRING")
    mout = {
        r["doc_id"]: r
        for r in mask_shared_runs(
            corpus, bench, n=3, min_shared_tokens=10
        ).collect()
    }
    assert mout[3]["clean_text"] == weird and mout[3]["n_masked_tokens"] == 0
    assert mout[1]["clean_text"] == "intro outro"
    assert mout[2]["clean_text"] == "aa bb"


def test_near_frame_pairs_on_capped_error_fails_loudly(spark):
    """on_capped='error' aborts the job (message naming the cap) when
    a band bucket exceeds max_bucket, instead of silently dropping the
    bucket and hash-mismatching an uncapped oracle; 'drop' keeps the
    bounded-work production behavior (ADVICE r8)."""
    import pytest

    from hpaste_spark.operators.multimodal import attach_media, near_frame_pairs

    # 5 one-frame payloads with the same signature → every band bucket
    # holds 5 entries, over a cap of 4
    df = spark.createDataFrame(
        [(i, "x" * 64) for i in range(5)], "doc_id INT, text STRING"
    )
    media = attach_media(df)
    with pytest.raises(Exception, match="max_bucket=4"):
        near_frame_pairs(
            media, frame_bytes=64, max_hamming=2, max_bucket=4,
            on_capped="error",
        ).collect()
    assert (
        near_frame_pairs(
            media, frame_bytes=64, max_hamming=2, max_bucket=4,
            on_capped="drop",
        ).count()
        == 0
    )
    with pytest.raises(ValueError):
        near_frame_pairs(media, on_capped="explode")


def test_lsh_index_artifact_roundtrip_and_family_pin(spark, tmp_path):
    """build_lsh_index → incremental_lsh_candidates_stored returns the
    IDENTICAL relation as the in-plan form under the artifact's own
    geometry (bands are deterministic); the stored reader derives
    num_hashes/bands/shingle/id_col from meta, and a family mismatch
    hard-errors instead of silently returning zero candidates (the
    false-negative failure mode the pin exists for)."""
    import pytest

    from hpaste_spark.operators.dedup import (
        build_lsh_index,
        incremental_lsh_candidates,
        incremental_lsh_candidates_stored,
        minhash_band_keys,
        read_lsh_index,
    )

    words = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()
    docs = [
        (i, " ".join(words[(i + j) % len(words)] for j in range(8)))
        for i in range(20)
    ]
    corpus = spark.createDataFrame(docs[:15], "doc_id INT, text STRING")
    batch = spark.createDataFrame(docs[15:], "doc_id INT, text STRING")

    path = str(tmp_path / "lsh_idx")
    # non-default geometry: proves the stored probe derives it from
    # meta rather than using the function defaults
    build_lsh_index(corpus, path, num_hashes=12, bands=3, shingle=2)

    stored = {
        (r["batch_id"], r["corpus_id"]): r["n_bands"]
        for r in incremental_lsh_candidates_stored(spark, path, batch).collect()
    }
    inline = {
        (r["batch_id"], r["corpus_id"]): r["n_bands"]
        for r in incremental_lsh_candidates(
            minhash_band_keys(corpus, num_hashes=12, bands=3, shingle=2),
            batch,
            num_hashes=12,
            bands=3,
            shingle=2,
        ).collect()
    }
    assert stored == inline and len(stored) > 0

    # family mismatch: rewrite meta under a foreign family id
    spark.createDataFrame(
        [(12, 3, 2, "doc_id", 999)],
        "num_hashes INT, bands INT, shingle INT, id_col STRING, family INT",
    ).write.mode("overwrite").parquet(f"{path}/meta")
    with pytest.raises(ValueError, match="family 999"):
        read_lsh_index(spark, path)
    with pytest.raises(ValueError, match="build_lsh_index"):
        incremental_lsh_candidates_stored(spark, path, batch)


def test_lsh_index_append_equals_full_build(spark, tmp_path):
    """append_lsh_index(A-index, B) ≡ build_lsh_index(A ∪ B): same
    band relation bit-for-bit (band rows are per-doc and the geometry
    is pinned), same probe results, version bumped to 2 with geometry
    preserved — the round-9 verdict's standing-artifact refresh gate."""
    import pytest

    from hpaste_spark.operators.dedup import (
        append_lsh_index,
        build_lsh_index,
        incremental_lsh_candidates_stored,
        read_lsh_index,
    )

    words = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()
    docs = [
        (i, " ".join(words[(i + j) % len(words)] for j in range(8)))
        for i in range(24)
    ]
    old = spark.createDataFrame(docs[:10], "doc_id INT, text STRING")
    delta = spark.createDataFrame(docs[10:18], "doc_id INT, text STRING")
    both = spark.createDataFrame(docs[:18], "doc_id INT, text STRING")
    batch = spark.createDataFrame(docs[18:], "doc_id INT, text STRING")

    inc_path = str(tmp_path / "lsh_inc")
    full_path = str(tmp_path / "lsh_full")
    build_lsh_index(old, inc_path, num_hashes=12, bands=3, shingle=2)
    version = append_lsh_index(spark, inc_path, delta)
    build_lsh_index(both, full_path, num_hashes=12, bands=3, shingle=2)

    inc_bands, inc_meta = read_lsh_index(spark, inc_path)
    full_bands, _ = read_lsh_index(spark, full_path)
    key = lambda r: (r["doc_id"], r["band_idx"], r["band_key"])  # noqa: E731
    assert sorted(map(key, inc_bands.collect())) == sorted(
        map(key, full_bands.collect())
    )
    assert version == 2 and inc_meta["version"] == 2
    assert (inc_meta["num_hashes"], inc_meta["bands"], inc_meta["shingle"]) == (
        12, 3, 2,
    )

    probe_inc = {
        (r["batch_id"], r["corpus_id"], r["n_bands"])
        for r in incremental_lsh_candidates_stored(spark, inc_path, batch).collect()
    }
    probe_full = {
        (r["batch_id"], r["corpus_id"], r["n_bands"])
        for r in incremental_lsh_candidates_stored(spark, full_path, batch).collect()
    }
    assert probe_inc == probe_full and len(probe_inc) > 0


def test_lsh_index_append_hardening(spark, tmp_path):
    """The append path's failure modes fail LOUDLY: build with
    mode='append' is rejected (second meta row hazard, r9 ADVICE);
    appending onto a foreign-family artifact errors before signing
    anything; and a corrupted multi-geometry meta relation errors in
    read_lsh_index instead of being picked from nondeterministically."""
    import pytest

    from hpaste_spark.operators.dedup import (
        append_lsh_index,
        build_lsh_index,
        read_lsh_index,
    )

    docs = spark.createDataFrame(
        [(i, f"tok{i} tok{i+1} tok{i+2} tok{i+3}") for i in range(8)],
        "doc_id INT, text STRING",
    )
    path = str(tmp_path / "lsh_idx")
    build_lsh_index(docs, path, num_hashes=12, bands=3, shingle=2)

    with pytest.raises(ValueError, match="append_lsh_index"):
        build_lsh_index(docs, path, mode="append")

    # conflicting second geometry row (what a legacy mode='append'
    # would have produced): single-distinct-row assert fires
    spark.createDataFrame(
        [(16, 4, 3, "doc_id", 1, 1)],
        "num_hashes INT, bands INT, shingle INT, id_col STRING, "
        "family INT, version INT",
    ).write.mode("append").parquet(f"{path}/meta")
    with pytest.raises(ValueError, match="distinct meta rows"):
        read_lsh_index(spark, path)
    with pytest.raises(ValueError, match="distinct meta rows"):
        append_lsh_index(spark, path, docs)

    # foreign family: hard-error before any delta is signed
    spark.createDataFrame(
        [(12, 3, 2, "doc_id", 999, 1)],
        "num_hashes INT, bands INT, shingle INT, id_col STRING, "
        "family INT, version INT",
    ).write.mode("overwrite").parquet(f"{path}/meta")
    with pytest.raises(ValueError, match="family 999"):
        append_lsh_index(spark, path, docs)


def test_lsh_index_compact_preserves_relation(spark, tmp_path):
    """compact_lsh_index after appends: identical band relation and
    probe results, strictly fewer parquet files (the accumulated
    append deltas coalesce), version bumped, geometry preserved."""
    import os

    from hpaste_spark.operators.dedup import (
        append_lsh_index,
        build_lsh_index,
        compact_lsh_index,
        incremental_lsh_candidates_stored,
        read_lsh_index,
    )

    words = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()
    docs = [
        (i, " ".join(words[(i + j) % len(words)] for j in range(8)))
        for i in range(24)
    ]
    path = str(tmp_path / "lsh_c")
    build_lsh_index(
        spark.createDataFrame(docs[:8], "doc_id INT, text STRING"),
        path, num_hashes=12, bands=3, shingle=2,
    )
    for lo, hi in ((8, 12), (12, 16), (16, 20)):
        append_lsh_index(
            spark, path,
            spark.createDataFrame(docs[lo:hi], "doc_id INT, text STRING"),
        )
    batch = spark.createDataFrame(docs[20:], "doc_id INT, text STRING")

    nfiles = lambda: len(  # noqa: E731
        [f for f in os.listdir(f"{path}/bands") if f.endswith(".parquet")]
    )
    key = lambda r: (r["doc_id"], r["band_idx"], r["band_key"])  # noqa: E731
    before_files = nfiles()
    before_bands = sorted(map(key, read_lsh_index(spark, path)[0].collect()))
    before_probe = sorted(
        map(tuple, incremental_lsh_candidates_stored(spark, path, batch).collect())
    )

    v = compact_lsh_index(spark, path, num_files=2)
    assert v == 5  # build(1) + 3 appends + compact
    assert nfiles() < before_files and nfiles() <= 2
    _, meta = read_lsh_index(spark, path)
    assert (meta["num_hashes"], meta["bands"], meta["shingle"]) == (12, 3, 2)
    assert sorted(map(key, read_lsh_index(spark, path)[0].collect())) == before_bands
    assert sorted(
        map(tuple, incremental_lsh_candidates_stored(spark, path, batch).collect())
    ) == before_probe


def test_bloom_filter_append_equals_full_build(spark, tmp_path):
    """append_bloom_filter(A-filter, B) == build_bloom_filter(A ∪ B)
    BIT-FOR-BIT (Bloom bits are monotone — the filter is the union of
    every insert's bit set), duplicate-free after append, version
    bumped, geometry from the artifact; build with mode='append' is
    rejected and a re-run of the append is idempotent (anti-join
    inserts nothing new)."""
    import pytest

    from hpaste_spark.operators.dedup import (
        append_bloom_filter,
        build_bloom_filter,
        decontaminate_bloom_stored,
    )

    words = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()
    docs = [
        (i, " ".join(words[(i + j) % len(words)] for j in range(8)))
        for i in range(24)
    ]
    old = spark.createDataFrame(docs[:10], "doc_id INT, text STRING")
    delta = spark.createDataFrame(docs[10:18], "doc_id INT, text STRING")
    both = spark.createDataFrame(docs[:18], "doc_id INT, text STRING")
    probe = spark.createDataFrame(docs[16:], "doc_id INT, text STRING")

    inc, full = str(tmp_path / "bl_inc"), str(tmp_path / "bl_full")
    build_bloom_filter(old, inc, n=3, m_bits=4096, k_hashes=3)
    v = append_bloom_filter(spark, inc, delta)
    build_bloom_filter(both, full, n=3, m_bits=4096, k_hashes=3)

    bits = lambda p: sorted(  # noqa: E731
        r["bit"] for r in spark.read.parquet(f"{p}/bits").collect()
    )
    assert bits(inc) == bits(full) and len(bits(full)) > 0
    assert len(bits(inc)) == len(set(bits(inc))), "no duplicate bit rows"
    assert v == 2

    # idempotent re-append: nothing new to insert, version still bumps
    v2 = append_bloom_filter(spark, inc, delta)
    assert v2 == 3 and bits(inc) == bits(full)

    flags = lambda p: sorted(  # noqa: E731
        map(tuple, decontaminate_bloom_stored(spark, p, probe).collect())
    )
    assert flags(inc) == flags(full) and len(flags(inc)) > 0

    with pytest.raises(ValueError, match="append_bloom_filter"):
        build_bloom_filter(delta, inc, mode="append")


def test_bloom_filter_compaction(spark, tmp_path):
    """compact_bloom_filter after appends: read-back is the identical
    bit relation, strictly fewer parquet files (the per-append
    fragments coalesce to one), version bumped, geometry preserved,
    probe results unchanged."""
    import os

    from hpaste_spark.operators.dedup import (
        append_bloom_filter,
        build_bloom_filter,
        compact_bloom_filter,
        decontaminate_bloom_stored,
    )

    words = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()
    docs = [
        (i, " ".join(words[(i + j) % len(words)] for j in range(8)))
        for i in range(24)
    ]
    path = str(tmp_path / "bl_c")
    build_bloom_filter(
        spark.createDataFrame(docs[:8], "doc_id INT, text STRING"),
        path, n=3, m_bits=4096, k_hashes=3,
    )
    for lo, hi in ((8, 12), (12, 16), (16, 20)):
        append_bloom_filter(
            spark, path,
            spark.createDataFrame(docs[lo:hi], "doc_id INT, text STRING"),
        )
    probe = spark.createDataFrame(docs[18:], "doc_id INT, text STRING")

    nfiles = lambda: len(  # noqa: E731
        [f for f in os.listdir(f"{path}/bits") if f.endswith(".parquet")]
    )
    bits = lambda: sorted(  # noqa: E731
        r["bit"] for r in spark.read.parquet(f"{path}/bits").collect()
    )
    flags = lambda: sorted(  # noqa: E731
        map(tuple, decontaminate_bloom_stored(spark, path, probe).collect())
    )
    before_files, before_bits, before_flags = nfiles(), bits(), flags()

    v = compact_bloom_filter(spark, path)
    assert v == 5  # build(1) + 3 appends + compact
    assert nfiles() < before_files and nfiles() <= 1
    assert bits() == before_bits and len(before_bits) > 0
    assert flags() == before_flags and len(before_flags) > 0


def test_ivf_index_append_assigns_delta_under_stored_centroids(spark, tmp_path):
    """append_index: the delta lands in the cid partitions of the
    STORED centroids (no re-cluster), and probing the appended index
    equals probing an index whose vectors are the union assigned under
    the build slice's centroids — the honest appended-IVF semantics."""
    import random

    from hpaste_spark.operators.similarity import (
        append_index,
        build_ivf_index,
        ivf_assign,
        ivf_knn_join_indexed,
    )

    rnd = random.Random(11)
    rows = [
        (i, [rnd.uniform(-1, 1) for _ in range(8)]) for i in range(120)
    ]
    emb = spark.createDataFrame(rows, "vec_id INT, embedding ARRAY<DOUBLE>")
    old = emb.filter(F.col("vec_id") % 4 != 3)
    delta = emb.filter(F.col("vec_id") % 4 == 3)

    path = str(tmp_path / "ivf_inc")
    build_ivf_index(old, path, k_centroids=4)
    append_index(spark, path, delta)

    stored = spark.read.parquet(f"{path}/vectors").select("vec_id", "cid")
    cent = spark.read.parquet(f"{path}/centroids")
    expected = ivf_assign(emb, cent)
    assert sorted(map(tuple, stored.collect())) == sorted(
        map(tuple, expected.collect())
    )
    assert stored.count() == 120

    qs = emb.filter(F.col("vec_id") % 30 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = ivf_knn_join_indexed(spark, path, qs, k=3, nprobe=2)
    assert got.count() > 0
    # every neighbor really is assigned to one of its query's probed
    # cids — partition pruning cannot have widened or lost candidates
    neigh = {
        (r["query_id"], r["neighbor_id"]) for r in got.collect()
    }
    assert all(q != n for q, n in neigh)


def test_pq_index_append_and_compaction(spark, tmp_path):
    """append_index: the delta is encoded under the STORED codebooks
    (m inferred from the artifact, no re-train), so the appended codes
    relation equals encoding the whole union under the build-slice
    codebooks; ADC search over the appended index works; and
    compact_index_files consolidates the per-append fragments with the
    code rows read-back-identical."""
    import glob
    import random

    from hpaste_spark.operators.similarity import (
        append_index,
        build_pq_index,
        compact_index_files,
        pq_encode,
        pq_topk_indexed,
    )

    rnd = random.Random(31)
    rows = [
        (i, [rnd.uniform(-1, 1) for _ in range(8)]) for i in range(120)
    ]
    emb = spark.createDataFrame(rows, "vec_id INT, embedding ARRAY<DOUBLE>")
    old = emb.filter(F.col("vec_id") % 4 != 3)
    delta = emb.filter(F.col("vec_id") % 4 == 3)

    path = str(tmp_path / "pq_inc")
    build_pq_index(old, path, m=2, k=4)
    append_index(spark, path, delta)

    stored_cb = spark.read.parquet(f"{path}/codebooks")
    stored_codes = spark.read.parquet(f"{path}/codes")
    expected = pq_encode(emb, stored_cb, m=2)
    key = lambda r: (r["vec_id"], tuple(r["codes"]))  # noqa: E731
    assert sorted(map(key, stored_codes.collect())) == sorted(
        map(key, expected.collect())
    )
    assert stored_codes.count() == 120

    qv = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    before_topk = sorted(
        map(tuple, pq_topk_indexed(spark, path, qv, topk=5).collect())
    )
    assert len(before_topk) == 5

    n_before = len(glob.glob(f"{path}/codes/*.parquet"))
    compact_index_files(spark, path)
    n_after = len(glob.glob(f"{path}/codes/*.parquet"))
    assert n_after < n_before and n_after <= 1
    assert sorted(map(key, spark.read.parquet(f"{path}/codes").collect())) == sorted(
        map(key, expected.collect())
    )
    assert sorted(
        map(tuple, pq_topk_indexed(spark, path, qv, topk=5).collect())
    ) == before_topk


def test_ivfadc_index_append_matches_frozen_model(spark, tmp_path):
    """append_index: the standing rows are untouched, and the
    delta's (cid, sub, code) rows equal an INDEPENDENT driver-side
    replay of the frozen model (numpy: L2² argmin over the stored
    centroids with the ROUND(·,6)+lowest-cid tiebreak, residual, then
    per-subspace argmin over the stored residual codebooks) — so the
    append is exactly 'assign-and-encode under the stored geometry',
    not a retrain."""
    import random

    from hpaste_spark.operators.similarity import (
        append_index,
        build_ivfadc_index,
    )

    rnd = random.Random(47)
    rows = [
        (i, [rnd.uniform(-1, 1) for _ in range(8)]) for i in range(80)
    ]
    emb = spark.createDataFrame(rows, "vec_id INT, embedding ARRAY<DOUBLE>")
    old = emb.filter(F.col("vec_id") % 4 != 3)
    delta = emb.filter(F.col("vec_id") % 4 == 3)

    path = str(tmp_path / "ivfadc_inc")
    build_ivfadc_index(old, path, k_centroids=4, m=2, k=4)
    before = sorted(
        map(tuple, spark.read.parquet(f"{path}/codes")
            .select("vec_id", "sub", "code", "cid").collect())
    )
    append_index(spark, path, delta)
    after = spark.read.parquet(f"{path}/codes").select(
        "vec_id", "sub", "code", "cid"
    )
    old_rows = sorted(
        map(tuple, after.filter(~F.col("vec_id").isin(
            [r[0] for r in rows if r[0] % 4 == 3])).collect())
    )
    assert old_rows == before, "standing rows must be untouched by the append"

    cents = {
        r["cid"]: list(r["cvec"])
        for r in spark.read.parquet(f"{path}/centroids").collect()
    }
    rcb = {}
    for r in spark.read.parquet(f"{path}/codebooks").collect():
        rcb.setdefault((r["sub"], r["code"]), {})[r["wpos"]] = r["c"]
    got = {
        (r["vec_id"], r["sub"]): (r["code"], r["cid"])
        for r in after.collect()
        if r["vec_id"] % 4 == 3
    }
    sd = 4  # dim 8 / m 2
    for vid, vec in rows:
        if vid % 4 != 3:
            continue
        cid = min(
            cents,
            key=lambda c: (
                round(sum((x - y) ** 2 for x, y in zip(vec, cents[c])), 6), c
            ),
        )
        res = [x - y for x, y in zip(vec, cents[cid])]
        for sub in (0, 1):
            code = min(
                (c for (s, c) in rcb if s == sub),
                key=lambda c: (
                    round(sum(
                        (res[sub * sd + w] - rcb[(sub, c)][w]) ** 2
                        for w in range(sd)
                    ), 6),
                    c,
                ),
            )
            assert got[(vid, sub)] == (code, cid), (vid, sub)


def test_ivf_assign_zero_vector_and_build_append_rejected(spark, tmp_path):
    """Robustness edges found round 11: (1) ivf_assign on a corpus
    containing an ALL-ZERO embedding used to die with an ANSI
    ArithmeticException (0/0 in the cosine) — zero vectors now score
    0 against every centroid and deterministically land in the lowest
    cid; (2) build_ivf_index(mode='append') would write a SECOND
    centroid relation next to the pinned one — rejected like the
    LSH/Bloom/HDR builds."""
    import pytest

    from hpaste_spark.operators.similarity import (
        build_ivf_index,
        ivf_assign,
        ivf_centroids,
    )

    rows = [(i, [float((i + j) % 5 - 2) for j in range(4)]) for i in range(1, 12)]
    rows.append((0, [0.0, 0.0, 0.0, 0.0]))  # the zero vector
    emb = spark.createDataFrame(rows, "vec_id INT, embedding ARRAY<DOUBLE>")
    cent = ivf_centroids(emb.filter("vec_id != 0"), 3)
    got = ivf_assign(emb, cent).collect()
    assert len(got) == 12  # zero vector assigned, not crashed
    zero_cid = [r["cid"] for r in got if r["vec_id"] == 0]
    assert zero_cid == [min(r["cid"] for r in cent.collect())]

    path = str(tmp_path / "ivf_m")
    with pytest.raises(ValueError, match="append_index"):
        build_ivf_index(emb, path, k_centroids=3, mode="append")


def test_ivf_compaction_restores_fresh_build(spark, tmp_path):
    """compact_ivf_index == a fresh build_ivf_index on the standing
    corpus (round-11 verdict ask #2): after build + append + COMPACT,
    the artifact's centroids, (vec_id, cid) assignment, and k-NN
    answers are identical to an index built fresh on the union — so
    compaction restores fresh-build recall BY RESULT IDENTITY, not by
    a recall band.  Also the small-files claim: the appended vectors
    tree carries extra per-(append, cid) fragments and compaction
    consolidates them (file count strictly drops back to ~one per
    cid)."""
    import glob
    import random

    from hpaste_spark.operators.similarity import (
        append_index,
        build_ivf_index,
        compact_ivf_index,
        ivf_knn_join_indexed,
    )

    rnd = random.Random(23)
    rows = [
        (i, [rnd.uniform(-1, 1) for _ in range(8)]) for i in range(120)
    ]
    emb = spark.createDataFrame(rows, "vec_id INT, embedding ARRAY<DOUBLE>")
    # drifted delta: shifted cone, so build-time and union centroids
    # genuinely differ and the identity below is a real check
    old = emb.filter(F.col("vec_id") % 4 != 3)
    delta = emb.filter(F.col("vec_id") % 4 == 3).select(
        "vec_id", F.transform("embedding", lambda x: x + 2.0).alias("embedding")
    )
    union = old.unionByName(delta)

    inc = str(tmp_path / "ivf_inc")
    build_ivf_index(old, inc, k_centroids=4)
    append_index(spark, inc, delta)
    n_files_appended = len(glob.glob(f"{inc}/vectors/cid=*/*.parquet"))
    # k explicit: the build slice (vec_id % 4 != 3) seeds only 3 of 4
    # cid groups, so the artifact's current centroid count (the k
    # default) is 3 — the maintenance job targets the union's k
    compact_ivf_index(spark, inc, k_centroids=4)
    n_files_compacted = len(glob.glob(f"{inc}/vectors/cid=*/*.parquet"))
    assert n_files_compacted < n_files_appended, "compaction must consolidate fragments"

    fresh = str(tmp_path / "ivf_fresh")
    build_ivf_index(union, fresh, k_centroids=4)

    rel = lambda p, sub, cols: sorted(  # noqa: E731
        map(tuple, spark.read.parquet(f"{p}/{sub}").select(*cols).collect())
    )
    assert rel(inc, "centroids", ["cid", "cvec"]) == rel(
        fresh, "centroids", ["cid", "cvec"]
    )
    assert rel(inc, "vectors", ["vec_id", "cid"]) == rel(
        fresh, "vectors", ["vec_id", "cid"]
    )

    qs = union.filter(F.col("vec_id") % 30 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = lambda p: sorted(  # noqa: E731
        map(tuple, ivf_knn_join_indexed(spark, p, qs, k=3, nprobe=2).collect())
    )
    answers = got(inc)
    assert answers == got(fresh) and len(answers) > 0


def test_stream_incremental_dedup_stored_matches_batch(spark, tmp_path):
    """The stored streaming probe (geometry from the artifact) lands
    the same candidate set the batch operator computes, and refuses a
    foreign-family artifact before starting the stream."""
    import pytest

    from hpaste_spark.operators.dedup import (
        build_lsh_index,
        incremental_lsh_candidates_stored,
    )
    from hpaste_spark.streaming.dedup import stream_incremental_dedup_stored

    words = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()
    docs = [
        (i, " ".join(words[(i + j) % len(words)] for j in range(8)))
        for i in range(20)
    ]
    corpus = spark.createDataFrame(docs[:15], "doc_id INT, text STRING")
    batch_rows = docs[15:]
    path = str(tmp_path / "lsh_idx")
    build_lsh_index(corpus, path, num_hashes=12, bands=3, shingle=2)

    src = tmp_path / "stream_src"
    src.mkdir()
    spark.createDataFrame(batch_rows, "doc_id INT, text STRING").coalesce(
        1
    ).write.mode("overwrite").parquet(str(src / "b0"))
    stream = spark.readStream.schema("doc_id INT, text STRING").parquet(
        str(src / "b0")
    )

    landed: list = []

    def sink(out, batch_id):
        landed.extend(
            (r["batch_id"], r["corpus_id"], r["n_bands"]) for r in out.collect()
        )

    stream_incremental_dedup_stored(spark, path, stream, sink, timeout_s=120)
    batch = spark.createDataFrame(batch_rows, "doc_id INT, text STRING")
    expected = {
        (r["batch_id"], r["corpus_id"], r["n_bands"])
        for r in incremental_lsh_candidates_stored(spark, path, batch).collect()
    }
    assert set(landed) == expected and len(expected) > 0

    spark.createDataFrame(
        [(12, 3, 2, "doc_id", 0)],
        "num_hashes INT, bands INT, shingle INT, id_col STRING, family INT",
    ).write.mode("overwrite").parquet(f"{path}/meta")
    with pytest.raises(ValueError, match="family 0"):
        stream_incremental_dedup_stored(spark, path, stream, sink)


def test_exact_substr_mask_chain_topologies_fixpoint(spark):
    """Chain topologies (r8 verdict ask #6).  (i) Disjoint chain a–b /
    b–c: each run is cut exactly once from its higher-id holder, the
    middle doc keeps the run it is the LOWER id for, and one pass is a
    fixpoint.  (ii) Three-way shared quote: survives exactly in the
    lowest id.  (iii) OVERLAPPING runs through a middle doc: keep-first
    is PER PAIR, so the middle doc's kept copy of run Y is clipped
    where Y overlaps the run X it loses to a lower id — contiguous Y
    then survives nowhere in full (its pieces live in a and b).  That
    clip is the documented semantics (per-pair excision, the Lee et
    al. posture), and crucially the output is STILL a fixpoint: no
    qualifying run remains, so no second pass is ever needed."""
    from hpaste_spark.operators.dedup import exact_substr_mask, exact_substr_pairs

    X = " ".join(f"x{i}" for i in range(12))
    Y = " ".join(f"y{i}" for i in range(12))

    def rerun_is_fixpoint(out_rows):
        masked = spark.createDataFrame(
            [(r["doc_id"], r["clean_text"]) for r in out_rows],
            "doc_id INT, text STRING",
        )
        assert exact_substr_pairs(masked, min_shared_tokens=10).count() == 0

    # (i) disjoint chain: a–b share X, b–c share Y, a–c nothing
    chain = spark.createDataFrame(
        [
            (1, f"pre {X} post"),
            (2, f"{X} mid1 mid2 mid3 {Y}"),
            (3, f"{Y} tail1 tail2"),
        ],
        "doc_id INT, text STRING",
    )
    out = {
        r["doc_id"]: r
        for r in exact_substr_mask(chain, min_shared_tokens=10).collect()
    }
    assert out[1]["n_masked_tokens"] == 0  # lowest id of its only pair
    assert out[2]["clean_text"] == f"mid1 mid2 mid3 {Y}"  # lost X, KEPT Y
    assert out[2]["n_masked_tokens"] == 12
    assert out[3]["clean_text"] == "tail1 tail2"  # lost Y
    assert out[3]["n_masked_tokens"] == 12
    rerun_is_fixpoint(out.values())

    # (ii) three-way shared quote: survives exactly once, in doc 1
    tri = spark.createDataFrame(
        [(1, f"aa {X} bb"), (2, f"cc {X} dd"), (3, f"{X} ee")],
        "doc_id INT, text STRING",
    )
    out = {
        r["doc_id"]: r
        for r in exact_substr_mask(tri, min_shared_tokens=10).collect()
    }
    assert out[1]["n_masked_tokens"] == 0
    assert out[2]["clean_text"] == "cc dd" and out[3]["clean_text"] == "ee"
    rerun_is_fixpoint(out.values())

    # (iii) overlapping runs: b = w0..w29, a = w0..w14 (X'), c = w10..w24
    # (Y'); a–c share only 5 tokens (no pair).  b loses X' (including
    # the w10..w14 overlap) and keeps only w15..w29; c loses all of Y'.
    ws = [f"w{i}" for i in range(30)]
    ovl = spark.createDataFrame(
        [
            (1, " ".join(ws[0:15])),
            (2, " ".join(ws)),
            (3, " ".join(ws[10:25])),
        ],
        "doc_id INT, text STRING",
    )
    pairs = {
        (r["id_a"], r["id_b"])
        for r in exact_substr_pairs(ovl, min_shared_tokens=10).collect()
    }
    assert pairs == {(1, 2), (2, 3)}  # the 5-token a–c overlap is no pair
    out = {
        r["doc_id"]: r
        for r in exact_substr_mask(ovl, min_shared_tokens=10).collect()
    }
    assert out[1]["n_masked_tokens"] == 0
    assert out[2]["clean_text"] == " ".join(ws[15:30])  # X' clipped Y'
    assert out[3]["clean_text"] == "" and out[3]["n_masked_tokens"] == 15
    # contiguous Y' survives nowhere in full — pieces in docs 1 and 2 —
    # yet the pass is already a fixpoint
    rerun_is_fixpoint(out.values())


def test_weighted_jaccard_rare_overlap_beats_template(spark):
    """The reason to weight: doc pairs sharing only a common TEMPLATE
    (shingles present in every doc, weight 1) must not qualify, while
    a pair sharing a RARE paragraph on top of the template must."""
    from hpaste_spark.operators.dedup import weighted_jaccard_pairs

    template = "standard header boilerplate text common to every single document here"
    rare = "unique quantum flux capacitor paragraph shared by just two docs"
    rows = [
        (1, template + " " + rare),
        (2, template + " " + rare),
        (3, template + " alpha beta gamma delta epsilon zeta eta theta"),
        (4, template + " one two three four five six seven eight"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {
        (r.id_a, r.id_b): r
        for r in weighted_jaccard_pairs(
            df, threshold_num=1, threshold_den=2
        ).collect()
    }
    assert (1, 2) in pairs
    # 3 and 4 share ONLY the ubiquitous template: weighted overlap
    # stays below 1/2 even though they share many raw shingles
    assert (3, 4) not in pairs
    p = pairs[(1, 2)]
    assert p.inter_w == p.union_w and p.wj_ppm == 1_000_000  # identical docs


def test_weighted_jaccard_prefix_filter_lossless(spark):
    """Prefix-filtered output == brute-force weighted truth on the
    sf0.001 fixture at two thresholds (the completeness lemma,
    exercised end to end)."""
    from pyspark.sql import functions as F

    from hpaste_spark.functions.text import token_hash, word_shingles
    from hpaste_spark.operators.dedup import weighted_jaccard_pairs
    from hpaste_spark.sources.catalog import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    sets = (
        docs.select(
            F.col("doc_id").alias("_id"),
            F.explode(
                F.array_distinct(word_shingles(F.col("text"), 3))
            ).alias("_sh"),
        )
        .select("_id", token_hash(F.col("_sh")).alias("_sk"))
        .distinct()
    )
    dfreq = sets.groupBy("_sk").agg(F.count(F.lit(1)).alias("_df"))
    n = sets.select("_id").distinct().count()
    tw = sets.join(dfreq, "_sk").withColumn(
        "_w",
        F.length(F.conv(F.expr(f"{n} div _df").cast("string"), 10, 2)).cast("long"),
    )
    dw = {r["_id"]: r["wd"] for r in tw.groupBy("_id").agg(F.sum("_w").alias("wd")).collect()}
    a = tw.select(F.col("_id").alias("ia"), "_sk", F.col("_w").alias("w"))
    b = tw.select(F.col("_id").alias("ib"), "_sk")
    inter = {
        (r.ia, r.ib): r.iw
        for r in a.join(b, "_sk")
        .filter(F.col("ia") < F.col("ib"))
        .groupBy("ia", "ib")
        .agg(F.sum("w").alias("iw"))
        .collect()
    }
    for num, den in ((1, 2), (3, 10)):
        truth = {
            (ia, ib)
            for (ia, ib), iw in inter.items()
            if iw * den >= num * (dw[ia] + dw[ib] - iw)
        }
        got = {
            (r.id_a, r.id_b)
            for r in weighted_jaccard_pairs(
                docs, threshold_num=num, threshold_den=den
            ).collect()
        }
        assert got == truth and len(truth) > 0, (num, den)


# ---------------------------------------------------------------------------
# round-12: ANN torn-append protocol + journaled two-directory compaction


def _rand_emb(spark, n=120, dim=8, seed=11):
    import random

    rnd = random.Random(seed)
    rows = [(i, [rnd.uniform(-1, 1) for _ in range(dim)]) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id INT, embedding ARRAY<DOUBLE>")


def _knn_rows(spark, path, emb, k=3):
    from hpaste_spark.operators.similarity import ivf_knn_join_indexed

    qs = emb.filter(F.col("vec_id") % 30 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return sorted(
        map(tuple, ivf_knn_join_indexed(spark, path, qs, k=k, nprobe=2).collect())
    )


def test_ivf_torn_append_detect_repair_retry(spark, tmp_path, monkeypatch):
    """The round-12 torn-append protocol end to end: kill the append
    between the delta data write and the meta publish → every stored
    reader fails LOUDLY → check_artifact(repair=True) rolls the tree
    back to exactly its pre-append state → the RETRY lands the delta
    once, and the final index hash-matches an append that was never
    interrupted (no duplicate ids, no lost slice)."""
    import pytest

    import hpaste_spark.operators.similarity as sim
    from hpaste_spark.operators.artifacts import TornArtifactError, check_artifact
    from hpaste_spark.operators.similarity import append_index, build_ivf_index

    emb = _rand_emb(spark)
    old = emb.filter(F.col("vec_id") % 4 != 3)
    delta = emb.filter(F.col("vec_id") % 4 == 3)

    # control: the uninterrupted lifecycle
    control = str(tmp_path / "control")
    build_ivf_index(old, control, k_centroids=4)
    assert append_index(spark, control, delta) == 2
    want = _knn_rows(spark, control, emb)
    pre_want = None  # filled below from the torn tree after rollback

    path = str(tmp_path / "torn")
    build_ivf_index(old, path, k_centroids=4)
    pre_files = sorted(
        f for f in __import__("os").listdir(f"{path}/vectors")
    )

    real_commit = sim._ann_append_commit

    def crash_commit(p, meta, sig):
        raise OSError("simulated crash between data write and meta publish")

    monkeypatch.setattr(sim, "_ann_append_commit", crash_commit)
    with pytest.raises(OSError, match="simulated crash"):
        append_index(spark, path, delta)
    monkeypatch.setattr(sim, "_ann_append_commit", real_commit)

    # 1. loud: every stored reader refuses the journaled tree
    with pytest.raises(TornArtifactError, match="append_pending"):
        _knn_rows(spark, path, emb)
    # ...and so does a blind retry (no silent double-insert path)
    with pytest.raises(Exception, match="append_pending|single-writer"):
        append_index(spark, path, delta)

    # 2. detect + repair: rollback to the pre-append tree
    report = check_artifact(path, repair=True)
    assert any("TORN append" in l for l in report)
    import os as _os

    assert sorted(_os.listdir(f"{path}/vectors")) == pre_files
    pre_want = _knn_rows(spark, control.replace("control", "control"), emb)  # control sanity
    assert pre_want == want

    # 3. clean retry: one delta landing, hash-identical to the control
    assert append_index(spark, path, delta) == 2
    assert _knn_rows(spark, path, emb) == want
    vec = spark.read.parquet(f"{path}/vectors")
    assert vec.count() == vec.select("vec_id").distinct().count() == 120


def test_ann_append_retry_is_idempotent(spark, tmp_path):
    """append twice ≡ append once (round-12 verdict 'Done =' pin): a
    retry of the LAST COMMITTED append is recognized by its content
    signature and becomes a no-op for all three ANN families — version
    unchanged, row counts unchanged, results hash-identical."""
    from hpaste_spark.operators.similarity import (
        append_index,
        build_ivf_index,
        build_ivfadc_index,
        build_pq_index,
    )

    emb = _rand_emb(spark)
    old = emb.filter(F.col("vec_id") % 4 != 3)
    delta = emb.filter(F.col("vec_id") % 4 == 3)

    ivf = str(tmp_path / "ivf")
    build_ivf_index(old, ivf, k_centroids=4)
    assert append_index(spark, ivf, delta) == 2
    once = _knn_rows(spark, ivf, emb)
    n_once = spark.read.parquet(f"{ivf}/vectors").count()
    assert append_index(spark, ivf, delta) == 2  # retry: no-op
    assert spark.read.parquet(f"{ivf}/vectors").count() == n_once
    assert _knn_rows(spark, ivf, emb) == once

    pq = str(tmp_path / "pq")
    build_pq_index(old, pq, m=4, k=8)
    assert append_index(spark, pq, delta) == 2
    n_codes = spark.read.parquet(f"{pq}/codes").count()
    assert append_index(spark, pq, delta) == 2
    assert spark.read.parquet(f"{pq}/codes").count() == n_codes == 120

    adc = str(tmp_path / "adc")
    build_ivfadc_index(old, adc, k_centroids=4, m=4, k=8)
    assert append_index(spark, adc, delta) == 2
    n_rows = spark.read.parquet(f"{adc}/codes").count()
    assert append_index(spark, adc, delta) == 2
    assert spark.read.parquet(f"{adc}/codes").count() == n_rows == 120 * 4


def test_ann_append_validates_delta_dim(spark, tmp_path):
    """A delta whose vectors have the wrong dimensionality must raise
    BEFORE any encode (r11 ADVICE: it used to mis-split sub/wpos and
    emit garbage codes silently) — for the PQ and IVFADC appends, and
    the IVF append too."""
    import pytest

    from hpaste_spark.operators.similarity import (
        append_index,
        build_ivf_index,
        build_ivfadc_index,
        build_pq_index,
    )

    emb = _rand_emb(spark, dim=8)
    bad = _rand_emb(spark, n=10, dim=12, seed=7).filter(F.col("vec_id") >= 1000 - 1000)
    bad = bad.select((F.col("vec_id") + 500).alias("vec_id"), "embedding")

    for build, append, kwargs in [
        (build_ivf_index, append_index, {"k_centroids": 4}),
        (build_pq_index, append_index, {"m": 4, "k": 8}),
        (build_ivfadc_index, append_index, {"k_centroids": 4, "m": 4, "k": 8}),
    ]:
        path = str(tmp_path / build.__name__)
        build(emb, path, **kwargs)
        with pytest.raises(ValueError, match="dim"):
            append(spark, path, bad)
        # the failed validation must not leave a journal behind
        from hpaste_spark.operators.artifacts import require_clean

        require_clean(path)


def test_ivf_compaction_between_swaps_crash_completed_by_fsck(
    spark, tmp_path, monkeypatch
):
    """Round-12 verdict ask #2 end to end: crash compact_ivf_index
    between the vectors swap and the centroids swap → readers fail
    loudly (journaled tree) → check_artifact(repair=True) COMPLETES
    the centroids swap from its epoch-matching tmp → the index answers
    bit-identically to an uninterrupted compaction (and the meta
    carries the journaled version bump + k_centroids)."""
    import pytest

    import hpaste_spark.operators.artifacts as artifacts
    from hpaste_spark.operators.artifacts import TornArtifactError, read_meta
    from hpaste_spark.operators.similarity import (
        append_index,
        build_ivf_index,
        compact_ivf_index,
    )

    emb = _rand_emb(spark)
    old = emb.filter(F.col("vec_id") % 4 != 3)
    delta = emb.filter(F.col("vec_id") % 4 == 3)

    control = str(tmp_path / "control")
    build_ivf_index(old, control, k_centroids=4)
    append_index(spark, control, delta)
    compact_ivf_index(spark, control, k_centroids=4)
    want = _knn_rows(spark, control, emb)
    assert read_meta(control)["version"] == 3

    path = str(tmp_path / "crash")
    build_ivf_index(old, path, k_centroids=4)
    append_index(spark, path, delta)

    real_swap = artifacts.swap_live_dir
    calls = {"n": 0}

    def crashing_swap(live, tmp):
        calls["n"] += 1
        if calls["n"] == 2:  # the centroids swap
            raise OSError("simulated crash between the two swaps")
        real_swap(live, tmp)

    monkeypatch.setattr(artifacts, "swap_live_dir", crashing_swap)
    with pytest.raises(OSError, match="between the two swaps"):
        compact_ivf_index(spark, path, k_centroids=4)
    monkeypatch.setattr(artifacts, "swap_live_dir", real_swap)

    # loud: the journaled tree refuses reads (previously this state was
    # silently served with arbitrary nprobe cell selection)
    with pytest.raises(TornArtifactError, match="compact_pending"):
        _knn_rows(spark, path, emb)

    report = artifacts.check_artifact(path, repair=True)
    assert any("BETWEEN swaps" in l for l in report)
    assert _knn_rows(spark, path, emb) == want
    meta = read_meta(path)
    assert meta["version"] == 3 and meta["k_centroids"] == 4
    assert artifacts.check_artifact(path) == []


def test_ivf_drift_recall_grades_live_artifact(spark, tmp_path):
    """similarity.drift_recall (round-12 verdict ask #3): grades a
    LIVE built-then-appended artifact — the 'appended' row reflects the
    stored centroids + stored cids, each 'compact_it{n}' row an in-plan
    candidate re-cluster — under the FIXED query budget.  Pins: the
    variant set, the budget cap (deterministic first-by-qid sample),
    recall bounds, determinism across calls, and that nothing was
    written (the candidates are graded, not materialized)."""
    import os as _os

    from hpaste_spark.operators.similarity import (
        append_index,
        build_ivf_index,
        drift_recall,
    )

    emb = _rand_emb(spark, n=80, dim=8, seed=3)
    delta = emb.select(
        (F.col("vec_id") + 1000).alias("vec_id"),
        F.reverse(F.col("embedding")).alias("embedding"),
    )
    path = str(tmp_path / "drift")
    build_ivf_index(emb, path, k_centroids=4)
    append_index(spark, path, delta)
    files_before = sorted(
        _os.path.join(r, f)
        for r, _d, fs in _os.walk(path)
        for f in fs
    )

    qs = delta.filter(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    got = drift_recall(spark, path, qs, k=5, nprobe=2, budget=6)
    rows = {r["variant"]: r for r in got.collect()}
    assert set(rows) == {"appended", "compact_it1", "compact_it2"}
    for r in rows.values():
        assert r["n_queries"] == 6, "budget cap must bind (8 candidates -> 6)"
        assert r["k"] == 5
        assert 0 <= r["n_hit"] <= 6 * 5
        assert 0.0 <= r["recall_at_k"] <= 1.0
        assert r["recall_at_k"] == round(r["n_hit"] / 30.0, 4)

    # deterministic: same inputs, same numbers
    again = {r["variant"]: r for r in drift_recall(
        spark, path, qs, k=5, nprobe=2, budget=6
    ).collect()}
    assert {v: (r["n_hit"], r["recall_at_k"]) for v, r in rows.items()} == {
        v: (r["n_hit"], r["recall_at_k"]) for v, r in again.items()
    }

    # the monitor only grades — the artifact is untouched
    files_after = sorted(
        _os.path.join(r, f)
        for r, _d, fs in _os.walk(path)
        for f in fs
    )
    assert files_after == files_before

    # candidate list is caller-controlled: empty = grade the live
    # artifact alone (the cheap daily probe)
    only = drift_recall(
        spark, path, qs, k=5, nprobe=2, budget=6, candidate_iterations=()
    ).collect()
    assert [r["variant"] for r in only] == ["appended"]
    assert only[0]["n_hit"] == rows["appended"]["n_hit"]


def test_ivfadc_compaction_consolidates_files_identically(spark, tmp_path):
    """compact_index_files: after a build + two appends the codes tree
    holds one fragment per (write, cid); compaction repartitions on cid
    — strictly fewer files, rows bit-identical, probe results
    bit-identical, partition layout (cid= dirs) preserved, meta version
    bumped.  Completes build → append → compact for the last index
    family."""
    import os as _os

    from hpaste_spark.operators.artifacts import read_meta
    from hpaste_spark.operators.similarity import (
        append_index,
        build_ivfadc_index,
        compact_index_files,
        ivfadc_topk_indexed,
    )

    emb = _rand_emb(spark, n=120, dim=8, seed=5)
    path = str(tmp_path / "adc")
    build_ivfadc_index(emb.filter(F.col("vec_id") % 3 == 0), path,
                       k_centroids=4, m=4, k=8)
    append_index(spark, path, emb.filter(F.col("vec_id") % 3 == 1))
    append_index(spark, path, emb.filter(F.col("vec_id") % 3 == 2))

    def parquet_files():
        return sorted(
            _os.path.join(r, f)
            for r, _d, fs in _os.walk(f"{path}/codes")
            for f in fs
            if f.endswith(".parquet")
        )

    def rows():
        return sorted(
            map(tuple, spark.read.parquet(f"{path}/codes")
                .select("vec_id", "sub", "code", "cid").collect())
        )

    qv = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    before_rows = rows()
    before_top = sorted(map(tuple, ivfadc_topk_indexed(
        spark, path, qv, nprobe=2, m=4, topk=5).collect()))
    n_before = len(parquet_files())
    assert read_meta(path)["version"] == 3  # build + 2 appends

    compact_index_files(spark, path)
    assert len(parquet_files()) < n_before
    assert rows() == before_rows
    assert sorted(map(tuple, ivfadc_topk_indexed(
        spark, path, qv, nprobe=2, m=4, topk=5).collect())) == before_top
    assert read_meta(path)["version"] == 4
    # partition dirs survive (pruning posture unchanged)
    assert any(e.startswith("cid=") for e in _os.listdir(f"{path}/codes"))


def test_pq_drift_recall_grades_live_artifact(spark, tmp_path):
    """similarity.drift_recall (round 12 — the compression-leg twin
    of drift_recall): grades a LIVE build+append PQ artifact
    against an in-plan re-train on the corpus.  Pins the variant set,
    the binding budget cap, determinism, the read-only contract, and
    the corpus-cardinality hard-check (grading against the wrong slice
    must raise, not skew silently)."""
    import os as _os

    import pytest

    from hpaste_spark.operators.similarity import (
        append_index,
        build_pq_index,
        drift_recall,
    )

    emb = _rand_emb(spark, n=80, dim=8, seed=13)
    delta = emb.select(
        (F.col("vec_id") + 1000).alias("vec_id"),
        F.reverse(F.col("embedding")).alias("embedding"),
    )
    path = str(tmp_path / "pqdrift")
    build_pq_index(emb, path, m=4, k=8)
    append_index(spark, path, delta)
    union = emb.unionByName(delta)
    files_before = sorted(
        _os.path.join(r, f) for r, _d, fs in _os.walk(path) for f in fs
    )

    qs = delta.filter(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    got = drift_recall(spark, path, qs, union, k=5, budget=6)
    rows = {r["variant"]: r for r in got.collect()}
    assert set(rows) == {"appended", "retrained"}
    for r in rows.values():
        assert r["n_queries"] == 6 and r["k"] == 5
        assert 0.0 <= r["recall_at_k"] <= 1.0
        assert r["recall_at_k"] == round(r["n_hit"] / 30.0, 4)

    again = {r["variant"]: (r["n_hit"], r["recall_at_k"])
             for r in drift_recall(spark, path, qs, union, k=5, budget=6).collect()}
    assert again == {v: (r["n_hit"], r["recall_at_k"]) for v, r in rows.items()}

    files_after = sorted(
        _os.path.join(r, f) for r, _d, fs in _os.walk(path) for f in fs
    )
    assert files_after == files_before, "the monitor only grades"

    with pytest.raises(ValueError, match="store of record"):
        drift_recall(spark, path, qs, emb, k=5, budget=6)  # wrong slice


def test_ivfadc_drift_recall_grades_live_artifact(spark, tmp_path):
    """similarity.drift_recall (round 12 — the monitor family
    complete): grades a LIVE build+append IVFADC artifact against an
    in-plan full re-train.  Pins variant set, binding budget,
    determinism, read-only grading, and the code-row cardinality
    hard-check (n_corpus * m)."""
    import os as _os

    import pytest

    from hpaste_spark.operators.similarity import (
        append_index,
        build_ivfadc_index,
        drift_recall,
    )

    emb = _rand_emb(spark, n=80, dim=8, seed=17)
    delta = emb.select(
        (F.col("vec_id") + 1000).alias("vec_id"),
        F.reverse(F.col("embedding")).alias("embedding"),
    )
    path = str(tmp_path / "adcdrift")
    build_ivfadc_index(emb, path, k_centroids=4, m=4, k=8)
    append_index(spark, path, delta)
    union = emb.unionByName(delta)
    files_before = sorted(
        _os.path.join(r, f) for r, _d, fs in _os.walk(path) for f in fs
    )

    qs = delta.filter(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    got = drift_recall(spark, path, qs, union, k=5, nprobe=2, budget=6)
    rows = {r["variant"]: r for r in got.collect()}
    assert set(rows) == {"appended", "retrained"}
    for r in rows.values():
        assert r["n_queries"] == 6 and r["k"] == 5
        assert 0.0 <= r["recall_at_k"] <= 1.0
        assert r["recall_at_k"] == round(r["n_hit"] / 30.0, 4)

    again = {r["variant"]: (r["n_hit"], r["recall_at_k"])
             for r in drift_recall(
                 spark, path, qs, union, k=5, nprobe=2, budget=6).collect()}
    assert again == {v: (r["n_hit"], r["recall_at_k"]) for v, r in rows.items()}

    files_after = sorted(
        _os.path.join(r, f) for r, _d, fs in _os.walk(path) for f in fs
    )
    assert files_after == files_before

    with pytest.raises(ValueError, match="store of record"):
        drift_recall(spark, path, qs, emb, k=5, budget=6)
