"""Dedup operators: exact behaviour on controlled data + recall of the
approximate paths (MinHash-LSH, SimHash) against exact Jaccard."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from spider_spark.dedup.exact import exact_dedup
from spider_spark.dedup.jaccard import ngram_jaccard_pairs
from spider_spark.dedup.minhash import (
    NUM_PERM,
    band_postings,
    minhash_lsh_pairs,
    minhash_signatures,
)
from spider_spark.dedup.simhash import simhash_pairs
from spider_spark.dedup.embedding import cosine_neardup_pairs_fast, dot, with_normed


WORDS = [
    "alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf",
    "hotel", "india", "juliet", "kilo", "lima", "mike", "november",
]


def _doc(seed: int, n: int = 60, mutate: int = 0) -> str:
    """Deterministic pseudo-random doc; mutate>0 swaps that many words."""
    import hashlib

    def pick(*parts) -> str:
        h = int.from_bytes(
            hashlib.md5(":".join(map(str, parts)).encode()).digest()[:4], "big"
        )
        return WORDS[h % len(WORDS)]

    toks = [pick("w", seed, i) for i in range(n)]
    for m in range(mutate):
        toks[(m * 11) % n] = pick("mut", seed, m)
    return " ".join(toks)


@pytest.fixture(scope="module")
def corpus(spark):
    """40 base docs; docs 100-103 are near-dups of docs 0-3 (few words
    changed), docs 200-201 exact dups of 4-5."""
    rows = [(i, _doc(i)) for i in range(40)]
    rows += [(100 + j, _doc(j, mutate=2)) for j in range(4)]
    rows += [(200 + j, _doc(4 + j)) for j in range(2)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(corpus):
    out = exact_dedup(corpus)
    assert out.count() == 44  # 46 docs, 2 exact dups collapse
    dupes = {r.doc_id: r.n_copies for r in out.filter(F.col("n_copies") > 1).collect()}
    assert dupes == {4: 2, 5: 2}


def test_ngram_jaccard_finds_neardups(corpus):
    pairs = {
        (r.doc_id_1, r.doc_id_2): r.jaccard
        for r in ngram_jaccard_pairs(corpus, threshold=0.5).collect()
    }
    for j in range(4):
        assert (j, 100 + j) in pairs, f"near-dup pair ({j},{100+j}) missed"
        assert pairs[(j, 100 + j)] >= 0.5
    assert (4, 204) in pairs or (4, 200) in pairs  # exact dup pair j=1.0


def test_minhash_lsh_recall(corpus):
    exact = {
        (r.doc_id_1, r.doc_id_2)
        for r in ngram_jaccard_pairs(corpus, threshold=0.5).collect()
    }
    approx = {
        (r.doc_id_1, r.doc_id_2)
        for r in minhash_lsh_pairs(corpus, est_threshold=0.4).collect()
    }
    assert exact, "test corpus must contain true near-dup pairs"
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"LSH recall {recall} too low (missed {exact - approx})"


def test_minhash_estimate_tracks_true_jaccard(corpus):
    true_j = {
        (r.doc_id_1, r.doc_id_2): r.jaccard
        for r in ngram_jaccard_pairs(corpus, threshold=0.5).collect()
    }
    est_j = {
        (r.doc_id_1, r.doc_id_2): r.est_jaccard
        for r in minhash_lsh_pairs(corpus, est_threshold=0.3).collect()
    }
    both = set(true_j) & set(est_j)
    assert both
    for p in both:
        assert abs(true_j[p] - est_j[p]) < 0.25, (p, true_j[p], est_j[p])


def _column_band_postings(sig, bands):
    """The Column-built banding that band_postings' SQL string replaces."""
    r = NUM_PERM // bands
    band_arr = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(*[F.col("sig")[b * r + i] for i in range(r)]).alias("bh"),
            )
            for b in range(bands)
        ]
    )
    return sig.select("doc_id", F.explode(band_arr).alias("b")).select(
        "doc_id", F.col("b.band").alias("band"), F.col("b.bh").alias("bh")
    )


@pytest.mark.parametrize("bands", [32, 16])
def test_band_postings_equals_column_built(spark, cat, bands):
    """The one-expression banding emits bit-identical (doc_id, band, bh)
    rows under the same schema as the Column-built construction."""
    sig = minhash_signatures(cat.documents).localCheckpoint()
    fast = band_postings(sig, bands)
    ref = _column_band_postings(sig, bands)
    assert fast.schema == ref.schema
    assert fast.count() == ref.count() == sig.count() * bands > 0
    assert fast.exceptAll(ref).count() == 0
    assert ref.exceptAll(fast).count() == 0


def test_simhash_finds_neardups(corpus):
    pairs = {(r.doc_id_1, r.doc_id_2) for r in simhash_pairs(corpus).collect()}
    hits = sum((j, 100 + j) in pairs for j in range(4))
    assert hits >= 3, f"simhash found only {hits}/4 near-dup pairs"
    # exact dups are at hamming 0 and must always be found
    assert (4, 200) in pairs and (5, 201) in pairs


def cosine_neardup_pairs(emb, threshold):
    """All vec pairs with cosine ≥ threshold, as an exact JVM self-join:
    the reference the shipped blocked kernel must match."""
    e = with_normed(emb).select("vec_id", "_v", "_norm")
    a, b = e.alias("a"), e.alias("b")
    cos = dot(F.col("a._v"), F.col("b._v")) / (F.col("a._norm") * F.col("b._norm"))
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .withColumn("cos", F.round(cos, 4))
        .filter(F.col("cos") >= threshold)
        .select(
            F.col("a.vec_id").alias("vec_id_1"),
            F.col("b.vec_id").alias("vec_id_2"),
            "cos",
        )
    )


def test_embedding_fast_kernel_matches_jvm_path(spark):
    import math

    rows = [
        (i, [math.sin(i * 0.7 + d) for d in range(16)])
        for i in range(50)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    slow = {
        (r.vec_id_1, r.vec_id_2): r.cos
        for r in cosine_neardup_pairs(emb, threshold=0.9).collect()
    }
    fast = {
        (r.vec_id_1, r.vec_id_2): r.cos
        for r in cosine_neardup_pairs_fast(emb, threshold=0.9).collect()
    }
    assert set(slow) == set(fast)
    for p in slow:
        assert abs(slow[p] - fast[p]) <= 1e-4


def test_hot_key_cap_bounds_fanout(spark, corpus):
    """A pathological corpus (10k copies of one document) must not blow
    up a single task: every shingle/bucket it produces has df=10k, which
    uncapped would combination-explode ~5*10^7 pairs per posting row.
    With the cap those postings are dropped, while pairs among the
    normal docs are unchanged."""
    from spider_spark.dedup.jaccard import ngram_jaccard_pairs
    from spider_spark.dedup.minhash import minhash_lsh_pairs

    hot = spark.range(10_000, 20_000).select(
        F.col("id").alias("doc_id"), F.lit(_doc(999)).alias("text")
    )
    docs = corpus.union(hot)

    pairs = ngram_jaccard_pairs(docs, cap=64).collect()
    got = {(r.doc_id_1, r.doc_id_2) for r in pairs}
    # normal near-dup pairs survive the cap untouched
    baseline = {
        (r.doc_id_1, r.doc_id_2)
        for r in ngram_jaccard_pairs(corpus, cap=None).collect()
    }
    assert baseline <= got | baseline  # no spurious pair loss below
    assert {(j, 100 + j) for j in range(4)} <= got
    # no pair involves two hot docs (their shingles were all capped away)
    assert not any(a >= 10_000 and b >= 10_000 for a, b in got)

    lsh = minhash_lsh_pairs(docs, cap=64).collect()
    assert not any(
        r.doc_id_1 >= 10_000 and r.doc_id_2 >= 10_000 for r in lsh
    )


def test_minhash_verified_pairs_subset_of_exact(spark, corpus):
    """Two-stage LSH->exact-verify: verified pairs are a subset of the
    fully-exact operator's output with identical Jaccard values."""
    from spider_spark.dedup.minhash import minhash_verified_pairs

    exact = {
        (r.doc_id_1, r.doc_id_2): r.jaccard
        for r in ngram_jaccard_pairs(corpus, threshold=0.4).collect()
    }
    verified = {
        (r.doc_id_1, r.doc_id_2): r.jaccard
        for r in minhash_verified_pairs(corpus, threshold=0.4).collect()
    }
    assert verified, "expected verified near-dup pairs"
    assert set(verified) <= set(exact)
    for p, j in verified.items():
        assert j == exact[p], p
    # at this scale LSH recall is total: the two-stage pipeline found
    # every exact pair (documents the oracle-twin strategy)
    assert set(verified) == set(exact)


def test_sparse_cosine_pairs(spark):
    from spider_spark.text.sparse_sim import sparse_cosine_pairs

    docs = spark.createDataFrame(
        [
            (1, "a b c a b c a b"),
            (2, "a b c a b c a b"),  # identical -> cos 1.0
            (3, "a b c a b c x y"),  # close
            (4, "q r s t u v w z"),  # disjoint -> no pair
        ],
        "doc_id long, text string",
    )
    got = {(r.doc_id_1, r.doc_id_2): r.cos for r in sparse_cosine_pairs(docs, 0.9).collect()}
    assert got[(1, 2)] == 1.0
    assert (1, 3) in got and got[(1, 3)] < 1.0
    assert not any(4 in p for p in got)


def test_compression_ratio_orders_quality(spark):
    import os
    import tempfile

    from spider_spark.text.filters import compression_ratio

    # route through the catalog by writing a tiny documents parquet dir
    tmp = tempfile.mkdtemp()
    docs = spark.createDataFrame(
        [
            (1, "spam " * 200, "en", "s", 1000),
            (2, " ".join(f"w{i}x{i*7%13}" for i in range(200)), "en", "s", 1000),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs.write.parquet(os.path.join(tmp, "documents.parquet"))
    out = {r.doc_id: r for r in compression_ratio(spark, tmp).collect()}
    assert out[1].ratio < out[2].ratio, "repetition must compress better"
    assert all(0 < r.z_bytes <= r.n_bytes * 1.1 for r in out.values())
    # deterministic
    out2 = {r.doc_id: r.ratio for r in compression_ratio(spark, tmp).collect()}
    assert out2 == {k: v.ratio for k, v in out.items()}


def test_dedup_incremental_probe_semantics(spark, sf_dir):
    """New-shard probe: known cross-shard near-dup is flagged with its
    best old match; output covers exactly the new shard."""
    from spider_spark.dedup.jaccard import INC_MOD, dedup_incremental

    rows = {r.doc_id: r for r in dedup_incremental(spark, sf_dir).collect()}
    # only new-shard docs appear, and all of them do (500 docs at sf0.001)
    assert rows and all(d % INC_MOD == 0 for d in rows)
    assert len(rows) == 100
    # doc 110 is a 0.989-Jaccard near-dup of old doc 467 (DuckDB-checked)
    r = rows[110]
    assert r.is_dup and r.dup_of == 467 and r.jaccard >= 0.98
    # novel docs carry NULL annotations
    novel = [r for r in rows.values() if not r.is_dup]
    assert novel and all(r.dup_of is None and r.jaccard is None for r in novel)


def test_band_keys_equal_spark_band_postings(spark, cat):
    """The numpy xxhash64 replay (minhash.band_keys) gives every band's
    ``bh`` exactly as Spark's band_postings does, on real signatures and
    on slots that cover the negative range and both int64 extremes."""
    import numpy as np

    from spider_spark.dedup.minhash import BANDS, band_keys

    real = minhash_signatures(cat.documents.select("doc_id", "text")).collect()
    rng = np.random.default_rng(7)
    edge = rng.integers(-(2**63), 2**63 - 1, size=(6, NUM_PERM), dtype=np.int64, endpoint=True)
    edge[0, :] = -1
    edge[1, :] = -(2**63)
    edge[2, :] = 2**63 - 1
    edge[3, ::2] = 0
    rows = [(r.doc_id, list(r.sig)) for r in real]
    rows += [(10**9 + i, [int(v) for v in edge[i]]) for i in range(len(edge))]
    sig = np.array([s for _, s in rows], dtype=np.int64)
    assert (sig < 0).any()

    got = band_keys(sig)
    assert got.shape == (len(rows), BANDS)
    want = band_postings(spark.createDataFrame(rows, "doc_id bigint, sig array<bigint>")).collect()
    assert len(want) == len(rows) * BANDS
    row_of = {d: i for i, (d, _) in enumerate(rows)}
    assert all(got[row_of[r.doc_id], r.band] == r.bh for r in want)


def test_est_jaccard_table_equals_spark_round(spark):
    """EST_JACCARD[k] is Spark's round(k / 128.0, 4) (HALF_UP) for every
    equal-slot count, including k ≡ 4 (mod 8), where k / 128 ends in 5
    at the fifth decimal and half-even rounding would differ."""
    from spider_spark.dedup.minhash import EST_JACCARD

    eq = F.col("id").cast("int")
    rows = spark.range(NUM_PERM + 1).select(
        "id", F.round(eq / F.lit(float(NUM_PERM)), 4).alias("e")
    ).collect()
    assert list(EST_JACCARD) == [r.e for r in sorted(rows)]
    ties = [k for k in range(NUM_PERM + 1) if round(k / NUM_PERM, 4) != EST_JACCARD[k]]
    assert ties and all(k % 8 == 4 for k in ties)
