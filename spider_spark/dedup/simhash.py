"""SimHash (64-bit) near-duplicate detection.

Per doc: hash each token, accumulate +count/−count per bit position,
fingerprint bit b = sign of the accumulated sum. Near-dups = pairs within
Hamming distance ≤ HAMMING_MAX, found via the pigeonhole trick: split the
64 bits into 4 chunks of 16 — any pair at distance ≤ 3 must agree on at
least one chunk (we use ≤ HAMMING_MAX with 4 chunks, which guarantees
recall for distance ≤ 3 and high recall above; candidates are verified
with an exact popcount so precision is exact).

Everything is JVM bit arithmetic; approximate-recall operator ⇒ rows-only
driver check + recall tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spider_spark.catalog import Catalog

BITS = 64
CHUNKS = 4
CHUNK_BITS = BITS // CHUNKS
HAMMING_MAX = 6


def simhash_fingerprints(docs: DataFrame) -> DataFrame:
    """(doc_id, fp: bigint) SimHash fingerprints — fully narrow, NO
    shuffle: tokens are per-document, so the JVM hashes them in one map
    pass and an Arrow-batched numpy kernel does the ±1 bit accumulation
    (token multiplicity falls out of simply summing over occurrences).
    Scales with input splits only."""
    import numpy as np
    import pandas as pd

    shifts = np.arange(BITS, dtype=np.uint64)

    def kernel(batches):
        for pdf in batches:
            fps = np.empty(len(pdf), dtype=np.int64)
            for i, hs in enumerate(pdf["hs"]):
                h = np.asarray(hs, dtype=np.int64).astype(np.uint64)
                bits = (h[:, None] >> shifts[None, :]) & np.uint64(1)
                contrib = (2 * bits.astype(np.int64) - 1).sum(axis=0)
                fps[i] = (
                    ((contrib > 0).astype(np.uint64) << shifts).sum(dtype=np.uint64)
                ).astype(np.int64)
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "fp": fps})

    hs = F.transform(
        F.split(F.trim(F.col("text")), r"\s+"), lambda t: F.xxhash64(t)
    )
    hashed = (
        docs.withColumn("hs", hs).filter(F.size("hs") > 0).select("doc_id", "hs")
    )
    from spider_spark.session import ensure_parallelism

    return ensure_parallelism(hashed, bytes_per_task=256 << 10).mapInPandas(
        kernel, schema="doc_id bigint, fp bigint"
    )


def simhash_pairs(docs: DataFrame) -> DataFrame:
    """Pairs within Hamming distance ≤ HAMMING_MAX via chunk-bucketed
    candidate join + exact popcount verify."""
    return hamming_pairs(simhash_fingerprints(docs))


def hamming_pairs(
    fingerprints: DataFrame, hamming_max: int = HAMMING_MAX
) -> DataFrame:
    """(doc_id_1 < doc_id_2, hamming) pairs over a (doc_id, fp) 64-bit
    fingerprint relation — the chunk-bucketed pigeonhole join shared by
    SimHash text dedup and perceptual media dedup (multimodal/phash.py).
    Guaranteed recall for hamming ≤ CHUNKS-1; approximate above."""
    fps = fingerprints.cache()
    chunk_arr = F.array(
        *[
            F.struct(
                F.lit(c).alias("chunk"),
                F.shiftright(F.col("fp"), c * CHUNK_BITS)
                .bitwiseAND(F.lit((1 << CHUNK_BITS) - 1))
                .alias("cv"),
            )
            for c in range(CHUNKS)
        ]
    )
    chunked = fps.select("doc_id", "fp", F.explode(chunk_arr).alias("c")).select(
        "doc_id", "fp", F.col("c.chunk").alias("chunk"), F.col("c.cv").alias("cv")
    )
    a, b = chunked.alias("a"), chunked.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.cv") == F.col("b.cv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_id_1"),
            F.col("b.doc_id").alias("doc_id_2"),
            F.col("a.fp").alias("fp1"),
            F.col("b.fp").alias("fp2"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("fp1").bitwiseXOR(F.col("fp2")))
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= hamming_max)
        .select("doc_id_1", "doc_id_2", "hamming")
    )


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """queries() wrapper (rows-only check: approximate operator)."""
    return simhash_pairs(Catalog(spark, sf_dir).documents)
