"""The streaming crawl-ingest gate, run per micro-batch through
``foreachBatch``.

``corpus_filter_dedup_sink`` keeps a document when it passes the quality
and PII gate (``_passing_docs``, the same expressions as the
oracle-checked batch twins ``text.analysis.score_quality`` and
``text.pii.pii_signals``), is the first copy of its text within the
batch, and is not already in the Bloom filter over the kept docs of all
earlier batches. Its state is the Bloom bit log: O(BLOOM_GATE_BITS) however many
shards stream through.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _passing_docs(docs: DataFrame, *extra) -> DataFrame:
    """The crawl-ingest gate: non-null text, quality score >= 0.8 and no
    PII hits, as ONE narrow select (plus any ``extra`` columns)."""
    # No self-joins on a stream (they would allocate join state): both
    # gates are pure column expressions.
    from spider_spark.text.analysis import quality_score_col
    from spider_spark.text.pii import pii_hits_col

    return (
        docs.filter(F.col("text").isNotNull())
        .select(
            "doc_id",
            "source",
            "lang",
            "n_chars",
            quality_score_col().alias("score"),
            (pii_hits_col() == 0).alias("_clean"),
            *extra,
        )
        .filter((F.col("score") >= 0.8) & F.col("_clean"))
        .drop("_clean")
    )


# ------------------------------------------------------------------
# Streaming seen-before dedup gate (Bloom filter maintained across
# micro-batches). Parameters are LARGER than the batch demo sketch in
# operators/sketches.py: the gate must keep its false-positive rate
# (an FP silently DROPS a never-seen document) negligible at the
# corpus sizes a shard stream accumulates. Bits are persisted as an
# append-only parquet log of set bit positions — Bloom state is
# monotone, so append-only is both crash-safe under micro-batch
# retries (duplicate appends are idempotent after distinct) and free
# of the read-then-overwrite race a rewritten state file would have.
BLOOM_GATE_BITS = 1 << 17
BLOOM_GATE_HASHES = 5
BLOOM_BITS_SCHEMA = "bit bigint"  # what doc_bloom_bits writes


def _fp_bits(fps: DataFrame) -> DataFrame:
    """(fp, bit) for each of the BLOOM_GATE_HASHES Bloom hashes of ``fp``."""
    from spider_spark.operators.sketches import _md5_bucket

    ks = F.explode(F.sequence(F.lit(0), F.lit(BLOOM_GATE_HASHES - 1))).alias("k")
    return fps.select("fp", ks).select(
        "fp", _md5_bucket(F.col("fp"), F.col("k"), BLOOM_GATE_BITS).alias("bit")
    )


def doc_bloom_bits(fps: DataFrame) -> DataFrame:
    """Distinct Bloom bit positions for a fingerprint relation."""
    return _fp_bits(fps).select("bit").distinct()


def bloom_unseen(batch: DataFrame, bits: DataFrame) -> DataFrame:
    """Rows of ``batch`` whose fingerprint is NOT (all hashes set) in
    the Bloom bit relation. The bit table is O(m) and broadcast; the
    batch side never shuffles for the probe."""
    seen = (
        _fp_bits(batch)
        .join(F.broadcast(bits), "bit", "left_semi")
        .groupBy("fp")
        .agg(F.count("*").alias("n_set"))
        .filter(F.col("n_set") == BLOOM_GATE_HASHES)
        .select("fp")
    )
    return batch.join(seen, "fp", "left_anti")


def corpus_filter_dedup_sink(state_dir: str, out_dir: str):
    """foreachBatch sink composing the full streaming ingest gate:
    quality + PII (``_passing_docs``) -> exact
    within-batch dedup -> Bloom seen-before drop against all PRIOR
    micro-batches -> append kept docs to ``out_dir`` and the kept
    docs' bits to the Bloom log. Re-ingested duplicate shards produce
    zero output rows (tested); state is O(BLOOM_GATE_BITS) however
    many shards stream through."""
    from pyspark.errors import AnalysisException

    bits_path = f"{state_dir}/bloom_bits"

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        kept = _passing_docs(batch_df, F.md5("text").alias("fp")).dropDuplicates(
            ["fp"]
        )
        try:
            bits = spark.read.schema(BLOOM_BITS_SCHEMA).parquet(bits_path).distinct()
        except AnalysisException:
            bits = None
        if bits is not None:
            kept = bloom_unseen(kept, bits)
        kept = kept.localCheckpoint()  # two consumers; avoid recompute drift
        kept.withColumn("batch_id", F.lit(batch_id)).write.mode("append").parquet(
            out_dir
        )
        doc_bloom_bits(kept.select("fp")).write.mode("append").parquet(bits_path)

    return sink
