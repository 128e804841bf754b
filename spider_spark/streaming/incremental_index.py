"""Streaming incremental maintenance of the LSH candidate artifact.

The snapshot store (spider_spark.store) rebuilds each artifact from
scratch per corpus snapshot. A crawl, though, APPENDS: micro-batches of
new documents arrive and the candidate relation should grow by exactly
the pairs those documents introduce — never by rescanning the corpus.

State layout (parquet directories under one state path):

  signatures/  (doc_id, sig)        — MinHash signatures of every doc
  postings/    (doc_id, band, bh)   — the banded LSH inverted index
  candidates/  (doc_id_1, doc_id_2, est_jaccard)

Merge step per micro-batch (the shard-probe shape dedup_incremental
uses, run under ``foreachBatch``):

  1. signature + band postings for the BATCH only (narrow, no shuffle);
  2. cross pairs: batch postings equi-joined against the STORED
     postings on (band, bh) — probe cost is O(batch × matching
     buckets), independent of corpus size;
  3. within-batch pairs: the ordinary bucket pair-explode on the batch
     postings alone;
  4. est_jaccard from the union signature relation, then APPEND the new
     pairs, postings, and signatures to the state.

Exact-equivalence invariant (tested): every (band, bh) bucket of the
union corpus splits into old∪new members, so

  pairs(old ∪ new) = pairs(old) + pairs(new) + cross(old, new)

and the merged state equals a full rebuild on the union corpus,
bit-identical (the estimator is deterministic per pair). The invariant
requires the UNCAPPED bucket explode (``cap=None``): the hot-bucket cap
drops buckets by their size, which an append can change side-on — a
production deployment tracks per-bucket sizes in the postings store and
re-applies the cap on read, or runs the merge under a table format's
MERGE INTO (see operators/cdc.py docstring for the Delta/Iceberg
mapping). Appends here are plain parquet ``mode("append")``; Structured
Streaming's checkpoint gives at-least-once per batch, so replays after
a crash mid-append would duplicate rows — the same table-format MERGE
closes that gap in production (candidates are a SET, so consumers can
always ``distinct()``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spider_spark.dedup.minhash import (
    band_postings,
    estimate_jaccard,
    minhash_signatures,
)

DOC_SCHEMA = "doc_id bigint, text string"
# Declared state schemas: a schema-less parquet read runs one footer
# inference job per call, twice per micro-batch.
SIG_SCHEMA = "doc_id bigint, sig array<bigint>"
POSTINGS_SCHEMA = "doc_id bigint, band int, bh bigint"
CANDIDATES_SCHEMA = "doc_id_1 bigint, doc_id_2 bigint, est_jaccard double"


def _p(state_path: str, name: str) -> str:
    return os.path.join(state_path, name)


def init_state(spark: SparkSession, state_path: str, base_docs: DataFrame) -> None:
    """Bootstrap the state from the existing corpus: signatures,
    postings, and the full candidate relation of ``base_docs``."""
    from spider_spark.dedup.jaccard import pair_explode

    sig = minhash_signatures(base_docs)
    sig.write.mode("overwrite").parquet(_p(state_path, "signatures"))
    sig = spark.read.schema(SIG_SCHEMA).parquet(_p(state_path, "signatures"))
    post = band_postings(sig)
    post.write.mode("overwrite").parquet(_p(state_path, "postings"))
    post = spark.read.schema(POSTINGS_SCHEMA).parquet(_p(state_path, "postings"))
    grouped = post.groupBy("band", "bh").agg(F.collect_list("doc_id").alias("ids"))
    pairs = pair_explode(grouped, cap=None).distinct()
    estimate_jaccard(pairs, sig).write.mode("overwrite").parquet(
        _p(state_path, "candidates")
    )


def merge_batch(
    spark: SparkSession, state_path: str, batch_docs: DataFrame
) -> DataFrame:
    """Merge one micro-batch of documents into the state; returns the
    NEW candidate pairs (cross corpus×batch + within-batch) that were
    appended. Batch-sized compute only: the stored corpus is touched
    through one (band, bh) equi-join and one signature semi-join."""
    from spider_spark.dedup.jaccard import pair_explode

    sig_new = minhash_signatures(batch_docs).localCheckpoint()
    if not sig_new.head(1):
        return spark.createDataFrame([], CANDIDATES_SCHEMA)
    post_new = band_postings(sig_new).localCheckpoint()

    stored_post = spark.read.schema(POSTINGS_SCHEMA).parquet(_p(state_path, "postings"))
    stored_sig = spark.read.schema(SIG_SCHEMA).parquet(_p(state_path, "signatures"))

    # cross pairs: probe the stored inverted index on the batch's keys
    cross = (
        post_new.select("band", "bh", F.col("doc_id").alias("new_id"))
        .join(
            stored_post.select("band", "bh", F.col("doc_id").alias("old_id")),
            ["band", "bh"],
        )
        .select(
            F.least("new_id", "old_id").alias("doc_id_1"),
            F.greatest("new_id", "old_id").alias("doc_id_2"),
        )
        .filter(F.col("doc_id_1") != F.col("doc_id_2"))
    )
    # within-batch pairs: the ordinary bucket explode, batch-only
    within = pair_explode(
        post_new.groupBy("band", "bh").agg(F.collect_list("doc_id").alias("ids")),
        cap=None,
    )
    new_pairs = cross.unionByName(within).distinct()

    # old pairs that a new doc cannot create already exist in the store;
    # est_jaccard needs signatures from BOTH sides of each new pair
    union_sig = stored_sig.unionByName(sig_new)
    scored = estimate_jaccard(new_pairs, union_sig).localCheckpoint()

    scored.write.mode("append").parquet(_p(state_path, "candidates"))
    post_new.write.mode("append").parquet(_p(state_path, "postings"))
    sig_new.write.mode("append").parquet(_p(state_path, "signatures"))
    return scored


def stream_merge(
    spark: SparkSession,
    state_path: str,
    source_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
):
    """Attach the merge to a file stream of document parquet shards:
    each arriving shard becomes one micro-batch merged into the state.
    Returns the started StreamingQuery (caller awaits/stops)."""
    stream = (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(source_dir)
    )
    return (
        stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(lambda bdf, _bid: merge_batch(spark, state_path, bdf))
        .start()
    )


def stored_candidates(spark: SparkSession, state_path: str) -> DataFrame:
    return spark.read.schema(CANDIDATES_SCHEMA).parquet(_p(state_path, "candidates"))
