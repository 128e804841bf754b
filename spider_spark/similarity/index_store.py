"""Persistent ANN indexes: build once, serve many query batches.

A real pipeline never retrains the quantizer per query call (the FAISS
workflow: train -> add -> write_index -> many searches). This module
stores both index families as plain parquet relations, so they survive
restarts, replicate through the same storage layer as every other
table, and load with ordinary partition-prunable scans:

IVF-Flat (``<path>/centroids``, ``<path>/lists``):
  - centroids: (list_id, centroid array<double>) — metadata-sized.
  - lists: (neighbor_id, cv array<double>) written PARTITIONED BY
    list_id — a search probing n_probe lists is a partition-pruned
    scan of exactly those directories, the on-disk analogue of the
    in-memory inverted-file layout.

PQ (``<path>/codebooks``, ``<path>/codes``):
  - codebooks: (m, code, centroid array<double>) — m_sub*k_codes rows.
  - codes: (vec_id, codes array<int>) — the 32x-compressed corpus the
    ADC scan reads instead of the float vectors.

Loading is deterministic: training is already seedless (hash-partition
init + fixed Lloyd iterations), so a prebuilt search returns exactly
what the train-inline path returns for the same corpus (asserted in
tests/test_ann_index.py).
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spider_spark import store
from spider_spark.similarity import ivf as _ivf
from spider_spark.similarity import pq as _pq


# ---------------------------------------------------------------- IVF

def save_ivf_index(candidates: DataFrame, path: str) -> None:
    """Train the coarse quantizer once and persist centroids + the
    list_id-partitioned inverted lists."""
    spark = candidates.sparkSession
    cents = _ivf.train_centroids(candidates)
    rows = [(i, [float(x) for x in cents[i]]) for i in range(len(cents))]
    (
        spark.createDataFrame(rows, "list_id bigint, centroid array<double>")
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(f"{path}/centroids")
    )
    (
        _ivf.indexed_candidates(candidates, cents)
        .write.mode("overwrite")
        .partitionBy("list_id")
        .parquet(f"{path}/lists")
    )


def load_ivf_index(spark: SparkSession, path: str) -> tuple[np.ndarray, DataFrame]:
    """(centroids matrix, lists DataFrame). The lists scan stays lazy
    and partition-prunable on list_id."""
    # bounded: n_lists rows of metadata
    cpdf = spark.read.parquet(f"{path}/centroids").orderBy("list_id").toPandas()
    cents = np.vstack(cpdf["centroid"].to_numpy()).astype(np.float64)
    lists = spark.read.parquet(f"{path}/lists").select(
        "neighbor_id", F.col("list_id").cast("long").alias("list_id"), "cv"
    )
    return cents, lists


def ann_ivf_topk_prebuilt(
    queries: DataFrame,
    index_path: str,
) -> DataFrame:
    """Query-only IVF search against a saved index: no training, no
    corpus encode — just the probe join against the stored lists."""
    cents, lists = load_ivf_index(queries.sparkSession, index_path)
    return _ivf.probe_search(queries, cents, lists)


# ----------------------------------------------------------------- PQ

def save_pq_index(
    candidates: DataFrame,
    path: str,
) -> None:
    """Train codebooks once, encode the corpus once, persist both."""
    spark = candidates.sparkSession
    books = _pq.train_codebooks(candidates)
    rows = [
        (m, c, [float(x) for x in books[m, c]])
        for m in range(books.shape[0])
        for c in range(books.shape[1])
    ]
    (
        spark.createDataFrame(rows, "m int, code int, centroid array<double>")
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(f"{path}/codebooks")
    )
    _pq.encode_codes(candidates, books).write.mode("overwrite").parquet(
        f"{path}/codes"
    )


def load_pq_index(spark: SparkSession, path: str) -> tuple[np.ndarray, DataFrame]:
    """(codebooks tensor, codes DataFrame)."""
    # bounded: m_sub*k_codes rows of metadata
    bpdf = spark.read.parquet(f"{path}/codebooks").orderBy("m", "code").toPandas()
    m_sub = int(bpdf["m"].max()) + 1
    k_codes = int(bpdf["code"].max()) + 1
    sub_dim = len(bpdf["centroid"].iloc[0])
    books = np.vstack(bpdf["centroid"].to_numpy()).astype(np.float64).reshape(
        m_sub, k_codes, sub_dim
    )
    return books, spark.read.parquet(f"{path}/codes")


def ann_pq_topk_prebuilt(
    queries: DataFrame,
    candidates: DataFrame,
    index_path: str,
) -> DataFrame:
    """Query-only PQ search against saved codebooks + codes. The float
    ``candidates`` table is only touched for the tiny exact re-rank of
    the shortlist (queries x shortlist rows)."""
    books, codes = load_pq_index(queries.sparkSession, index_path)
    return _pq.adc_search(queries, candidates, books, codes)


def ann_ivf_prebuilt_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """queries() wrapper exercising the persistence path end-to-end:
    build the IVF index once per embeddings snapshot (keyed like every
    store artifact; skipped when already on disk — the reuse that makes
    repeated query batches cheap), then serve the standard query batch
    from the stored index. Deterministic training means the answers
    equal ann_ivf_topk's (tested)."""
    import os

    from spider_spark.catalog import Catalog

    emb = Catalog(spark, sf_dir).embeddings
    path = store.snapshot_path(sf_dir, "ivf", 1, "embeddings")
    if not os.path.exists(f"{path}/lists/_SUCCESS"):
        save_ivf_index(emb.filter(F.col("vec_id") >= _ivf.N_QUERIES), path)
    return ann_ivf_topk_prebuilt(emb.filter(F.col("vec_id") < _ivf.N_QUERIES), path)


def ann_pq_prebuilt_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """queries() wrapper: PQ twin of ann_ivf_prebuilt_topk — stored
    codebooks + codes, query-only ADC scan + exact re-rank."""
    import os

    from spider_spark.catalog import Catalog

    emb = Catalog(spark, sf_dir).embeddings
    cand = emb.filter(F.col("vec_id") >= _pq.N_QUERIES)
    path = store.snapshot_path(sf_dir, "pq", 1, "embeddings")
    if not os.path.exists(f"{path}/codes/_SUCCESS"):
        save_pq_index(cand, path)
    return ann_pq_topk_prebuilt(
        emb.filter(F.col("vec_id") < _pq.N_QUERIES), cand, path
    )
