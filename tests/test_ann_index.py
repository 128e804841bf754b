"""ANN index persistence: build once -> save -> reload -> identical
top-k to the train-inline path, with no retraining on the query path."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from spider_spark.catalog import Catalog
from spider_spark.similarity.index_store import (
    ann_ivf_topk_prebuilt,
    ann_pq_topk_prebuilt,
    load_ivf_index,
    save_ivf_index,
    save_pq_index,
)
from spider_spark.similarity.ivf import N_QUERIES, ann_ivf_topk_frames
from spider_spark.similarity.pq import ann_pq_topk_frames

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def frames(spark):
    emb = Catalog(spark, SF_DIR).embeddings
    return (
        emb.filter(F.col("vec_id") < N_QUERIES),
        emb.filter(F.col("vec_id") >= N_QUERIES),
    )


def _rows(df):
    return {tuple(r) for r in df.collect()}


def test_ivf_index_roundtrip(spark, frames, tmp_path_factory):
    queries, candidates = frames
    path = str(tmp_path_factory.mktemp("ivf_idx"))
    save_ivf_index(candidates, path)

    inline = _rows(ann_ivf_topk_frames(queries, candidates))
    prebuilt = _rows(ann_ivf_topk_prebuilt(queries, path))
    assert prebuilt == inline

    # a SECOND query batch served from the same index, still no training
    q2 = Catalog(spark, SF_DIR).embeddings.filter(
        (F.col("vec_id") >= N_QUERIES) & (F.col("vec_id") < 2 * N_QUERIES)
    )
    out2 = ann_ivf_topk_prebuilt(q2, path)
    assert out2.count() > 0
    # reload is stable: same index -> same answers
    assert _rows(ann_ivf_topk_prebuilt(queries, path)) == prebuilt


def test_ivf_lists_are_partition_pruned(spark, frames, tmp_path_factory):
    """The stored lists are partitioned by list_id, so a probe of a
    specific list is a partition-pruned scan (PartitionFilters), not a
    full index read."""
    _, candidates = frames
    path = str(tmp_path_factory.mktemp("ivf_idx_p"))
    save_ivf_index(candidates, path)
    _, lists = load_ivf_index(spark, path)
    plan = (
        lists.filter(F.col("list_id") == 3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters: [" in plan
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and m.group(1).strip(), "expected a non-empty partition filter"


def test_pq_index_roundtrip(spark, frames, tmp_path_factory):
    queries, candidates = frames
    path = str(tmp_path_factory.mktemp("pq_idx"))
    save_pq_index(candidates, path)

    inline = _rows(ann_pq_topk_frames(queries, candidates))
    prebuilt = _rows(ann_pq_topk_prebuilt(queries, candidates, path))
    assert prebuilt == inline


def test_embeddings_regenerated_within_a_second_get_a_fresh_index(
    spark, tmp_path, monkeypatch
):
    """An embeddings table rewritten with the same mtime to the
    nanosecond but a new size must not be served the IVF/PQ index of its
    previous contents; the indexes live under the store's cache root."""
    import os

    import spider_spark.similarity.index_store as ix
    import spider_spark.store as store

    root = str(tmp_path / "idx")
    monkeypatch.setattr(store, "CACHE_ROOT", root)
    built = []
    monkeypatch.setattr(ix, "save_ivf_index", lambda cand, path: built.append(path))
    monkeypatch.setattr(ix, "save_pq_index", lambda cand, path: built.append(path))
    monkeypatch.setattr(ix, "ann_ivf_topk_prebuilt", lambda q, path: None)
    monkeypatch.setattr(ix, "ann_pq_topk_prebuilt", lambda q, c, path: None)
    sf = tmp_path / "sf"
    sf.mkdir()
    src = sf / "embeddings.parquet"
    sec = 1_700_000_000 * 10**9
    for data in (b"v1", b"v22"):
        src.write_bytes(data)
        os.utime(src, ns=(sec, sec))
        ix.ann_ivf_prebuilt_topk(spark, str(sf))
        ix.ann_pq_prebuilt_topk(spark, str(sf))
    ivf1, pq1, ivf2, pq2 = built
    assert ivf1 != ivf2 and pq1 != pq2
    assert all(p.startswith(root) for p in built)
