"""k-NN-graph ANN: NN-Descent build + beam-search recall/determinism.

The 10-cluster fixture is the regression guard for the connectivity
fix: without the permanent ring edges the pruned graph is one clique
per cluster and search strands at recall 0.0 (measured).
"""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from spider_spark.similarity.bruteforce import bruteforce_topk
from spider_spark.similarity.knn_graph import (
    M_NEIGHBORS,
    knn_graph_build,
    knn_graph_search,
    knn_graph_search_loop,
)


def _unit(seed: str, dim: int = 64) -> list[float]:
    vals = []
    for i in range(dim):
        h = int.from_bytes(hashlib.md5(f"{seed}:{i}".encode()).digest()[:4], "big")
        vals.append((h % 2000) / 1000.0 - 1.0)
    n = math.sqrt(sum(v * v for v in vals))
    return [v / n for v in vals]


@pytest.fixture(scope="module")
def clustered(spark):
    rows, vid = [], 0
    for c in range(10):
        centre = np.array(_unit(f"centre{c}"))
        for m in range(20):
            v = centre + np.array(_unit(f"noise{c}:{m}")) * 0.15
            v = v / np.linalg.norm(v)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


@pytest.fixture(scope="module")
def built(clustered):
    q = clustered.filter("vec_id < 10")
    c = clustered.filter("vec_id >= 10")
    g = knn_graph_build(c).cache()
    g.count()
    return q, c, g


def test_graph_degree_and_no_self_loops(built):
    _, _, g = built
    assert g.filter(F.col("src") == F.col("dst")).count() == 0
    # top-m kNN edges + the permanent ring edges (m//2 per node)
    max_deg = g.groupBy("src").count().agg(F.max("count")).first()[0]
    assert max_deg <= M_NEIGHBORS + M_NEIGHBORS // 2


def test_search_recall_on_clusters(built):
    q, c, g = built
    got = {
        (r.q_id, r.neighbor_id) for r in knn_graph_search(q, g, c).collect()
    }
    exact = {
        (r.q_id, r.neighbor_id) for r in bruteforce_topk(q, c).collect()
    }
    recall = len(got & exact) / len(exact)
    assert recall >= 0.8, f"beam-search recall@5 {recall:.2f} too low"


def test_build_and_search_deterministic(built):
    q, c, g = built
    a = sorted(
        (r.q_id, r.neighbor_id, r.cos, r.rank)
        for r in knn_graph_search(q, g, c).collect()
    )
    b = sorted(
        (r.q_id, r.neighbor_id, r.cos, r.rank)
        for r in knn_graph_search(q, g, c).collect()
    )
    assert a == b
    g2 = knn_graph_build(c)
    assert sorted(map(tuple, g.collect())) == sorted(map(tuple, g2.collect()))


def test_prebuilt_graph_equals_inline(spark, sf_dir):
    """The snapshot-materialized graph serves exactly what a live build
    serves (the ANN index-store contract)."""
    from spider_spark.catalog import Catalog
    from spider_spark.similarity.knn_graph import (
        ann_knn_graph_topk,
        materialized_knn_graph,
    )
    from spider_spark.similarity.bruteforce import N_QUERIES

    emb = Catalog(spark, sf_dir).embeddings
    live = knn_graph_search(
        emb.filter(F.col("vec_id") < N_QUERIES),
        knn_graph_build(emb.filter(F.col("vec_id") >= N_QUERIES)),
        emb.filter(F.col("vec_id") >= N_QUERIES),
    )
    stored = ann_knn_graph_topk(spark, sf_dir)
    assert sorted(map(tuple, live.collect())) == sorted(map(tuple, stored.collect()))
    # stored adjacency is readable and non-trivial
    assert materialized_knn_graph(spark, sf_dir).count() > 0


def test_search_twin_equals_distributed(built):
    """The driver twin that serves small-corpus searches must be an
    EXACT replica of the distributed beam search — same entries, same
    tie-breaks, same left-to-right float accumulation, same HALF_UP
    rounding — so the gate can never change results."""
    q, c, g = built
    twin = sorted(
        (r.q_id, r.neighbor_id, r.cos, r.rank)
        for r in knn_graph_search(q, g, c).collect()
    )
    dist = sorted(
        (r.q_id, r.neighbor_id, r.cos, r.rank)
        for r in knn_graph_search_loop(q, g, c).collect()
    )
    assert twin == dist and twin
