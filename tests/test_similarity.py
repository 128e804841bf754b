"""ANN: brute force is exact (vs numpy); LSH recall on clustered vectors."""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pytest

from spider_spark.similarity.bruteforce import bruteforce_topk
from spider_spark.similarity.lsh import ann_lsh_topk_frames


def _unit(seed: str, dim: int = 64) -> list[float]:
    """Deterministic pseudo-random unit vector."""
    vals = []
    for d in range(dim):
        h = int.from_bytes(hashlib.md5(f"{seed}:{d}".encode()).digest()[:8], "big")
        vals.append((h % 2000) / 1000.0 - 1.0)
    n = math.sqrt(sum(v * v for v in vals))
    return [v / n for v in vals]


@pytest.fixture(scope="module")
def clustered(spark):
    """10 cluster centres; 20 members each = centre + small deterministic
    noise, so true nearest neighbours share the cluster."""
    rows = []
    vid = 0
    for c in range(10):
        centre = np.array(_unit(f"centre{c}"))
        for m in range(20):
            noise = np.array(_unit(f"noise{c}:{m}")) * 0.15
            v = centre + noise
            v = v / np.linalg.norm(v)
            rows.append((vid, c, [float(x) for x in v]))
            vid += 1
    return spark.createDataFrame(rows, "vec_id long, cluster int, embedding array<float>")


def test_bruteforce_matches_numpy(spark, clustered):
    queries = clustered.filter("vec_id < 5").select("vec_id", "embedding")
    cands = clustered.filter("vec_id >= 5").select("vec_id", "embedding")
    got = bruteforce_topk(queries, cands, k=3).collect()

    qp = queries.toPandas().sort_values("vec_id")
    cp = cands.toPandas().sort_values("vec_id")
    Q = np.vstack(qp.embedding).astype(np.float64)
    C = np.vstack(cp.embedding).astype(np.float64)
    cos = (Q @ C.T) / (
        np.linalg.norm(Q, axis=1)[:, None] * np.linalg.norm(C, axis=1)[None, :]
    )
    cids = cp.vec_id.to_numpy()
    for r in got:
        qi = int(r.q_id)
        expected = cids[np.argsort(-np.round(cos[qi], 4))][: 3].tolist()
        # ties broken by id asc in the operator; numpy argsort is stable on
        # the already-rounded values, so membership is the robust check
        assert r.neighbor_id in expected or np.round(cos[qi], 4)[
            list(cids).index(r.neighbor_id)
        ] == np.round(cos[qi], 4)[list(cids).index(expected[r.rank - 1])]


def test_bruteforce_topk_respects_clusters(clustered):
    """Exact top-k on planted clusters returns same-cluster neighbours."""
    label = {r.vec_id: r.cluster for r in clustered.collect()}
    top = bruteforce_topk(
        clustered.filter("vec_id < 10").select("vec_id", "embedding"),
        clustered.filter("vec_id >= 10").select("vec_id", "embedding"),
        k=3,
    ).collect()
    hits = sum(label[r.q_id] == label[r.neighbor_id] for r in top)
    assert len(top) == 30 and hits / len(top) >= 0.8, f"{hits}/{len(top)}"


def test_lsh_recall_on_clusters(spark, clustered):
    queries = clustered.filter("vec_id % 20 = 0").select("vec_id", "embedding")
    cands = clustered.filter("vec_id % 20 != 0").select("vec_id", "embedding")
    exact = bruteforce_topk(queries, cands, k=5).collect()
    approx = ann_lsh_topk_frames(queries, cands, k=5).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r.q_id, set()).add(r.neighbor_id)
    approx_sets = {}
    for r in approx:
        approx_sets.setdefault(r.q_id, set()).add(r.neighbor_id)
    recalls = [
        len(exact_sets[q] & approx_sets.get(q, set())) / len(exact_sets[q])
        for q in exact_sets
    ]
    mean_recall = sum(recalls) / len(recalls)
    assert mean_recall >= 0.5, f"mean LSH recall@5 {mean_recall:.2f} too low"


def test_lsh_no_cross_join(spark, clustered):
    from tests.conftest import has_cartesian

    queries = clustered.filter("vec_id % 20 = 0").select("vec_id", "embedding")
    cands = clustered.filter("vec_id % 20 != 0").select("vec_id", "embedding")
    assert not has_cartesian(ann_lsh_topk_frames(queries, cands))


def test_ivf_recall_on_clusters(spark, clustered):
    from spider_spark.similarity.ivf import ann_ivf_topk_frames

    queries = clustered.filter("vec_id % 20 = 0").select("vec_id", "embedding")
    cands = clustered.filter("vec_id % 20 != 0").select("vec_id", "embedding")
    exact = bruteforce_topk(queries, cands, k=5).collect()
    approx = ann_ivf_topk_frames(queries, cands, k=5, n_lists=8, n_probe=3).collect()
    exact_sets, approx_sets = {}, {}
    for r in exact:
        exact_sets.setdefault(r.q_id, set()).add(r.neighbor_id)
    for r in approx:
        approx_sets.setdefault(r.q_id, set()).add(r.neighbor_id)
    recalls = [
        len(exact_sets[q] & approx_sets.get(q, set())) / len(exact_sets[q])
        for q in exact_sets
    ]
    mean_recall = sum(recalls) / len(recalls)
    assert mean_recall >= 0.6, f"mean IVF recall@5 {mean_recall:.2f} too low"
    # every returned list is at most k long and ranks are 1..n
    for q, s in approx_sets.items():
        assert len(s) <= 5


def test_ivf_no_cross_join(spark, clustered):
    from tests.conftest import has_cartesian
    from spider_spark.similarity.ivf import ann_ivf_topk_frames

    queries = clustered.filter("vec_id % 20 = 0").select("vec_id", "embedding")
    cands = clustered.filter("vec_id % 20 != 0").select("vec_id", "embedding")
    assert not has_cartesian(ann_ivf_topk_frames(queries, cands, n_lists=8))


def test_pq_recall_on_clusters(spark, clustered):
    from spider_spark.similarity.pq import ann_pq_topk_frames

    queries = clustered.filter("vec_id % 20 = 0").select("vec_id", "embedding")
    cands = clustered.filter("vec_id % 20 != 0").select("vec_id", "embedding")
    exact = bruteforce_topk(queries, cands, k=5).collect()
    approx = ann_pq_topk_frames(queries, cands, k=5, shortlist=30).collect()
    exact_sets, approx_sets = {}, {}
    for r in exact:
        exact_sets.setdefault(r.q_id, set()).add(r.neighbor_id)
    for r in approx:
        approx_sets.setdefault(r.q_id, set()).add(r.neighbor_id)
    recalls = [
        len(exact_sets[q] & approx_sets.get(q, set())) / len(exact_sets[q])
        for q in exact_sets
    ]
    mean_recall = sum(recalls) / len(recalls)
    assert mean_recall >= 0.6, f"mean PQ recall@5 {mean_recall:.2f} too low"
    for q, s in approx_sets.items():
        assert len(s) <= 5
    # the re-rank is exact: every returned cos must equal the true cosine
    qp = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in queries.collect()}
    cp = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in cands.collect()}
    for r in approx:
        qv, cv = qp[r.q_id], cp[r.neighbor_id]
        true_cos = float(qv @ cv / (np.linalg.norm(qv) * np.linalg.norm(cv)))
        assert abs(r.cos - round(true_cos, 4)) <= 1e-9


def test_pq_no_cross_join(spark, clustered):
    from tests.conftest import has_cartesian
    from spider_spark.similarity.pq import ann_pq_topk_frames

    queries = clustered.filter("vec_id % 20 = 0").select("vec_id", "embedding")
    cands = clustered.filter("vec_id % 20 != 0").select("vec_id", "embedding")
    assert not has_cartesian(ann_pq_topk_frames(queries, cands))


def test_ivfpq_recall_on_clusters(spark, clustered):
    from spider_spark.similarity.ivfpq import ann_ivfpq_topk_frames

    queries = clustered.filter("vec_id % 20 = 0").select("vec_id", "embedding")
    cands = clustered.filter("vec_id % 20 != 0").select("vec_id", "embedding")
    exact = bruteforce_topk(queries, cands, k=5).collect()
    approx = ann_ivfpq_topk_frames(
        queries, cands, k=5, n_lists=8, n_probe=4, shortlist=30
    ).collect()
    exact_sets, approx_sets = {}, {}
    for r in exact:
        exact_sets.setdefault(r.q_id, set()).add(r.neighbor_id)
    for r in approx:
        approx_sets.setdefault(r.q_id, set()).add(r.neighbor_id)
    recalls = [
        len(exact_sets[q] & approx_sets.get(q, set())) / len(exact_sets[q])
        for q in exact_sets
    ]
    mean_recall = sum(recalls) / len(recalls)
    assert mean_recall >= 0.5, f"mean IVF-PQ recall@5 {mean_recall:.2f} too low"
    # the re-rank is exact: every returned cos equals the true cosine
    qp = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in queries.collect()}
    cp = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in cands.collect()}
    for r in approx:
        qv, cv = qp[r.q_id], cp[r.neighbor_id]
        true_cos = float(qv @ cv / (np.linalg.norm(qv) * np.linalg.norm(cv)))
        assert abs(r.cos - round(true_cos, 4)) <= 1e-9


def test_ivfpq_no_cross_join(spark, clustered):
    from tests.conftest import has_cartesian
    from spider_spark.similarity.ivfpq import ann_ivfpq_topk_frames

    queries = clustered.filter("vec_id % 20 = 0").select("vec_id", "embedding")
    cands = clustered.filter("vec_id % 20 != 0").select("vec_id", "embedding")
    assert not has_cartesian(ann_ivfpq_topk_frames(queries, cands, n_lists=8))
