"""IVF (inverted-file) approximate top-k cosine search.

The classic two-level ANN layout (Johnson et al., "Billion-scale
similarity search with GPUs" — the FAISS IVF-Flat design) re-expressed in
Spark:

1. **Train** a small coarse quantizer: C centroids, deterministically
   initialised as the hash-partition means (``vec_id % C``) and refined by
   two Lloyd iterations. Per-iteration cost is one narrow Arrow assignment
   pass + one keyed (cluster, dim) average — the C×dim centroid matrix is
   collected to the driver (it is metadata-sized) and re-broadcast.
2. **Index**: every candidate vector gets its nearest-centroid list id —
   a narrow map pass, zero shuffles.
3. **Search**: each query probes its ``nprobe`` nearest lists; the
   candidate join is keyed on list id, so shuffle volume is
   O(rows × nprobe / C of the corpus), never O(n²); exact float64 cosine
   re-rank inside the probed lists (precision exact, recall approximate).

Approximate ⇒ rows-only driver check; recall vs brute force is asserted
in tests/test_similarity.py.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from spider_spark.catalog import Catalog
from spider_spark.dedup.embedding import dot

N_LISTS = 16
N_PROBE = 4
LLOYD_ITERS = 2
TOP_K = 5
N_QUERIES = 10


def _collect_matrix(df: DataFrame) -> tuple[np.ndarray, np.ndarray]:
    # bounded: callers pass a modulo-capped training sample or the small
    # query set, never the full corpus
    pdf = df.select("vec_id", "embedding").toPandas()
    ids = pdf["vec_id"].to_numpy()
    mat = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
    return ids, mat


def _assign_df(df: DataFrame, cents: np.ndarray, n_probe: int = 1) -> DataFrame:
    """(vec_id, list_id) rows: each vector's n_probe nearest centroids by
    cosine. One Arrow batch = one BLAS matmul against the C×dim matrix."""
    import pandas as pd

    bc = df.sparkSession.sparkContext.broadcast(cents)

    def kernel(batches):
        c = bc.value
        cn = np.sqrt((c * c).sum(axis=1))
        cn[cn == 0] = 1.0
        for b in batches:
            if not len(b):
                continue
            v = np.vstack(b["embedding"].to_numpy()).astype(np.float64)
            vn = np.sqrt((v * v).sum(axis=1))
            vn[vn == 0] = 1.0
            cos = (v @ c.T) / (vn[:, None] * cn[None, :])
            # stable deterministic top-n_probe: sort by (-cos, list_id)
            order = np.lexsort((np.arange(cos.shape[1])[None, :].repeat(len(v), 0), -cos), axis=1)
            top = order[:, :n_probe]
            ids = b["vec_id"].to_numpy()
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(ids, n_probe),
                    "list_id": top.ravel().astype(np.int64),
                }
            )

    from spider_spark.session import ensure_parallelism

    return ensure_parallelism(df.select("vec_id", "embedding"), bytes_per_task=256 << 10).mapInPandas(
        kernel, schema="vec_id bigint, list_id bigint"
    )


def train_centroids(
    emb: DataFrame,
    n_lists: int = N_LISTS,
) -> np.ndarray:
    """Deterministic coarse quantizer trained on a bounded sample.

    Standard IVF practice (FAISS trains the quantizer on ~max(256, 39·C)
    points per list): a deterministic ``vec_id % m`` sample — sized so at
    most ~20k vectors reach the driver regardless of corpus
    size — then numpy Lloyd iterations locally. Only the assignment
    passes over the full corpus are distributed, and those are narrow
    map-only stages.
    """
    emb = emb.filter(F.col("embedding").isNotNull() & (F.size("embedding") > 0))
    n = emb.count()
    m = max(1, n // 20_000)
    _, mat = _collect_matrix(emb.filter(F.col("vec_id") % m == 0))
    norms = np.sqrt((mat * mat).sum(axis=1))
    norms[norms == 0] = 1.0
    unit = mat / norms[:, None]
    # hash-partition init, then spherical Lloyd
    assign = np.arange(len(mat)) % n_lists
    cents = np.zeros((n_lists, mat.shape[1]))
    for _ in range(LLOYD_ITERS + 1):
        for lid in range(n_lists):
            members = unit[assign == lid]
            if len(members):  # empty lists keep their previous centroid
                cents[lid] = members.mean(axis=0)
        cn = np.sqrt((cents * cents).sum(axis=1))
        cn[cn == 0] = 1.0
        assign = np.argmax(unit @ (cents / cn[:, None]).T, axis=1)
    return cents


def indexed_candidates(candidates: DataFrame, cents: np.ndarray) -> DataFrame:
    """(neighbor_id, list_id, cv) — the IVF-Flat inverted lists: every
    corpus vector tagged with its nearest-centroid list id (one narrow
    assignment pass) plus its float64 vector for the in-list re-rank."""
    return (
        _assign_df(candidates, cents, n_probe=1)
        .join(
            candidates.select(
                F.col("vec_id"),
                F.transform("embedding", lambda x: x.cast("double")).alias("cv"),
            ),
            "vec_id",
        )
        .select(F.col("vec_id").alias("neighbor_id"), "list_id", "cv")
    )


def probe_search(
    queries: DataFrame,
    cents: np.ndarray,
    cand: DataFrame,
    k: int = TOP_K,
    n_probe: int = N_PROBE,
) -> DataFrame:
    """Search prepared inverted lists: each query probes its n_probe
    nearest lists; the candidate join is keyed on list_id (shuffle —
    or partition-pruned scan when ``cand`` is a list_id-partitioned
    index read — proportional to probed lists, never O(n²))."""
    qry = _assign_df(queries, cents, n_probe=n_probe).join(
        queries.select(
            F.col("vec_id"),
            F.transform("embedding", lambda x: x.cast("double")).alias("qv"),
        ),
        "vec_id",
    ).select(F.col("vec_id").alias("q_id"), "list_id", "qv")
    cos = dot(F.col("qv"), F.col("cv")) / (
        F.sqrt(dot(F.col("qv"), F.col("qv"))) * F.sqrt(dot(F.col("cv"), F.col("cv")))
    )
    scored = qry.join(cand, "list_id").withColumn("cos", F.round(cos, 4))
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("q_id", "neighbor_id", "cos", "rank")
    )


def ann_ivf_topk_frames(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = TOP_K,
    n_lists: int = N_LISTS,
    n_probe: int = N_PROBE,
) -> DataFrame:
    """(q_id, neighbor_id, cos, rank) approximate top-k via IVF lists."""
    cents = train_centroids(candidates, n_lists)
    return probe_search(queries, cents, indexed_candidates(candidates, cents), k, n_probe)


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """queries() wrapper: first N_QUERIES vecs against the rest."""
    emb = Catalog(spark, sf_dir).embeddings
    return ann_ivf_topk_frames(
        emb.filter(F.col("vec_id") < N_QUERIES),
        emb.filter(F.col("vec_id") >= N_QUERIES),
    )
