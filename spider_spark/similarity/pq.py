"""Product-quantization (PQ / ADC) approximate top-k cosine search.

The memory-bound scale path for ANN (Jégou et al., "Product Quantization
for Nearest Neighbor Search"): vectors are unit-normalized, each split
into M subspaces, and every subvector replaced by the id of its nearest
subspace centroid — 64 float32 dims become M=8 one-byte codes (32×
smaller scan). Queries score candidates with asymmetric distance
computation (ADC): one M×K lookup table of exact query-subvector ·
centroid dot products per query, so a candidate's approximate cosine is
M table lookups — no float vector is touched until the final exact
re-rank of the surviving candidates.

Spark shape:
  1. **Train** per-subspace codebooks on a deterministic bounded driver
     sample (same ``vec_id % m`` scheme as IVF — codebooks are metadata).
  2. **Encode** the corpus in one narrow Arrow pass (argmin over K=16
     centroids per subspace, one BLAS matmul per batch) — zero shuffles.
  3. **Scan** codes with the broadcast query LUTs, keeping a per-batch
     shortlist; one global top-`shortlist` cut per query; exact re-rank
     joins the (tiny) shortlist back to the float vectors.

Approximate ⇒ rows-only driver check; recall vs brute force asserted in
tests/test_similarity.py.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from spider_spark.catalog import Catalog
from spider_spark.dedup.embedding import dot

M_SUB = 8  # subspaces
K_CODES = 16  # centroids per subspace
LLOYD_ITERS = 3
TOP_K = 5
N_QUERIES = 10
SHORTLIST = 32  # candidates per query surviving to exact re-rank


def _unit(mat: np.ndarray) -> np.ndarray:
    n = np.sqrt((mat * mat).sum(axis=1))
    n[n == 0] = 1.0
    return mat / n[:, None]


def train_codebooks(emb: DataFrame) -> np.ndarray:
    """(M_SUB, K_CODES, sub_dim) codebooks from a bounded driver sample,
    deterministic hash-partition init + Lloyd refinement per subspace."""
    emb = emb.filter(F.col("embedding").isNotNull() & (F.size("embedding") > 0))
    n = emb.count()
    mod = max(1, n // 20_000)
    # bounded: ~20k rows (deterministic modulo sample), FAISS-style
    pdf = emb.filter(F.col("vec_id") % mod == 0).select("embedding").toPandas()
    unit = _unit(np.vstack(pdf["embedding"].to_numpy()).astype(np.float64))
    dim = unit.shape[1]
    sub_dim = dim // M_SUB
    books = np.zeros((M_SUB, K_CODES, sub_dim))
    for m in range(M_SUB):
        sub = unit[:, m * sub_dim : (m + 1) * sub_dim]
        assign = np.arange(len(sub)) % K_CODES
        cents = np.zeros((K_CODES, sub_dim))
        for _ in range(LLOYD_ITERS + 1):
            for k in range(K_CODES):
                members = sub[assign == k]
                if len(members):
                    cents[k] = members.mean(axis=0)
            d = ((sub[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = np.argmin(d, axis=1)
        books[m] = cents
    return books


def encode_codes(df: DataFrame, books: np.ndarray) -> DataFrame:
    """(vec_id, codes: array<int>[m_sub]) — one narrow Arrow pass."""
    import pandas as pd

    bc = df.sparkSession.sparkContext.broadcast(books)

    def kernel(batches):
        bk = bc.value
        m_sub, k_codes, sub_dim = bk.shape
        for b in batches:
            if not len(b):
                continue
            v = _unit(np.vstack(b["embedding"].to_numpy()).astype(np.float64))
            codes = np.empty((len(v), m_sub), dtype=np.int32)
            for m in range(m_sub):
                sub = v[:, m * sub_dim : (m + 1) * sub_dim]
                d = ((sub[:, None, :] - bk[m][None, :, :]) ** 2).sum(axis=2)
                codes[:, m] = np.argmin(d, axis=1)
            yield pd.DataFrame(
                {"vec_id": b["vec_id"].to_numpy(), "codes": list(codes)}
            )

    from spider_spark.session import ensure_parallelism

    return ensure_parallelism(
        df.select("vec_id", "embedding"), bytes_per_task=128 << 10
    ).mapInPandas(kernel, schema="vec_id bigint, codes array<int>")


def adc_search(
    queries: DataFrame,
    candidates: DataFrame,
    books: np.ndarray,
    codes: DataFrame,
    k: int = TOP_K,
    shortlist: int = SHORTLIST,
) -> DataFrame:
    """ADC scan over prepared (vec_id, codes) rows with given codebooks,
    then exact re-rank of the shortlist against ``candidates``. Used by
    both the train-inline path and the prebuilt-index path."""
    spark = queries.sparkSession
    m_sub, k_codes, sub_dim = books.shape

    # bounded: the query set is small by contract (ANN serves few queries
    # per call; the corpus side stays distributed)
    qpdf = queries.select("vec_id", "embedding").toPandas()
    q_ids = qpdf["vec_id"].to_numpy()
    q_unit = _unit(np.vstack(qpdf["embedding"].to_numpy()).astype(np.float64))
    # ADC lookup tables: lut[q, m, code] = q_sub(m) · centroid(m, code)
    lut = np.einsum(
        "qmd,mkd->qmk", q_unit.reshape(len(q_unit), m_sub, sub_dim), books
    )
    bc = spark.sparkContext.broadcast((q_ids, lut, shortlist))

    import pandas as pd

    def score_kernel(batches):
        ids, tables, keep = bc.value
        for b in batches:
            if not len(b):
                continue
            codes = np.vstack(b["codes"].to_numpy())  # B × m_sub
            # approx[q, b] = Σ_m lut[q, m, codes[b, m]]
            approx = np.zeros((len(ids), len(codes)))
            for m in range(tables.shape[1]):
                approx += tables[:, m, :][:, codes[:, m]]
            nb = b["vec_id"].to_numpy()
            top = min(keep, len(codes))
            idx = np.argpartition(-approx, top - 1, axis=1)[:, :top]
            qi = np.repeat(np.arange(len(ids)), top)
            yield pd.DataFrame(
                {
                    "q_id": ids[qi],
                    "neighbor_id": nb[idx.ravel()],
                    "approx": approx[qi, idx.ravel()],
                }
            )

    scored = codes.mapInPandas(
        score_kernel, schema="q_id bigint, neighbor_id bigint, approx double"
    )
    return exact_rerank(scored, queries, candidates, k, shortlist)


def exact_rerank(
    scored: DataFrame,
    queries: DataFrame,
    candidates: DataFrame,
    k: int = TOP_K,
    shortlist: int = SHORTLIST,
) -> DataFrame:
    """Cut (q_id, neighbor_id, approx) rows to a per-query shortlist and
    exactly re-rank it against the float vectors. Shared by the flat-ADC
    and IVF-PQ paths — the shortlist is tiny (queries × shortlist), so
    the re-rank joins are broadcast-sized."""
    wq = Window.partitionBy("q_id").orderBy(F.desc("approx"), F.asc("neighbor_id"))
    short = (
        scored.withColumn("r", F.row_number().over(wq))
        .filter(F.col("r") <= shortlist)
        .select("q_id", "neighbor_id")
    )
    cand_vec = candidates.select(
        F.col("vec_id").alias("neighbor_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("cv"),
    )
    q_vec = queries.select(
        F.col("vec_id").alias("q_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("qv"),
    )
    cos = dot(F.col("qv"), F.col("cv")) / (
        F.sqrt(dot(F.col("qv"), F.col("qv"))) * F.sqrt(dot(F.col("cv"), F.col("cv")))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        short.join(cand_vec, "neighbor_id")
        .join(F.broadcast(q_vec), "q_id")
        .withColumn("cos", F.round(cos, 4))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("q_id", "neighbor_id", "cos", "rank")
    )


def ann_pq_topk_frames(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = TOP_K,
    shortlist: int = SHORTLIST,
) -> DataFrame:
    """(q_id, neighbor_id, cos, rank) approximate top-k via PQ/ADC."""
    books = train_codebooks(candidates)
    codes = encode_codes(candidates, books)
    return adc_search(queries, candidates, books, codes, k, shortlist)


def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """queries() wrapper: first N_QUERIES vecs against the rest."""
    emb = Catalog(spark, sf_dir).embeddings
    return ann_pq_topk_frames(
        emb.filter(F.col("vec_id") < N_QUERIES),
        emb.filter(F.col("vec_id") >= N_QUERIES),
    )
