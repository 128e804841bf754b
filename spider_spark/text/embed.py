"""Deterministic text embedding: the missing corpus→vector stage.

No embedding model ships in this container, so the encoder is a
hashed bag-of-words random projection — crc32 of each token seeds a
fixed pseudo-random 64-dim sign vector; a document's embedding is the
L2-normalised sum over its tokens. Deterministic, order-independent,
and a faithful stand-in for the real encoder's Spark shape: one
Arrow-batched narrow pass over (doc_id, text) producing
``array<float>[64]``, parallelism = input splits, no shuffle.

Feeds the existing ANN / centroid / quantization operators so the full
crawl → clean → embed → index pipeline runs end-to-end in-engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from spider_spark.catalog import Catalog

EMBED_DIM = 64


def embed_documents(docs: DataFrame) -> DataFrame:
    """(doc_id, embedding array<float>, n_tokens) via hashed BoW
    projection in one mapInPandas kernel (numpy; token vectors memoised
    per batch)."""
    import zlib

    import numpy as np
    import pandas as pd

    def kernel(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            cache: dict[str, np.ndarray] = {}

            def tok_vec(t: str) -> np.ndarray:
                v = cache.get(t)
                if v is None:
                    rng = np.random.Generator(np.random.PCG64(zlib.crc32(t.encode())))
                    v = rng.integers(0, 2, size=EMBED_DIM).astype(np.float64) * 2 - 1
                    cache[t] = v
                return v

            ids, embs, ntoks = [], [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                toks = text.lower().split() if isinstance(text, str) else []
                acc = np.zeros(EMBED_DIM)
                for t in toks:
                    acc += tok_vec(t)
                n = np.linalg.norm(acc)
                if n > 0:
                    acc = acc / n
                ids.append(doc_id)
                embs.append(acc.astype(np.float32))
                ntoks.append(len(toks))
            yield pd.DataFrame({"doc_id": ids, "embedding": embs, "n_tokens": ntoks})

    from spider_spark.session import ensure_parallelism

    return ensure_parallelism(docs.select("doc_id", "text"), bytes_per_task=8 << 10).mapInPandas(
        kernel, schema=f"doc_id bigint, embedding array<float>, n_tokens bigint"
    )


def text_embed_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus→vector→ANN: embed the documents with the
    hashed-BoW encoder and return cosine top-5 neighbours for the first
    5 docs — the full pipeline on the SCALE path end to end: encode is
    one narrow Arrow pass, and the search stage is the multiprobe LSH
    operator (bucket-keyed candidate join, shuffle O(rows·probes/2^P)),
    not the brute-force cross join, so the flagship query's plan is the
    one that survives 100 TB. rows-only driver check; determinism +
    recall-vs-bruteforce invariants in tests."""
    from pyspark.sql import functions as F

    from spider_spark.similarity.lsh import ann_lsh_topk_frames

    docs = Catalog(spark, sf_dir).documents
    emb = embed_documents(docs).select(
        F.col("doc_id").alias("vec_id"), "embedding"
    )
    emb = emb.cache()
    return ann_lsh_topk_frames(
        emb.filter(F.col("vec_id") < 5), emb.filter(F.col("vec_id") >= 5), k=5
    )
