"""DATA-scaling evidence: the same pipelines at 1x / 4x / 16x corpus size.

Runtime should grow ~linearly with added DATA at fixed parallelism — the
claim a 100 TB deployment actually rests on.
One superlinear stage (an O(n^2) candidate explode, an AQE broadcast that
flips to SMJ past a size threshold, a cache that stops fitting) shows up
here as t(16x)/t(4x) >> 4 long before it shows up in production.

Amplification is in-flight (explode x K) with a PER-REPLICA TOKEN SALT:
every token t in replica r becomes "t#r", so every shingle / term /
feature is distinct across replicas. That keeps the workload's duplicate
structure exactly (base corpus) x K — true near-dup pairs, LSH bucket
sizes, posting-list dfs all grow linearly in K. Naive replication would
instead create K-sized identical-content clusters whose pair count grows
K^2 and any measurement would confuse that input property with engine
superlinearity.

Protocol (CLAUDE.md: bursty host CPU steal, up to 10x between identical
runs): scale levels are INTERLEAVED round-robin across `rounds` passes,
min per (job, K) is reported. Cache is cleared before every sample and
the job DataFrame is rebuilt, so each sample pays the full pipeline.

Usage: python tools/bench_data_scaling.py [rounds]   (default 2)
Prints one JSON object; exit code 1 if any job is superlinear
(t(16x) > 16 * SUPERLINEAR_SLACK * t(1x)).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from spider_spark.catalog import Catalog
from spider_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
# override e.g. SPARK_GRAFT_SCALES=1,16,64 for a wider spot check
SCALES = tuple(
    int(s) for s in os.environ.get("SPARK_GRAFT_SCALES", "1,4,16").split(",")
)
# 1.3x-per-16x was the target; leave headroom for steal noise the
# min-of-N can't fully cancel (one clean sample per level suffices).
SUPERLINEAR_SLACK = 1.5


def amplified_docs(cat: Catalog, k: int):
    """documents x k with distinct doc_ids and per-replica token salt."""
    docs = cat.documents
    if k == 1:
        return docs
    n = docs.sparkSession.sparkContext.defaultParallelism * 2
    # Pre-spread BEFORE the explode: a 100 TB read arrives as thousands
    # of splits; one local parquet file arrives as few. Without this the
    # amplification itself is the serial bottleneck being measured.
    rep = docs.repartition(n).withColumn(
        "rep", F.explode(F.sequence(F.lit(0), F.lit(k - 1)))
    )
    salted = F.regexp_replace(
        F.col("text"), r"(\S+)", F.concat(F.lit("$1#"), F.col("rep").cast("string"))
    )
    return rep.select(
        (F.col("doc_id") * 100 + F.col("rep")).alias("doc_id"),
        salted.alias("text"),
        "lang",
        "source",
        F.length(salted).alias("n_chars"),
    )


def amplified_edges(spark, sf_dir: str, k: int):
    """Host link graph x k as k DISJOINT copies (node "h" -> "h#r"):
    distances and diameter are unchanged, so HyperBall's round count is
    constant and cost scales with edge rows alone."""
    from spider_spark.text.links import host_edges

    edges = host_edges(spark, sf_dir)
    if k == 1:
        return edges
    rep = edges.withColumn("rep", F.explode(F.sequence(F.lit(0), F.lit(k - 1))))
    tag = lambda c: F.concat(F.col(c), F.lit("#"), F.col("rep").cast("string"))
    return rep.select(tag("src").alias("src"), tag("dst").alias("dst"))


def job_minhash_cc(spark, cat: Catalog, k: int):
    """The flagship dedup pipeline end-to-end: MinHash signatures ->
    banded LSH candidate pairs -> connected components."""
    from spider_spark.dedup.minhash import minhash_lsh_pairs
    from spider_spark.graph.algorithms import connected_components

    pairs = minhash_lsh_pairs(amplified_docs(cat, k))
    edges = pairs.select(
        F.col("doc_id_1").alias("src"), F.col("doc_id_2").alias("dst")
    )
    return connected_components(edges)


def job_dsir(spark, cat: Catalog, k: int):
    """DSIR importance weights (hashed-ngram LLR scoring per doc)."""
    from spider_spark.text.selection import doc_llr

    per_doc = doc_llr(amplified_docs(cat, k))
    return per_doc.groupBy("source").agg(
        F.count("*").alias("n_docs"), F.sum("llr_raw").alias("s")
    )


def job_sparse_sim(spark, cat: Catalog, k: int):
    """Term-keyed sparse cosine similarity join."""
    from spider_spark.text.sparse_sim import sparse_cosine_pairs

    return sparse_cosine_pairs(amplified_docs(cat, k))


def job_hyperball(spark, cat: Catalog, k: int):
    """HyperBall harmonic centrality over the k-copy host graph, on the
    DISTRIBUTED register loop: this harness measures how the engine's
    shuffle rounds grow with data, and the driver twin that
    hyperball_harmonic serves at these graph sizes would skip exactly
    the path under test."""
    from spider_spark.graph.hyperball import hyperball_harmonic_loop

    return hyperball_harmonic_loop(amplified_edges(spark, cat.sf_dir, k))


def amplified_vectors(cat: Catalog, k: int):
    """embeddings x k with distinct vec_ids and a deterministic
    hash-seeded perturbation per replica (vectors must not be exact
    copies: identical vectors would collapse into the same IVF lists /
    top-k ties and the amplified search would not exercise k x the
    candidate volume)."""
    emb = cat.embeddings
    if k == 1:
        return emb
    n = emb.sparkSession.sparkContext.defaultParallelism * 2
    rep = emb.repartition(n).withColumn(
        "rep", F.explode(F.sequence(F.lit(0), F.lit(k - 1)))
    )
    # element-wise deterministic jitter: v[i] * (1 + 0.01*h) + 0.02*h2
    jit = F.transform(
        "embedding",
        lambda x, i: x
        + (
            F.pmod(F.xxhash64(F.col("vec_id"), F.col("rep"), i), F.lit(1000)).cast(
                "double"
            )
            / 1000.0
            - 0.5
        ).cast("float")
        * F.lit(0.05),
    )
    return rep.select(
        (F.col("vec_id") * 100 + F.col("rep")).alias("vec_id"),
        jit.alias("embedding"),
        "label",
    )


def job_ann_ivf(spark, cat: Catalog, k: int):
    """IVF-Flat ANN end-to-end (train + encode + probe search) over the
    k-amplified vector corpus — the similarity stack's scale claim."""
    from spider_spark.similarity.ivf import ann_ivf_topk_frames

    emb = amplified_vectors(cat, k)
    queries = cat.embeddings.filter(F.col("vec_id") < 10)
    return ann_ivf_topk_frames(queries, emb.filter(F.col("vec_id") >= 1000))


def job_knn_graph(spark, cat: Catalog, k: int):
    """NN-Descent k-NN graph BUILD over the k-amplified vector corpus —
    the heaviest new pipeline in the similarity stack and the likeliest
    superlinear candidate (per-round neighbors-of-neighbors self-join:
    candidate volume is rows x M^2, which must grow linearly in rows as
    long as per-node degree stays capped at M)."""
    from spider_spark.similarity.knn_graph import knn_graph_build

    return knn_graph_build(amplified_vectors(cat, k))


def job_relational(spark, cat: Catalog, k: int):
    """Relational tier: the q3-shaped join+agg (customer ⋈ orders ⋈
    lineitem, broadcast dim, grouped revenue) over a k-amplified fact
    side — lineitem rows replicated with remapped order keys so join
    fan-out and group cardinality both scale with k."""
    li = cat.lineitem.select("l_orderkey", "l_extendedprice", "l_discount")
    o = cat.orders.select("o_orderkey", "o_custkey", "o_orderdate")
    if k > 1:
        n = spark.sparkContext.defaultParallelism * 2
        li = li.repartition(n).withColumn(
            "rep", F.explode(F.sequence(F.lit(0), F.lit(k - 1)))
        ).select(
            (F.col("l_orderkey") * 100 + F.col("rep")).alias("l_orderkey"),
            "l_extendedprice",
            "l_discount",
        )
        o = o.withColumn(
            "rep", F.explode(F.sequence(F.lit(0), F.lit(k - 1)))
        ).select(
            (F.col("o_orderkey") * 100 + F.col("rep")).alias("o_orderkey"),
            "o_custkey",
            "o_orderdate",
        )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_custkey")
        .agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"),
            F.count("*").alias("n"),
        )
    )


JOBS = {
    "minhash_cc": job_minhash_cc,
    "dsir": job_dsir,
    "sparse_sim": job_sparse_sim,
    "hyperball": job_hyperball,
    "ann_ivf": job_ann_ivf,
    "knn_graph": job_knn_graph,
    "relational": job_relational,
}


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    rounds = int(sys.argv[1]) if len(sys.argv) > 1 else 2
    spark = get_spark("data-scaling", shuffle_partitions=32)
    cat = Catalog(spark, SF_DIR)
    cat.documents.count()  # warm FS cache / JVM

    # codegen+import warm-up, untimed
    for build in JOBS.values():
        force(build(spark, cat, 1))

    acc: dict[tuple[str, int], list[float]] = {}
    for _ in range(rounds):
        for k in SCALES:  # interleave scales within a round
            for name, build in JOBS.items():
                spark.catalog.clearCache()
                t0 = time.time()
                force(build(spark, cat, k))
                acc.setdefault((name, k), []).append(time.time() - t0)

    base_docs = cat.documents.count()
    spark.stop()

    summary, any_super = {}, False
    k0, klast, kprev = SCALES[0], SCALES[-1], SCALES[-2]
    for name in JOBS:
        sec = {k: min(acc[(name, k)]) for k in SCALES}
        super_ = sec[klast] > (klast / k0) * SUPERLINEAR_SLACK * sec[k0]
        any_super = any_super or super_
        summary[name] = {
            "sec": {str(k): round(sec[k], 3) for k in SCALES},
            # growth normalized to linear: 1.0 = perfectly linear,
            # <1 sublinear (fixed overhead amortizing), >1 superlinear.
            **{
                f"vs_linear_{k}x": round((sec[k] / sec[k0]) / (k / k0), 3)
                for k in SCALES[1:]
            },
            # marginal last-step ratio is the overhead-free signal: the
            # fixed floor is already paid at the previous level.
            f"marginal_{klast}_over_{kprev}": round(sec[klast] / sec[kprev], 3),
            "superlinear": super_,
            "samples": {
                str(k): [round(s, 2) for s in acc[(name, k)]] for k in SCALES
            },
        }
    print(
        json.dumps(
            {
                "sf_dir": SF_DIR,
                "base_docs": base_docs,
                "scales": list(SCALES),
                "rounds": rounds,
                "jobs": summary,
            }
        )
    )
    sys.exit(1 if any_super else 0)


if __name__ == "__main__":
    main()
