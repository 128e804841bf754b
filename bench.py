"""Headline benchmark: runs representative queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric", "value" (total sec), "unit", "queries", "sf", "cores"}.

Execution is forced through the noop sink (full materialisation, no
driver-side collect), so timings measure the distributed plan, not
row-shipping to the driver.

Speed claims are read from perfbench (``python3 perfbench/run.py``:
interleaved parent/change pairs, end-to-end and per-layer metrics).
Data scaling has its own script: tools/bench_data_scaling.py.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod
from spider_spark.session import get_spark

HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier",
    "q18_large_orders",
    "q2_min_cost_supplier",
    "q21_late_suppliers",
    "top_k_per_group",
    "customer_ltv_rank",
    "asof_join",
    "sessionize_batch",
    "windowed_event_counts",
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "embedding_neardup",
    "ann_bruteforce_topk",
    "ann_lsh_topk",
    "ann_ivf_topk",
    "quality_score",
    "token_stats",
    "word_topk",
    "tfidf_topk",
    "dedup_clusters",
    "gopher_repetition",
    "passage_dedup",
    "contamination_check",
    "char_entropy",
    "corpus_clean",
    # crawl tier
    "url_normalize",
    "robots_filter",
    "fetch_stats",
    "link_extract",
    "host_triangles",
    "warc_parse",
    "merge_upsert",
    "countmin_heavy_hitters",
    "bloom_membership",
    "doc_chunking",
    "sequence_packing",
    "embedding_centroids",
    # round 3 additions (compare per-query across rounds, not totals)
    "tokenized_chunks",
    "sparse_cosine_sim",
    "minhash_verified_pairs",
    "compression_ratio",
    "source_overlap",
    "badwords_filter",
    # index built on the first (untimed-by-min) sample, so the min-of-2
    # reading is the query-only serve latency against the stored index
    "ann_ivf_prebuilt_topk",
    "bloom_pruned_join",
    "bigram_logprob",
    "scd2_history",
    "variant_props_agg",
    "training_set_build",
    "line_dedup",
    "quality_classifier",
    "zipf_fit",
    "mirror_detection",
    # late round-3 additions
    "pmi_collocations",
    "ann_ivfpq_topk",
    "duplicate_spans",
    "substring_dedup_clean",
    "dsir_weights",
    "semantic_dedup",
    "crawl_depth",
    "bm25_topk",
    "media_dedup",
    "data_quality_checks",
    "domain_cap_sample",
    "cdc_chunk_dedup",
    "bpe_merges",
    "host_harmonic_centrality",
    # post-verdict round-3 batch (recrawl policy tier)
    "change_rate_estimate",
    "sitemap_parse",
    "http_cache_policy",
    "token_budget_select",
    "host_communities",
    # host-QA tier
    "host_boilerplate",
    "crawl_trap_detect",
    "host_lang_mix",
    "dedup_incremental",
    "crawl_schedule_build",
    "media_phash_neardup",
    # round 4: end-to-end real BMP/WAV decode; graph ANN (prebuilt
    # adjacency built on the first sample, like ann_*_prebuilt)
    "media_decode_stats",
    "ann_knn_graph_topk",
    "canonical_dedup",
]


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    # The driver parses stdout as JSON; rounds 2-4 all failed to parse
    # because JVM console output leaked onto fd 1. Belt and braces: keep
    # a private dup of the real stdout for the single JSON line and point
    # fd 1 at stderr BEFORE the JVM launches, so nothing else can ever
    # write to the parsed stream (showConsoleProgress is also off in
    # session.py).
    real_stdout = os.dup(1)
    os.dup2(2, 1)
    sys.stdout = sys.stderr

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark("spider-spark-bench")
    queries = entrymod.queries()

    # Warm the JVM/codegen once outside timing.
    force(queries["q1_pricing_summary"](spark, sf_dir))

    # min-of-2 per query: the sandbox VM sees bursty host CPU steal
    # (identical jobs vary several-fold minutes apart); the minimum is
    # the least-interfered sample.
    timings: dict[str, float] = {}
    for name in HEADLINE:
        samples = []
        for _ in range(2):
            t0 = time.time()
            force(queries[name](spark, sf_dir))
            samples.append(time.time() - t0)
        timings[name] = round(min(samples), 3)

    total = round(sum(timings.values()), 3)
    cores = spark.sparkContext.defaultParallelism
    spark.stop()

    payload = json.dumps(
        {
            "metric": "headline_total",
            "value": total,
            "unit": "sec",
            "queries": timings,
            "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
            "cores": cores,
        }
    )
    json.loads(payload)  # self-check: the artifact must round-trip
    os.write(real_stdout, (payload + "\n").encode())
    os.close(real_stdout)


if __name__ == "__main__":
    main()
