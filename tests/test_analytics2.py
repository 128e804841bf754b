"""Semantic tests for the second analytics batch and the relational
sketches (oracle parity separately asserted by check_correctness)."""

from __future__ import annotations

from pyspark.sql import functions as F

from spider_spark.operators import analytics2 as A2
from spider_spark.operators import sketches as SK


def test_event_transitions_totals(spark, sf_dir):
    rows = A2.event_transitions(spark, sf_dir).collect()
    assert rows
    by_from: dict[str, list] = {}
    for r in rows:
        by_from.setdefault(r["from_type"], []).append(r)
    for frm, rs in by_from.items():
        total = rs[0]["from_total"]
        assert all(r["from_total"] == total for r in rs)
        assert sum(r["n"] for r in rs) == total
        # floor'd basis points never exceed 10000 in aggregate
        assert sum(r["prob_bp"] for r in rs) <= 10000
        assert all(0 <= r["prob_bp"] <= 10000 for r in rs)


def test_gap_fill_interpolation_bridges(spark, sf_dir):
    rows = sorted(
        A2.gap_fill_interpolate(spark, sf_dir).collect(), key=lambda r: r["hour"]
    )
    assert len(rows) >= 2
    # endpoints are observed by construction (spine spans observed hours)
    assert rows[0]["interpolated"] is False
    assert rows[-1]["interpolated"] is False
    for i, r in enumerate(rows):
        if r["interpolated"]:
            assert r["n_events"] == 0
            # linearly interpolated values lie between their bridge ends
            lo = next(rows[j] for j in range(i, -1, -1) if not rows[j]["interpolated"])
            hi = next(rows[j] for j in range(i, len(rows)) if not rows[j]["interpolated"])
            a, b = sorted((lo["value_filled"], hi["value_filled"]))
            assert a - 1e-6 <= r["value_filled"] <= b + 1e-6


def test_length_buckets_partition_docs(spark, sf_dir, cat):
    rows = sorted(A2.length_buckets(spark, sf_dir).collect(), key=lambda r: r["bucket"])
    assert [r["bucket"] for r in rows] == list(range(1, 11))
    assert sum(r["n_docs"] for r in rows) == cat.documents.count()
    for a, b in zip(rows, rows[1:]):
        assert a["max_chars"] <= b["min_chars"]  # quantile buckets are ordered


def test_data_mix_weights_normalized(spark, sf_dir):
    rows = A2.data_mix_weights(spark, sf_dir).collect()
    assert abs(sum(r["raw_share"] for r in rows) - 1.0) < 1e-2
    assert abs(sum(r["mix_weight"] for r in rows) - 1.0) < 1e-2
    # temperature < 1 flattens the mix: smallest source is upsampled,
    # largest is downsampled
    smallest = min(rows, key=lambda r: r["sum_chars"])
    largest = max(rows, key=lambda r: r["sum_chars"])
    assert smallest["upsample_factor"] > 1.0
    assert largest["upsample_factor"] < 1.0


def test_countmin_one_sided_error(spark, sf_dir, cat):
    rows = SK.countmin_heavy_hitters(spark, sf_dir).collect()
    assert len(rows) == SK.TOPK
    n_tokens = (
        cat.documents.select(
            F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("w")
        )
        .filter(F.col("w") != "")
        .count()
    )
    for r in rows:
        assert r["est_n"] >= r["true_n"], "CMS must never underestimate"
        # CM guarantee: overshoot <= e/w * N with prob 1 - e^-d; use a
        # loose deterministic envelope
        assert r["est_n"] - r["true_n"] <= 4 * n_tokens / SK.CMS_WIDTH


def test_bloom_no_false_negatives(spark, sf_dir):
    rows = SK.bloom_membership(spark, sf_dir).collect()
    present = [r for r in rows if r["truly_present"]]
    absent = [r for r in rows if not r["truly_present"]]
    assert present and absent
    assert all(r["bloom_hit"] for r in present), "bloom has no false negatives"
    fp = sum(1 for r in absent if r["bloom_hit"]) / len(absent)
    assert fp < 0.2, f"false-positive rate {fp:.3f} too high"


def test_embedding_centroids_cohesion(spark, sf_dir):
    from spider_spark.similarity.vectors import embedding_centroids

    rows = embedding_centroids(spark, sf_dir).collect()
    assert len(rows) == 10
    for r in rows:
        assert r["n_vecs"] > 0
        assert r["centroid_norm"] > 0
        assert -1.0 <= r["min_cos_to_centroid"] <= r["avg_cos_to_centroid"] <= 1.0


def test_vector_quantize_bounds(spark, sf_dir):
    from spider_spark.similarity.vectors import vector_quantize

    rows = vector_quantize(spark, sf_dir).collect()
    assert len(rows) == 10
    for r in rows:
        assert 0 <= r["min_code"] <= r["max_code"] <= 255
        # midpoint dequant error is bounded by half a quantization step;
        # steps vary per dim, so just sanity-bound the rms
        assert 0 < r["rms_error"] < 0.05


def test_doc_chunking_covers_tokens(spark, sf_dir):
    from spider_spark.text.pipeline import CHUNK_STRIDE, CHUNK_WINDOW, doc_chunking

    rows = doc_chunking(spark, sf_dir).collect()
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for doc, cs in by_doc.items():
        cs.sort(key=lambda r: r["chunk_id"])
        assert [c["chunk_id"] for c in cs] == list(range(len(cs)))
        for c in cs:
            assert c["start_tok"] == c["chunk_id"] * CHUNK_STRIDE
            assert 0 < c["chunk_len"] <= CHUNK_WINDOW
        # windows tile the doc: last chunk reaches the end, and every
        # token index is inside at least one window
        last = cs[-1]
        end = last["start_tok"] + last["chunk_len"]
        if len(cs) > 1:
            assert end - cs[-2]["start_tok"] > CHUNK_STRIDE  # overlap continuity


def test_sequence_packing_capacity(spark, sf_dir):
    from spider_spark.text.pipeline import PACK_CAPACITY, sequence_packing

    rows = sequence_packing(spark, sf_dir).collect()
    assert rows
    by_bucket_batch: dict[tuple, list] = {}
    for r in rows:
        assert 0 <= r["offset_tok"] < PACK_CAPACITY
        by_bucket_batch.setdefault((r["bucket"], r["batch_in_bucket"]), []).append(r)
    # batches are dense per bucket: 0..max with no holes
    buckets = {b for b, _ in by_bucket_batch}
    for b in buckets:
        batches = sorted(bb for bb2, bb in [(k[0], k[1]) for k in by_bucket_batch if k[0] == b])
        assert batches[0] == 0
        assert batches == list(range(batches[-1] + 1))


def test_vocab_coverage_bounds(spark, sf_dir):
    from spider_spark.operators.sketches import vocab_coverage

    rows = vocab_coverage(spark, sf_dir).collect()
    assert rows
    assert any(r["oov_bp"] > 0 for r in rows), "V=20 must leave an OOV tail"
    for r in rows:
        assert 0 <= r["n_in_vocab"] <= r["n_tokens"]
        assert 0 <= r["oov_bp"] <= 10000
        assert r["oov_bp"] == (r["n_tokens"] - r["n_in_vocab"]) * 10000 // r["n_tokens"]


def test_text_embed_deterministic_and_normalized(spark, sf_dir, cat):
    from spider_spark.text.embed import embed_documents, text_embed_neighbors

    emb = embed_documents(cat.documents).collect()
    assert len(emb) == cat.documents.count()
    import math

    for r in emb[:50]:
        if r["n_tokens"] > 0:
            n = math.sqrt(sum(v * v for v in r["embedding"]))
            assert abs(n - 1.0) < 1e-3, "embeddings are L2-normalised"
        assert len(r["embedding"]) == 64
    # determinism across runs
    again = {r["doc_id"]: list(r["embedding"]) for r in embed_documents(cat.documents).collect()}
    first = {r["doc_id"]: list(r["embedding"]) for r in emb}
    assert again == first

    nn = text_embed_neighbors(spark, sf_dir).collect()
    assert {r["q_id"] for r in nn} <= {0, 1, 2, 3, 4}
    assert all(-1.0001 <= r["cos"] <= 1.0001 for r in nn)
    # the flagship runs the LSH scale path; its recall vs brute force
    # over the same embeddings must stay high
    from pyspark.sql import functions as F

    from spider_spark.similarity.bruteforce import bruteforce_topk
    from spider_spark.text.embed import embed_documents

    emb = embed_documents(cat.documents).select(
        F.col("doc_id").alias("vec_id"), "embedding"
    ).cache()
    bf = bruteforce_topk(
        emb.filter(F.col("vec_id") < 5), emb.filter(F.col("vec_id") >= 5), k=5
    ).collect()
    truth = {(r["q_id"], r["neighbor_id"]) for r in bf}
    got = {(r["q_id"], r["neighbor_id"]) for r in nn}
    assert len(got & truth) / len(truth) >= 0.6, (got, truth)


def test_canonicalize_idempotent_property(spark):
    """canon(canon(u)) == canon(u) over adversarial generated URLs."""
    from hypothesis import given, settings, strategies as st

    from spider_spark.text.urls import canonicalize
    from pyspark.sql import functions as F

    host = st.from_regex(r"(www\.)?[a-z]{1,8}\.example\.com", fullmatch=True)
    path = st.from_regex(r"(/[a-z0-9]{1,6}){0,4}(\.(html|jpg))?", fullmatch=True)
    qs = st.from_regex(
        r"(\?(utm_[a-z]{1,5}=[a-z0-9]{0,4}&?|id=[0-9]{1,3}&?){0,3})?(#[a-z]{0,5})?",
        fullmatch=True,
    )
    port = st.sampled_from(["", ":443", ":8080"])

    # draw every example first, then canonicalize them all in one
    # DataFrame and the results again in a second: two Spark jobs
    urls = []

    @settings(max_examples=30, deadline=None)
    @given(host, port, path, qs)
    def draw(h, p, pa, q):
        urls.append(f"https://{h}{p}{pa}{q}")

    draw()
    once = (
        spark.createDataFrame([(u,) for u in urls], "url string")
        .select("url", canonicalize(F.col("url")).alias("c1"))
        .collect()
    )
    twice = (
        spark.createDataFrame([(r.url, r.c1) for r in once], "url string, c1 string")
        .select("url", "c1", canonicalize(F.col("c1")).alias("c2"))
        .collect()
    )
    assert len(twice) == len(urls) > 1
    for r in twice:
        assert r.c2 == r.c1, (r.url, r.c1, r.c2)
