"""Crawl-tier quality operators on hand-checked fixtures + plan shape."""

from __future__ import annotations

from pyspark.sql import functions as F

from spider_spark.text import crawl as CW


def _docs(spark, rows):
    return spark.createDataFrame(
        [(i, t, "en", "src0", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )


def test_gopher_repetition_hand_checked(spark, sf_dir, tmp_path):
    # doc 1: "a a a a" -> 4 tokens, 1 type, top word frac 1.0 -> fails
    # doc 2: "w x y z" -> ttr 1.0, top word frac 0.25 -> bigram frac 1/3
    df = _docs(spark, [(1, "a a a a"), (2, "w x y z")])
    out = str(tmp_path / "documents.parquet")
    df.write.parquet(out)
    got = {
        r.doc_id: r
        for r in CW.gopher_repetition(spark, str(tmp_path)).collect()
    }
    assert got[1].n_tokens == 4 and got[1].ttr == 0.25
    assert got[1].top_word_frac == 1.0 and not got[1].passes_repetition
    assert got[2].ttr == 1.0 and got[2].top_word_frac == 0.25
    assert got[2].mean_word_len == 1.0
    # doc 2's bigrams are all distinct: top bigram frac = 1/3
    assert got[2].top_bigram_frac == round(1 / 3, 4)


def test_passage_dedup_hand_checked(spark, tmp_path):
    eight = "w1 w2 w3 w4 w5 w6 w7 w8"
    # docs 1 and 2 share their single 8-word window; doc 3 is unique
    df = _docs(spark, [(1, eight), (2, eight), (3, "u1 u2 u3 u4 u5 u6 u7 u8")])
    df.write.parquet(str(tmp_path / "documents.parquet"))
    got = {r.doc_id: r for r in CW.passage_dedup(spark, str(tmp_path)).collect()}
    assert got[1].n_windows == 1 and got[1].n_dup_windows == 1 and got[1].dup_frac == 1.0
    assert got[3].n_dup_windows == 0 and got[3].dup_frac == 0.0


def test_contamination_check_hand_checked(spark, tmp_path):
    # doc 0 (0 % 97 == 0) is the benchmark; doc 1 copies it, doc 2 doesn't
    df = _docs(
        spark,
        [(0, "b1 b2 b3 b4"), (1, "b1 b2 b3 x"), (2, "c1 c2 c3 c4")],
    )
    df.write.parquet(str(tmp_path / "documents.parquet"))
    got = {
        r.doc_id: r for r in CW.contamination_check(spark, str(tmp_path)).collect()
    }
    assert 0 not in got  # benchmark docs are excluded from the output
    assert got[1].n_shingles == 2 and got[1].n_contaminated == 1
    assert got[1].contam_frac == 0.5
    assert got[2].n_contaminated == 0


def test_char_entropy_hand_checked(spark, tmp_path):
    # "aaaa" -> H = 0; "abab" -> H = ln 2
    df = _docs(spark, [(1, "aaaa"), (2, "abab")])
    df.write.parquet(str(tmp_path / "documents.parquet"))
    got = {r.doc_id: r for r in CW.char_entropy(spark, str(tmp_path)).collect()}
    assert got[1].entropy == 0.0 and got[1].n_distinct_chars == 1
    assert got[2].entropy == round(0.6931471805599453, 4)


def test_domain_stats_shares_sum_to_one(spark, sf_dir):
    rows = CW.domain_stats(spark, sf_dir).collect()
    assert rows
    assert abs(sum(r.char_share for r in rows) - 1.0) < 0.01


def test_crawl_plans_no_cartesian(spark, sf_dir):
    from tests.conftest import has_cartesian

    for fn in (CW.gopher_repetition, CW.passage_dedup, CW.contamination_check):
        assert not has_cartesian(fn(spark, sf_dir)), fn.__name__


def test_contamination_benchmark_probe_is_broadcast(spark, sf_dir):
    from spider_spark.plans.explain import formatted_plan

    plan = formatted_plan(CW.contamination_check(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
