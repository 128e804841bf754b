"""Hand-checked invariants for the crawl URL operator family.

The synthetic URL for a doc_id is fully determined by its moduli
(urls.py:synth_url), so exact expected strings can be computed by hand;
the DuckDB cell-for-cell parity is covered by tools/check_correctness.py.
"""

from __future__ import annotations

from spider_spark.plans.explain import formatted_plan
from spider_spark.text import urls as U
from tests.conftest import has_cartesian


def _by_id(rows):
    return {r["doc_id"]: r for r in rows}


def test_url_parse_hand_checked(spark, sf_dir):
    rows = _by_id(U.url_parse(spark, sf_dir).collect())
    # doc 0: www + :443 + utm query, no fragment
    r0 = rows[0]
    assert r0["url"] == "https://www.site0.example.com:443/s0/page0.html?utm_source=feed&id=0"
    assert r0["scheme"] == "https"
    assert r0["host"] == "www.site0.example.com"
    assert r0["domain"] == "site0.example.com"
    assert r0["port"] == 443
    assert r0["path"] == "/s0/page0.html"
    assert r0["query"] == "utm_source=feed&id=0"
    assert r0["fragment"] == ""
    assert r0["path_depth"] == 2
    assert not r0["is_media"]
    # doc 5: :8080 kept, .jpg media, no query/fragment
    r5 = rows[5]
    assert r5["url"] == "https://site5.example.com:8080/s0/page5.jpg"
    assert r5["port"] == 8080 and r5["is_media"]
    # doc 2: fragment present, no port
    r2 = rows[2]
    assert r2["port"] is None and r2["fragment"] == "section"
    # doc 4: deep path variant
    assert rows[4]["path"] == "/a/b/s4/page4.html"
    assert rows[4]["path_depth"] == 4


def test_url_normalize_canonical_forms(spark, sf_dir):
    rows = _by_id(U.url_normalize(spark, sf_dir).collect())
    # strips www., :443, and the utm_ param while keeping id=
    assert rows[0]["url_canon"] == "https://site0.example.com/s0/page0.html?id=0"
    # strips trailing utm_ param after a kept param
    assert rows[4]["url_canon"] == "https://site4.example.com/a/b/s4/page4.html?id=4"
    # strips fragment, keeps :8080
    assert rows[2]["url_canon"] == "https://site2.example.com/s2/page2.html"
    assert rows[5]["url_canon"] == "https://site5.example.com:8080/s0/page5.jpg"
    # docs 0 and 250 are the same logical page through different surface
    # URLs (utm-order variants) -> they merge; keeper is the min doc_id
    assert rows[0]["n_variants"] == 2 and rows[250]["n_variants"] == 2
    assert rows[0]["url_canon"] == rows[250]["url_canon"]
    assert rows[250]["keeper_doc_id"] == 0
    # doc 254 lacks doc 4's deep-path variant -> no merge despite same page id
    assert rows[4]["n_variants"] == 1 and rows[254]["n_variants"] == 1


def test_url_normalize_merges_duplicate_pages(spark):
    # at sf0.01 the (d, d+250) pairs share host+path; the pair merges when
    # the post-canonicalization query strings agree (d%3==0 with d%3==1)
    rows = U.url_normalize(spark, "/root/testdata/sf0.01").collect()
    merged = [r for r in rows if r["n_variants"] == 2]
    assert merged, "expected canonical merges at sf0.01"
    by_canon = {}
    for r in merged:
        by_canon.setdefault(r["url_canon"], []).append(r)
    for canon, grp in by_canon.items():
        assert len(grp) == 2
        ids = sorted(r["doc_id"] for r in grp)
        assert ids[1] - ids[0] == 250
        assert all(r["keeper_doc_id"] == ids[0] for r in grp)


def test_frontier_filter_rules(spark, sf_dir):
    kept = U.url_frontier_filter(spark, sf_dir)
    ids = {r["doc_id"] for r in kept.collect()}
    assert 5 not in ids  # .jpg media
    assert 4 not in ids  # path depth 4
    assert 3 not in ids and 13 not in ids  # blocked site3
    assert 0 in ids and 1 in ids
    # blocklist probe must be a broadcast anti-join, never a cartesian
    assert not has_cartesian(kept)
    plan = formatted_plan(kept)
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_snapshot_diff_counts(spark, sf_dir):
    from collections import Counter

    c = Counter(r["status"] for r in U.crawl_snapshot_diff(spark, sf_dir).collect())
    # doc_id 0..499: A drops %5==4 (100), B drops %5==3 (100); changed =
    # %7==2 within both = ids ≡ {2,16,30} mod 35 -> 15+14+14 = 43
    assert c == {"added": 100, "removed": 100, "changed": 43, "unchanged": 257}


def test_html_strip_recovers_text(spark, sf_dir, cat):
    docs = {r["doc_id"]: r["text"] for r in cat.documents.collect()}
    for r in U.html_strip(spark, sf_dir).collect():
        expected = f"Doc {r['doc_id']} T {docs[r['doc_id']].strip()} home about"
        expected = " ".join(expected.split())
        assert r["n_clean"] == len(expected)
        assert r["clean_prefix"] == expected[:60]


def test_host_stats_totals(spark, sf_dir):
    rows = U.host_stats(spark, sf_dir).collect()
    assert sum(r["n_pages"] for r in rows) == 500
    assert {r["domain"] for r in rows} == {f"site{i}.example.com" for i in range(10)}
    n_distinct_canon = (
        U.url_normalize(spark, sf_dir).select("url_canon").distinct().count()
    )
    assert sum(r["n_canonical"] for r in rows) == n_distinct_canon
    assert all(r["n_canonical"] <= r["n_pages"] for r in rows)
