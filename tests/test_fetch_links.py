"""Hand-checked tests for the fetch-log, robots, link-graph, and WARC
operator families (oracle parity is separately asserted by
tools/check_correctness.py; these pin the SEMANTICS on known doc_ids)."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from spider_spark.sources.warc import warc_parse, warc_records
from spider_spark.text import fetch as FE
from spider_spark.text import links as LK


def _by_id(rows, key="doc_id"):
    return {r[key]: r for r in rows}


def test_fetch_stats_partitions_statuses(spark, sf_dir):
    rows = FE.fetch_stats(spark, sf_dir).collect()
    assert len(rows) == 10  # one per domain
    for r in rows:
        assert r["n_ok"] + r["n_redirect"] + r["n_4xx"] + r["n_5xx"] == r["n_fetches"]
        assert abs(r["success_rate"] - r["n_ok"] / r["n_fetches"]) < 1e-9


def test_retry_schedule_backoff(spark, sf_dir):
    rows = FE.retry_schedule(spark, sf_dir).collect()
    assert rows, "expected some retryable failures"
    for r in rows:
        assert r["status"] in (429, 500)
        assert r["delay_s"] == 5 * 2 ** (r["attempt"] - 1)
        assert r["cum_delay_s"] == 5 * (2 ** r["attempt"] - 1)
    # doc 0: 0 % 23 == 0 -> 500, three attempts
    assert sorted(r["attempt"] for r in rows if r["doc_id"] == 0) == [1, 2, 3]


def test_politeness_schedule_fifo_per_host(spark, sf_dir):
    rows = FE.politeness_schedule(spark, sf_dir).collect()
    by_dom: dict[str, list] = {}
    for r in rows:
        by_dom.setdefault(r["domain"], []).append(r)
    for dom, rs in by_dom.items():
        rs.sort(key=lambda r: r["slot"])
        delays = {r["crawl_delay_s"] for r in rs}
        assert len(delays) == 1, "crawl delay must be constant per host"
        for i, r in enumerate(rs):
            assert r["slot"] == i + 1
            assert r["scheduled_offset_s"] == i * r["crawl_delay_s"]
        # FIFO on doc_id
        assert [r["doc_id"] for r in rs] == sorted(r["doc_id"] for r in rs)


def test_robots_longest_match(spark, sf_dir):
    rows = _by_id(FE.robots_filter(spark, sf_dir).collect())
    # doc 3: site3, path /s3/page3.html -> inside the disallowed /s3 section
    assert rows[3]["matched_prefix"] == "/s3" and rows[3]["allowed"] is False
    # doc 113: site3, path /s3/page113.html -> /s3/page1 exception (longest) wins
    assert rows[113]["matched_prefix"] == "/s3/page1" and rows[113]["allowed"] is True
    # doc 13: deep path /a/b/s3/... only matches the default '/' rule
    assert rows[13]["matched_prefix"] == "/" and rows[13]["allowed"] is True
    # doc 20: site0, /s0/page20.html -> disallowed ('/s0/page1' doesn't match)
    assert rows[20]["matched_prefix"] == "/s0" and rows[20]["allowed"] is False
    # every URL matched at least the default '/' rule
    assert len(rows) == 500


def test_link_extract_hand_checked(spark, sf_dir):
    rows = LK.link_extract(spark, sf_dir).collect()
    assert len(rows) == 3 * 500
    d0 = sorted(
        (r for r in rows if r["doc_id"] == 0), key=lambda r: r["link_pos"]
    )
    # targets for doc 0: (0*3 + 7k + 1) % 500 = 1, 8, 15
    assert [r["href"] for r in d0] == [
        "https://site1.example.com/page1.html",
        "https://site8.example.com/page8.html",
        "https://site5.example.com/page15.html",
    ]
    assert [r["anchor"] for r in d0] == ["anchor 1", "anchor 8", "anchor 15"]
    assert d0[2]["dst_domain"] == "site5.example.com"


def test_host_pagerank_mass_conserved(spark, sf_dir):
    ranks = LK.host_pagerank(spark, sf_dir).collect()
    assert len(ranks) == 10
    assert all(r["rank"] > 0 for r in ranks)
    # with the dangling correction, total rank mass stays ~n_nodes
    assert abs(sum(r["rank"] for r in ranks) - 10) < 0.05


def test_warc_roundtrip(spark, sf_dir, cat):
    recs = _by_id(warc_records(spark, sf_dir).limit(50).collect())
    raw = bytes(recs[0]["record"])
    assert raw.startswith(b"WARC/1.0\r\nWARC-Type: response\r\n")
    assert raw.endswith(b"\r\n\r\n")

    parsed = _by_id(warc_parse(spark, sf_dir).collect())
    texts = _by_id(cat.documents.select("doc_id", "text").collect())
    assert len(parsed) == len(texts)
    for d in (0, 1, 17, 123):
        body = (texts[d]["text"] or "").encode("utf-8")
        p = parsed[d]
        assert p["warc_type"] == "response"
        assert p["content_length"] == p["body_bytes"] == len(body)
        assert p["body_md5"] == hashlib.md5(body).hexdigest()
        assert p["target_uri"].startswith("https://")


def test_host_triangles_symmetry(spark, sf_dir):
    from spider_spark.text.links import host_triangles, undirected_host_edges

    edges = {(r["a"], r["b"]) for r in undirected_host_edges(spark, sf_dir).collect()}
    rows = {r["domain"]: r["n_triangles"] for r in host_triangles(spark, sf_dir).collect()}
    assert rows
    # each triangle contributes exactly 3 node participations
    assert sum(rows.values()) % 3 == 0
    # brute-force verify against the (small) edge set
    nodes = sorted({n for e in edges for n in e})
    expect: dict[str, int] = {}
    for i, x in enumerate(nodes):
        for j in range(i + 1, len(nodes)):
            for k in range(j + 1, len(nodes)):
                y, z = nodes[j], nodes[k]
                if (x, y) in edges and (y, z) in edges and (x, z) in edges:
                    for n in (x, y, z):
                        expect[n] = expect.get(n, 0) + 1
    assert rows == expect


def test_redirect_chains_follow_ring(spark, sf_dir, cat):
    from spider_spark.text.fetch import redirect_chains

    n = cat.documents.count()
    rows = {r["doc_id"]: r for r in redirect_chains(spark, sf_dir).collect()}
    assert rows
    # python reference walk over the same synthetic ring
    def status(d):
        if d % 23 == 0: return 500
        if d % 17 == 0: return 404
        if d % 29 == 0: return 429
        if d % 13 == 0: return 301
        return 200

    redirs = {d: (d + 13) % n for d in range(n) if status(d) == 301}
    assert set(rows) == set(redirs)
    for d, r in rows.items():
        cur, hops = redirs[d], 1
        while cur in redirs and hops < 8:
            cur = redirs[cur]
            hops += 1
        assert (r["final_doc"], r["n_hops"], r["unresolved"]) == (
            cur, hops, cur in redirs
        ), d
