"""Crawl link-graph operators: anchor extraction from HTML, host-level
graph aggregation, anchor-text ranking, and host PageRank.

Each document gets a deterministic synthetic HTML rendering with three
``<a href>`` links (targets derived from doc_id moduli). The EXTRACTION
is the real operator — ``regexp_extract_all`` over the raw HTML, one
narrow JVM pass — and the oracle recomputes the expected links
relationally from doc_id, so parity proves the parser, not the
synthesizer.

Scale shapes:
- ``link_extract``     narrow scan → bounded explode (3 links/doc).
- ``host_graph_stats`` groupBy on the (src_domain, dst_domain) pair —
                       map-side partial agg; shuffle = #host pairs.
- ``anchor_topk``      groupBy pair + one window per dst_domain.
- ``host_pagerank``    iterative rank over the DISTINCT host graph
                       (O(hosts²) ≤ 100 edges here; at web scale the
                       same loop shuffles on host — the standard
                       host-graph PageRank layout).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from spider_spark.catalog import Catalog
from spider_spark.graph.algorithms import SMALL_CC_EDGES, pagerank
from spider_spark.session import rows_if_small

N_LINKS = 3
TARGET_MOD = 500


def _target(k: int) -> Column:
    """k-th link target id for a doc (deterministic, collision-rich so
    anchor/host aggregations have real repetition)."""
    return (F.col("doc_id") * 3 + k * 7 + 1) % TARGET_MOD


def _href(t: Column) -> Column:
    return F.concat(
        F.lit("https://site"),
        (t % 10).cast("string"),
        F.lit(".example.com/page"),
        t.cast("string"),
        F.lit(".html"),
    )


def _anchor(t: Column) -> Column:
    return F.concat(F.lit("anchor "), (t % 17).cast("string"))


CANON_MOD = 120  # canonical-target ring: ~n_docs/120 pages per canonical


def synth_html(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, html) — head with a rel=canonical link (target derived
    from doc_id % CANON_MOD, same URL scheme as the anchors), body text
    plus three synthetic anchors."""
    docs = Catalog(spark, sf_dir).documents.select("doc_id", "text")
    canon = _href((F.col("doc_id") % CANON_MOD).cast("long"))
    # concat null-propagates: a null body would erase the anchors too
    parts = [
        F.lit('<html><head><link rel="canonical" href="'),
        canon,
        F.lit('"/></head><body><p>'),
        F.coalesce(F.col("text"), F.lit("")),
        F.lit("</p>"),
    ]
    for k in range(N_LINKS):
        t = _target(k)
        parts += [
            F.lit('<a href="'),
            _href(t),
            F.lit('">'),
            _anchor(t),
            F.lit("</a>"),
        ]
    parts.append(F.lit("</body></html>"))
    return docs.select("doc_id", F.concat(*parts).alias("html"))


def link_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outlink extraction from raw HTML: regexp_extract_all for hrefs and
    anchor texts, positionally zipped and exploded. One narrow pass; the
    explode fan-out is bounded by links-per-page."""
    html = synth_html(spark, sf_dir)
    hrefs = F.regexp_extract_all(F.col("html"), F.lit('<a href="([^"]+)">'), 1)
    anchors = F.regexp_extract_all(F.col("html"), F.lit('<a href="[^"]+">([^<]*)</a>'), 1)
    z = html.select(
        "doc_id", F.posexplode(F.arrays_zip(hrefs.alias("h"), anchors.alias("a")))
    )
    return z.select(
        "doc_id",
        F.col("pos").cast("long").alias("link_pos"),
        F.col("col.h").alias("href"),
        F.col("col.a").alias("anchor"),
        F.regexp_extract(F.col("col.h"), "^[a-z]+://([^/:?#]+)", 1).alias(
            "dst_domain"
        ),
    )


def canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rel=canonical consolidation — the crawl-dedup signal the SITE
    declares (duplicate/parametrized/mirrored pages point their
    ``<link rel="canonical">`` at one preferred URL; a crawler folds
    them before any content-based dedup runs). Extraction is the real
    operator: one regexp over the raw HTML head, then a groupBy on the
    canonical target — (canonical_url, n_pages, rep_doc_id, n_dup).
    Shuffle = one keyed agg with map-side combine; the oracle recomputes
    the target from the doc_id formula, so parity proves the parser
    (the link_extract pattern)."""
    html = synth_html(spark, sf_dir)
    canon = F.regexp_extract(
        F.col("html"), '<link rel="canonical" href="([^"]+)"', 1
    )
    return (
        html.select("doc_id", canon.alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.count("*").cast("long").alias("n_pages"),
            F.min("doc_id").alias("rep_doc_id"),
            (F.count("*") - 1).cast("long").alias("n_dup"),
        )
    )


def host_graph_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-to-host link aggregation: edge weights between registered
    domains plus distinct source pages per edge. Shuffle keyed on the
    domain pair with map-side partial aggregation."""
    links = link_extract(spark, sf_dir).select(
        F.concat(
            F.lit("site"), (F.col("doc_id") % 10).cast("string"), F.lit(".example.com")
        ).alias("src_domain"),
        "dst_domain",
        "doc_id",
    )
    return links.groupBy("src_domain", "dst_domain").agg(
        F.count("*").cast("long").alias("n_links"),
        F.countDistinct("doc_id").cast("long").alias("n_src_pages"),
    )


def anchor_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 anchor texts pointing at each destination domain — the
    anchor-text signal a web index aggregates per target. GroupBy pair
    then one window per dst_domain; ties broken by anchor text."""
    links = link_extract(spark, sf_dir)
    counts = links.groupBy("dst_domain", "anchor").agg(
        F.count("*").cast("long").alias("n")
    )
    w = Window.partitionBy("dst_domain").orderBy(F.desc("n"), F.asc("anchor"))
    return (
        counts.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
        .select("dst_domain", "anchor", "n", "rank")
    )


def host_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct directed host edges (src, dst), self-loops dropped."""
    links = host_graph_stats(spark, sf_dir).filter(
        F.col("src_domain") != F.col("dst_domain")
    )
    return links.select(
        F.col("src_domain").alias("src"), F.col("dst_domain").alias("dst")
    ).distinct()


def undirected_host_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct undirected host edges (a < b, self-loops dropped)."""
    links = host_graph_stats(spark, sf_dir).filter(
        F.col("src_domain") != F.col("dst_domain")
    )
    return links.select(
        F.least("src_domain", "dst_domain").alias("a"),
        F.greatest("src_domain", "dst_domain").alias("b"),
    ).distinct()


def host_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host triangle participation over the undirected host graph —
    the clustering-coefficient numerator a link-spam detector uses.
    Two self-joins on ordered edges (a<b<c counts each triangle once);
    at web scale the joins shuffle on the shared endpoint and the
    ordered-endpoint convention keeps the join one-directional."""
    e = undirected_host_edges(spark, sf_dir)
    e1 = e.select(F.col("a").alias("x"), F.col("b").alias("y"))
    e2 = e.select(F.col("a").alias("y"), F.col("b").alias("z"))
    e3 = e.select(F.col("a").alias("x"), F.col("b").alias("z"))
    tri = e1.join(e2, "y").join(e3, ["x", "z"])  # x < y < z by construction
    per_node = (
        tri.select(F.explode(F.array("x", "y", "z")).alias("domain"))
        .groupBy("domain")
        .agg(F.count("*").cast("long").alias("n_triangles"))
    )
    return per_node


def host_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the distinct host-level link graph (self-loops
    dropped). Oracle-checked: the fixed-iteration loop is unrolled into
    a materialized CTE chain on the DuckDB side; rank-mass and ordering
    invariants are additionally asserted in tests/."""
    return pagerank(host_edges(spark, sf_dir)).select(
        F.col("node").alias("domain"), F.round("rank", 4).alias("rank")
    )


# hand-vetted "good" hosts seeding trust propagation (TrustRank); in a
# real deployment this is the human-reviewed whitelist
TRUST_SEEDS = ["site1.example.com", "site6.example.com"]


def host_trustrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TrustRank over the host link graph: trust mass teleports only to
    the TRUST_SEEDS whitelist, so hosts reachable from vetted sites in
    few hops score high and isolated spam rings score ~0. Frontier
    schedulers combine this with host_pagerank to demote link farms.
    Oracle-checked via the unrolled fixed-iteration CTE chain."""
    from spider_spark.graph.algorithms import trustrank

    return trustrank(host_edges(spark, sf_dir), TRUST_SEEDS).select(
        F.col("node").alias("domain"), F.round("rank", 4).alias("trust")
    )


def link_farm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source-domain link-graph health profile: total outlinks,
    distinct target domains, self-link fraction, and reciprocity
    (fraction of a domain's distinct out-edges that link back). Link
    farms and SEO rings show up as high self-linking plus tight
    reciprocal cliques, so frontier schedulers score these signals
    before spending fetch budget on a domain's outlinks.

    Scale shape: the raw link explode is bounded (links/page), the edge
    set distincts down to the DOMAIN grain before the reciprocity
    self-join — at web scale that is ~10^8 rows joined on a two-column
    key, a plain shuffled-hash join, never a page-level self-join.
    """
    links = link_extract(spark, sf_dir).select(
        F.concat(
            F.lit("site"), (F.col("doc_id") % 10).cast("string"), F.lit(".example.com")
        ).alias("src"),
        F.col("dst_domain").alias("dst"),
    )
    raw = links.groupBy("src").agg(
        F.count("*").cast("long").alias("n_links"),
        F.sum(F.when(F.col("src") == F.col("dst"), 1).otherwise(0))
        .cast("long")
        .alias("n_self"),
    )
    e = links.filter(F.col("src") != F.col("dst")).distinct()
    deg = e.groupBy("src").agg(F.count("*").cast("long").alias("n_dst_domains"))
    back = e.select(F.col("src").alias("b_dst"), F.col("dst").alias("b_src"))
    rec = (
        e.join(back, (e.src == F.col("b_src")) & (e.dst == F.col("b_dst")))
        .groupBy("src")
        .agg(F.count("*").cast("long").alias("n_reciprocal"))
    )
    out = (
        raw.join(deg, "src", "left")
        .join(rec, "src", "left")
        .select(
            F.col("src").alias("domain"),
            "n_links",
            F.coalesce("n_dst_domains", F.lit(0)).alias("n_dst_domains"),
            F.round(F.col("n_self") / F.col("n_links"), 4).alias("self_frac"),
            F.round(
                F.coalesce(F.col("n_reciprocal"), F.lit(0))
                / F.coalesce("n_dst_domains", F.lit(1)),
                4,
            ).alias("reciprocity"),
        )
    )
    return out.withColumn("is_suspect", F.col("self_frac") >= 0.2)


MAX_BFS_ROUNDS = 16


def bfs_depths(edges: DataFrame, seed: str) -> DataFrame:
    """(host, depth) shortest hop distance from ``seed`` over directed
    edges (src, dst); unreachable hosts get depth -1.

    Edge lists of at most SMALL_CC_EDGES rows run a driver-side BFS with
    identical output (same rationale as connected_components: each
    relaxation round costs ~0.5 s of scheduling latency regardless of
    data size); larger ones run bfs_depths_loop."""
    from collections import deque

    edges = edges.cache()
    rows = rows_if_small(edges, SMALL_CC_EDGES)
    if rows is None:
        out = bfs_depths_loop(edges, seed)
    else:
        adj: dict[str, list[str]] = {}
        nodes: set[str] = set()
        for r in rows:
            adj.setdefault(r.src, []).append(r.dst)
            nodes.add(r.src)
            nodes.add(r.dst)
        depth = {seed: 0} if seed in nodes else {}
        q = deque(depth)
        while q:
            u = q.popleft()
            for v in adj.get(u, ()):
                if v not in depth:
                    depth[v] = depth[u] + 1
                    q.append(v)
        out = edges.sparkSession.createDataFrame(
            [(v, depth.get(v, -1)) for v in nodes], schema="host string, depth bigint"
        )
    edges.unpersist()
    return out


def bfs_depths_loop(edges: DataFrame, seed: str) -> DataFrame:
    """The distributed bfs_depths: iterative min-distance relaxation.
    Each round joins the current depth table to the edge list (keyed on
    src) and folds the relaxed candidates back with a min-agg — rounds =
    graph diameter (host graphs are shallow), each round one keyed
    shuffle, lineage truncated by eager localCheckpoint like the CC
    loop."""
    hosts = (
        edges.select(F.col("src").alias("host"))
        .union(edges.select(F.col("dst").alias("host")))
        .distinct()
    )
    dist = hosts.select(
        "host",
        F.when(F.col("host") == seed, F.lit(0).cast("long")).alias("depth"),
    ).localCheckpoint()
    prev = None  # carried probe: one convergence job per round, not two
    for _ in range(MAX_BFS_ROUNDS):
        relaxed = (
            dist.filter(F.col("depth").isNotNull())
            .join(edges, dist["host"] == edges["src"])
            .select(F.col("dst").alias("host"), (F.col("depth") + 1).alias("depth"))
        )
        new = (
            dist.union(relaxed)
            .groupBy("host")
            .agg(F.min("depth").alias("depth"))
            .localCheckpoint()
        )
        # convergence probe: settled node count + depth mass together
        # change iff any depth improved (depths only ever decrease)
        probe = new.agg(
            F.count("depth").alias("n"), F.sum("depth").alias("s")
        ).first()
        dist = new
        if prev is not None and (probe.n, probe.s) == prev:
            break
        prev = (probe.n, probe.s)
    return dist.select(
        "host", F.coalesce("depth", F.lit(-1)).cast("long").alias("depth")
    )


def crawl_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS crawl depth of every host from the lexicographically smallest
    host (the deterministic seed): (host, depth). The frontier-scheduler
    metric that decides how deep a crawl must go to reach each site."""
    links = host_graph_stats(spark, sf_dir)
    edges = links.select(
        F.col("src_domain").alias("src"), F.col("dst_domain").alias("dst")
    ).distinct()
    seed = (
        edges.select(F.col("src").alias("h"))
        .union(edges.select(F.col("dst").alias("h")))
        .agg(F.min("h"))
        .first()[0]
    )
    return bfs_depths(edges, seed)
