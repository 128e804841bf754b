"""HyperBall harmonic centrality vs exact all-pairs BFS."""

from __future__ import annotations

from collections import deque

from pyspark.sql import functions as F

from spider_spark.graph.hyperball import host_harmonic_centrality
from spider_spark.text.links import host_edges, host_graph_stats


def _exact_harmonic(edges):
    adj_rev = {}
    nodes = set()
    for a, b in edges:
        adj_rev.setdefault(b, []).append(a)
        nodes |= {a, b}
    out = {}
    for v in nodes:
        dist = {v: 0}
        q = deque([v])
        h = 0.0
        while q:
            x = q.popleft()
            for u in adj_rev.get(x, []):
                if u not in dist:
                    dist[u] = dist[x] + 1
                    h += 1.0 / dist[u]
                    q.append(u)
        out[v] = (h, len(dist))
    return out


def test_hyperball_tracks_exact_centrality(spark, sf_dir):
    links = host_graph_stats(spark, sf_dir).filter(
        F.col("src_domain") != F.col("dst_domain")
    )
    edges = [
        (r.src_domain, r.dst_domain)
        for r in links.select("src_domain", "dst_domain").distinct().collect()
    ]
    exact = _exact_harmonic(edges)
    est = {
        r.host: (r.harmonic, r.reach_est)
        for r in host_harmonic_centrality(spark, sf_dir).collect()
    }
    assert set(est) == set(exact)
    for v, (h, reach) in exact.items():
        assert abs(est[v][0] - h) / h < 0.2  # HLL error band (m=64)
        assert abs(est[v][1] - reach) / reach < 0.2
    # rank order: exact ordering is preserved by the estimates (ties in
    # exact values may estimate identically — allow >=)
    by_exact = sorted(exact, key=lambda v: exact[v][0])
    for lo, hi in zip(by_exact, by_exact[1:]):
        if exact[hi][0] > exact[lo][0]:
            assert est[hi][0] >= est[lo][0]


def test_distance_distribution_tracks_exact(spark, sf_dir):
    from spider_spark.graph.hyperball import host_distance_distribution

    links = host_graph_stats(spark, sf_dir).filter(
        F.col("src_domain") != F.col("dst_domain")
    )
    edges = [
        (r.src_domain, r.dst_domain)
        for r in links.select("src_domain", "dst_domain").distinct().collect()
    ]
    # exact pairs with d(u,v) <= r, including u == v at r = 0
    from collections import deque

    adj_rev = {}
    nodes = set()
    for a, b in edges:
        adj_rev.setdefault(b, []).append(a)
        nodes |= {a, b}
    dists = []
    for v in nodes:
        dist = {v: 0}
        q = deque([v])
        while q:
            x = q.popleft()
            for u in adj_rev.get(x, []):
                if u not in dist:
                    dist[u] = dist[x] + 1
                    q.append(u)
        dists.extend(dist.values())
    rows = sorted(
        host_distance_distribution(spark, sf_dir).collect(),
        key=lambda r: r.radius,
    )
    # cum_frac is monotone, ends at 1.0
    fracs = [r.cum_frac for r in rows]
    assert fracs == sorted(fracs) and fracs[-1] == 1.0
    for r in rows:
        exact_pairs = sum(1 for d in dists if d <= r.radius)
        assert abs(r.pairs_est - exact_pairs) / exact_pairs < 0.2
    # effective diameter (90th pct) agrees with exact
    exact_eff = min(
        rad for rad in range(0, 20)
        if sum(1 for d in dists if d <= rad) / len(dists) >= 0.9
    )
    est_eff = min(r.radius for r in rows if r.cum_frac >= 0.9)
    assert est_eff == exact_eff


def test_harmonic_driver_twin_equals_distributed(spark, sf_dir):
    """The SMALL_BALL_EDGES driver twin must produce EXACTLY the
    distributed loop's output (same md5 register formulas, same
    max-merge, same estimator, same Spark-side rounding) — the same
    twin-equivalence discipline as the union-find/LPA/BFS shortcuts."""
    from spider_spark.graph.hyperball import hyperball_harmonic, hyperball_harmonic_loop

    edges = host_edges(spark, sf_dir)
    twin = {
        r.node: (r.harmonic, r.reach_est)
        for r in hyperball_harmonic(edges).collect()
    }
    dist = {
        r.node: (r.harmonic, r.reach_est)
        for r in hyperball_harmonic_loop(edges).collect()
    }
    assert twin == dist and twin


def test_harmonic_twin_on_integer_nodes(spark):
    """Twin path also serves bigint node ids (schema branch)."""
    from spider_spark.graph.hyperball import hyperball_harmonic, hyperball_harmonic_loop

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (4, 1)], "src long, dst long"
    )
    twin = {r.node: r.harmonic for r in hyperball_harmonic(edges).collect()}
    dist = {
        r.node: r.harmonic
        for r in hyperball_harmonic_loop(edges).collect()
    }
    assert twin == dist and set(twin) == {1, 2, 3, 4}


def test_distance_distribution_twin_equals_distributed(spark, sf_dir):
    import spider_spark.graph.hyperball as hb

    twin = [tuple(r) for r in hb.host_distance_distribution(spark, sf_dir).collect()]
    dist = [
        tuple(r)
        for r in hb.distance_distribution_loop(host_edges(spark, sf_dir)).collect()
    ]
    # the two paths sum identical per-node estimates in different orders
    # (Python sorted-node left-to-right vs F.sum partition order); the
    # non-dyadic log-branch values make post-rounding equality
    # layout-dependent, so compare within one rounding step instead
    assert twin and len(twin) == len(dist)
    for a, b in zip(twin, dist):
        assert a[0] == b[0]
        for x, y in zip(a[1:], b[1:]):
            assert abs(x - y) <= 0.02, (a, b)
