"""Graph algorithms: components on a known graph, PageRank invariants."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from spider_spark.graph.algorithms import connected_components, pagerank


def test_connected_components_known_graph(spark):
    # components: {1,2,3,4}, {10,11}, singleton edges {20,21} chain {20,21,22}
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22)],
        "src long, dst long",
    )
    got = {r.node: r.component for r in connected_components(edges).collect()}
    assert got == {
        1: 1, 2: 1, 3: 1, 4: 1,
        10: 10, 11: 10,
        20: 20, 21: 20, 22: 20,
    }


def test_connected_components_long_chain(spark):
    # a 20-node path: worst case for propagation rounds
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(20)], "src long, dst long"
    )
    got = {r.node: r.component for r in connected_components(edges).collect()}
    assert set(got.values()) == {0}
    assert len(got) == 21


def test_pagerank_mass_and_order(spark):
    # star graph: everyone links to node 0 → node 0 must rank highest
    edges = spark.createDataFrame(
        [(i, 0) for i in range(1, 6)] + [(0, 1)], "src long, dst long"
    )
    ranks = {r.node: r.rank for r in pagerank(edges, iters=15).collect()}
    assert max(ranks, key=ranks.get) == 0
    # total mass stays ≈ n_nodes (damping redistribution conserves it)
    assert abs(sum(ranks.values()) - 6) < 0.05
    # spokes 2..5 are symmetric → identical ranks
    spoke = {ranks[i] for i in range(2, 6)}
    assert max(spoke) - min(spoke) < 1e-9


def test_trustrank_decays_from_seeds(spark):
    from spider_spark.graph.algorithms import trustrank

    # chain from the seed + a disconnected pair the seed can't reach
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("x", "y")],
        "src string, dst string",
    )
    t = {r.node: r.rank for r in trustrank(edges, ["a"], iters=15).collect()}
    # the seed outranks everything; trust decays along the first hops
    # (the chain tail oscillates until the 0.85^4 dangling-feedback
    # eigenvalue dies out, so only the head ordering is asserted)
    assert max(t, key=t.get) == "a"
    assert t["a"] > t["b"] > t["c"] > 0 and t["d"] > 0
    # nothing teleports to the unreachable component -> zero trust
    assert t["x"] == 0.0 and t["y"] == 0.0
    # total trust mass is bounded by 1 (teleport vector sums to 1)
    assert sum(t.values()) <= 1.0 + 1e-9


def test_dedup_clusters_approx_recall(spark, sf_dir):
    from spider_spark.graph.algorithms import dedup_clusters, dedup_clusters_approx

    exact = {r["doc_id"]: r["cluster_id"] for r in dedup_clusters(spark, sf_dir).collect()}
    approx = {r["doc_id"]: r["cluster_id"] for r in dedup_clusters_approx(spark, sf_dir).collect()}
    assert approx, "expected approximate clusters"
    # LSH recall: most exact-clustered docs are also approx-clustered
    hit = sum(1 for d in exact if d in approx)
    assert hit / len(exact) >= 0.6, f"cluster recall {hit}/{len(exact)}"
    # and docs the approx path groups together are near-dups or LSH FPs:
    # every approx cluster member pair must at least share a band bucket,
    # which the pipeline guarantees by construction; sanity: cluster ids
    # are min member ids
    for d, c in approx.items():
        assert c <= d


def test_corpus_clean_ships_the_lsh_path(spark):
    """corpus_clean must run the scale path (MinHash Arrow kernel +
    banded LSH join feeding CC), while its DuckDB oracle recomputes the
    funnel over exact clusters — valid because at driver-gate scale the
    LSH clusters equal the exact clusters bit-for-bit."""
    from spider_spark.graph.algorithms import dedup_clusters, dedup_clusters_approx
    from spider_spark.text.pipeline import corpus_clean

    sf = "/root/testdata/sf0.01"
    exact = {tuple(r) for r in dedup_clusters(spark, sf).collect()}
    approx = {tuple(r) for r in dedup_clusters_approx(spark, sf).collect()}
    assert exact == approx, (
        f"LSH clusters diverged from exact at sf0.01 "
        f"(only-exact={len(exact - approx)}, only-approx={len(approx - exact)}) "
        f"— corpus_clean's exact-path oracle is no longer a valid twin"
    )
    # the shipped plan contains the Arrow signature kernel (mapInPandas),
    # i.e. the MinHash path, not the exact shingle inverted index
    plan = corpus_clean(spark, sf)._jdf.queryExecution().toString()
    assert "MapInPandas" in plan or "mapInPandas" in plan


def test_hits_invariants(spark):
    """HITS on a known star graph: the hub that links everywhere gets
    the top hub score, the target everyone links to gets the top
    authority; both vectors stay L2-normalised."""
    from spider_spark.graph.algorithms import hits

    edges = spark.createDataFrame(
        # h is a pure hub -> {a, b, c}; everyone also links to a
        [("h", "a"), ("h", "b"), ("h", "c"), ("b", "a"), ("c", "a")],
        "src string, dst string",
    )
    rows = {r.node: (r.hub, r.auth) for r in hits(edges).collect()}
    hub_top = max(rows, key=lambda n: rows[n][0])
    auth_top = max(rows, key=lambda n: rows[n][1])
    assert hub_top == "h" and auth_top == "a"
    import math

    assert abs(math.sqrt(sum(h * h for h, _ in rows.values())) - 1.0) < 1e-9
    assert abs(math.sqrt(sum(a * a for _, a in rows.values())) - 1.0) < 1e-9


def test_label_propagation_two_cliques(spark):
    """Two 4-cliques joined by one bridge edge: LPA must give each
    clique one internal label and keep the two sides distinct."""
    from spider_spark.graph.algorithms import label_propagation

    c1 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    c2 = [(a, b) for a in range(10, 14) for b in range(a + 1, 14)]
    edges = spark.createDataFrame(c1 + c2 + [(3, 10)], "src long, dst long")
    got = {r.node: r.label for r in label_propagation(edges).collect()}
    left = {got[n] for n in range(4)}
    right = {got[n] for n in range(10, 14)}
    assert len(left) == 1 and len(right) == 1
    assert left != right


def test_cc_small_graph_shortcut_matches_distributed(spark):
    from spider_spark.graph.algorithms import connected_components_loop

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (7, 8), (8, 9), (9, 7), (20, 20)],
        "src long, dst long",
    )
    fast = {(r.node, r.component) for r in connected_components(edges).collect()}
    slow = {
        (r.node, r.component)
        for r in connected_components_loop(edges).collect()
    }
    assert fast == slow
    assert (1, 1) in fast and (4, 1) in fast and (9, 7) in fast


def test_lpa_small_graph_shortcut_matches_distributed(spark):
    from spider_spark.graph.algorithms import (
        label_propagation,
        label_propagation_loop,
        undirected,
    )

    # two cliques joined by one bridge edge
    clique = lambda ids: [(a, b) for a in ids for b in ids if a < b]
    edges = spark.createDataFrame(
        clique([1, 2, 3, 4]) + clique([10, 11, 12, 13]) + [(4, 10)],
        "src long, dst long",
    )
    fast = {(r.node, r.label) for r in label_propagation(edges).collect()}
    slow = {
        (r.node, r.label)
        for r in label_propagation_loop(undirected(edges)).collect()
    }
    assert fast == slow


def test_bfs_small_graph_shortcut_matches_distributed(spark):
    from spider_spark.text.links import bfs_depths, bfs_depths_loop

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("x", "y"), ("d", "a")],
        "src string, dst string",
    )
    fast = {(r.host, r.depth) for r in bfs_depths(edges, "a").collect()}
    slow = {
        (r.host, r.depth)
        for r in bfs_depths_loop(edges, "a").collect()
    }
    assert fast == slow
    assert ("d", 3) in fast and ("x", -1) in fast and ("y", -1) in fast


def test_cc_twin_equivalence_random_graphs(spark):
    """Property: the driver-side union-find shortcut and the distributed
    min-label loop produce identical components on random graphs."""
    from hypothesis import given, settings, strategies as st

    from spider_spark.graph.algorithms import connected_components_loop

    edge = st.tuples(st.integers(0, 15), st.integers(0, 15))

    @settings(max_examples=6, deadline=None)
    @given(st.lists(edge, min_size=1, max_size=30, unique=True))
    def check(edges):
        df = spark.createDataFrame(edges, "src long, dst long")
        fast = {
            (r.node, r.component) for r in connected_components(df).collect()
        }
        slow = {
            (r.node, r.component)
            for r in connected_components_loop(df).collect()
        }
        assert fast == slow, edges

    check()


def test_pair_explode_matches_naive_combinations(spark):
    """Property: pair_explode over per-key id lists equals the naive
    (a < b) co-occurrence pair set a self-join would produce."""
    from itertools import combinations

    from hypothesis import given, settings, strategies as st

    from pyspark.sql import functions as F

    from spider_spark.dedup.jaccard import pair_explode

    kv = st.tuples(st.integers(0, 5), st.integers(0, 20))

    @settings(max_examples=6, deadline=None)
    @given(st.lists(kv, min_size=1, max_size=40, unique=True))
    def check(rows):
        df = spark.createDataFrame(rows, "k int, doc_id long")
        grouped = df.groupBy("k").agg(F.collect_list("doc_id").alias("ids"))
        got = {
            (r.doc_id_1, r.doc_id_2)
            for r in pair_explode(grouped, cap=None).collect()
        }
        want = set()
        byk: dict[int, list[int]] = {}
        for k, d in rows:
            byk.setdefault(k, []).append(d)
        for ids in byk.values():
            want |= set(combinations(sorted(ids), 2))
        assert got == want, rows

    check()
