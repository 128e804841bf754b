"""k-NN-graph ANN: NN-Descent construction + distributed beam search.

The graph ANN family (HNSW/NSW — the industry serving default) keeps a
hierarchical in-memory structure that does not re-express relationally,
but its two primitives do, and together they close the graph-ANN gap
Spark-first:

- the k-NN GRAPH, built by NN-Descent (Dong et al., "Efficient k-nearest
  neighbor graph construction for generic similarity measures", WWW'11):
  start from cheap candidate neighbors, repeatedly propose
  neighbors-of-neighbors ("a friend of a friend is likely a friend"),
  keep the best M per node. Each refinement round is ONE self-join on
  the shared endpoint + ONE per-node top-M window — shuffle keyed on
  node id, candidate volume O(rows × M²), never O(n²).
- greedy BEAM SEARCH over the stored graph (the NSW search layer):
  every query holds a beam of its best-so-far nodes; one adjacency join
  per hop expands all beams simultaneously, a window re-prunes to BEAM.
  HOPS joins total for the whole query batch, independent of corpus
  size; the adjacency relation is the only thing scanned.

Initialisation is deterministic and shuffle-friendly: LSH buckets give
locality-aware seed edges (reusing similarity.lsh's hyperplanes), and a
hash-ordered ring guarantees every node has degree ≥ M and the graph
has no isolated islands for search to strand in. Everything downstream
(rounds, pruning, search) is tie-broken on neighbor id, so builds and
searches are bit-deterministic (asserted in tests).

Approximate ⇒ rows-only driver check; recall vs the brute-force oracle
and build/search determinism are pinned in tests/test_knn_graph.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from spider_spark.catalog import Catalog
from spider_spark.dedup.embedding import dot, with_normed
from spider_spark.similarity.bruteforce import N_QUERIES, TOP_K

M_NEIGHBORS = 12
NN_DESCENT_ROUNDS = 3
BEAM = 12
HOPS = 4
N_ENTRY = 8  # shared deterministic entry points per search
N_BUCKET_ENTRY = 8  # query-aware entries from the query's LSH bucket

_GRAPH_VERSION = 3  # v3: (src, dst, cos) adjacency


def _scored(pairs: DataFrame, vecs: DataFrame) -> DataFrame:
    """(src, dst) -> (src, dst, cos): ride the normalized vectors in via
    two keyed joins (the bruteforce idiom; vectors never broadcast)."""
    a = vecs.select(F.col("id").alias("src"), F.col("v").alias("av"), F.col("n").alias("an"))
    b = vecs.select(F.col("id").alias("dst"), F.col("v").alias("bv"), F.col("n").alias("bn"))
    cos = dot(F.col("av"), F.col("bv")) / (F.col("an") * F.col("bn"))
    return (
        pairs.join(a, "src").join(b, "dst").select("src", "dst", F.round(cos, 6).alias("cos"))
    )


def _top_m(scored: DataFrame, m: int) -> DataFrame:
    w = Window.partitionBy("src").orderBy(F.desc("cos"), F.asc("dst"))
    return (
        scored.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= m)
        .drop("_r")
    )


def knn_graph_build(
    emb: DataFrame,
) -> DataFrame:
    """(src, dst, cos) — each node's best-found M_NEIGHBORS neighbors by cosine.

    Seeds = LSH-bucket co-members (locality) ∪ hash-ordered ring
    (degree floor); each NN-Descent round proposes neighbors-of-
    neighbors over the SYMMETRIZED current graph and re-prunes to
    M_NEIGHBORS.
    """
    from spider_spark.similarity.lsh import bucket_id

    vecs = with_normed(emb).select(
        F.col("vec_id").alias("id"), F.col("_v").alias("v"), F.col("_norm").alias("n")
    )
    vecs = vecs.localCheckpoint()  # scored() reads it 1 + NN_DESCENT_ROUNDS times

    # --- seed edges -------------------------------------------------
    from spider_spark.dedup.jaccard import pair_explode

    bucketed = emb.select(F.col("vec_id").alias("id"), bucket_id(F.col("embedding")).alias("b"))
    lsh_pairs = pair_explode(
        bucketed.groupBy("b").agg(F.collect_list("id").alias("ids"))
    ).select(F.col("doc_id_1").alias("src"), F.col("doc_id_2").alias("dst"))
    # degree-floor ring over the hash order: join on position arithmetic
    # (plain equi-join). Positions come from the two-phase exact global
    # rank (operators/ranking.py) — range-partitioned local rank +
    # cumulative offsets, not an unpartitioned row_number window.
    from spider_spark.operators.ranking import with_global_row_number

    pos = with_global_row_number(
        bucketed.select("id"), [F.xxhash64(F.col("id")), F.asc("id")], out="pos"
    ).localCheckpoint()
    total = pos.count()
    if total <= 1:  # no pairs to link (and `% total` would be `% 0`)
        spark = emb.sparkSession
        return spark.createDataFrame(
            [], "src bigint, dst bigint, cos double"
        )
    ring_edges = None
    for j in range(1, M_NEIGHBORS // 2 + 1):
        e = pos.select(
            F.col("id").alias("src"), ((F.col("pos") - 1 + j) % total).alias("tp")
        ).join(
            pos.select(F.col("id").alias("dst"), (F.col("pos") - 1).alias("tp")), "tp"
        ).select("src", "dst")
        ring_edges = e if ring_edges is None else ring_edges.unionByName(e)

    edges = lsh_pairs.unionByName(ring_edges)
    sym = edges.unionByName(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    cur = _top_m(
        _scored(sym.filter(F.col("src") != F.col("dst")).distinct(), vecs), M_NEIGHBORS
    ).localCheckpoint()

    # --- NN-Descent rounds ------------------------------------------
    for _ in range(NN_DESCENT_ROUNDS):
        symg = cur.select("src", "dst").unionByName(
            cur.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        proposals = (
            symg.select(F.col("src").alias("a"), F.col("dst").alias("via"))
            .join(symg.select(F.col("src").alias("via"), F.col("dst").alias("c")), "via")
            .select(F.col("a").alias("src"), F.col("c").alias("dst"))
            .filter(F.col("src") != F.col("dst"))
            .distinct()
        )
        # subtract already-scored edges, score only the new ones
        new = proposals.join(cur.select("src", "dst"), ["src", "dst"], "left_anti")
        cur = _top_m(cur.unionByName(_scored(new, vecs)), M_NEIGHBORS).localCheckpoint()
    # Keep the ring edges PERMANENTLY alongside the pruned k-NN edges:
    # on clusterable data the top-m prune leaves one disconnected clique
    # per cluster (every same-cluster neighbor beats every cross-cluster
    # one) and search strands in whichever island holds its entry point
    # — measured recall 0.0 on the 10-cluster fixture without this. The
    # hash-ordered ring is the long-range-link layer (HNSW's upper
    # levels serve the same purpose); 2 extra edges per node.
    ring_scored = _scored(
        ring_edges.select("src", "dst").distinct()
        .join(cur.select("src", "dst"), ["src", "dst"], "left_anti"),
        vecs,
    )
    return cur.distinct().unionByName(ring_scored.distinct())


def materialized_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build-once graph artifact per corpus snapshot (the HNSW-practice
    analogue of the ANN index store: construction is offline, searches
    read the stored adjacency). Built over the candidate corpus — the
    same query/candidate split the other prebuilt indexes use."""
    from spider_spark.store import materialize_once

    return materialize_once(
        spark,
        sf_dir,
        "knn_graph",
        _GRAPH_VERSION,
        lambda: knn_graph_build(
            Catalog(spark, sf_dir).embeddings.filter(F.col("vec_id") >= N_QUERIES)
        ),
        source_table="embeddings",
    )


# Twin gate: up to this many candidate vectors the 4-hop join loop is
# pure driver-round scheduling floor and the exact-replica driver twin
# serves instead (the HyperBall/BPE twin pattern; equivalence with
# knn_graph_search_loop pinned in tests/test_knn_graph.py).
SMALL_SEARCH_NODES = 20_000


def _round_half_up(x: float, nd: int) -> float:
    """Spark's F.round on doubles (BigDecimal.valueOf -> HALF_UP):
    Double.toString and Python repr both emit the shortest round-trip
    decimal, so Decimal(repr(x)) quantized HALF_UP reproduces it."""
    from decimal import ROUND_HALF_UP, Decimal

    q = Decimal(1).scaleb(-nd)
    return float(Decimal(repr(float(x))).quantize(q, rounding=ROUND_HALF_UP))


def _search_twin(
    queries: DataFrame,
    graph: DataFrame,
    candidates: DataFrame,
) -> DataFrame:
    """Exact replica of the distributed beam search, run on the driver.

    Equality-critical details mirrored from the distributed path:
    cosines accumulate LEFT-TO-RIGHT in float64 (np.cumsum — the same
    order as F.aggregate's fold, so bit-identical), intermediate scores
    round to 6 dp and outputs to 4 dp with HALF_UP (Spark's BigDecimal
    rounding, not Python banker's), entry points and beams tie-break on
    (xxhash64, id) / (-cos, id), and neighbors outside the candidate
    set are dropped exactly where the distributed inner join drops
    them. Spark computes the id hashes (so the JVM xxhash64 is reused,
    not re-implemented); the LSH bucket fold is replayed in numpy with
    the SAME left-to-right accumulation as bucket_id's F.aggregate —
    the interpreted per-row HOF was the twin's own bottleneck."""
    import numpy as np

    from spider_spark.similarity.lsh import PLANES

    spark = queries.sparkSession

    def lr_dot(a: np.ndarray, b: np.ndarray) -> float:
        p = a * b
        return float(np.cumsum(p)[-1]) if p.size else 0.0

    P = np.asarray(PLANES, dtype=np.float64)  # (planes, dim)
    weights = (1 << np.arange(len(PLANES))).astype(np.int64)

    def fold_bucket(v: np.ndarray) -> int:
        # bucket_id's fold, exactly: per-plane left-to-right double adds
        proj = np.cumsum(v[None, :] * P, axis=1)[:, -1]
        return int(((proj > 0) * weights).sum())

    # bounded: gated by SMALL_SEARCH_NODES in knn_graph_search
    crows = candidates.select(
        "vec_id", "embedding", F.xxhash64("vec_id").alias("h")
    ).collect()
    # bounded: query batches are small by contract (the search input)
    qrows = queries.select("vec_id", "embedding").collect()
    # bounded: adjacency of the gated candidate set (<= nodes * (m + ring))
    arows = graph.select("src", "dst").collect()

    cv: dict[int, np.ndarray] = {}
    cn: dict[int, float] = {}
    ch: dict[int, int] = {}
    buckets: dict[int, list[int]] = {}
    for r in crows:
        v = np.asarray(r[1], dtype=np.float64)
        cv[r[0]] = v
        cn[r[0]] = float(np.sqrt(np.cumsum(v * v)[-1])) if v.size else 0.0
        ch[r[0]] = r[2]
        buckets.setdefault(fold_bucket(v), []).append(r[0])
    adj: dict[int, list[int]] = {}
    for r in arows:
        adj.setdefault(r.src, []).append(r.dst)

    nodes = sorted(cv, key=lambda n: (ch[n], n))
    global_entries = nodes[:N_ENTRY]

    out = []
    for qr in qrows:
        q_id = qr[0]
        qv = np.asarray(qr[1], dtype=np.float64)
        qn = float(np.sqrt(np.cumsum(qv * qv)[-1])) if qv.size else 0.0
        bucket_nodes = sorted(buckets.get(fold_bucket(qv), []), key=lambda n: (ch[n], n))
        seeds = set(global_entries) | set(bucket_nodes[:N_BUCKET_ENTRY])

        def score(n: int) -> float:
            return _round_half_up(lr_dot(qv, cv[n]) / (qn * cn[n]), 6)

        pool: dict[int, float] = {n: score(n) for n in seeds if n in cv}
        expanded: set[int] = set()
        for _ in range(HOPS):
            unexp = [n for n in pool if n not in expanded]
            beam_nodes = sorted(unexp, key=lambda n: (-pool[n], n))[:BEAM]
            new = {
                nbr
                for n in beam_nodes
                for nbr in adj.get(n, ())
                if nbr not in pool and nbr in cv
            }
            expanded.update(beam_nodes)
            for n in new:
                pool[n] = score(n)
        top = sorted(pool, key=lambda n: (-pool[n], n))[:TOP_K]
        for rank, n in enumerate(top, start=1):
            out.append((q_id, n, _round_half_up(pool[n], 4), rank))

    return spark.createDataFrame(
        out, "q_id bigint, neighbor_id bigint, cos double, rank bigint"
    )


def knn_graph_search(
    queries: DataFrame,
    graph: DataFrame,
    candidates: DataFrame,
) -> DataFrame:
    """(q_id, neighbor_id, cos, rank) — best-first beam search over the
    stored adjacency. At most SMALL_SEARCH_NODES candidates the
    exact-replica driver twin serves the search (the per-hop Spark jobs
    are pure scheduling floor at that size); above it
    knn_graph_search_loop runs."""
    if candidates.count() <= SMALL_SEARCH_NODES:
        return _search_twin(queries, graph, candidates)
    return knn_graph_search_loop(queries, graph, candidates)


def knn_graph_search_loop(
    queries: DataFrame,
    graph: DataFrame,
    candidates: DataFrame,
) -> DataFrame:
    """The distributed knn_graph_search. All query beams advance
    together: each hop picks every query's best BEAM not-yet-expanded
    pool nodes, expands them with ONE adjacency join, scores the unseen
    neighbors, and feeds them back into the pool; the final top-k ranks
    everything visited. Entry points are the N_ENTRY global hash-ranked
    nodes (deterministic) PLUS up to N_BUCKET_ENTRY co-members of the
    QUERY's LSH bucket — the query-aware warm start that lands the walk
    in the right region of space (the role HNSW's upper layers play)."""
    from spider_spark.similarity.lsh import bucket_id

    cvecs = with_normed(candidates).select(
        F.col("vec_id").alias("node"), F.col("_v").alias("cv"), F.col("_norm").alias("cn")
    ).localCheckpoint()
    q = with_normed(queries).select(
        F.col("vec_id").alias("q_id"), F.col("_v").alias("qv"), F.col("_norm").alias("qn")
    )

    # entry points: global hash-ranked ∪ per-query LSH-bucket co-members
    global_entries = (
        cvecs.select("node").orderBy(F.xxhash64("node"), F.col("node")).limit(N_ENTRY)
    )
    qb = queries.select(
        F.col("vec_id").alias("q_id"), bucket_id(F.col("embedding")).alias("b")
    )
    cb = candidates.select(
        F.col("vec_id").alias("node"), bucket_id(F.col("embedding")).alias("b")
    )
    wb = Window.partitionBy("q_id").orderBy(F.xxhash64("node"), F.col("node"))
    bucket_entries = (
        qb.join(cb, "b")
        .withColumn("_r", F.row_number().over(wb))
        .filter(F.col("_r") <= N_BUCKET_ENTRY)
        .select("q_id", "node")
    )
    seeds = (
        q.select("q_id").crossJoin(F.broadcast(global_entries))
        .unionByName(bucket_entries)
        .distinct()
    )

    cos = dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))

    def score(pairs: DataFrame) -> DataFrame:
        """(q_id, node) -> (q_id, node, cos)"""
        return (
            pairs.join(cvecs, "node")
            .join(q, "q_id")
            .select("q_id", "node", F.round(cos, 6).alias("cos"))
        )

    pool = score(seeds).withColumn("expanded", F.lit(False)).localCheckpoint()
    adj = graph.select(F.col("src").alias("node"), F.col("dst").alias("nbr"))
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("node"))
    for _ in range(HOPS):
        unexp = pool.filter(~F.col("expanded"))
        beam_df = (
            unexp.withColumn("_r", F.row_number().over(w))
            .filter(F.col("_r") <= BEAM)
            .select("q_id", "node")
        )
        new_nodes = (
            beam_df.join(adj, "node")
            .select("q_id", F.col("nbr").alias("node"))
            .distinct()
            .join(pool.select("q_id", "node"), ["q_id", "node"], "left_anti")
        )
        expanded_mark = beam_df.withColumn("_e", F.lit(True))
        pool = (
            pool.join(expanded_mark, ["q_id", "node"], "left")
            .select(
                "q_id",
                "node",
                "cos",
                (F.col("expanded") | F.coalesce("_e", F.lit(False))).alias("expanded"),
            )
            .unionByName(score(new_nodes).withColumn("expanded", F.lit(False)))
            .localCheckpoint()
        )
    wk = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("node"))
    return (
        pool.withColumn("rank", F.row_number().over(wk).cast("long"))
        .filter(F.col("rank") <= TOP_K)
        .select(
            "q_id",
            F.col("node").alias("neighbor_id"),
            F.round("cos", 4).alias("cos"),
            "rank",
        )
    )


def ann_knn_graph_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """queries() wrapper: first N_QUERIES vecs against the rest, served
    from the materialized k-NN graph (rows-only: approximate; recall vs
    brute force pinned in tests)."""
    emb = Catalog(spark, sf_dir).embeddings
    graph = materialized_knn_graph(spark, sf_dir)
    return knn_graph_search(
        emb.filter(F.col("vec_id") < N_QUERIES),
        graph,
        emb.filter(F.col("vec_id") >= N_QUERIES),
    )
