"""HyperBall: HLL-sketch neighborhood function → harmonic centrality.

Boldi & Vigna, "In-Core Computation of Geometric Centralities with
HyperBall" (2013) — the algorithm behind the Facebook "four degrees of
separation" measurement. Every node carries a HyperLogLog sketch of the
set of nodes within distance r; one round of "merge my neighbors'
sketches into mine" grows r by 1, and the per-round cardinality deltas
|B(v,r)| − |B(v,r−1)| weighted by 1/r sum to harmonic centrality —
all-pairs BFS quality at O(nodes × registers) state instead of O(n²).

Relational re-expression (the part that makes it Spark-native): an HLL
sketch IS a relation (node, reg_idx, reg_val) with merge = groupBy MAX —
so one HyperBall round is exactly

    regs ∪ (edges ⋈ regs on dst→src rename)  →  groupBy(node, reg_idx).max

one keyed shuffle, no UDAFs, no binary blobs, no driver state. The
estimator runs per node per round as plain column arithmetic over the
≤ m register rows (raw HLL with the standard small-range linear
counting correction — registers never leave the executors).

Iterative + approximate ⇒ rows-only driver check; estimates are
compared against exact per-seed BFS on the host graph in
tests/test_hyperball.py.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spider_spark.session import rows_if_small

M_REGS = 64  # 2^6 registers — ±13% std err, plenty for centrality ranks
_ALPHA = 0.709  # standard HLL alpha for m=64
MAX_ROUNDS = 12


def _node_hash(col):
    """64-bit-ish deterministic hash of the node id (md5-derived so it
    matches nothing else and needs no ANSI-overflow care)."""
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 15), 16, 10).cast(
        "long"
    )


def _init_registers(nodes: DataFrame) -> DataFrame:
    """(node, reg_idx, reg_val): each node's singleton {node} sketch."""
    h = _node_hash(F.col("node"))
    reg_idx = F.pmod(h, F.lit(M_REGS))
    # rank = leading-zero count of the remaining bits + 1; emulate with
    # the position of the lowest set bit of a second hash (geometric)
    h2 = _node_hash(F.concat(F.col("node").cast("string"), F.lit("#r")))
    # lowest set bit position of |h2| + 1 (1-based), capped
    low = F.least(
        F.when(h2 % 2 != 0, 1)
        .when(h2 % 4 != 0, 2)
        .when(h2 % 8 != 0, 3)
        .when(h2 % 16 != 0, 4)
        .when(h2 % 32 != 0, 5)
        .when(h2 % 64 != 0, 6)
        .when(h2 % 128 != 0, 7)
        .when(h2 % 256 != 0, 8)
        .when(h2 % 512 != 0, 9)
        .when(h2 % 1024 != 0, 10)
        .otherwise(11),
        F.lit(31),
    )
    return nodes.select(
        "node", reg_idx.alias("reg_idx"), low.cast("long").alias("reg_val")
    )


def _estimate(regs: DataFrame) -> DataFrame:
    """(node, est): raw HLL estimate with linear-counting correction."""
    per_node = regs.groupBy("node").agg(
        F.sum(F.pow(F.lit(2.0), -F.col("reg_val"))).alias("z"),
        F.count("*").alias("nz"),  # registers present (rest are 0)
    )
    m = float(M_REGS)
    raw = F.lit(_ALPHA * m * m) / (F.col("z") + (m - F.col("nz")))
    zeros = F.greatest(m - F.col("nz"), F.lit(0.0))
    lc = F.lit(m) * F.log(F.lit(m) / zeros)
    est = F.when(
        (raw <= 2.5 * m) & (F.col("nz") < m), lc
    ).otherwise(raw)
    return per_node.select("node", est.alias("est"))


# Below this many edges the per-round scheduling latency dominates the
# actual register math by orders of magnitude — same rationale (and
# twin-equivalence testing discipline) as algorithms.SMALL_CC_EDGES.
SMALL_BALL_EDGES = 50_000


def _twin_estimates(edge_list):
    """Driver-side EXACT replica of _ball_rounds + _estimate for small
    graphs: same md5 register formulas, same max-merge, same convergence
    probe (register mass + present-count unchanged), same estimator.
    Yields (r, {node: est}). Register values are small ints and the z
    sums are sums of powers of two well inside float53 — so every
    arithmetic step lands on the identical double the JVM computes
    (twin == distributed asserted in tests/test_hyperball.py)."""
    import hashlib

    def h60(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    def low_bits(v: int) -> int:
        for k in range(1, 11):
            if v % (1 << k) != 0:
                return k
        return 11

    nodes = sorted({s for s, _ in edge_list} | {d for _, d in edge_list})
    in_nbrs: dict = {}
    for s, d in edge_list:
        in_nbrs.setdefault(d, set()).add(s)
    regs = {}
    for n in nodes:
        idx = h60(str(n)) % M_REGS
        val = low_bits(h60(str(n) + "#r"))
        regs[n] = {idx: val}

    def estimate(r: dict) -> float:
        z = sum(2.0 ** -v for v in r.values())
        nz = len(r)
        m = float(M_REGS)
        raw = _ALPHA * m * m / (z + (m - nz))
        if raw <= 2.5 * m and nz < m:
            return m * math.log(m / (m - nz))
        return raw

    yield 0, {n: estimate(regs[n]) for n in nodes}
    prev_probe = None
    for r in range(1, MAX_ROUNDS + 1):
        new = {}
        for n in nodes:
            merged = dict(regs[n])
            for nb in in_nbrs.get(n, ()):
                for i, v in regs[nb].items():
                    if v > merged.get(i, -1):
                        merged[i] = v
            new[n] = merged
        regs = new
        yield r, {n: estimate(regs[n]) for n in nodes}
        probe = (
            sum(v for r_ in regs.values() for v in r_.values()),
            sum(len(r_) for r_ in regs.values()),
        )
        if probe == prev_probe:
            break
        prev_probe = probe


def hyperball_harmonic(edges: DataFrame) -> DataFrame:
    """(node, harmonic, reach_est) over directed edges (src, dst):
    classic harmonic centrality of each node v = Σ_{u reaches v} 1/d(u,v).
    Graphs of at most SMALL_BALL_EDGES distinct edges run the exact
    driver twin; larger ones run hyperball_harmonic_loop."""
    rows = rows_if_small(edges.select("src", "dst").distinct(), SMALL_BALL_EDGES)
    if rows is None:
        return hyperball_harmonic_loop(edges)
    h: dict = {}
    prev: dict = {}
    for r, est in _twin_estimates(rows):
        if r == 0:
            h = {n: 0.0 for n in est}
        else:
            h = {n: h[n] + max(est[n] - prev[n], 0.0) / float(r) for n in est}
        prev = est
    out = [(n, h[n], prev[n]) for n in sorted(h)]
    node_t = "bigint" if out and not isinstance(out[0][0], str) else "string"
    # round IN Spark: F.round is HALF_UP, python round is banker's — the
    # twin must use the identical rounding fn
    return edges.sparkSession.createDataFrame(
        out, f"node {node_t}, h double, prev double"
    ).select(
        "node",
        F.round("h", 4).alias("harmonic"),
        F.round("prev", 2).alias("reach_est"),
    )


def hyperball_harmonic_loop(edges: DataFrame) -> DataFrame:
    """The distributed hyperball_harmonic. The ball expansion runs along
    REVERSED edges (v's sketch absorbs its in-neighbors' sketches), so
    after r rounds v's sketch estimates |{u : d(u,v) ≤ r}| and the
    per-round deltas weighted 1/r telescope into the harmonic sum.
    reach_est is the final in-ball cardinality (how much of the graph
    can reach v at all)."""
    harmonic = None
    for r, regs in _ball_rounds(edges):
        if r == 0:
            harmonic = _estimate(regs).select(
                "node", F.lit(0.0).alias("h"), F.col("est").alias("prev")
            ).localCheckpoint()
            continue
        est = _estimate(regs)
        harmonic = (
            harmonic.join(est, "node")
            .select(
                "node",
                (
                    F.col("h")
                    + F.greatest(F.col("est") - F.col("prev"), F.lit(0.0))
                    / F.lit(float(r))
                ).alias("h"),
                F.col("est").alias("prev"),
            )
            .localCheckpoint()
        )
    return harmonic.select(
        "node",
        F.round("h", 4).alias("harmonic"),
        F.round("prev", 2).alias("reach_est"),
    )


def _ball_rounds(edges: DataFrame):
    """Yield (r, regs) for r = 0 (singleton sketches) then each merge
    round until the register relation stops changing. The merge runs
    along REVERSED edges so round-r sketches estimate the in-ball
    |{u : d(u,v) ≤ r}|. One keyed shuffle + one carried convergence
    probe per round; lineage truncated by localCheckpoint."""
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    rev = edges.select(
        F.col("dst").alias("node"), F.col("src").alias("nbr")
    ).cache()
    regs = _init_registers(nodes).localCheckpoint()
    yield 0, regs
    prev_probe = None
    for r in range(1, MAX_ROUNDS + 1):
        nbr_regs = rev.join(
            regs.withColumnRenamed("node", "nbr"), "nbr"
        ).select("node", "reg_idx", "reg_val")
        regs = (
            regs.union(nbr_regs)
            .groupBy("node", "reg_idx")
            .agg(F.max("reg_val").alias("reg_val"))
            .localCheckpoint()
        )
        yield r, regs
        # register mass + count are monotone non-decreasing under
        # max-merge: unchanged ⇒ every ball is complete
        probe = regs.agg(
            F.sum("reg_val").alias("s"), F.count("*").alias("n")
        ).first()
        if (probe.s, probe.n) == prev_probe:
            break
        prev_probe = (probe.s, probe.n)


def host_distance_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The neighborhood function over the host graph — HyperBall's
    original purpose (Backstrom et al.'s "four degrees of separation"
    measurement): per radius r, the estimated number of reachable
    (u, v) pairs with d(u,v) ≤ r, the round's new-pair share, and the
    cumulative fraction of the final reachable-pair count. The smallest
    r with cum_frac ≥ 0.9 is the effective diameter.

    Host graphs of at most SMALL_BALL_EDGES edges run the driver twin
    (the per-round Spark jobs are pure scheduling floor at host-graph
    sizes); larger ones run distance_distribution_loop. est values are
    identical (exact-replica estimator); the per-round total is a float
    sum whose order differs from F.sum's, but outputs round to 2/4 dp
    (twin == distributed asserted in tests)."""
    from spider_spark.text.links import host_edges

    edges = host_edges(spark, sf_dir)
    rows = rows_if_small(edges, SMALL_BALL_EDGES)
    if rows is None:
        return distance_distribution_loop(edges)
    return _neighbourhood_function(
        spark,
        [(r, sum(est[n] for n in sorted(est))) for r, est in _twin_estimates(rows)],
    )


def distance_distribution_loop(edges: DataFrame) -> DataFrame:
    """The distributed host_distance_distribution over ``edges``: one
    F.sum of the per-node estimates per HyperBall round."""
    totals = [
        (r, float(_estimate(regs).agg(F.sum("est")).first()[0]))
        for r, regs in _ball_rounds(edges)
    ]
    return _neighbourhood_function(edges.sparkSession, totals)


def _neighbourhood_function(spark: SparkSession, totals) -> DataFrame:
    """(radius, pairs_est, new_pairs, cum_frac) from per-radius
    reachable-pair totals [(r, N(r))], r = 0, 1, ..."""
    final = totals[-1][1]
    rows = [
        (
            r,
            round(n_r, 2),
            round(max(n_r - n_prev, 0.0), 2),
            round(n_r / final, 4),
        )
        for (r, n_r), (_, n_prev) in zip(totals[1:], totals[:-1])
    ]
    return spark.createDataFrame(
        rows, "radius bigint, pairs_est double, new_pairs double, cum_frac double"
    )


def host_harmonic_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """queries() wrapper: HyperBall harmonic centrality of every host in
    the crawl link graph (self-loops dropped)."""
    from spider_spark.text.links import host_edges

    return hyperball_harmonic(host_edges(spark, sf_dir)).select(
        F.col("node").alias("host"), "harmonic", "reach_est"
    )
