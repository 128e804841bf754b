"""Relational sketch structures: a Count-Min frequency sketch and a
Bloom membership filter, both built and queried entirely with
DataFrame aggregations (no driver-side state).

The distributed construction IS the point: a CMS is d hash rows ×
w buckets of counts — i.e. one groupBy over (row, bucket) with map-side
partial aggregation — and a Bloom filter is the distinct set of set
bits. Both merge across partitions/shards for free (counts add, bits
union), which is exactly why these sketches matter at 100 TB: the
sketch table is O(d·w) / O(m) regardless of corpus size, and probing
is a broadcast join against it.

Hashes are md5-prefix based (hex→int) so the DuckDB oracles reproduce
them bit-for-bit; everything is deterministic and oracle-checked.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from spider_spark.catalog import Catalog

CMS_DEPTH = 4
CMS_WIDTH = 1024
TOPK = 20


def _md5_bucket(col: Column, salt: Column, mod: int) -> Column:
    """First 8 md5 hex digits of (col:salt) as an int, modulo mod —
    reproducible in DuckDB via CAST(concat('0x', substr(md5(..),1,8))."""
    h = F.substring(F.md5(F.concat_ws(":", col, salt)), 1, 8)
    return (F.conv(h, 16, 10).cast("long") % mod).cast("long")


def _words(docs: DataFrame) -> DataFrame:
    return docs.select(
        F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("word")
    ).filter(F.col("word") != "")


def countmin_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min estimates for the exact top-K corpus words: build the
    d×w sketch with one groupBy, probe it with a broadcast join, report
    estimate vs truth. est_n ≥ true_n always (one-sided CMS error)."""
    docs = Catalog(spark, sf_dir).documents
    words = _words(docs)
    # Aggregate to (word, n) FIRST, then hash only distinct words: the
    # sketch cell values are identical (sum of per-word counts per cell
    # == raw row counts per cell), but md5 runs O(vocab × depth) times
    # instead of O(tokens × depth) — the same map-side-combine-before-
    # expensive-work move that matters at 100 TB.
    counts = words.groupBy("word").agg(F.count("*").cast("long").alias("true_n"))
    rows = counts.select(
        "word", "true_n",
        F.explode(F.sequence(F.lit(0), F.lit(CMS_DEPTH - 1))).alias("j"),
    )
    sketch = (
        rows.select("j", _md5_bucket(F.col("word"), F.col("j"), CMS_WIDTH).alias("b"), "true_n")
        .groupBy("j", "b")
        .agg(F.sum("true_n").alias("cell"))
    )
    top = counts.orderBy(F.desc("true_n"), F.asc("word")).limit(TOPK)
    probes = top.select(
        "word",
        "true_n",
        F.explode(F.sequence(F.lit(0), F.lit(CMS_DEPTH - 1))).alias("j"),
    ).select("word", "true_n", "j", _md5_bucket(F.col("word"), F.col("j"), CMS_WIDTH).alias("b"))
    return (
        probes.join(sketch, ["j", "b"])
        .groupBy("word", "true_n")
        .agg(F.min("cell").cast("long").alias("est_n"))
    )


BLOOM_BITS = 2048
BLOOM_HASHES = 5


def bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'Content seen in the previous crawl?' as a Bloom filter: build
    the bit set from snapshot-A document digests (doc_id % 5 != 4, the
    crawl_snapshot_diff convention), probe with EVERY document digest,
    and report bloom_hit vs truly_present — no false negatives, bounded
    false positives (m is sized tight so FPs actually occur and the FP
    accounting is exercised). The bit table is O(m) regardless of crawl
    size and broadcast for the probe join."""
    docs = Catalog(spark, sf_dir).documents.filter(F.col("text").isNotNull())
    fps = docs.select(F.md5("text").alias("fp"), "doc_id")
    build = fps.filter(F.col("doc_id") % 5 != 4).select("fp").distinct()
    probe = fps.select("fp").distinct()
    ks = F.explode(F.sequence(F.lit(0), F.lit(BLOOM_HASHES - 1))).alias("k")
    bits = (
        build.select("fp", ks)
        .select(_md5_bucket(F.col("fp"), F.col("k"), BLOOM_BITS).alias("bit"))
        .distinct()
    )
    probe_bits = probe.select("fp", ks).select(
        "fp", _md5_bucket(F.col("fp"), F.col("k"), BLOOM_BITS).alias("bit")
    )
    hits = (
        probe_bits.join(F.broadcast(bits), "bit", "left_semi")
        .groupBy("fp")
        .agg(F.count("*").alias("n_set"))
    )
    truth = build.withColumn("truly_present", F.lit(True))
    return (
        probe.join(hits, "fp", "left_outer")
        .join(truth, "fp", "left_outer")
        .select(
            "fp",
            (F.coalesce("n_set", F.lit(0)) == BLOOM_HASHES).alias("bloom_hit"),
            F.coalesce("truly_present", F.lit(False)).alias("truly_present"),
        )
    )


# the synthetic corpus has a few dozen distinct words; V=20 keeps a
# real OOV tail (a production run would use 32k-128k)
VOCAB_SIZE = 20


def vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary coverage: build the top-V corpus vocabulary
    (exact counts, deterministic tie-break), broadcast it, and report
    per-source token coverage and OOV rate in basis points. The vocab
    side is O(V) regardless of corpus size; the token stream never
    shuffles for the membership check — only the final per-source
    rollup exchanges."""
    docs = Catalog(spark, sf_dir).documents.filter(F.col("text").isNotNull())
    words = docs.select(
        "source", F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("word")
    ).filter(F.col("word") != "")
    vocab = (
        words.groupBy("word")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("word"))
        .limit(VOCAB_SIZE)
        .select("word", F.lit(1).alias("in_vocab"))
    )
    j = words.join(F.broadcast(vocab), "word", "left_outer")
    agg = j.groupBy("source").agg(
        F.count("*").cast("long").alias("n_tokens"),
        F.sum(F.coalesce("in_vocab", F.lit(0))).cast("long").alias("n_in_vocab"),
    )
    oov = F.col("n_tokens") - F.col("n_in_vocab")
    return agg.select(
        "source",
        "n_tokens",
        "n_in_vocab",
        F.floor(oov * 10000 / F.col("n_tokens")).cast("long").alias("oov_bp"),
    )


PRUNE_BLOOM_BITS = 1 << 16
PRUNE_BLOOM_HASHES = 3


def bloom_pruned_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter join pruning, spelled out: build a Bloom filter
    from the SMALL join side's keys (urgent orders), pre-filter the
    BIG side (lineitem) with a pure column expression against the
    broadcast bit set, THEN join — so at scale the shuffle/broadcast
    probe only ever sees rows that can possibly match (plus a bounded
    false-positive trickle, which the join itself removes; no false
    negatives, so the result is EXACTLY the plain join — that plain
    join is the oracle).

    The bit set is O(2^16) regardless of table size, and — unlike a
    naive key collect — so is everything the driver ever touches: the
    per-key hashing runs DISTRIBUTED (explode 3 salts per key →
    md5-bucket → distinct), and only the reduced set-bit list (≤ 2^16
    ints, capped by the filter geometry, never by table size) comes
    back in a single-row aggregate to be compiled into one binary
    bitmap literal. A 10⁹-key build side costs a shuffle of distinct
    buckets, not a 10⁹-row driver materialisation. The probe side is
    O(1) byte substrings against the broadcast literal — the same
    mechanism Spark's runtime row-level Bloom pruning injects, made
    explicit and testable. Reduction is measured in tests.
    """
    cat = Catalog(spark, sf_dir)
    small = cat.orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        "o_orderkey", "o_orderdate"
    )

    def buckets(col):
        return [
            _md5_bucket(col.cast("string"), F.lit(j), PRUNE_BLOOM_BITS)
            for j in range(PRUNE_BLOOM_HASHES)
        ]

    # Distributed build: one narrow pass hashes every (key, salt) to
    # its bucket; distinct + single-row collect_set reduces to the set
    # bits. The collect is bounded at PRUNE_BLOOM_BITS elements by
    # construction (bucket ∈ [0, 2^16)), independent of |small|.
    set_bits = (
        small.select(
            F.explode(
                F.array(*[b.alias(str(j)) for j, b in enumerate(buckets(F.col("o_orderkey")))])
            ).alias("bucket")
        )
        .groupBy()  # bounded: ≤ PRUNE_BLOOM_BITS distinct buckets in one row
        .agg(F.collect_set("bucket").alias("bits"))
        .collect()[0]["bits"]
    )
    # The bit set ships as ONE binary literal (byte-granular bitmap,
    # 64 KB) probed with byte-based substring — O(1) per probe and a
    # single literal node. The obvious encodings all lose: a
    # 65k-element array literal is a 65k-child expression the optimizer
    # walks (30-50 s of driver time), a UTF8 bitmap-string substring
    # re-counts chars per call, and array_contains over the set-bit
    # list is a linear scan per row (all three measured here).
    bitmap = bytearray(PRUNE_BLOOM_BITS)
    for b in set_bits:
        bitmap[b] = 1
    bm = F.lit(bytes(bitmap))
    one = F.lit(bytes([1]))
    probe = None
    for b in buckets(F.col("l_orderkey")):
        cond = F.substring(bm, (b + 1).cast("int"), 1) == one
        probe = cond if probe is None else (probe & cond)
    pruned = cat.lineitem.filter(probe).select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    return (
        pruned.join(F.broadcast(small), pruned.l_orderkey == small.o_orderkey)
        .groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("order_month"))
        .agg(
            F.count("*").cast("long").alias("n_lines"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
        )
    )


HIST_BINS = 64


def fixed_histogram(df: DataFrame, col: str, lo, hi) -> DataFrame:
    """Fixed-width counting histogram as an O(HIST_BINS) relation — the
    MERGEABLE quantile sketch (cells sum across shards/micro-batches,
    exactly like the Count-Min cells; equi-depth boundaries don't
    merge, fixed-width cells do). One groupBy with map-side combine."""
    width = (hi - lo) / float(HIST_BINS)
    b = F.least(
        F.lit(HIST_BINS - 1),
        F.greatest(F.lit(0), F.floor((F.col(col) - lo) / width).cast("int")),
    ).cast("long")
    return df.select(b.alias("bin")).groupBy("bin").agg(
        F.count("*").cast("long").alias("cnt")
    )


def histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile estimation from the mergeable histogram: build the
    o_totalprice histogram (range from one exact min/max pass — a 1-row
    broadcast), then read q = 0.25/0.5/0.75/0.95 off the cumulative
    counts with linear interpolation inside the landing bin. Error is
    bounded by one bin width; the estimate itself is deterministic, so
    the oracle recomputes it exactly (the accuracy-vs-exact-percentile
    bound is asserted in tests)."""
    from pyspark.sql import Window

    orders = Catalog(spark, sf_dir).orders
    rng = orders.agg(
        F.min("o_totalprice").alias("lo"), F.max("o_totalprice").alias("hi")
    ).first()
    lo, hi = float(rng.lo), float(rng.hi)
    width = (hi - lo) / float(HIST_BINS)
    hist = fixed_histogram(orders, "o_totalprice", lo, hi)
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.select(
        "bin", "cnt", F.sum("cnt").over(w).alias("cum")
    ).crossJoin(F.broadcast(orders.agg(F.count("*").alias("n"))))
    qs = F.explode(F.array(*[F.lit(q) for q in (0.25, 0.5, 0.75, 0.95)])).alias("q")
    targets = cum.select("bin", "cnt", "cum", "n", qs).withColumn(
        "target", F.col("q") * F.col("n")
    )
    # first bin whose cumulative count reaches the target
    hit = Window.partitionBy("q").orderBy("bin")
    first_hit = (
        targets.filter(F.col("cum") >= F.col("target"))
        .withColumn("rn", F.row_number().over(hit))
        .filter(F.col("rn") == 1)
    )
    frac = (F.col("target") - (F.col("cum") - F.col("cnt"))) / F.col("cnt")
    est = F.lit(lo) + (F.col("bin") + frac) * F.lit(width)
    return first_hit.select(
        "q",
        F.col("bin").alias("bin"),
        F.round(est, 2).alias("est_quantile"),
    )
