"""Training-data pipeline utilities: deterministic splits, sampling,
length histograms, subword token estimates.

Sampling/splitting is hash-based (md5 of the id), NOT random: at 100 TB a
reproducible, seedless, order-independent assignment is the only split
that survives re-runs, backfills, and partial recomputes. md5 is used
(not xxhash) so the DuckDB oracle can recompute it bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from spider_spark.catalog import Catalog


def split_col(n_buckets: int = 100):
    """Deterministic bucket 0..n-1 from md5 of doc_id (first 8 hex)."""
    h = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8)
    return F.pmod(F.conv(h, 16, 10).cast("long"), F.lit(n_buckets))


def train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign every doc to train/val/test (90/5/5) by hashed id; returns
    per-split doc counts + mean length (the assignment itself is the
    `split` column — grouped here so the result is small)."""
    docs = Catalog(spark, sf_dir).documents
    b = split_col()
    split = (
        F.when(b < 90, "train").when(b < 95, "val").otherwise("test").alias("split")
    )
    return (
        docs.select(split, "n_chars")
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("n_chars"), 2).alias("avg_chars"),
        )
    )


def hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~10% sample of documents (md5 bucket 0 of 10)."""
    docs = Catalog(spark, sf_dir).documents
    return docs.filter(split_col(n_buckets=10) == 0).select(
        "doc_id", "lang", "source", "n_chars"
    )


LANG_KEEP_PCT = {"en": 50, "de": 25, "fr": 25}  # other langs: 10%


def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-stratified deterministic sample: each language keeps a
    different share of documents (upsample high-value strata, downsample
    the rest — the standard data-mix move before tokenization).

    Assignment is the same md5-bucket scheme as hash_sample, so it is
    reproducible, order-independent, and join-free: one narrow filter,
    then a small keyed rollup. Returns per-(lang) kept/total counts so
    the result is audit-sized; the kept set itself is the filter.
    """
    docs = Catalog(spark, sf_dir).documents
    rate = F.lit(10)
    for lang, pct in LANG_KEEP_PCT.items():
        rate = F.when(F.col("lang") == lang, pct).otherwise(rate)
    kept = F.when(split_col() < rate, 1).otherwise(0)
    return (
        docs.select("lang", kept.alias("kept"), "n_chars")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("kept").alias("n_kept"),
            F.round(F.sum("kept") / F.count("*"), 4).alias("kept_frac"),
            F.sum(F.when(F.col("kept") == 1, F.col("n_chars"))).alias("kept_chars"),
        )
    )


def doclen_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document length histogram in fixed 50-char buckets."""
    docs = Catalog(spark, sf_dir).documents
    bucket = (F.floor(F.col("n_chars") / 50) * 50).cast("long")
    return (
        docs.groupBy(bucket.alias("len_bucket"))
        .agg(F.count("*").alias("n_docs"))
    )


def bpe_token_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subword-ish token estimate: count regex tokens (letter runs, digit
    runs, single punctuation) and letter-run 4-char chunks — a cheap,
    deterministic proxy for BPE token counts, per source."""
    docs = Catalog(spark, sf_dir).documents
    words = F.size(F.regexp_extract_all(F.col("text"), F.lit(r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"), 0))
    letters = F.length(F.regexp_replace(F.col("text"), r"[^a-zA-Z]", ""))
    # every regex token costs ≥1 unit; letter runs add ~1 unit per 4 chars
    subword = (words + F.ceil(letters / F.lit(4.0))).cast("long")
    return (
        docs.select("source", subword.alias("est_tokens"))
        .groupBy("source")
        .agg(
            F.sum("est_tokens").alias("total_est_tokens"),
            F.round(F.avg("est_tokens"), 2).alias("avg_est_tokens"),
        )
    )


def corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus cleaning — the pipeline a crawl build actually
    ships: near-dup clustering (which subsumes exact dedup: identical
    texts share every shingle) keeps one representative per cluster, then
    quality and repetition filters gate what survives. Returns per-source
    funnel counts (all exact integers — no FP parity risk).

    The clustering stage is the 100 TB path: MinHash-LSH candidate pairs
    (narrow Arrow signature kernel + banded bucket join, shuffle
    O(rows×bands)) into pointer-doubling connected components — NOT the
    exact n-gram Jaccard self-join, whose Σdf² inverted-index cost is the
    test-scale oracle path only. The DuckDB oracle recomputes the funnel
    over EXACT clusters; at driver test scale the LSH clusters equal the
    exact clusters bit-for-bit (asserted in tests/test_graph.py along
    with the recall gate), which is precisely the property that makes
    LSH the shippable substitute.

    Composition of already-checked stages: dedup_clusters_approx
    (MinHash-LSH → CC), quality_score, gopher_repetition.
    """
    from spider_spark.graph.algorithms import materialized_clusters
    from spider_spark.text.analysis import quality_score
    from spider_spark.text.crawl import gopher_repetition

    docs = Catalog(spark, sf_dir).documents
    clusters = materialized_clusters(spark, sf_dir)
    # docs in no near-dup pair never appear in `clusters`: they represent
    # themselves. Representatives are cluster minima.
    non_rep = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
    rep = docs.join(non_rep, "doc_id", "left_anti")
    q = quality_score(spark, sf_dir).select("doc_id", "passes")
    g = gopher_repetition(spark, sf_dir).select("doc_id", "passes_repetition")
    funnel = (
        rep.select("doc_id", "source")
        .join(q, "doc_id", "left")
        .join(g, "doc_id", "left")
    )
    all_counts = docs.groupBy("source").agg(F.count("*").alias("n_docs"))
    kept = funnel.groupBy("source").agg(
        F.count("*").alias("n_after_dedup"),
        F.sum(F.when(F.col("passes"), 1).otherwise(0)).alias("n_after_quality"),
        F.sum(
            F.when(F.col("passes") & F.col("passes_repetition"), 1).otherwise(0)
        ).alias("n_kept"),
    )
    return all_counts.join(kept, "source", "left").select(
        "source",
        "n_docs",
        F.coalesce("n_after_dedup", F.lit(0)).alias("n_after_dedup"),
        F.coalesce("n_after_quality", F.lit(0)).alias("n_after_quality"),
        F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
    )


CHUNK_WINDOW = 128
CHUNK_STRIDE = 96


def doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-window training chunks with overlap: each doc yields
    windows of CHUNK_WINDOW whitespace tokens every CHUNK_STRIDE tokens
    (final partial window kept). Pure arithmetic + a bounded sequence
    explode — a narrow pass whose fan-out is tokens/stride, the exact
    shape of an LM pretraining chunker. Token boundaries themselves stay
    in the tokenizer; this operator owns the window bookkeeping."""
    docs = Catalog(spark, sf_dir).documents
    t = F.trim(F.col("text"))
    n_tok = F.when(
        F.col("text").isNull() | (t == ""), F.lit(0)
    ).otherwise(F.size(F.split(t, r"\s+"))).cast("long")
    base = docs.select("doc_id", n_tok.alias("n_tok")).filter(F.col("n_tok") > 0)
    n_chunks = (
        F.when(F.col("n_tok") <= CHUNK_WINDOW, F.lit(1))
        .otherwise(
            F.ceil((F.col("n_tok") - CHUNK_WINDOW) / F.lit(float(CHUNK_STRIDE))) + 1
        )
        .cast("long")
    )
    chunks = base.withColumn("n_chunks", n_chunks).select(
        "doc_id",
        "n_tok",
        F.explode(F.sequence(F.lit(0), F.col("n_chunks") - 1)).alias("chunk_id"),
    )
    start = F.col("chunk_id") * CHUNK_STRIDE
    return chunks.select(
        "doc_id",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        start.cast("long").alias("start_tok"),
        F.least(F.lit(CHUNK_WINDOW).cast("long"), F.col("n_tok") - start)
        .cast("long")
        .alias("chunk_len"),
    )


PACK_CAPACITY = 2048
PACK_BUCKETS = 32


def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy contiguous sequence packing into fixed-capacity training
    batches: docs are hash-bucketed (the distribution key — each bucket
    packs independently, so the whole thing scales as one window per
    bucket), ordered deterministically, and cut into batches wherever
    the running token total crosses PACK_CAPACITY. Emits each doc's
    batch number and offset — what a dataloader needs to materialize
    packed sequences without a driver-side loop."""
    docs = Catalog(spark, sf_dir).documents
    tok = (F.ceil(F.col("n_chars") / F.lit(4.0))).cast("long")
    base = docs.select(
        "doc_id", (F.col("doc_id") % PACK_BUCKETS).cast("long").alias("bucket"),
        tok.alias("n_tok"),
    )
    w = Window.partitionBy("bucket").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = F.sum("n_tok").over(w)
    batch = F.floor((cum - F.col("n_tok")) / F.lit(PACK_CAPACITY)).cast("long")
    return base.select(
        "doc_id",
        "bucket",
        "n_tok",
        batch.alias("batch_in_bucket"),
        ((cum - F.col("n_tok")) % PACK_CAPACITY).cast("long").alias("offset_tok"),
    )


def training_set_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The capstone crawl-to-training-set accounting: near-dup cluster
    representatives (MinHash-LSH -> CC, the 100 TB path) gated by
    quality + repetition, then sized for the LM dataloader — per-source
    kept docs, whitespace-token volume, and chunk counts under the
    doc_chunking window/stride. This is the one query a data-build
    owner runs before pressing GO on tokenization.

    Composition of oracle-checked stages (dedup_clusters_approx equals
    the exact clusters at gate scale — the corpus_clean twin property);
    all outputs exact integers.
    """
    from spider_spark.graph.algorithms import materialized_clusters
    from spider_spark.text.analysis import quality_score
    from spider_spark.text.crawl import gopher_repetition

    docs = Catalog(spark, sf_dir).documents
    clusters = materialized_clusters(spark, sf_dir)
    non_rep = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
    rep = docs.join(non_rep, "doc_id", "left_anti")
    q = quality_score(spark, sf_dir).select("doc_id", "passes")
    g = gopher_repetition(spark, sf_dir).select("doc_id", "passes_repetition")
    kept = (
        rep.join(q, "doc_id")
        .join(g, "doc_id")
        .filter(F.col("passes") & F.col("passes_repetition"))
    )
    n_tok = F.size(F.split(F.trim("text"), r"\s+")).cast("long")
    n_chunks = (
        F.when(F.col("n_tok") <= CHUNK_WINDOW, F.lit(1))
        .otherwise(
            F.ceil((F.col("n_tok") - CHUNK_WINDOW) / F.lit(float(CHUNK_STRIDE))) + 1
        )
        .cast("long")
    )
    sized = kept.select("source", n_tok.alias("n_tok")).withColumn(
        "n_chunks", n_chunks
    )
    allc = docs.groupBy("source").agg(F.count("*").alias("n_docs"))
    agg = sized.groupBy("source").agg(
        F.count("*").cast("long").alias("n_kept"),
        F.sum("n_tok").alias("total_tokens"),
        F.sum("n_chunks").alias("total_chunks"),
    )
    return allc.join(agg, "source", "left").select(
        "source",
        "n_docs",
        F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        F.coalesce("total_tokens", F.lit(0)).alias("total_tokens"),
        F.coalesce("total_chunks", F.lit(0)).alias("total_chunks"),
    )


def split_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution shift between the train split and the held-out rest:
    symmetric pair of smoothed KL divergences over the unigram token
    distributions. A healthy hash split shows near-zero divergence;
    topic- or time-skewed splits (or leakage fixes that moved docs)
    show up immediately. Laplace add-one smoothing over the union
    vocabulary keeps both directions finite.

    Scale shape: one token explode -> one (word) groupBy with both
    split counts as conditional sums (single shuffle), one 1-row totals
    broadcast, one final aggregate. No joins on the token grain.
    """
    from spider_spark.text.analysis import tokens

    docs = Catalog(spark, sf_dir).documents.filter(F.col("text").isNotNull())
    is_train = split_col() < 90
    tok = docs.select(is_train.alias("t"), F.explode(tokens()).alias("word"))
    wc = tok.groupBy("word").agg(
        F.sum(F.when(F.col("t"), 1).otherwise(0)).cast("long").alias("c_tr"),
        F.sum(F.when(~F.col("t"), 1).otherwise(0)).cast("long").alias("c_ho"),
    )
    totals = wc.agg(
        F.sum("c_tr").cast("long").alias("n_tr"),
        F.sum("c_ho").cast("long").alias("n_ho"),
        F.count("*").cast("long").alias("vocab"),
    )
    j = wc.crossJoin(F.broadcast(totals))
    p = (F.col("c_tr") + 1) / (F.col("n_tr") + F.col("vocab"))
    q = (F.col("c_ho") + 1) / (F.col("n_ho") + F.col("vocab"))
    return j.agg(
        F.max("n_tr").alias("n_train_tokens"),
        F.max("n_ho").alias("n_holdout_tokens"),
        F.max("vocab").alias("vocab"),
        F.round(F.sum(p * F.log(p / q)), 4).alias("kl_train_holdout"),
        F.round(F.sum(q * F.log(q / p)), 4).alias("kl_holdout_train"),
    )


DOMAIN_CAP = 20


def domain_cap_sample(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-domain quota capping (the FineWeb move against mega-domains
    swamping the mix): every source keeps at most DOMAIN_CAP documents,
    chosen by deterministic md5-hash order — reproducible, independent
    of ingest order, and backfill-stable (a doc's hash rank only moves
    if earlier-ranked docs appear). Returns the per-source audit rollup.

    Scale shape: ONE window (row_number per source ordered by the doc
    hash) — the partition is the per-domain doc set, which is exactly
    the thing being capped, and row_number streams it. No joins."""
    from pyspark.sql import Window

    docs = Catalog(spark, sf_dir).documents
    h = F.md5(F.col("doc_id").cast("string"))
    w = Window.partitionBy("source").orderBy(h.asc(), F.col("doc_id").asc())
    ranked = docs.select(
        "source", "n_chars", F.row_number().over(w).alias("rk")
    )
    kept = F.when(F.col("rk") <= DOMAIN_CAP, 1).otherwise(0)
    return ranked.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(kept).cast("long").alias("n_kept"),
        F.sum(F.when(F.col("rk") <= DOMAIN_CAP, F.col("n_chars"))
              .otherwise(0)).cast("long").alias("kept_chars"),
        F.round(F.sum(kept) / F.count("*"), 4).alias("kept_frac"),
    )


# Per-source token budget for token_budget_select (tokens, whitespace
# count proxy — mirrored in the DuckDB oracle).
TOKEN_BUDGET = 600


def token_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Budget-constrained corpus selection: each source contributes its
    best documents until a fixed token budget is exhausted (the standard
    data-mix move when the target training set is token-capped, not
    doc-capped). "Best" = longest first (length is the stand-in quality
    signal; any scored column slots into the same ORDER BY), tie-broken
    on doc_id for determinism.

    Scale shape: ONE window per source (cumulative token sum in rank
    order) + a narrow filter — no joins, shuffle keyed on source. The
    window streams each source partition once; the budget bounds the
    OUTPUT, not the partition, so skewed sources still scan but never
    amplify.
    """
    from pyspark.sql import Window

    docs = Catalog(spark, sf_dir).documents
    n_tok = (
        F.length("text") - F.length(F.regexp_replace("text", " ", "")) + 1
    ).cast("long")
    w = (
        Window.partitionBy("source")
        .orderBy(F.desc("n_chars"), F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranked = docs.select(
        "source", "doc_id", n_tok.alias("n_tok"), "n_chars"
    ).withColumn("cum_tokens", F.sum("n_tok").over(w).cast("long"))
    return ranked.filter(F.col("cum_tokens") <= TOKEN_BUDGET).select(
        "source", "doc_id", "n_tok", "cum_tokens"
    )


TOKEN_BUDGET_SQL = f"""
    WITH t AS (
        SELECT source, doc_id,
               CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS n_tok,
               n_chars
        FROM documents),
    r AS (
        SELECT source, doc_id, n_tok,
               CAST(sum(n_tok) OVER (PARTITION BY source
                                     ORDER BY n_chars DESC, doc_id ASC
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
        FROM t)
    SELECT source, doc_id, n_tok, cum_tokens
    FROM r WHERE cum_tokens <= {TOKEN_BUDGET}
"""


def domain_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split at DOMAIN grain: every page of
    a registered domain lands in the same split (near-duplicate pages
    cluster within domains, so doc-grain hashing leaks train content
    into eval — the group-aware split is the decontamination-correct
    default). Split = md5 bucket of the DOMAIN key, 80/10/10.

    Output is the per-split audit: domain and doc counts, char volume,
    and n_moved — docs whose doc-grain hash split would have differed
    (the leakage the group split prevented). One narrow pass + one
    groupBy; the domain key is derived, never joined.
    """
    from spider_spark.text.fetch import _domain

    docs = Catalog(spark, sf_dir).documents
    dom = _domain()
    db = split_col_expr(F.md5(dom))
    doc_b = split_col()
    d_split = (
        F.when(db < 80, "train").when(db < 90, "val").otherwise("test")
    )
    doc_split = (
        F.when(doc_b < 80, "train").when(doc_b < 90, "val").otherwise("test")
    )
    rows = docs.select(
        dom.alias("domain"),
        d_split.alias("split"),
        (d_split != doc_split).alias("moved"),
        "n_chars",
    )
    return rows.groupBy("split").agg(
        F.countDistinct("domain").cast("long").alias("n_domains"),
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
        F.sum(F.when(F.col("moved"), 1).otherwise(0)).cast("long").alias("n_moved"),
    )


def split_col_expr(hashed):
    """Bucket 0..99 from an md5-hex COLUMN (shared by doc- and
    domain-grain splits; split_col() is the doc_id instance)."""
    return F.pmod(F.conv(F.substring(hashed, 1, 8), 16, 10).cast("long"), F.lit(100))


DOMAIN_SPLIT_SQL = """
    WITH d AS (
        SELECT 'site' || CAST(doc_id % 10 AS VARCHAR) || '.example.com' AS domain,
               (CAST(concat('0x', substr(md5('site' || CAST(doc_id % 10 AS VARCHAR) || '.example.com'), 1, 8)) AS BIGINT) % 100) AS db,
               (CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100) AS doc_b,
               n_chars
        FROM documents),
    s AS (
        SELECT domain, n_chars,
               CASE WHEN db < 80 THEN 'train' WHEN db < 90 THEN 'val' ELSE 'test' END AS split,
               CASE WHEN doc_b < 80 THEN 'train' WHEN doc_b < 90 THEN 'val' ELSE 'test' END AS doc_split
        FROM d)
    SELECT split,
           CAST(count(DISTINCT domain) AS BIGINT) AS n_domains,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           CAST(sum(CASE WHEN split <> doc_split THEN 1 ELSE 0 END) AS BIGINT) AS n_moved
    FROM s GROUP BY split
"""
