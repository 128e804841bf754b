"""Text-analysis operators over the ``documents`` table.

Everything here is a deterministic JVM-side column expression (split /
regexp / array functions) — the exact arithmetic is mirrored 1:1 in the
DuckDB oracles, so these double as correctness anchors for the engine's
string stack.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from spider_spark.catalog import Catalog

# Marker lexicons for the heuristic language ID. The corpus vocabulary is
# a closed 31-word set; the groups are disjoint so scores are unambiguous.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "fast", "slow"],
    "es": ["data", "table", "row", "column"],
    "de": ["join", "merge", "hash", "sort"],
    "fr": ["query", "filter", "scan", "group"],
    "zh": ["spark", "stream", "batch", "window"],
}
STOPWORDS = ["the", "a"]


def tokens() -> Column:
    """Whitespace tokenizer over ``text`` (regex split, trailing-empty-safe)."""
    return F.split(F.trim(F.col("text")), r"\s+")


def _marker_count(toks: Column, words: list[str]) -> Column:
    arr = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))


def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic n-gram/stopword language ID: argmax of marker-word hits
    with a fixed priority order on ties. Returns the lang × pred_lang
    confusion matrix."""
    docs = Catalog(spark, sf_dir).documents
    toks = tokens()
    scored = docs.select(
        "doc_id",
        "lang",
        *[_marker_count(toks, ws).alias(f"s_{lg}") for lg, ws in LANG_MARKERS.items()],
    )
    # Deterministic argmax: first language (in declaration order) whose
    # score equals the row max.
    mx = F.greatest(*[F.col(f"s_{lg}") for lg in LANG_MARKERS])
    pred = F.lit(None).cast("string")
    for lg in reversed(list(LANG_MARKERS)):
        pred = F.when(F.col(f"s_{lg}") == mx, F.lit(lg)).otherwise(pred)
    return (
        scored.withColumn("pred_lang", pred)
        .groupBy("lang", "pred_lang")
        .agg(F.count("*").alias("n_docs"))
    )


def quality_score_col() -> Column:
    """The quality-score COLUMN expression over a `text` column: length +
    non-stopword + alphabetic-char ratios, rounded to 4 dp. Exposed as an
    expression so batch (score_quality) and the streaming ingest gate
    (streaming.ops._passing_docs) use literally the same arithmetic.

    Rounding is ``floor(x*1e4 + 0.5)/1e4`` rather than ``round(x, 4)``:
    the raw score is the same IEEE double in every engine (identical
    per-row scalar ops on exactly-representable integer counts), but
    ``round`` semantics differ — Spark rounds the exact binary expansion
    via BigDecimal HALF_UP while DuckDB rounds scaled floats, and one
    sf0.1 document landed a binary ulp from a .xxxx5 boundary where the
    two disagree. The floor form is pure IEEE arithmetic, so both
    engines compute bit-identical results at every scale."""
    toks = tokens()
    n_tok = F.size(toks).cast("double")
    stop_arr = F.array(*[F.lit(w) for w in STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t))).cast("double")
    n_alpha = F.length(F.regexp_replace(F.col("text"), "[^a-z]", "")).cast("double")
    n_chars = F.length(F.col("text")).cast("double")
    raw = (
        0.4 * F.least(n_tok, F.lit(100.0)) / 100.0
        + 0.3 * (1.0 - n_stop / n_tok)
        + 0.3 * (n_alpha / n_chars)
    )
    return F.floor(raw * 10000.0 + 0.5) / 10000.0


def score_quality(docs: DataFrame) -> DataFrame:
    """Frame-level quality scorer (batch and streaming share it). Pure
    column arithmetic — narrow, stateless, legal in an append stream."""
    toks = tokens()
    score = quality_score_col()
    return docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        score.alias("score"),
        (score >= 0.8).alias("passes"),
    )


def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc quality score over the documents table (queries() wrapper),
    rounded to 4 dp for cross-engine stability."""
    return score_quality(Catalog(spark, sf_dir).documents)


def token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token statistics (one narrow scan + one group-by)."""
    docs = Catalog(spark, sf_dir).documents
    n_tok = F.size(tokens())
    return (
        docs.select("source", n_tok.alias("n_tok"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").alias("total_tokens"),
            F.round(F.avg("n_tok"), 2).alias("avg_tokens"),
            F.max("n_tok").cast("long").alias("max_tokens"),
        )
    )


def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalised-text digest fingerprint (lower + whitespace collapse →
    md5). Grouping on the 32-hex digest instead of full text keeps the
    shuffle rows fixed-width at any document size."""
    docs = Catalog(spark, sf_dir).documents
    normalized = F.lower(F.trim(F.regexp_replace(F.col("text"), r"\s+", " ")))
    return (
        docs.select(F.md5(normalized).alias("fingerprint"), "doc_id")
        .groupBy("fingerprint")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("first_doc_id"))
    )


def word_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide token frequency top-20 (explode → two-phase count →
    TakeOrderedAndProject; the explode never leaves the map side before
    partial aggregation)."""
    docs = Catalog(spark, sf_dir).documents
    return (
        docs.select(F.explode(tokens()).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("word"))
        .limit(20)
    )


# Hashed bag-of-words feature space for the linear quality classifier.
HASH_BUCKETS = 1024
WEIGHT_SCALE = 10000  # weights are k/WEIGHT_SCALE - 0.5, k integer


def quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style hashed linear classifier scoring (the mechanism
    behind CCNet/FineWeb-Edu quality gates): each token hashes into one
    of HASH_BUCKETS features, each feature carries a fixed weight, the
    doc score is sigmoid(mean feature weight).

    Weights are derived deterministically from md5 of the bucket id (a
    stand-in for trained parameters — the container has no model file),
    and the per-doc accumulation is an INTEGER sum of the weight
    numerators, so the only floating-point steps are one division and
    one sigmoid at the output edge — bit-identical across Spark and
    DuckDB regardless of partial-aggregation order.

    Scale shape: narrow explode + md5 per token (scan-cost), one groupBy
    keyed on doc_id with map-side partial sums. No joins, no broadcast
    of a weight table (weights are pure arithmetic of the bucket).
    """
    docs = Catalog(spark, sf_dir).documents.filter(F.col("text").isNotNull())
    tok = docs.select("doc_id", F.explode(tokens()).alias("word"))
    bucket = F.pmod(
        F.conv(F.substring(F.md5(F.col("word")), 1, 8), 16, 10).cast("long"),
        F.lit(HASH_BUCKETS),
    )
    k = F.pmod(
        F.conv(
            F.substring(F.md5(F.concat(F.lit("w"), bucket.cast("string"))), 1, 8),
            16,
            10,
        ).cast("long"),
        F.lit(WEIGHT_SCALE),
    )
    agg = tok.select("doc_id", k.alias("k")).groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_tokens"),
        F.sum("k").cast("long").alias("sum_k"),
    )
    # mean weight = sum_k / (n * SCALE) - 0.5, exact given (sum_k, n)
    m = F.col("sum_k") / (F.col("n_tokens") * F.lit(float(WEIGHT_SCALE))) - F.lit(0.5)
    score = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(F.lit(-4.0) * m)), 4)
    return agg.select(
        "doc_id",
        "n_tokens",
        score.alias("score"),
        (score >= 0.5).alias("keep"),
    )
