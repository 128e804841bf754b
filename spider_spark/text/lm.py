"""Unigram language-model quality scoring (perplexity proxy).

CCNet-style corpus filtering scores every document against a language
model and drops the tails; the cheap, fully-SQL-expressible core of that
is a corpus-trained *unigram* model: p(w) = count(w) / total, and a
per-document mean negative log-likelihood. High values = rare-token
soup (gibberish, boilerplate-stripped residue); low values = repetitive
common-token text. Both tails are what a training-data build trims.

Scale shape: one explode + two keyed aggregations. The per-(doc, word)
pre-aggregation happens BEFORE the frequency join, so the join input is
distinct (doc, word) pairs, not token instances — at 100 TB that is the
difference between joining ~5×10¹¹ rows and ~10¹³. The corpus total is
a one-row broadcast. No driver collection, no UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spider_spark.catalog import Catalog
from spider_spark.text.analysis import tokens


def unigram_doc_scores(docs: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, avg_neg_logp, ppl) for every non-null doc."""
    doc_tok = (
        docs.filter(F.col("text").isNotNull())
        .select("doc_id", F.explode(tokens()).alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("c"))
    )
    freq = doc_tok.groupBy("word").agg(F.sum("c").alias("cf"))
    total = freq.agg(F.sum("cf").cast("double").alias("n"))
    neg_logp = -F.log(F.col("cf") / F.col("n"))
    per_doc = (
        doc_tok.join(freq, "word")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            (F.sum(F.col("c") * neg_logp) / F.sum("c")).alias("_nlp"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_tokens",
        F.round(F.col("_nlp"), 4).alias("avg_neg_logp"),
        F.round(F.exp(F.col("_nlp")), 2).alias("ppl"),
    )


def unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """queries() wrapper over the documents table."""
    return unigram_doc_scores(Catalog(spark, sf_dir).documents)


def word_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-25 within-document token co-occurrence pairs (w1 < w2, counted
    once per document).

    Per-doc distinct tokens → JVM combination explode → one hash
    aggregation: shuffle volume is Σ_doc (types choose 2), bounded by
    document length, never corpus². At web scale you'd first restrict to
    a top-V vocabulary (one broadcast semi-join) to bound the fan-out;
    the synthetic corpus's vocabulary is already small.
    """
    ws = F.array_sort(F.array_distinct(tokens()))
    pairs = F.flatten(
        F.transform(
            ws,
            lambda x, i: F.transform(
                F.slice(ws, i + 2, F.size(ws)),
                lambda y: F.struct(x.alias("w1"), y.alias("w2")),
            ),
        )
    )
    docs = Catalog(spark, sf_dir).documents.filter(F.col("text").isNotNull())
    return (
        docs.select(F.explode(pairs).alias("p"))
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("w1"), F.asc("w2"))
        .limit(25)
    )


def bigram_doc_scores(docs: DataFrame) -> DataFrame:
    """(doc_id, n_bigrams, avg_neg_logp, ppl) under a corpus bigram LM
    with add-one smoothing: p(w2|w1) = (c(w1,w2)+1) / (c(w1·)+V).

    The KenLM-shaped upgrade to the unigram filter: conditional
    probabilities punish improbable transitions, not just rare words.
    Same scale shape as unigram_doc_scores — per-(doc, bigram)
    pre-aggregation BEFORE the frequency joins (distinct pairs, not
    token instances), corpus V and the per-w1 totals keyed/broadcast;
    no UDFs, fully SQL-expressible (the oracle recomputes it all).
    """
    toks = tokens()
    bi = F.zip_with(
        F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    doc_bi = (
        docs.filter(F.col("text").isNotNull())
        .select("doc_id", F.explode(bi).alias("bg"))
        .groupBy("doc_id", "bg")
        .agg(F.count("*").alias("c"))
    )
    freq = doc_bi.groupBy("bg").agg(F.sum("c").alias("cbg"))
    w1 = F.substring_index(F.col("bg"), " ", 1)
    left = freq.groupBy(w1.alias("w1")).agg(F.sum("cbg").alias("cw1"))
    vocab = left.agg(F.count("*").cast("double").alias("v"))
    scored = (
        doc_bi.join(freq, "bg")
        .withColumn("w1", w1)
        .join(left, "w1")
        .crossJoin(F.broadcast(vocab))
    )
    neg_logp = -F.log((F.col("cbg") + 1) / (F.col("cw1") + F.col("v")))
    per_doc = scored.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_bigrams"),
        (F.sum(F.col("c") * neg_logp) / F.sum("c")).alias("_nlp"),
    )
    return per_doc.select(
        "doc_id",
        "n_bigrams",
        F.round(F.col("_nlp"), 4).alias("avg_neg_logp"),
        F.round(F.exp(F.col("_nlp")), 2).alias("ppl"),
    )


def bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """queries() wrapper over the documents table."""
    return bigram_doc_scores(Catalog(spark, sf_dir).documents)


def perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style head/middle/tail corpus split by unigram LM score.

    CCNet (Wenzek et al. 2020) buckets every document into perplexity
    tertiles against a reference LM and keeps head (+ middle) for
    training. This computes the exact tertile assignment over the
    corpus-trained unigram scores (ntile over rounded avg_neg_logp,
    doc_id tiebreak) and reports the per-bucket inventory.

    Scale shape: the scoring passes are the same keyed aggregations as
    unigram_doc_scores; the ONLY total-order step is the tertile
    ranking, computed as a two-phase exact global rank (range-
    partitioned local rank + cumulative partition-count offsets —
    operators/ranking.py) instead of an unpartitioned ntile window,
    which would funnel every document through one partition. The
    two-phase ntile is bit-identical to the DuckDB oracle's.
    """
    from spider_spark.operators.ranking import with_global_ntile

    scores = unigram_doc_scores(
        Catalog(spark, sf_dir).documents.filter(F.col("text").isNotNull())
    )
    b = with_global_ntile(
        scores, [F.asc("avg_neg_logp"), F.asc("doc_id")], 3, out="tertile"
    )
    bucket = (
        F.when(F.col("tertile") == 1, F.lit("head"))
        .when(F.col("tertile") == 2, F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return b.groupBy(bucket.alias("bucket")).agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.min("avg_neg_logp").alias("min_neg_logp"),
        F.max("avg_neg_logp").alias("max_neg_logp"),
    )


def zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Zipf fit: least-squares slope/intercept of
    ln(frequency) against ln(rank) over the source's word-frequency
    spectrum. Natural corpora sit near slope -1; crawl spam, generated
    boilerplate, and truncated corpora show up as flattened or broken
    spectra, so the slope is a cheap per-source health metric.

    Scale shape: one (source, word) keyed aggregation, a per-source
    ranking window (partitioned — no global sort), and a per-source
    closed-form regression: the Σx/Σy/Σxy/Σx² sums are plain partial
    aggregates. Output is one row per source.
    """
    from pyspark.sql import Window

    from spider_spark.text.analysis import tokens

    docs = Catalog(spark, sf_dir).documents.filter(F.col("text").isNotNull())
    wf = (
        docs.select("source", F.explode(tokens()).alias("word"))
        .groupBy("source", "word")
        .agg(F.count("*").alias("c"))
    )
    rank = F.row_number().over(
        Window.partitionBy("source").orderBy(F.desc("c"), F.asc("word"))
    )
    xy = wf.select(
        "source",
        "c",
        F.log(rank.cast("double")).alias("x"),
        F.log(F.col("c").cast("double")).alias("y"),
    )
    agg = xy.groupBy("source").agg(
        F.count("*").cast("long").alias("n_vocab"),
        F.sum("c").cast("long").alias("total_tokens"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    n = F.col("n_vocab").cast("double")
    det = n * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / det
    intercept = (F.col("sy") * F.col("sxx") - F.col("sx") * F.col("sxy")) / det
    return agg.select(
        "source",
        "n_vocab",
        "total_tokens",
        F.round(slope, 4).alias("zipf_slope"),
        F.round(intercept, 4).alias("zipf_intercept"),
    )


def pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 collocations by pointwise mutual information over adjacent
    bigrams: pmi = ln( (c_xy/N_bi) / ((c_x/N_uni)·(c_y/N_uni)) ), with a
    min-support cut (PMI is unstable for rare pairs). Collocation mining
    is the standard corpus-exploration tool for spotting boilerplate
    phrases and template text worth filtering.

    Scale shape: same pre-aggregated bigram/unigram relations as the
    bigram LM (distinct grams, not token instances, reach the joins),
    two 1-row total broadcasts, and a TakeOrderedAndProject top-k. The
    support cut happens BEFORE the unigram joins, so only surviving
    bigrams join.
    """
    docs = Catalog(spark, sf_dir).documents.filter(F.col("text").isNotNull())
    toks = tokens()
    bi = F.zip_with(
        F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    bg = docs.select(F.explode(bi).alias("bg"))
    bfreq = bg.groupBy("bg").agg(F.count("*").alias("c_xy")).filter(F.col("c_xy") >= 5)
    uni = (
        docs.select(F.explode(toks).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("cu"))
    )
    n_bi = bg.agg(F.count("*").cast("double").alias("n_bi"))
    n_uni = uni.agg(F.sum("cu").cast("double").alias("n_uni"))
    x = bfreq.select(
        F.substring_index("bg", " ", 1).alias("w1"),
        F.substring_index("bg", " ", -1).alias("w2"),
        "c_xy",
    )
    u1 = uni.select(F.col("word").alias("w1"), F.col("cu").alias("cu1"))
    u2 = uni.select(F.col("word").alias("w2"), F.col("cu").alias("cu2"))
    pmi = F.log(
        (F.col("c_xy") / F.col("n_bi"))
        / ((F.col("cu1") / F.col("n_uni")) * (F.col("cu2") / F.col("n_uni")))
    )
    return (
        x.join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(n_bi))
        .crossJoin(F.broadcast(n_uni))
        .select(
            "w1",
            "w2",
            F.col("c_xy").cast("long").alias("c_xy"),
            F.round(pmi, 4).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), F.asc("w1"), F.asc("w2"))
        .limit(20)
    )
