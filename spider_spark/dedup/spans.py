"""Exact duplicated-substring spans (suffix-array-dedup style diagnostic).

Lee et al., "Deduplicating Training Data Makes Language Models Better"
(ACL 2022) remove every substring that occurs twice anywhere in the
corpus, found via a suffix array. The distributed re-expression of the
same semantics at k-token granularity: a token position is *duplicated*
iff some k-gram covering it occurs ≥2 times corpus-wide; maximal runs of
duplicated positions are the removable spans. This reports the per-source
duplicated-span profile — the number a release needs before deciding to
cut (FineWeb/Dolma both publish it).

Scale shape:
  1. gram generation is a narrow per-doc pass (transform over a
     sequence — no self-join, no posting lists);
  2. the global gram count is ONE groupBy with map-side combine, and
     duplicated grams flow back as a LEFT SEMI join keyed on the gram —
     hot grams cost nothing extra (no explode of posting lists);
  3. span merging is the classic gaps-and-islands pair of window
     functions partitioned BY DOC — bounded by document length, never
     corpus-wide;
  4. the rollup is one keyed groupBy on source.
At 100 TB the only wide exchanges are the gram-count shuffle and the
semi join, both keyed — exactly the shape of dedup_exact scaled to
substrings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from spider_spark.catalog import Catalog
from spider_spark.text.analysis import tokens

K = 5  # gram width = the minimum duplicated run length detectable


def _grams(docs: DataFrame, k: int) -> DataFrame:
    """(doc_id, pos, gram): every k-gram start (0-based) per doc."""
    toks = tokens()
    base = docs.filter(F.col("text").isNotNull()).select(
        "doc_id", toks.alias("w"), F.size(toks).cast("long").alias("n_tok")
    )
    # arrays_zip of k shifted whole-array slices, not slice-inside-
    # transform: the per-element slice re-slices the token array once
    # per gram (measured 0.9 s vs 0.6 s at sf0.1 — and the gap grows
    # with document length, since the inner slice is O(k) copied per
    # element in the interpreted evaluator)
    nk = F.greatest(F.col("n_tok") - (k - 1), F.lit(0)).cast("int")
    zipped = F.arrays_zip(
        *[F.slice("w", i + 1, nk).alias(f"s{i}") for i in range(k)]
    )
    gram = F.transform(
        zipped, lambda x: F.concat_ws(" ", *[x[f"s{i}"] for i in range(k)])
    )
    return base.filter(F.col("n_tok") >= k).select(
        "doc_id", F.posexplode(gram).alias("pos", "gram")
    )


def duplicated_positions(docs: DataFrame, k: int = K) -> DataFrame:
    """(doc_id, pos) of every k-gram start whose gram occurs ≥2 times
    corpus-wide (0-based token position)."""
    grams = _grams(docs, k)
    dup = (
        grams.groupBy("gram")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") >= 2)
        .select("gram")
    )
    return grams.join(dup, "gram", "left_semi").select(
        "doc_id", F.col("pos").cast("long").alias("pos")
    )


def non_canonical_positions(docs: DataFrame, k: int = K) -> DataFrame:
    """(doc_id, pos) of duplicated k-gram starts EXCLUDING each gram's
    canonical first occurrence (min (doc_id, pos) corpus-wide) — the
    keep-one-copy removal policy of Lee et al. The rank is a window
    partitioned BY GRAM: a keyed shuffle whose partitions are single
    posting lists, streamed by row_number (no collect_list
    materialisation), so hot grams cost memory O(1)."""
    grams = _grams(docs, k)
    w_gram = Window.partitionBy("gram").orderBy("doc_id", "pos")
    return (
        grams.withColumn("rk", F.row_number().over(w_gram))
        .filter(F.col("rk") >= 2)
        .select("doc_id", F.col("pos").cast("long").alias("pos"))
    )


def substring_dedup_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source profile of the keep-first substring-dedup transform:
    (source, n_docs, removed_tokens, total_tokens, kept_share). Every
    token covered by a NON-FIRST occurrence of a duplicated k-gram is
    removed (spans merged before counting); each gram's canonical first
    occurrence survives, so the corpus keeps exactly one copy of every
    duplicated run — the Lee et al. policy at k-gram granularity."""
    docs = Catalog(spark, sf_dir).documents.filter(F.col("text").isNotNull())
    toks = tokens()
    base = docs.select(
        "doc_id", "source", F.size(toks).cast("long").alias("n_tok")
    )
    per_doc = (
        merge_spans(non_canonical_positions(docs, K), K)
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("span_end") - F.col("span_start") + 1)
            .cast("long")
            .alias("removed_tokens")
        )
    )
    return (
        base.join(per_doc, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.coalesce(F.sum("removed_tokens"), F.lit(0))
            .cast("long")
            .alias("removed_tokens"),
            F.sum("n_tok").cast("long").alias("total_tokens"),
            F.round(
                F.lit(1.0)
                - F.coalesce(F.sum("removed_tokens"), F.lit(0))
                / F.sum("n_tok").cast("double"),
                4,
            ).alias("kept_share"),
        )
    )


def merge_spans(hits: DataFrame, k: int = K) -> DataFrame:
    """Gaps-and-islands merge of covered intervals [pos, pos+k-1] into
    maximal spans: (doc_id, span_start, span_end). Two window functions
    over the same per-doc ordering — one shuffle."""
    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    prev_end = F.max(F.col("pos") + (k - 1)).over(w_prev)
    new_island = F.when(
        prev_end.isNull() | (F.col("pos") > prev_end + 1), 1
    ).otherwise(0)
    return (
        hits.withColumn("new_island", new_island)
        .withColumn("island", F.sum("new_island").over(w_run))
        .groupBy("doc_id", "island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + (k - 1)).alias("span_end"),
        )
        .select("doc_id", "span_start", "span_end")
    )


def duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source duplicated-substring profile: (source, n_docs,
    n_dup_docs, n_spans, dup_tokens, total_tokens, dup_share)."""
    docs = Catalog(spark, sf_dir).documents.filter(F.col("text").isNotNull())
    toks = tokens()
    base = docs.select(
        "doc_id", "source", F.size(toks).cast("long").alias("n_tok")
    )
    per_doc = (
        merge_spans(duplicated_positions(docs, K), K)
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_spans"),
            F.sum(F.col("span_end") - F.col("span_start") + 1)
            .cast("long")
            .alias("dup_tokens"),
        )
    )
    return (
        base.join(per_doc, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(F.when(F.col("n_spans") > 0, 1).otherwise(0))
            .cast("long")
            .alias("n_dup_docs"),
            F.coalesce(F.sum("n_spans"), F.lit(0)).cast("long").alias("n_spans"),
            F.coalesce(F.sum("dup_tokens"), F.lit(0))
            .cast("long")
            .alias("dup_tokens"),
            F.sum("n_tok").cast("long").alias("total_tokens"),
            F.round(
                F.coalesce(F.sum("dup_tokens"), F.lit(0))
                / F.sum("n_tok").cast("double"),
                4,
            ).alias("dup_share"),
        )
    )
