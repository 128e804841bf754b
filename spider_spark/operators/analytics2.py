"""Second analytics batch: Markov event transitions, time-series gap
filling with linear interpolation, quantile length buckets, and
temperature-based training-data mix weights.

All JVM-expression work. Floating-point hygiene: probabilities are
emitted as floor'd basis points (one IEEE division + floor — bit-exact
across engines) instead of rounded ratios, which can land on .xxxx5
half-way doubles where Spark (BigDecimal HALF_UP) and DuckDB disagree.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from spider_spark.catalog import Catalog


def event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov transition matrix of consecutive event types per user:
    (from_type, to_type, n, prob_bp). One window per user (shuffle keyed
    on user_id) + one pair aggregation; the per-from totals ride in via
    a second small aggregation joined broadcast."""
    ev = Catalog(spark, sf_dir).events
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .filter(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count("*").cast("long").alias("n"))
    )
    totals = pairs.groupBy("from_type").agg(F.sum("n").alias("from_total"))
    return pairs.join(F.broadcast(totals), "from_type").select(
        "from_type",
        "to_type",
        "n",
        F.col("from_total").cast("long").alias("from_total"),
        F.floor(F.col("n") * 10000 / F.col("from_total")).cast("long").alias("prob_bp"),
    )


GAP_EVENT_TYPE = "purchase"


def gap_fill_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly value series for one event type with missing hours
    linearly interpolated: build the full hour spine between the
    observed min/max hour (sequence explode off a 1-row aggregate),
    left-join the observed sums, then bridge gaps with the last/next
    non-null values and their row distances (IGNORE NULLS windows).

    Scale shape: the spine is O(hours) — tiny next to the event scan;
    the two global windows order by hour, which at 100 TB would be
    partitioned by (series key) — here there is a single series so the
    sort is the full spine, still O(hours)."""
    ev = Catalog(spark, sf_dir).events.filter(F.col("event_type") == GAP_EVENT_TYPE)
    hourly = ev.groupBy(F.date_trunc("hour", "ts").alias("hour")).agg(
        F.count("*").cast("long").alias("n_events"),
        F.sum("value").alias("v"),
    )
    span = hourly.agg(F.min("hour").alias("lo"), F.max("hour").alias("hi"))
    spine = span.select(
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
        ).alias("hour")
    )
    joined = spine.join(hourly, "hour", "left_outer")
    w = Window.orderBy("hour")
    rn = F.row_number().over(w)
    g = joined.select(
        "hour",
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
        "v",
        rn.alias("rn"),
    )
    wp = Window.orderBy("hour").rowsBetween(Window.unboundedPreceding, 0)
    wn = Window.orderBy("hour").rowsBetween(0, Window.unboundedFollowing)
    prev_v = F.last("v", ignorenulls=True).over(wp)
    next_v = F.first("v", ignorenulls=True).over(wn)
    prev_rn = F.last(F.when(F.col("v").isNotNull(), F.col("rn")), ignorenulls=True).over(wp)
    next_rn = F.first(F.when(F.col("v").isNotNull(), F.col("rn")), ignorenulls=True).over(wn)
    filled = F.when(F.col("v").isNotNull(), F.col("v")).otherwise(
        prev_v + (next_v - prev_v) * (F.col("rn") - prev_rn) / (next_rn - prev_rn)
    )
    return g.select(
        F.date_format("hour", "yyyy-MM-dd HH:mm:ss").alias("hour"),
        "n_events",
        # 4 dp, not 2: gap midpoints of 2-decimal sums land EXACTLY on
        # .xx5 half-way points where Spark/DuckDB rounding disagrees
        F.round(filled, 4).alias("value_filled"),
        F.col("v").isNull().alias("interpolated"),
    )


def length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile buckets of document length (ntile over n_chars, doc_id
    tiebreak) with per-bucket inventory — the length-balanced sharding a
    tokenizer pipeline uses. The decile assignment is a two-phase exact
    global rank (operators/ranking.py): range-partitioned local rank +
    cumulative offsets, not an unpartitioned ntile window (which would
    move the whole corpus to one partition)."""
    from spider_spark.operators.ranking import with_global_ntile

    docs = Catalog(spark, sf_dir).documents
    return (
        with_global_ntile(
            docs.select("doc_id", "n_chars"),
            [F.asc("n_chars"), F.asc("doc_id")],
            10,
            out="bucket",
        )
        .groupBy("bucket")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.min("n_chars").cast("long").alias("min_chars"),
            F.max("n_chars").cast("long").alias("max_chars"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
        )
    )


MIX_ALPHA = 0.7


def data_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based data-mix reweighting per source (the
    multinomial-sampling alpha scheme multilingual/multi-domain training
    uses): raw char share p_s, tempered weight p_s^α / Σ p_s^α, and the
    implied up/down-sampling factor. Two tiny aggregations + one
    broadcast of the 1-row denominators."""
    docs = Catalog(spark, sf_dir).documents
    per_src = docs.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
    )
    denom = per_src.agg(
        F.sum("sum_chars").cast("double").alias("total_chars"),
        F.sum(F.pow(F.col("sum_chars").cast("double"), F.lit(MIX_ALPHA))).alias(
            "total_pow"
        ),
    )
    j = per_src.crossJoin(F.broadcast(denom))
    share = F.col("sum_chars") / F.col("total_chars")
    weight = F.pow(F.col("sum_chars").cast("double"), F.lit(MIX_ALPHA)) / F.col(
        "total_pow"
    )
    return j.select(
        "source",
        "n_docs",
        "sum_chars",
        F.round(share, 4).alias("raw_share"),
        F.round(weight, 4).alias("mix_weight"),
        F.round(weight / share, 4).alias("upsample_factor"),
    )


def unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long unpivot (melt) of the per-host fetch-health table:
    (domain, metric, value) rows via the native unpivot operator — the
    shape metric stores and plotting layers ingest. Narrow after the
    upstream agg; output is rows × metrics."""
    from spider_spark.text.fetch import fetch_stats

    wide = fetch_stats(spark, sf_dir)
    return wide.unpivot(
        "domain",
        ["n_fetches", "n_ok", "n_redirect", "n_4xx", "n_5xx", "sum_latency_ms", "ok_bytes"],
        "metric",
        "value",
    ).select("domain", "metric", F.col("value").cast("long").alias("value"))


def event_type_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user behavioural profile as a compact sorted map string
    ("click=12,error=3,…") — collect_list of (type, n) structs sorted
    in-array, then JVM-side string assembly. The map-typed column
    pattern with a deterministic, engine-comparable serialisation."""
    ev = Catalog(spark, sf_dir).events
    per = ev.groupBy("user_id", "event_type").agg(F.count("*").alias("n"))
    entries = per.groupBy("user_id").agg(
        F.array_sort(
            F.collect_list(F.struct("event_type", "n"))
        ).alias("es"),
        F.sum("n").cast("long").alias("n_events"),
    )
    profile = F.array_join(
        F.transform(
            F.col("es"),
            lambda e: F.concat(e.event_type, F.lit("="), e.n.cast("string")),
        ),
        ",",
    )
    return entries.select("user_id", "n_events", profile.alias("profile"))


def variant_props_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured event properties through the VARIANT type (new
    in Spark 4): props JSON is parsed ONCE into a variant value and
    fields are extracted with variant_get — the engine-native path for
    schema-on-read JSON at scale (binary-encoded variant beats
    re-parsing JSON strings per extraction, and extraction pushes into
    the scan when variant shredding lands). Aggregates are exact
    integers; oracle re-extracts with DuckDB's JSON operators."""
    ev = Catalog(spark, sf_dir).events
    k = F.expr("variant_get(parse_json(props), '$.k', 'long')")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.count_if(F.col("k").isNull()).cast("long").alias("n_missing"),
        )
    )
