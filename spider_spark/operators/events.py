"""Event-stream batch analytics: sessionization, funnels, windowed counts.

The streaming twins of these live in ``spider_spark.streaming``; these
batch forms are oracle-checkable and share the same semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from spider_spark.catalog import Catalog

SESSION_GAP_MIN = 30


def sessionize_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (new session when >30 min since the user's
    previous event). lag + conditional cumsum: one shuffle on user_id, two
    linear window passes — scales with rows, not sessions."""
    ev = Catalog(spark, sf_dir).events
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_flag = (
        F.when(F.col("prev_ts").isNull(), 1)
        .when(
            F.col("ts").cast("long") - F.col("prev_ts").cast("long") > SESSION_GAP_MIN * 60,
            1,
        )
        .otherwise(0)
    )
    sessions = (
        ev.withColumn("prev_ts", F.lag("ts").over(w))
        .withColumn("new_session", gap_flag)
        .withColumn(
            "session_id",
            F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
    )
    return (
        sessions.groupBy("user_id", "session_id")
        .agg(
            F.count("*").alias("n_events"),
            (F.max(F.col("ts").cast("long")) - F.min(F.col("ts").cast("long"))).alias(
                "duration_s"
            ),
        )
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_sessions"),
            F.max("n_events").alias("max_session_events"),
            F.max("duration_s").alias("max_session_s"),
        )
    )


def event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel view → click → purchase (greedy earliest-stage
    timestamps; correct iff any ordered triple exists). Three conditional
    aggregations over one user_id shuffle — no self-joins."""
    ev = Catalog(spark, sf_dir).events.select("user_id", "event_type", "ts")
    first_view = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    clicks = ev.filter(F.col("event_type") == "click")
    first_click = (
        clicks.join(F.broadcast(first_view), "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"), F.first("t_view").alias("t_view"))
    )
    purchases = ev.filter(F.col("event_type") == "purchase")
    funnel = (
        purchases.join(F.broadcast(first_click), "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    return funnel.agg(F.count("*").alias("n_users_completed"))


def session_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native Spark session windows (gap 30 min): one groupBy, the engine
    merges overlapping [ts, ts+gap) intervals per key. Same semantics as
    the lag/cumsum formulation with a ≥-gap boundary (session_window's
    half-open intervals exclude an event exactly gap after the last)."""
    ev = Catalog(spark, sf_dir).events
    return (
        ev.groupBy(F.session_window("ts", f"{SESSION_GAP_MIN} minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            "user_id",
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format(F.col("w.end"), "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


def windowed_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window counts per event type (batch twin of the
    streaming windowed aggregation)."""
    ev = Catalog(spark, sf_dir).events
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


ERROR_RATE_THRESHOLD_BP = 3000  # 30% in basis points


def error_rate_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(hour, user) error-rate monitor with an alert flag
    (fetch-health alerting over crawl events). One windowed groupBy; the
    rate is floor'd basis points (single IEEE division, engine-stable)."""
    ev = Catalog(spark, sf_dir).events
    agg = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
            .cast("long")
            .alias("n_errors"),
        )
    )
    rate_bp = F.floor(F.col("n_errors") * 10000 / F.col("n_events")).cast("long")
    return agg.select(
        F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "user_id",
        "n_events",
        "n_errors",
        rate_bp.alias("error_rate_bp"),
        (rate_bp >= ERROR_RATE_THRESHOLD_BP).alias("alert"),
    )
