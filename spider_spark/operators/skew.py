"""Skew mitigation: salted two-phase aggregation.

AQE's skew-join splitting handles skewed joins at runtime; it cannot fix
a single hot GROUP BY key whose partial aggregate still overwhelms one
reducer. Salting the key spreads that key over N_SALTS reducers.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

N_SALTS = 16


def salted_agg(
    df: DataFrame,
    keys: list[str],
    aggs: dict[str, Column],
) -> DataFrame:
    """Two-phase aggregation: phase 1 groups on (keys, random-ish salt)
    so a hot key spreads over N_SALTS reducers; phase 2 merges the
    partials. Only algebraic aggregates (sum/count/min/max) are valid —
    the caller passes phase-1 exprs and this recombines by summing sums,
    summing counts, min-of-mins, max-of-maxes.

    ``aggs`` maps output name → phase-1 aggregate expression. The merge
    function is chosen from the expression's first token (sum/count →
    sum, min → min, max → max).
    """
    salt = F.pmod(F.xxhash64(*[F.col(k) for k in keys], F.monotonically_increasing_id()), F.lit(N_SALTS))
    phase1 = (
        df.withColumn("_salt", salt)
        .groupBy(*keys, "_salt")
        .agg(*[expr.alias(name) for name, expr in aggs.items()])
    )
    merges = []
    for name in aggs:
        fn = str(aggs[name]._jc).lower()  # noqa: SLF001
        if fn.startswith("min"):
            merges.append(F.min(name).alias(name))
        elif fn.startswith("max"):
            merges.append(F.max(name).alias(name))
        else:  # sum / count partials merge by summing
            merges.append(F.sum(name).alias(name))
    return phase1.groupBy(*keys).agg(*merges)


def skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """queries() wrapper proving the salted two-phase aggregation
    end-to-end: per-event-type totals over the events table (event_type
    is the canonical hot key — a handful of values over millions of
    rows) computed via salted partials, oracle = the plain GROUP BY.
    Count and sum are algebraic, so salting is exact, not approximate."""
    from spider_spark.catalog import Catalog

    ev = Catalog(spark, sf_dir).events
    out = salted_agg(
        ev.select("event_type", "value"),
        keys=["event_type"],
        aggs={
            "n_events": F.count("*").cast("long"),
            "sum_value": F.sum("value"),
            "max_value": F.max("value"),
        },
    )
    return out.select(
        "event_type",
        F.col("n_events").cast("long").alias("n_events"),
        F.round("sum_value", 2).alias("sum_value"),
        F.round("max_value", 2).alias("max_value"),
    )
