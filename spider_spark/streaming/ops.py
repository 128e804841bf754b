"""Structured Streaming operators over an events-shaped stream.

Each takes an (already streaming) DataFrame with the events schema
(event_id, ts, user_id, event_type, value, props) and returns the
transformed streaming DataFrame; the caller picks the sink/trigger.
Batch twins with identical semantics live in spider_spark.operators.events
and are oracle-checked — these are tested with availableNow + memory sink.

State-boundedness at scale: every stateful op here carries a watermark so
state is dropped once event time passes (no unbounded state at 100 TB/day
stream rates).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

SESSION_GAP_MIN = 30
WATERMARK = "2 hours"


def stream_windowed_counts(events: DataFrame, window: str = "1 hour") -> DataFrame:
    """Tumbling-window counts per event type with late-data handling."""
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def stream_session_windows(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Native streaming session windows: state merges as events arrive,
    sessions finalize when the watermark passes their end."""
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


def stream_dedup(events: DataFrame) -> DataFrame:
    """Drop duplicate event_ids arriving within the watermark horizon —
    state is bounded by the watermark, not the stream length."""
    return events.withWatermark("ts", WATERMARK).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def stream_stream_join(events: DataFrame) -> DataFrame:
    """Stream-stream join: each purchase joined to the same user's view
    events within the preceding 30 minutes. Both sides carry watermarks
    so the join state is bounded — Spark drops buffered views once the
    watermark passes the join window."""
    views = (
        events.filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("v_ts"),
            F.col("event_id").alias("view_id"),
        )
        .withWatermark("v_ts", WATERMARK)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("event_id").alias("purchase_id"),
        )
        .withWatermark("p_ts", WATERMARK)
    )
    return purchases.join(
        views,
        (F.col("p_user") == F.col("v_user"))
        & (F.col("v_ts") <= F.col("p_ts"))
        & (F.col("v_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES")),
    ).select("purchase_id", "view_id", F.col("p_user").alias("user_id"))


SESSION_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_start", T.TimestampType()),
        T.StructField("session_end", T.TimestampType()),
        T.StructField("n_events", T.LongType()),
    ]
)

SESSION_STATE_SCHEMA = T.StructType(
    [
        T.StructField("start_s", T.DoubleType()),
        T.StructField("last_s", T.DoubleType()),
        T.StructField("n_events", T.LongType()),
    ]
)


def _session_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Custom stateful session operator (applyInPandasWithState).

    Emits a session row whenever a gap > SESSION_GAP_MIN is seen between
    consecutive events of a user, keeping only (start, last, count) as
    state. Timeout closes the trailing session.
    """
    gap_s = SESSION_GAP_MIN * 60.0

    def _ts(seconds: float) -> pd.Timestamp:
        # microsecond-precision, tz-aware: Arrow rejects stray nanoseconds
        return pd.Timestamp(round(seconds * 1_000_000), unit="us", tz="UTC")

    if state.hasTimedOut:
        start_s, last_s, n = state.get
        state.remove()
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "session_start": [_ts(start_s)],
                "session_end": [_ts(last_s)],
                "n_events": [n],
            }
        )
        return

    ts = (
        pd.concat([p["ts"] for p in pdfs])
        .sort_values()
        .map(lambda t: t.timestamp())
        .tolist()
    )
    if state.exists:
        start_s, last_s, n = state.get
    else:
        start_s, last_s, n = ts[0], ts[0], 0

    out = []
    for t in ts:
        if t - last_s > gap_s:
            out.append((start_s, last_s, n))
            start_s, n = t, 0
        last_s = t
        n += 1
    state.update((start_s, last_s, n))
    state.setTimeoutDuration(int(gap_s * 1000))
    if out:
        yield pd.DataFrame(
            {
                "user_id": [key[0]] * len(out),
                "session_start": [_ts(s) for s, _, _ in out],
                "session_end": [_ts(e) for _, e, _ in out],
                "n_events": [c for _, _, c in out],
            }
        )


def stream_sessionize(events: DataFrame) -> DataFrame:
    """Gap-based sessions as a custom stateful streaming operator."""
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy("user_id")
        .applyInPandasWithState(
            _session_fn,
            outputStructType=SESSION_OUTPUT_SCHEMA,
            stateStructType=SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
        )
    )


def stream_corpus_filter(docs: DataFrame) -> DataFrame:
    """Streaming crawl-shard ingest filter: as document shards land, score
    quality and scan for PII in one narrow stateless pass, keeping only
    passing docs (append mode, zero state — scales to any shard rate).

    Shares the exact scoring/redaction expressions with the
    oracle-checked batch twins (text.analysis.score_quality,
    text.pii.pii_signals), so streaming output == batch output on the
    same input — asserted in tests/test_streaming.py.
    """
    # No self-joins on a stream (they would allocate join state): both
    # gates are pure column expressions, evaluated in ONE narrow select.
    from spider_spark.text.analysis import quality_score_col
    from spider_spark.text.pii import pii_hits_col

    return (
        docs.filter(F.col("text").isNotNull())
        .select(
            "doc_id",
            "source",
            "lang",
            "n_chars",
            quality_score_col().alias("score"),
            (pii_hits_col() == 0).alias("_clean"),
        )
        .filter((F.col("score") >= 0.8) & F.col("_clean"))
        .drop("_clean")
    )


def stream_error_monitor(events: DataFrame) -> DataFrame:
    """Streaming fetch-health alerting: per-(hour window, user) error
    rates with an alert flag, watermark-bounded window state. Batch twin
    (identical expressions): operators.events.error_rate_monitor —
    equality on the same input asserted in tests."""
    from spider_spark.operators.events import ERROR_RATE_THRESHOLD_BP

    agg = (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "1 hour").alias("w"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
            .cast("long")
            .alias("n_errors"),
        )
    )
    rate_bp = F.floor(F.col("n_errors") * 10000 / F.col("n_events")).cast("long")
    return agg.select(
        F.col("w.start").alias("window_start"),
        "user_id",
        "n_events",
        "n_errors",
        rate_bp.alias("error_rate_bp"),
        (rate_bp >= ERROR_RATE_THRESHOLD_BP).alias("alert"),
    )


def stream_static_enrich(events: DataFrame, user_dim: DataFrame) -> DataFrame:
    """Stream-static enrichment: join the event stream against a static
    dimension (broadcast — the stream side never shuffles and carries no
    join state, unlike stream-stream joins). The canonical 'attach user
    metadata to a clickstream' pattern."""
    return events.join(F.broadcast(user_dim), "user_id", "left_outer").select(
        "event_id", "ts", "user_id", "event_type", "value", "segment"
    )


# ------------------------------------------------------------------
# Streaming seen-before dedup gate (Bloom filter maintained across
# micro-batches). Parameters are LARGER than the batch demo sketch in
# operators/sketches.py: the gate must keep its false-positive rate
# (an FP silently DROPS a never-seen document) negligible at the
# corpus sizes a shard stream accumulates. Bits are persisted as an
# append-only parquet log of set bit positions — Bloom state is
# monotone, so append-only is both crash-safe under micro-batch
# retries (duplicate appends are idempotent after distinct) and free
# of the read-then-overwrite race a rewritten state file would have.
BLOOM_GATE_BITS = 1 << 17
BLOOM_GATE_HASHES = 5
BLOOM_BITS_SCHEMA = "bit bigint"  # what doc_bloom_bits writes


def doc_bloom_bits(fps: DataFrame, fp_col: str = "fp") -> DataFrame:
    """Distinct Bloom bit positions for a fingerprint relation."""
    from spider_spark.operators.sketches import _md5_bucket

    ks = F.explode(F.sequence(F.lit(0), F.lit(BLOOM_GATE_HASHES - 1))).alias("k")
    return (
        fps.select(fp_col, ks)
        .select(_md5_bucket(F.col(fp_col), F.col("k"), BLOOM_GATE_BITS).alias("bit"))
        .distinct()
    )


def bloom_unseen(batch: DataFrame, bits: DataFrame, fp_col: str = "fp") -> DataFrame:
    """Rows of ``batch`` whose fingerprint is NOT (all hashes set) in
    the Bloom bit relation. The bit table is O(m) and broadcast; the
    batch side never shuffles for the probe."""
    from spider_spark.operators.sketches import _md5_bucket

    ks = F.explode(F.sequence(F.lit(0), F.lit(BLOOM_GATE_HASHES - 1))).alias("k")
    probe = batch.select(fp_col, ks).select(
        fp_col, _md5_bucket(F.col(fp_col), F.col("k"), BLOOM_GATE_BITS).alias("bit")
    )
    seen = (
        probe.join(F.broadcast(bits), "bit", "left_semi")
        .groupBy(fp_col)
        .agg(F.count("*").alias("n_set"))
        .filter(F.col("n_set") == BLOOM_GATE_HASHES)
        .select(fp_col)
    )
    return batch.join(seen, fp_col, "left_anti")


def corpus_filter_dedup_sink(state_dir: str, out_dir: str):
    """foreachBatch sink composing the full streaming ingest gate:
    quality + PII (the stream_corpus_filter expressions) -> exact
    within-batch dedup -> Bloom seen-before drop against all PRIOR
    micro-batches -> append kept docs to ``out_dir`` and the kept
    docs' bits to the Bloom log. Re-ingested duplicate shards produce
    zero output rows (tested); state is O(BLOOM_GATE_BITS) however
    many shards stream through."""
    from pyspark.errors import AnalysisException

    from spider_spark.text.analysis import quality_score_col
    from spider_spark.text.pii import pii_hits_col

    bits_path = f"{state_dir}/bloom_bits"

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        kept = (
            batch_df.filter(F.col("text").isNotNull())
            .select(
                "doc_id",
                "source",
                "lang",
                "n_chars",
                quality_score_col().alias("score"),
                (pii_hits_col() == 0).alias("_clean"),
                F.md5("text").alias("fp"),
            )
            .filter((F.col("score") >= 0.8) & F.col("_clean"))
            .drop("_clean")
            .dropDuplicates(["fp"])
        )
        try:
            bits = spark.read.schema(BLOOM_BITS_SCHEMA).parquet(bits_path).distinct()
        except AnalysisException:
            bits = None
        if bits is not None:
            kept = bloom_unseen(kept, bits)
        kept = kept.localCheckpoint()  # two consumers; avoid recompute drift
        kept.withColumn("batch_id", F.lit(batch_id)).write.mode("append").parquet(
            out_dir
        )
        doc_bloom_bits(kept.select("fp")).write.mode("append").parquet(bits_path)

    return sink


# ------------------------------------------------------------------
# Streaming CDC merge: maintain a latest-wins keyed table across
# micro-batches (the streaming twin of operators.cdc.merge_upsert).
# State is written as versioned snapshot directories (one per batch id)
# — re-running a batch overwrites ITS OWN snapshot, so micro-batch
# retries are idempotent, and readers always see a complete snapshot
# (never a half-written merge). Tombstones stay IN the state so a
# late-arriving lower-version row can never resurrect a deleted key;
# read_merged_state filters them at the edge.

def _latest_state_path(state_dir: str) -> str | None:
    import glob
    import os

    snaps = sorted(glob.glob(os.path.join(state_dir, "v*")))
    return snaps[-1] if snaps else None


def cdc_merge_sink(state_dir: str):
    """foreachBatch sink: merge each micro-batch of (key, version,
    is_delete, payload...) rows into the running latest-wins state."""
    from pyspark.sql import Window

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        prev = _latest_state_path(state_dir)
        cur = spark.read.parquet(prev) if prev else None
        merged = batch_df if cur is None else cur.unionByName(batch_df)
        w = Window.partitionBy("doc_id").orderBy(
            F.desc("version"), F.desc("is_delete")
        )
        out = (
            merged.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        out.write.mode("overwrite").parquet(f"{state_dir}/v{batch_id:09d}")

    return sink


def read_merged_state(spark, state_dir: str) -> DataFrame:
    """The queryable merged table: latest snapshot minus tombstones."""
    path = _latest_state_path(state_dir)
    return spark.read.parquet(path).filter(~F.col("is_delete")).drop("is_delete")


# ------------------------------------------------------------------
# transformWithStateInPandas (Spark 4): the arbitrary-stateful-operator
# API that replaces applyInPandasWithState — typed per-key state
# handles, timers, TTL. Demonstrated here as a per-user running
# aggregate whose state survives across micro-batches.
#
# Environment note: executing it needs (a) the RocksDB state store
# provider and (b) google.protobuf for the Python<->JVM state server;
# this container ships no protobuf, so the test is importorskip-gated
# (the applyInPandasWithState sessionizer above covers the executed
# arbitrary-state path).

def stream_user_totals(events: DataFrame) -> DataFrame:
    """Per-user running (event count, value total) maintained in a
    ValueState across micro-batches; each batch emits the user's new
    running totals (Update mode). State is one fixed-width tuple per
    user — bounded by cardinality, not stream length."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("totals", "n long, total double")

        def handleInputRows(self, key, rows, timerValues):
            n, total = (0, 0.0)
            if self._state.exists():
                n, total = self._state.get()
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].sum())
            self._state.update((n, total))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
            )

        def close(self) -> None:
            pass

    return (
        events.select("user_id", "value")
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=RunningTotals(),
            outputStructType="user_id long, n_events long, total_value double",
            outputMode="Update",
            timeMode="None",
        )
    )
