"""Structured Streaming: the crawl-ingest gate and the file-source
contracts it relies on, run with availableNow triggers and checked
against the batch twins (identical semantics)."""

from __future__ import annotations

from pyspark.sql import functions as F

from spider_spark.catalog import SCHEMAS
from tests.conftest import SF_DIR


def test_stream_corpus_filter_matches_batch(spark, tmp_path):
    """Streaming crawl-shard ingest: docs dir -> quality+PII gate ->
    memory sink; output row set equals the batch twin (stateless op)."""
    import uuid

    from spider_spark.streaming.ops import _passing_docs

    docs_dir = str(tmp_path / "docs")
    spark.read.schema(SCHEMAS["documents"]).parquet(
        f"{SF_DIR}/documents.parquet"
    ).write.parquet(docs_dir)

    name = f"corpus_{uuid.uuid4().hex[:8]}"
    stream = spark.readStream.schema(SCHEMAS["documents"]).parquet(docs_dir)
    q = (
        _passing_docs(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.doc_id, r.source, r.lang, r.n_chars, r.score)
        for r in spark.sql(f"SELECT * FROM {name}").collect()
    }
    batch = _passing_docs(
        spark.read.schema(SCHEMAS["documents"]).parquet(docs_dir)
    )
    want = {
        (r.doc_id, r.source, r.lang, r.n_chars, r.score) for r in batch.collect()
    }
    assert got == want and len(want) > 0


def test_stream_checkpoint_restart_no_duplicates(spark, cat, tmp_path):
    """Exactly-once file-source progress: stop a checkpointed stream
    mid-way, restart from the same checkpoint, and verify the sink holds
    every input row exactly once."""
    import uuid as _uuid

    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    ev = cat.events
    # two source files, delivered one per micro-batch
    ev.filter(F.col("event_id") % 2 == 0).write.parquet(src)
    ev.filter(F.col("event_id") % 2 == 1).write.mode("append").parquet(src)

    def run_once():
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        q = (
            stream.select("event_id", "event_type")
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    first_pass = spark.read.parquet(sink).count()
    run_once()  # restart from checkpoint: nothing new to process
    got = spark.read.parquet(sink).select("event_id").collect()
    assert first_pass == len(got) == ev.count()
    assert len({r["event_id"] for r in got}) == ev.count(), "duplicates after restart"


def test_stream_rate_limited_batches(spark, cat, tmp_path):
    """maxFilesPerTrigger backpressure: N source files arrive as N
    micro-batches, each observed by foreachBatch."""
    src = str(tmp_path / "src")
    for i in range(3):
        cat.events.filter(F.col("event_id") % 3 == i).write.mode("append").parquet(src)
    seen: list[tuple[int, int]] = []

    def sink(batch_df, batch_id: int) -> None:
        seen.append((batch_id, batch_df.count()))

    stream = (
        spark.readStream.schema(cat.events.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = stream.writeStream.foreachBatch(sink).trigger(availableNow=True).start()
    q.awaitTermination(120)
    assert len(seen) >= 3, f"expected >=3 rate-limited batches, saw {seen}"
    assert sum(n for _, n in seen) == cat.events.count()


def test_stream_sketch_merge_equals_batch(spark, cat, tmp_path):
    """Incremental sketch maintenance: per-micro-batch Count-Min partial
    cells merged into a running store (union + groupBy sum in
    foreachBatch) equal the batch sketch over all data — the
    mergeability property that makes sketches work on streams."""
    import uuid as _uuid

    from pyspark.sql import functions as F
    from spider_spark.operators.sketches import CMS_DEPTH, CMS_WIDTH, _md5_bucket

    def sketch_cells(df):
        words = df.select(
            F.explode(F.split(F.lower(F.col("event_type")), r"\s+")).alias("w")
        ).filter(F.col("w") != "")
        rows = words.select(
            "w", F.explode(F.sequence(F.lit(0), F.lit(CMS_DEPTH - 1))).alias("j")
        )
        return (
            rows.select("j", _md5_bucket(F.col("w"), F.col("j"), CMS_WIDTH).alias("b"))
            .groupBy("j", "b")
            .agg(F.count("*").alias("cell"))
        )

    store = str(tmp_path / "sketch_store")
    src = str(tmp_path / "src")
    for i in range(3):
        cat.events.filter(F.col("event_id") % 3 == i).write.mode("append").parquet(src)

    def merge(batch_df, batch_id: int) -> None:
        part = sketch_cells(batch_df)
        try:
            prev = spark.read.parquet(store)
            part = prev.unionByName(part).groupBy("j", "b").agg(
                F.sum("cell").alias("cell")
            )
        except Exception:
            pass
        part.write.mode("overwrite").parquet(store + "_next")
        spark.read.parquet(store + "_next").write.mode("overwrite").parquet(store)

    stream = (
        spark.readStream.schema(cat.events.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = stream.writeStream.foreachBatch(merge).trigger(availableNow=True).start()
    q.awaitTermination(180)

    merged = {
        (r["j"], r["b"]): r["cell"] for r in spark.read.parquet(store).collect()
    }
    batch = {
        (r["j"], r["b"]): r["cell"] for r in sketch_cells(cat.events).collect()
    }
    assert merged == batch


def test_stream_bloom_dedup_gate(spark, tmp_path):
    """Seen-before Bloom gate in the streaming ingest: re-ingested
    duplicate shards are dropped entirely, never-seen docs all pass
    (no FPs at this fill factor), and the merged append-only bit log
    equals the batch-built Bloom over the kept corpus."""
    from spider_spark.streaming.ops import (
        corpus_filter_dedup_sink,
        doc_bloom_bits,
    )
    from spider_spark.text.analysis import quality_score_col
    from spider_spark.text.pii import pii_hits_col

    docs = spark.read.schema(SCHEMAS["documents"]).parquet(
        f"{SF_DIR}/documents.parquet"
    )
    shards = str(tmp_path / "shards")
    docs.write.parquet(shards)  # shard 1
    docs.write.mode("append").parquet(shards)  # shard 2: exact re-ingest
    fresh = docs.withColumn("text", F.concat(F.col("text"), F.lit(" fresh9")))
    fresh.write.mode("append").parquet(shards)  # shard 3: never seen

    out_dir = str(tmp_path / "kept")
    state_dir = str(tmp_path / "state")
    stream = (
        spark.readStream.schema(SCHEMAS["documents"])
        .option("maxFilesPerTrigger", 1)
        .parquet(shards)
    )
    q = (
        stream.writeStream.foreachBatch(
            corpus_filter_dedup_sink(state_dir, out_dir)
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = spark.read.parquet(out_dir)
    fps = [r.fp for r in got.select("fp").collect()]
    assert len(fps) == len(set(fps)), "a fingerprint passed the gate twice"

    # expected: quality+PII gate over shard1 ∪ shard3, deduped by fp
    def gate(df):
        return (
            df.filter(F.col("text").isNotNull())
            .select(F.md5("text").alias("fp"), quality_score_col().alias("score"),
                    (pii_hits_col() == 0).alias("clean"))
            .filter((F.col("score") >= 0.8) & F.col("clean"))
            .select("fp")
        )

    want = {r.fp for r in gate(docs).union(gate(fresh)).distinct().collect()}
    assert want, "fixture produced an empty pass set"
    assert set(fps) == want, "gate dropped or invented a document"

    # the duplicate shard's batch contributed zero rows
    batch_ids = {r.batch_id for r in got.select("batch_id").distinct().collect()}
    assert len(batch_ids) == 2, f"expected 2 contributing batches, got {batch_ids}"

    # merged streaming bit log == batch Bloom over the kept corpus
    merged = {
        r.bit
        for r in spark.read.parquet(f"{state_dir}/bloom_bits").distinct().collect()
    }
    batch_bits = {
        r.bit for r in doc_bloom_bits(got.select("fp").distinct()).collect()
    }
    assert merged == batch_bits


def test_stream_media_decode_matches_batch(spark, tmp_path):
    """Streaming media ingest: docs dir -> real BMP/WAV payloads ->
    container-sniffing decode -> memory sink. decode_pipeline is two
    stateless Arrow passes, so it runs UNCHANGED on a streaming input
    and must equal the batch twin row-for-row."""
    import uuid

    from spider_spark.multimodal.payload import decode_pipeline

    docs_dir = str(tmp_path / "mdocs")
    spark.read.schema(SCHEMAS["documents"]).parquet(
        f"{SF_DIR}/documents.parquet"
    ).limit(60).write.parquet(docs_dir)

    name = f"mdec_{uuid.uuid4().hex[:8]}"
    stream = spark.readStream.schema(SCHEMAS["documents"]).parquet(docs_dir)
    q = (
        decode_pipeline(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    key = lambda r: (
        r.doc_id, r.modality, r.byte_len, r.width, r.height,
        r.sample_rate, r.real_decode, tuple(r.feature),
    )
    got = {key(r) for r in spark.sql(f"SELECT * FROM {name}").collect()}
    want = {
        key(r)
        for r in decode_pipeline(
            spark.read.schema(SCHEMAS["documents"]).parquet(docs_dir)
        ).collect()
    }
    assert got == want and got, "streaming decode must equal batch twin"
