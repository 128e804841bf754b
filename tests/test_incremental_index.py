"""Streaming incremental LSH index (streaming/incremental_index.py):
micro-batch merges must leave the state bit-identical to a full rebuild
on the union corpus — the invariant that makes the stored artifact
safely appendable instead of rebuild-only."""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from spider_spark.dedup.minhash import lsh_candidates_est
from spider_spark.streaming.incremental_index import (
    DOC_SCHEMA,
    init_state,
    merge_batch,
    merge_batch_loop,
    stored_candidates,
    stream_merge,
)


def _pairs_key(rows):
    return sorted((r.doc_id_1, r.doc_id_2, r.est_jaccard) for r in rows)


def test_merge_batch_equals_full_rebuild(spark, cat, tmp_path):
    docs = cat.documents.select("doc_id", "text")
    base = docs.filter(F.col("doc_id") % 4 != 0)
    delta = docs.filter(F.col("doc_id") % 4 == 0)
    state = str(tmp_path / "state")

    init_state(spark, state, base)
    n_base = stored_candidates(spark, state).count()

    new_pairs = merge_batch(spark, state, delta).collect()
    merged = stored_candidates(spark, state)

    full = lsh_candidates_est(docs, cap=None)
    assert _pairs_key(merged.collect()) == _pairs_key(full.collect())
    # the merge appended exactly the pairs it returned — no rescans
    assert merged.count() == n_base + len(new_pairs)
    assert len(new_pairs) > 0, "delta must introduce pairs for the test to bite"


def test_stream_merge_two_shards_equals_full_rebuild(spark, cat, tmp_path):
    docs = cat.documents.select("doc_id", "text")
    base = docs.filter(F.col("doc_id") % 4 != 0)
    delta = docs.filter(F.col("doc_id") % 4 == 0)
    state = str(tmp_path / "state")
    src = str(tmp_path / "arrivals")
    ckpt = str(tmp_path / "ckpt")

    init_state(spark, state, base)
    # two arrival shards -> (with maxFilesPerTrigger=1) at least two
    # micro-batches, so the second merge probes postings that already
    # include the first batch's docs
    delta.filter(F.col("doc_id") % 8 == 0).coalesce(1).write.mode("append").parquet(src)
    delta.filter(F.col("doc_id") % 8 != 0).coalesce(1).write.mode("append").parquet(src)

    q = stream_merge(spark, state, src, ckpt)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    merged = stored_candidates(spark, state)
    full = lsh_candidates_est(docs, cap=None)
    assert _pairs_key(merged.collect()) == _pairs_key(full.collect())


# --- the driver twin (merge_batch below SMALL_INDEX_DOCS) vs the loop ------


def _split(cat):
    docs = cat.documents.select("doc_id", "text")
    return docs, docs.filter(F.col("doc_id") % 4 != 0), docs.filter(F.col("doc_id") % 4 == 0)


def _init(spark, docs, path):
    init_state(spark, str(path), docs)
    return str(path)


def _table_key(spark, state, name):
    from spider_spark.streaming.incremental_index import _TABLES

    rows = spark.read.schema(_TABLES[name]).parquet(f"{state}/{name}").collect()
    return sorted(tuple(tuple(v) if isinstance(v, list) else v for v in r) for r in rows)


def _same_state(spark, a, b):
    for name in ("signatures", "postings", "candidates"):
        assert _table_key(spark, a, name) == _table_key(spark, b, name), name


def _state_files(state):
    return {n: sorted(os.listdir(f"{state}/{n}")) for n in ("signatures", "postings", "candidates")}


def _twin_and_loop(spark, state, batch, tmp_path):
    """merge_batch and merge_batch_loop on two copies of ``state``:
    the two returned pair sets and the two states must agree."""
    twin, loop = str(tmp_path / "twin"), str(tmp_path / "loop")
    shutil.copytree(state, twin)
    shutil.copytree(state, loop)
    got = merge_batch(spark, twin, batch).collect()
    want = merge_batch_loop(spark, loop, batch).collect()
    assert _pairs_key(got) == _pairs_key(want)
    _same_state(spark, twin, loop)
    return twin, got


def test_twin_merge_equals_loop_on_spark_written_state(spark, cat, tmp_path):
    docs, base, delta = _split(cat)
    state = _init(spark, base.limit(0), tmp_path / "state")  # an empty state
    merge_batch_loop(spark, state, base)  # the Spark-written bootstrap
    _same_state(spark, state, _init(spark, base, tmp_path / "rebuild"))

    twin, got = _twin_and_loop(spark, state, delta, tmp_path)
    assert got, "delta must introduce pairs for the test to bite"
    full = lsh_candidates_est(docs, cap=None).collect()
    assert _pairs_key(stored_candidates(spark, twin).collect()) == _pairs_key(full)


def test_loop_reads_twin_written_state(spark, cat, tmp_path):
    docs, base, delta = _split(cat)
    state = _init(spark, base, tmp_path / "state")
    merge_batch(spark, state, delta.filter(F.col("doc_id") % 8 == 0))
    # the second batch, by both paths, over the twin-written state
    twin, _ = _twin_and_loop(spark, state, delta.filter(F.col("doc_id") % 8 != 0), tmp_path)
    full = lsh_candidates_est(docs, cap=None).collect()
    assert _pairs_key(stored_candidates(spark, twin).collect()) == _pairs_key(full)


def test_twin_and_loop_agree_on_empty_and_short_batches(spark, cat, tmp_path):
    _, base, _ = _split(cat)
    state = _init(spark, base, tmp_path / "state")
    short = spark.createDataFrame([(10**9, "too short"), (10**9 + 1, None)], DOC_SCHEMA)
    for i, batch in enumerate([base.limit(0), short]):
        _, got = _twin_and_loop(spark, state, batch, tmp_path / str(i))
        assert got == []


def test_twin_replay_rewrites_its_own_files(spark, cat, tmp_path):
    """A replayed micro-batch (at-least-once foreachBatch) leaves the
    state equal to init_state over the union, with one file per table
    per batch: the twin names each file by the batch's id digest and
    reads the state without that batch's files."""
    docs, base, delta = _split(cat)
    state = _init(spark, base, tmp_path / "state")
    before = _state_files(state)
    merge_batch(spark, state, delta)
    after = _state_files(state)
    added = {n: sorted(set(after[n]) - set(before[n])) for n in after}
    assert all(len(f) == 1 for f in added.values()), added
    rebuild = _init(spark, docs, tmp_path / "rebuild")

    merge_batch(spark, state, delta)  # replay after a committed batch
    assert _state_files(state) == after
    _same_state(spark, state, rebuild)

    # a crash before the last rename: the batch's candidates file is gone
    os.remove(f"{state}/candidates/{added['candidates'][0]}")
    merge_batch(spark, state, delta)
    assert _state_files(state) == after
    _same_state(spark, state, rebuild)
