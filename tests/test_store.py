"""spider_spark.store: build-once snapshot artifact semantics."""

from __future__ import annotations

import os

from spider_spark.store import materialize_once, snapshot_path


def test_materialize_once_builds_exactly_once(spark, sf_dir, tmp_path, monkeypatch):
    import spider_spark.store as store

    monkeypatch.setattr(store, "CACHE_ROOT", str(tmp_path / "idx"))
    calls = []

    def build():
        calls.append(1)
        return spark.range(5).withColumnRenamed("id", "x")

    a = materialize_once(spark, sf_dir, "t1", 1, build).collect()
    b = materialize_once(spark, sf_dir, "t1", 1, build).collect()
    assert len(calls) == 1, "second call must serve the stored relation"
    assert sorted(r.x for r in a) == sorted(r.x for r in b) == list(range(5))
    # version bump invalidates
    materialize_once(spark, sf_dir, "t1", 2, build).collect()
    assert len(calls) == 2


def test_snapshot_path_embeds_source_mtime(sf_dir):
    p1 = snapshot_path(sf_dir, "t", 1)
    st = os.stat(os.path.join(sf_dir, "documents.parquet"))
    assert f"{st.st_mtime_ns}_{st.st_size}" in p1
    assert p1 != snapshot_path(sf_dir, "t", 2)


def test_source_regenerated_within_a_second_builds_fresh(spark, tmp_path, monkeypatch):
    """A source rewritten inside the same whole second (same integer
    mtime) must not be served the artifact of its previous contents."""
    import spider_spark.store as store

    monkeypatch.setattr(store, "CACHE_ROOT", str(tmp_path / "idx"))
    sf = tmp_path / "sf"
    sf.mkdir()
    src = sf / "documents.parquet"
    sec = 1_700_000_000 * 10**9
    calls = []

    def build():
        calls.append(1)
        return spark.range(3)

    def regenerate(data: bytes, mtime_ns: int) -> None:
        src.write_bytes(data)
        os.utime(src, ns=(mtime_ns, mtime_ns))
        materialize_once(spark, str(sf), "t", 1, build).collect()

    regenerate(b"v1", sec)
    regenerate(b"v1", sec)
    assert len(calls) == 1, "an unchanged source must serve the stored artifact"
    regenerate(b"v22", sec)  # same mtime to the ns, different size
    assert len(calls) == 2
    regenerate(b"v33", sec + 250_000_000)  # same size and whole second
    assert len(calls) == 3


def test_phash_fingerprints_stored_equals_live(spark, sf_dir, tmp_path, monkeypatch):
    """The materialized pHash relation is bit-identical to a live run
    (deterministic decode+DCT), so serving from the store can never
    change media_phash_neardup's output."""
    import spider_spark.store as store
    from spider_spark.catalog import Catalog
    from spider_spark.multimodal.phash import (
        materialized_phash_fingerprints,
        phash_fingerprints,
        synth_image_payloads,
    )

    monkeypatch.setattr(store, "CACHE_ROOT", str(tmp_path / "idx"))
    live = phash_fingerprints(
        synth_image_payloads(Catalog(spark, sf_dir).documents)
    ).collect()
    stored = materialized_phash_fingerprints(spark, sf_dir).collect()
    assert sorted((r.doc_id, r.fp) for r in live) == sorted(
        (r.doc_id, r.fp) for r in stored
    )
    assert len(live) > 0


def test_mirror_pairs_stored_equals_live(spark, sf_dir, tmp_path, monkeypatch):
    """The materialized host-pair shared-window relation is bit-identical
    to a live build (exact counts over md5-hashed windows), so serving
    mirror_detection from the store can never change its output."""
    import spider_spark.store as store
    from spider_spark.graph.algorithms import (
        materialized_mirror_pairs,
        mirror_pair_counts,
    )

    monkeypatch.setattr(store, "CACHE_ROOT", str(tmp_path / "idx"))
    live = mirror_pair_counts(spark, sf_dir).collect()
    stored = materialized_mirror_pairs(spark, sf_dir).collect()
    assert sorted((r.h1, r.h2, r.shared) for r in live) == sorted(
        (r.h1, r.h2, r.shared) for r in stored
    )
    assert len(live) > 0
