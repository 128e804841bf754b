"""Partitioned writes, Z-order codes and the parquet/text source
behaviours the catalog reads through."""

from __future__ import annotations

import os
import uuid

import pytest

from pyspark.sql import functions as F

from spider_spark.sinks.writers import write_partitioned


@pytest.fixture()
def tmp_path_str():
    p = f"/tmp/spider_io_{uuid.uuid4().hex[:8]}"
    yield p


def test_partitioned_write_prunes(spark, cat, tmp_path_str):
    from spider_spark.plans.explain import formatted_plan

    write_partitioned(cat.orders, f"{tmp_path_str}/part", ["o_orderstatus"])
    assert os.path.isdir(f"{tmp_path_str}/part/o_orderstatus=O")
    back = spark.read.parquet(f"{tmp_path_str}/part").filter(
        F.col("o_orderstatus") == "O"
    )
    plan = formatted_plan(back)
    assert "PartitionFilters" in plan
    assert back.count() == cat.orders.filter(F.col("o_orderstatus") == "O").count()


def test_catalog_register_all(spark, cat):
    cat.register_all()
    got = spark.sql(
        "SELECT count(*) AS n FROM lineitem JOIN orders ON l_orderkey = o_orderkey"
    ).first()
    assert got.n == cat.lineitem.count()


def test_zorder_code_locality(spark, sf_dir):
    from spider_spark.sinks.writers import zorder_layout

    rows = zorder_layout(spark, sf_dir).collect()
    for r in rows[:200]:
        # interleave round-trips: de-interleaving the code recovers (a, b)
        a = sum(((r["zcode"] >> (2 * i)) & 1) << i for i in range(8))
        b = sum(((r["zcode"] >> (2 * i + 1)) & 1) << i for i in range(8))
        assert (a, b) == (r["za"], r["zb"])


def test_schema_evolution_merge(spark, tmp_path_str):
    """mergeSchema reads across evolving parquet partitions: an added
    column is null for old files, present for new ones."""
    v1 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, name string")
    v2 = spark.createDataFrame(
        [(3, "c", 0.5)], "id long, name string, score double"
    )
    v1.write.parquet(f"{tmp_path_str}/p=1")
    v2.write.parquet(f"{tmp_path_str}/p=2")
    merged = spark.read.option("mergeSchema", "true").parquet(tmp_path_str)
    assert set(merged.columns) >= {"id", "name", "score"}
    rows = {r["id"]: r for r in merged.collect()}
    assert rows[1]["score"] is None and rows[3]["score"] == 0.5


def test_read_gzip_text_transparent(spark, tmp_path_str):
    """Compressed crawl shards: .gz text files decompress transparently
    in the text source (codec from extension), line counts preserved."""
    import gzip
    import os

    gz_dir = os.path.join(tmp_path_str, "gz_shards")
    os.makedirs(gz_dir)
    lines = [f"doc {i} payload" for i in range(100)]
    with gzip.open(os.path.join(gz_dir, "shard1.txt.gz"), "wt") as f:
        f.write("\n".join(lines[:60]) + "\n")
    with gzip.open(os.path.join(gz_dir, "shard2.txt.gz"), "wt") as f:
        f.write("\n".join(lines[60:]) + "\n")
    got = spark.read.text(gz_dir).collect()
    assert sorted(r.value for r in got) == sorted(lines)
