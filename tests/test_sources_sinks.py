"""Source readers (explicit schemas) and partitioned/bucketed sinks."""

from __future__ import annotations

import os
import uuid

import pytest

from pyspark.sql import functions as F

from spider_spark.sources.readers import read_csv, read_json, read_orc, read_parquet
from spider_spark.sinks.writers import write_partitioned, write_sorted


@pytest.fixture()
def tmp_path_str():
    p = f"/tmp/spider_io_{uuid.uuid4().hex[:8]}"
    yield p


def test_roundtrip_all_formats(spark, cat, tmp_path_str):
    src = cat.orders.limit(500)
    src.write.parquet(f"{tmp_path_str}/p")
    src.write.orc(f"{tmp_path_str}/o")
    src.write.option("header", "true").option(
        "timestampFormat", "yyyy-MM-dd HH:mm:ss"
    ).csv(f"{tmp_path_str}/c")
    src.write.json(f"{tmp_path_str}/j")

    expected = src.count()
    assert read_parquet(spark, f"{tmp_path_str}/p", table="orders").count() == expected
    assert read_orc(spark, f"{tmp_path_str}/o", table="orders").count() == expected
    assert read_csv(spark, f"{tmp_path_str}/c", table="orders").count() == expected
    jdf = read_json(spark, f"{tmp_path_str}/j", table="orders")
    assert jdf.count() == expected
    assert jdf.filter(F.col("o_orderkey").isNull()).count() == 0


def test_schema_required():
    with pytest.raises(ValueError):
        from spider_spark.sources.readers import _schema_for

        _schema_for(None)


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


def test_compaction(spark, cat, tmp_path_str):
    import glob

    from spider_spark.sinks.writers import compact

    path = f"{tmp_path_str}/many"
    cat.orders.repartition(40).write.parquet(path)
    assert len(glob.glob(f"{path}/part-*.parquet")) == 40
    n = compact(spark, path, target_files=4, sort_cols=["o_orderdate"])
    assert n == cat.orders.count()
    assert len(glob.glob(f"{path}/part-*.parquet")) == 4
    assert spark.read.parquet(path).count() == n


def test_catalog_register_all(spark, cat):
    cat.register_all()
    got = spark.sql(
        "SELECT count(*) AS n FROM lineitem JOIN orders ON l_orderkey = o_orderkey"
    ).first()
    assert got.n == cat.lineitem.count()


def test_sorted_write_roundtrip(spark, cat, tmp_path_str):
    write_sorted(cat.lineitem, f"{tmp_path_str}/sorted", ["l_shipdate"])
    back = spark.read.parquet(f"{tmp_path_str}/sorted")
    assert back.count() == cat.lineitem.count()


def test_read_text_lines_and_whole(spark, tmp_path_str):
    from spider_spark.sources.readers import read_text

    os.makedirs(tmp_path_str, exist_ok=True)
    with open(f"{tmp_path_str}/a.txt", "w") as f:
        f.write("line one\nline two\nline three")
    with open(f"{tmp_path_str}/b.txt", "w") as f:
        f.write("solo")
    lines = read_text(spark, tmp_path_str)
    assert lines.count() == 4
    assert set(r.value for r in lines.collect()) >= {"line one", "solo"}
    whole = read_text(spark, tmp_path_str, whole=True)
    assert whole.count() == 2


def test_read_csv_malformed_modes(spark, tmp_path_str):
    from pyspark.sql import types as T

    from spider_spark.sources.readers import read_csv_malformed

    os.makedirs(tmp_path_str, exist_ok=True)
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("n", T.LongType()),
        ]
    )
    with open(f"{tmp_path_str}/data.csv", "w") as f:
        f.write("id,n\n1,10\n2,not_a_number\n3,30\n")
    perm = read_csv_malformed(
        spark, f"{tmp_path_str}/data.csv", schema=schema, mode="PERMISSIVE"
    ).cache()
    assert perm.count() == 3
    bad = perm.filter(F.col("_corrupt_record").isNotNull()).collect()
    assert len(bad) == 1 and bad[0].id == 2 and bad[0].n is None
    dropped = read_csv_malformed(
        spark, f"{tmp_path_str}/data.csv", schema=schema, mode="DROPMALFORMED"
    )
    assert set(r.id for r in dropped.collect()) == {1, 3}
    perm.unpersist()


def test_write_zordered_clusters_both_dims(spark, cat, tmp_path_str):
    from spider_spark.sinks.writers import write_zordered

    df = cat.documents.select("doc_id", "n_chars")
    write_zordered(df, tmp_path_str, "n_chars", "doc_id", n_files=8)
    back = spark.read.parquet(tmp_path_str).withColumn("f", F.input_file_name())
    assert back.count() == df.count()
    spans = back.groupBy("f").agg(
        (F.max("doc_id") - F.min("doc_id")).alias("span_id"),
        (F.max("n_chars") - F.min("n_chars")).alias("span_chars"),
    ).collect()
    assert len(spans) >= 4
    g = df.agg(
        (F.max("doc_id") - F.min("doc_id")).alias("gid"),
        (F.max("n_chars") - F.min("n_chars")).alias("gch"),
    ).first()
    avg_id = sum(r["span_id"] for r in spans) / len(spans)
    avg_ch = sum(r["span_chars"] for r in spans) / len(spans)
    # Z-order files cover rectangles: BOTH dims must be clustered, not
    # just the primary sort dim (a single-column sort would leave one
    # dim at ~full span in every file)
    assert avg_id < 0.75 * g["gid"], (avg_id, g["gid"])
    assert avg_ch < 0.75 * g["gch"], (avg_ch, g["gch"])


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


def test_read_json_malformed_modes(spark, tmp_path_str):
    """JSONL malformed-record policies mirror the CSV ones."""
    import os

    from spider_spark.sources.readers import read_json_malformed
    from pyspark.sql import types as T

    os.makedirs(tmp_path_str, exist_ok=True)
    path = os.path.join(tmp_path_str, "feed.jsonl")
    with open(path, "w") as f:
        f.write('{"doc_id": 1, "text": "ok one"}\n')
        f.write('{"doc_id": "NOT_A_NUMBER", "text": "bad type"}\n')
        f.write("{this is not json at all\n")
        f.write('{"doc_id": 2, "text": "ok two"}\n')
    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    perm = read_json_malformed(spark, path, schema=schema)
    rows = perm.collect()
    good = [r for r in rows if r["_corrupt_record"] is None]
    bad = [r for r in rows if r["_corrupt_record"] is not None]
    assert {r.doc_id for r in good} == {1, 2}
    assert len(bad) == 2  # bad type + unparseable line
    dropped = read_json_malformed(spark, path, schema=schema, mode="DROPMALFORMED")
    assert {r.doc_id for r in dropped.collect()} == {1, 2}
    import pytest as _pytest

    with _pytest.raises(Exception):
        read_json_malformed(spark, path, schema=schema, mode="FAILFAST").collect()


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
