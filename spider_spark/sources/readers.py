"""Source readers: parquet / csv / json / orc, schema-explicit.

At 100 TB, schema inference is an extra full scan and a correctness
hazard (type drift between files) — every reader here requires a schema:
the catalog registry's for a known table, or (malformed-record readers)
one passed in. Parquet/ORC are the scale formats (columnar, predicate
pushdown, split-able); CSV/JSON readers exist for ingest edges.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from spider_spark.catalog import SCHEMAS


def _schema_for(table: str | None) -> T.StructType:
    if table is not None and table in SCHEMAS:
        return SCHEMAS[table]
    raise ValueError("pass a known catalog table name")


def read_parquet(spark: SparkSession, path: str, table: str | None = None) -> DataFrame:
    return spark.read.schema(_schema_for(table)).parquet(path)


def read_orc(spark: SparkSession, path: str, table: str | None = None) -> DataFrame:
    return spark.read.schema(_schema_for(table)).orc(path)


def read_csv(spark: SparkSession, path: str, table: str | None = None) -> DataFrame:
    return (
        spark.read.schema(_schema_for(table))
        .option("header", "true")
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss[.SSSSSS]")
        .csv(path)
    )


def read_json(spark: SparkSession, path: str, table: str | None = None) -> DataFrame:
    return spark.read.schema(_schema_for(table)).json(path)


def read_text(spark: SparkSession, path: str, whole: bool = False) -> DataFrame:
    """Line-oriented text source (one row per line, column `value`) —
    the rawest crawl-ingest edge (WET-style extracts, one record per
    line). ``whole=True`` reads one row per FILE instead (small-doc
    archives); at scale prefer line mode, which splits inside files."""
    return spark.read.text(path, wholetext=whole)


def _with_corrupt_column(schema: T.StructType, mode: str) -> T.StructType:
    if mode.upper() != "PERMISSIVE":
        return schema
    return T.StructType(
        schema.fields + [T.StructField("_corrupt_record", T.StringType())]
    )


def read_csv_malformed(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    mode: str = "PERMISSIVE",
) -> DataFrame:
    """CSV ingest with explicit malformed-record policy. PERMISSIVE keeps
    bad rows with a `_corrupt_record` column (audit them, don't lose
    them); DROPMALFORMED silently drops; FAILFAST aborts the job. At
    crawl scale PERMISSIVE + a corrupt-rate monitor is the only sane
    default — a feed that goes 50% corrupt should page, not vanish."""
    return (
        spark.read.schema(_with_corrupt_column(schema, mode))
        .option("header", "true")
        .option("mode", mode)
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss[.SSSSSS]")
        .csv(path)
    )


def read_json_malformed(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    mode: str = "PERMISSIVE",
) -> DataFrame:
    """JSONL ingest with explicit malformed-record policy — the JSON
    twin of read_csv_malformed (crawl APIs and log shippers emit JSONL
    with the same corruption profile as CSV feeds). PERMISSIVE keeps
    bad lines in `_corrupt_record`; DROPMALFORMED drops; FAILFAST
    aborts."""
    return (
        spark.read.schema(_with_corrupt_column(schema, mode))
        .option("mode", mode)
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )
