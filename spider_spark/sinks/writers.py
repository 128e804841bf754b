"""Sinks: partitioned parquet, bucketed tables, sorted-within-partition.

Layout choices are the scale lever on the write side:
- partitionBy(low-cardinality col) → partition pruning on read;
- bucketBy(join key) → co-located, shuffle-free joins between tables
  bucketed the same way;
- sortWithinPartitions → run-length/delta encoding wins + faster range
  scans inside each file.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_partitioned(df: DataFrame, path: str, partition_cols: list[str]) -> None:
    df.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)


def write_sorted(df: DataFrame, path: str, sort_cols: list[str]) -> None:
    df.sortWithinPartitions(*sort_cols).write.mode("overwrite").parquet(path)


def compact(
    spark, path: str, target_files: int, sort_cols: list[str] | None = None
) -> int:
    """Small-file compaction: rewrite a parquet directory into
    ``target_files`` files (optionally sorted within each). Crawl stores
    accrete thousands of tiny files per ingest tick; compaction restores
    scan efficiency (fewer splits, bigger row groups, better encodings).
    Returns the row count. Writes to a sibling temp dir then swaps, so a
    failed compaction never corrupts the source."""
    import os
    import shutil

    out = spark.read.parquet(path).repartition(target_files)
    if sort_cols:
        out = out.sortWithinPartitions(*sort_cols)
    tmp = path.rstrip("/") + "._compacting"
    out.write.mode("overwrite").parquet(tmp)
    n = spark.read.parquet(tmp).count()
    shutil.rmtree(path)
    os.rename(tmp, path)
    return n


ZBITS = 8


def morton_code(a, b):
    """Interleave the low ZBITS bits of two non-negative int columns into
    a Z-order (Morton) code — pure JVM bit arithmetic, stays inside
    whole-stage codegen. Callers map each dimension onto [0, 2^ZBITS)
    first (rank, bucket, or scaled value)."""
    from pyspark.sql import functions as F

    # Column.__or__ is boolean OR — bitwiseOR is the explicit method
    z = F.lit(0).cast("long")
    for i in range(ZBITS):
        z = z.bitwiseOR(
            F.shiftleft(F.shiftright(a, i) % 2, 2 * i)
        ).bitwiseOR(F.shiftleft(F.shiftright(b, i) % 2, 2 * i + 1))
    return z


def write_zordered(
    df: DataFrame, path: str, col_a: str, col_b: str, n_files: int = 8
) -> None:
    """Z-order clustered write: scale both columns onto [0, 2^ZBITS) by
    rank, interleave into a Morton code, range-partition + sort on it,
    write parquet. Files end up covering small RECTANGLES of the
    (a, b) space instead of stripes, so predicates on EITHER column
    prune most files via parquet min/max stats — the standard
    multi-dimensional clustering layout (Delta/Iceberg OPTIMIZE ZORDER).

    The rank passes are two-phase exact global ntiles
    (operators/ranking.py): range-partitioned local rank + cumulative
    partition offsets — one range shuffle per clustering column, no
    single-partition window.
    """
    from pyspark.sql import functions as F

    from spider_spark.operators.ranking import with_global_ntile

    side = 1 << ZBITS
    coded = with_global_ntile(df, [F.asc(col_a)], side, out="_za")
    coded = with_global_ntile(coded, [F.asc(col_b)], side, out="_zb")
    coded = coded.withColumn(
        "_z", morton_code(F.col("_za") - 1, F.col("_zb") - 1)
    ).drop("_za", "_zb")
    (
        coded.repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(path)
    )


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
) -> None:
    """Bucketed managed table (metastore-backed). Two tables bucketed on
    the same key with the same bucket count join with zero shuffle."""
    (
        df.write.mode("overwrite")
        .bucketBy(32, bucket_col)
        .sortBy(bucket_col)
        .format("parquet")
        .saveAsTable(table)
    )


def zorder_layout(spark, sf_dir: str) -> DataFrame:
    """Morton (Z-order) code computation as an oracle-checked query:
    map documents onto a 256x256 (length-bucket, id-bucket) grid and
    interleave the bits. The code itself is what write_zordered clusters
    on; clustering effectiveness is asserted in tests on real files."""
    from pyspark.sql import functions as F

    from spider_spark.catalog import Catalog

    docs = Catalog(spark, sf_dir).documents
    a = (F.col("n_chars") % 256).cast("long")
    b = (F.col("doc_id") % 256).cast("long")
    return docs.select(
        "doc_id",
        a.alias("za"),
        b.alias("zb"),
        morton_code(a, b).cast("long").alias("zcode"),
    )
