"""Sinks: partitioned parquet and Z-order (Morton) codes.

Layout is the scale lever on the write side: partitionBy(a
low-cardinality column) gives partition pruning on read, and a Morton
code over two columns is the key a multi-dimensional clustered write
sorts on.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_partitioned(df: DataFrame, path: str, partition_cols: list[str]) -> None:
    df.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)


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


def zorder_layout(spark, sf_dir: str) -> DataFrame:
    """Morton (Z-order) code computation as an oracle-checked query:
    map documents onto a 256x256 (length-bucket, id-bucket) grid and
    interleave the bits. ``morton_code`` is the same interleave a Z-order
    clustered write sorts on; tests de-interleave it back to (a, b)."""
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
