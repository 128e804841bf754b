"""Build-once snapshot artifacts keyed on (sf_dir, source mtime and size).

A 100 TB pipeline materializes expensive shared relations — dedup
cluster assignments, LSH candidate pairs, ANN indexes — exactly once
per corpus snapshot; every consumer reads the stored table. This module
owns the one pattern all of those share: a /tmp parquet table whose
path embeds the source table's nanosecond mtime and byte size (a
corpus regenerated within the same second can never be served a stale
artifact) and an algorithm version (bump on semantic change), written
to a temp dir and renamed in so a concurrent builder can never expose
a partial table.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession

CACHE_ROOT = "/tmp/spider_spark_indexes"


def snapshot_path(
    sf_dir: str, name: str, version: int, source_table: str = "documents"
) -> str:
    src = os.path.join(sf_dir, f"{source_table}.parquet")
    try:
        st = os.stat(src)
        stamp = f"{st.st_mtime_ns}_{st.st_size}"
    except OSError:
        stamp = "0"
    base = os.path.basename(os.path.normpath(sf_dir))
    return os.path.join(CACHE_ROOT, f"{base}_{stamp}", f"{name}_v{version}")


def materialize_once(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    version: int,
    build,
    source_table: str = "documents",
) -> DataFrame:
    """Return the stored relation, building it first if absent.

    ``build`` is a zero-arg callable returning the DataFrame to persist;
    it runs only on a cache miss. Deterministic builds mean the stored
    relation is bit-identical to a live run (asserted in tests for each
    artifact)."""
    path = snapshot_path(sf_dir, name, version, source_table)
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        tmp = f"{path}.tmp-{os.getpid()}"
        build().write.mode("overwrite").parquet(tmp)
        try:
            os.rename(tmp, path)
        except OSError:
            # lost a build race: the winner's result is identical
            shutil.rmtree(tmp, ignore_errors=True)
    return spark.read.parquet(path)
