from __future__ import annotations

import sys
from pathlib import Path

import pytest
from pyspark.sql import DataFrame

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from spider_spark.session import get_spark  # noqa: E402
from spider_spark.catalog import Catalog  # noqa: E402
from spider_spark.plans.explain import formatted_plan  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("spider-spark-tests", master="local[32]", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def cat(spark):
    return Catalog(spark, SF_DIR)


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


# Plan-shape predicates: the engine's scale guarantees, made testable.


def has_pushed_filters(df: DataFrame) -> bool:
    plan = formatted_plan(df)
    return "PushedFilters: [" in plan and "PushedFilters: []" not in plan


def read_schema_columns(df: DataFrame) -> list[str]:
    """Columns actually read from the (first) scan — column pruning check."""
    plan = formatted_plan(df)
    for line in plan.splitlines():
        if "ReadSchema:" in line:
            struct = line.split("ReadSchema:", 1)[1].strip()
            inner = struct[len("struct<") : -1] if struct.startswith("struct<") else struct
            return [f.split(":")[0] for f in inner.split(",") if f]
    return []


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in formatted_plan(df)


def has_cartesian(df: DataFrame) -> bool:
    plan = formatted_plan(df)
    return "CartesianProduct" in plan or "BroadcastNestedLoopJoin" in plan


def exchange_count(df: DataFrame) -> int:
    """Number of Exchange (shuffle/broadcast) nodes in the formatted plan."""
    return formatted_plan(df).count("Exchange")
