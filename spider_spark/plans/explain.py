"""Plan text for shape checks.

``formatted_plan`` returns the same text ``df.explain("formatted")``
prints, as a string: ``tools/audit_plans.py`` scans it, and the plan
predicates in ``tests/conftest.py`` assert the engine's scale guarantees
with it (filters reach the scan, dims broadcast, no cartesian product).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )
