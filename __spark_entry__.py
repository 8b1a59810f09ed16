"""Driver contract for the spark-graft builder (PySpark target).

Thin adapter over the engine's query catalog
(``end_end_data_pipeline__spark.plans.catalog``): every implemented
operator from SURVEY.md §2 registers a named query (Spark callable) and
its DuckDB oracle.  The driver smoke-runs ``entry(spark)`` at sf0.001
and compares each ``queries()`` entry against ``oracle_sql()`` at
sf0.01.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from end_end_data_pipeline__spark.plans.catalog import load_all

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (SURVEY.md §7 step 2) on sf0.001: monthly
    finished-order volume by market segment — scan → filter → 3-way
    join (broadcast dim) → time-bucketed agg."""
    queries = load_all()
    return queries["flagship_monthly_segment_volume"].fn(spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator query (SURVEY.md §2)."""
    return {name: q.fn for name, q in load_all().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL for every query (the catalog requires one)."""
    return {name: q.oracle for name, q in load_all().items()}
