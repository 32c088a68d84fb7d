"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship query smoke check on sf0.001.
``queries()`` / ``oracle_sql()`` — generated from the engine's query
registry (clickhub_spark.plans.registry), which binds every Spark
builder to its DuckDB oracle SQL at definition time so the two maps
cannot drift.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from clickhub_spark.plans import all_specs


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: the TPC-H Q1-shaped
    multi-aggregate rollup (SURVEY §2.D8, q_agg_multi)."""
    from clickhub_spark.plans.queries_agg import q_agg_multi

    return q_agg_multi(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {name: spec.builder for name, spec in all_specs().items()}


def oracle_sql() -> dict[str, str]:
    """Equivalent ANSI SQL per query, runnable by DuckDB on the same
    parquet tables.  Queries without an oracle (engine-internal
    hashing, approximate sketches) are omitted → rows-only check."""
    return {
        name: spec.oracle for name, spec in all_specs().items() if spec.oracle is not None
    }
