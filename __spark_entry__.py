"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query (one full generate cycle:
due-gate -> score sort -> host-cap window -> politeness
partitioning) over /root/testdata/sf0.001. ``queries()`` /
``oracle_sql()`` expose every implemented operator from SURVEY.md
section 2 with DuckDB oracles where SQL-expressible (see
nutch_spark/entry_queries.py).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from nutch_spark.entry_queries import QUERIES


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: Generator semantics (G1-G4) on the sf0.001 frontier."""
    from nutch_spark.entry_queries import q_generator_hostcap

    return q_generator_hostcap(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: fn for name, (fn, _sql) in QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    return {
        name: (sql() if callable(sql) else sql)
        for name, (_fn, sql) in QUERIES.items()
        if sql is not None
    }
