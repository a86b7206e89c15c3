"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship query at sf0.001;
``queries()`` exposes every implemented operator from SURVEY.md §2
(plus the training-data-pipeline extensions); ``oracle_sql()`` gives
the DuckDB-equivalent SQL for each (omitted only for genuinely
non-SQL-expressible ops, which the driver checks rows-only).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from mspr2_back_spark.plans import ORACLE_SQL, QUERIES
from mspr2_back_spark.session import ship_package


def _prepare_session(spark: SparkSession) -> None:
    """Adopt the harness's own session: set the one reader conf the
    queries need (``get_spark`` sets it too; a runtime conf, one py4j
    call) and ship the package to the Python workers."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ship_package(spark)


def _wrap(
    fn: Callable[[SparkSession, str], DataFrame],
) -> Callable[[SparkSession, str], DataFrame]:
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        _prepare_session(spark)
        return fn(spark, sf_dir)

    return run


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H-Q1-shaped pricing summary) on sf0.001."""
    _prepare_session(spark)
    return QUERIES["pricing_summary"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator; see plans/queries.py."""
    return {name: _wrap(fn) for name, fn in QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB oracle SQL per query key; see plans/oracle.py."""
    return dict(ORACLE_SQL)
