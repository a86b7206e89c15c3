"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship query at sf0.001;
``queries()`` exposes every implemented operator from SURVEY.md §2
(plus the training-data-pipeline extensions); ``oracle_sql()`` gives
the DuckDB-equivalent SQL for each (omitted only for genuinely
non-SQL-expressible ops, which the driver checks rows-only).
"""

from __future__ import annotations

import os
import shutil
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from mspr2_back_spark.plans import ORACLE_SQL, QUERIES

_REPO_DIR = os.path.dirname(os.path.abspath(__file__))


def _prepare_session(spark: SparkSession) -> None:
    """Adopt the harness's session: set the one reader conf the
    queries need and ship the package to Python workers.

    The harness builds its own session, not ``session.get_spark``, so
    the nanosecond-timestamp conf that ``get_spark`` sets is applied
    here (a runtime conf: one py4j call). Queries that cross into
    Python (mapInPandas/applyInPandas) pickle functions by module
    reference; workers only resolve those if ``mspr2_back_spark`` is
    importable worker-side. The harness may run from any cwd (and a
    real cluster's executors never share the driver's cwd), so ship a
    zip of the package once per context — exactly how a cluster
    deployment would submit it (--py-files).
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    sc = spark.sparkContext
    if getattr(sc, "_mspr2_pkg_shipped", False):
        return
    base = os.path.join(tempfile.mkdtemp(prefix="mspr2_pkg_"), "mspr2_back_spark")
    zip_path = shutil.make_archive(
        base, "zip", root_dir=_REPO_DIR, base_dir="mspr2_back_spark"
    )
    sc.addPyFile(zip_path)
    sc._mspr2_pkg_shipped = True


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
