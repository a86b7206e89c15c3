"""User-facing facade: one object that exposes the whole engine.

A reference user switches like this::

    from mspr2_back_spark.engine import AnalyticsEngine

    eng = AnalyticsEngine(sf_dir="/root/testdata/sf0.01")
    eng.list_queries()                  # every named query
    df = eng.run("revenue_by_nation")   # DataFrame API surface
    df = eng.sql("SELECT ... FROM orders JOIN ...")  # SQL surface
    eng.covid_warehouse("/root/reference/app/data")  # reference ETL

The facade owns nothing: queries come from plans/, SQL runs over
registered views, the session comes from session.get_spark — it is
wiring, not a layer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from mspr2_back_spark.plans import ORACLE_SQL, QUERIES
from mspr2_back_spark.session import get_spark
from mspr2_back_spark.sources.readers import DEFAULT_SF_DIR, register_views


class AnalyticsEngine:
    def __init__(
        self, spark: SparkSession | None = None, sf_dir: str = DEFAULT_SF_DIR
    ) -> None:
        self.spark = spark or get_spark()
        self.sf_dir = sf_dir
        self._views_registered = False

    def list_queries(self) -> list[str]:
        """Names accepted by :meth:`run` (one per engine operator;
        ORACLE_SQL holds the ANSI-SQL twin where one exists)."""
        return sorted(QUERIES)

    def run(self, name: str) -> DataFrame:
        """Run a named query against this engine's tables (lazy)."""
        try:
            fn = QUERIES[name]
        except KeyError:
            raise KeyError(
                f"unknown query {name!r}; see list_queries()"
            ) from None
        return fn(self.spark, self.sf_dir)

    def reference_sql(self, name: str) -> str:
        """The ANSI-SQL statement equivalent to ``run(name)`` (raises
        KeyError for the few non-SQL-expressible queries)."""
        return ORACLE_SQL[name]

    def sql(self, statement: str) -> DataFrame:
        """Run SQL over the engine's tables (views registered on
        first use)."""
        if not self._views_registered:
            register_views(self.spark, self.sf_dir)
            self._views_registered = True
        return self.spark.sql(statement)

    def covid_warehouse(self, data_dir: str) -> dict[str, DataFrame]:
        """Build the reference-parity pandemic warehouse from its CSVs
        and register the serving views over it. This is
        ``etl.run.snapshot``, whose docstring states the snapshot
        contract; etl/run.py also holds the batch job form."""
        from mspr2_back_spark.etl import run

        return run.snapshot(self.spark, data_dir)
