"""Runnable ETL job: bronze CSVs → star-schema warehouse → gold
summaries, end to end.

Usage (mirrors running ``python app/etl.py`` in the reference,
ref app/etl.py:25-175):

    python -m mspr2_back_spark.etl.run \
        --data-dir /root/reference/app/data \
        --warehouse /tmp/pandemic_warehouse

The job is snapshot, then forecast, then save: ``snapshot`` reads the
WHO/vaccination CSVs, builds every dimension, fact and summary table,
checkpoints them and registers them as the serving views; the weekly
forecast is computed from the snapshot; every table is written as
parquet and a row-count manifest is printed. The views the job leaves
are the new snapshot, so serving in the same session reads stored
tables, never the CSVs. The reference's psycopg2 DELETE-then-JDBC-append
dance (ref app/etl.py:25-42,161-172) becomes idempotent
``mode(overwrite)`` parquet writes — rerunning the job converges
instead of duplicating.
"""

from __future__ import annotations

import argparse
import json
import os

from pyspark.sql import DataFrame, SparkSession

from mspr2_back_spark.etl import covid, schemas
from mspr2_back_spark.session import get_spark


def _csv(spark: SparkSession, path: str, schema) -> DataFrame:
    """Bronze CSV read: header + explicit schema (SURVEY §1.4 — the
    reference reads all-string and casts ad hoc, ref app/etl.py:59-67;
    a declared schema is stricter and skips the inference scan)."""
    return spark.read.schema(schema).option("header", True).csv(path)


def read_bronze(spark: SparkSession, data_dir: str) -> dict[str, DataFrame]:
    cd = os.path.join(data_dir, "data_covid")
    out = {
        "covid_raw": _csv(
            spark, os.path.join(cd, "WHO-COVID-19-global-data.csv"), schemas.WHO_COVID_SCHEMA
        ),
        "vaccination": _csv(
            spark, os.path.join(cd, "vaccination-data.csv"), schemas.VACCINATION_SCHEMA
        ),
        "metadata": _csv(
            spark,
            os.path.join(cd, "vaccination-metadata.csv"),
            schemas.VACCINATION_METADATA_SCHEMA,
        ),
    }
    worldometer_path = os.path.join(data_dir, "worldometer_coronavirus_summary_data.csv")
    if os.path.exists(worldometer_path):
        out["worldometer"] = _csv(spark, worldometer_path, schemas.WORLDOMETER_SCHEMA)
    return out


def snapshot(spark: SparkSession, data_dir: str) -> dict[str, DataFrame]:
    """Build the warehouse from the bronze CSVs in ``data_dir`` and
    register the serving views over it; returns name → DataFrame.

    The warehouse is an eager snapshot taken at call time: every table
    is ``localCheckpoint``-ed before its view is registered, so a
    request reads the checkpoint blocks and never re-scans the CSVs.
    Calling this again re-reads the bronze and refreshes the snapshot.
    No CacheManager entry is created, so any later read of the same
    CSVs (a fresh ``covid.build_all``) sees the files as they are then.
    The blocks live on the executors: a lost executor loses them, and
    the remedy is to call this again."""
    bronze = read_bronze(spark, data_dir)
    tables = covid.build_all(
        spark,
        bronze["covid_raw"],
        bronze["vaccination"],
        bronze["metadata"],
        worldometer=bronze.get("worldometer"),
    )
    tables = {name: df.localCheckpoint() for name, df in tables.items()}
    covid.register_views(tables)
    return tables


def main(argv: list[str] | None = None) -> dict[str, int]:
    parser = argparse.ArgumentParser(description=__doc__)
    parser.add_argument("--data-dir", default="/root/reference/app/data")
    parser.add_argument("--warehouse", default="/tmp/pandemic_warehouse")
    args = parser.parse_args(argv)

    tables = snapshot(get_spark(app_name="pandemic_etl"), args.data_dir)
    # Materialize the forecast table the reference serves but never
    # creates (SURVEY §2.10; ref app/routes/data.py:63-66).
    from mspr2_back_spark.ml.forecast import predict_weekly_statistics

    predicted = predict_weekly_statistics(tables["weekly_statistics"]).localCheckpoint()
    predicted.createOrReplaceTempView("predicted_weekly_statistics")
    tables["predicted_weekly_statistics"] = predicted
    covid.save_tables(tables, args.warehouse)
    manifest = {name: df.count() for name, df in tables.items()}
    print(json.dumps({"warehouse": args.warehouse, "tables": manifest}))
    return manifest


if __name__ == "__main__":
    main()
