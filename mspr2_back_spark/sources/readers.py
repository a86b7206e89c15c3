"""Sources: parquet scan helpers over the driver test tables.

Reference parity (SURVEY §2.1): the reference reads CSVs all-string
with explicit casts (ref app/etl.py:59-61) and JDBC tables
(ref app/routes/data.py:52). Here the canonical storage is parquet —
columnar, splittable, statistics-bearing — which is what you'd run at
100 TB. Scans stay declarative (`spark.read.parquet`) so Catalyst
pushes filters and prunes columns into the reader.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def normalize_ntz(df: DataFrame) -> DataFrame:
    """Cast every TIMESTAMP_NTZ column to session-TZ TIMESTAMP.

    Parquet files written without the isAdjustedToUTC annotation
    (DuckDB/pyarrow defaults) read back as TIMESTAMP_NTZ under Spark
    4.x's NTZ inference, but the event-time machinery — watermarks
    (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE), ``unix_micros``, interval
    comparisons against TIMESTAMP literals — requires TIMESTAMP.
    The session timezone is pinned to UTC (session.py), so the cast
    is value-identity; normalizing once at the reader boundary keeps
    every downstream operator on a single timestamp type.
    """
    for col_name, dtype in df.dtypes:
        if dtype == "timestamp_ntz":
            df = df.withColumn(col_name, F.col(col_name).cast("timestamp"))
    return df


def _file_identity(path: str) -> tuple | None:
    """(relative path, size, mtime_ns) of every file at ``path``: the
    file itself, or each file under a directory table. None when the
    path cannot be stat'ed locally (missing, or a remote URI)."""
    try:
        if not os.path.isdir(path):
            st = os.stat(path)
            return (("", st.st_size, st.st_mtime_ns),)
        found = []
        for root, _, files in os.walk(path):
            for f in files:
                full = os.path.join(root, f)
                st = os.stat(full)
                found.append((os.path.relpath(full, path), st.st_size, st.st_mtime_ns))
        return tuple(sorted(found))
    except OSError:
        return None


def _inferred_schema(spark: SparkSession, path: str) -> StructType:
    """The schema Spark infers for ``path``, inferred once per session
    per file version. The memo lives on the session object (one entry
    per path), so a session with other reader confs infers its own;
    a rewritten table no longer matches its identity and is inferred
    again. (A rewrite that keeps every file's size and mtime, to the
    filesystem's timestamp granularity, is not seen.)"""
    memo = getattr(spark, "_mspr2_parquet_schemas", None)
    if memo is None:
        memo = spark._mspr2_parquet_schemas = {}
    identity = _file_identity(path)
    hit = memo.get(path)
    if identity is not None and hit is not None and hit[0] == identity:
        return hit[1]
    schema = spark.read.parquet(path).schema
    if identity is not None:
        memo[path] = (identity, schema)
    return schema


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one test table. Plain parquet scan: predicate pushdown,
    column pruning, and partition coalescing all apply.

    The scan reads with the schema Spark inferred for the same file
    version in this session (``_inferred_schema``), so only the first
    read of a file version fires Spark's schema-inference job.

    An events table written with a nanosecond parquet timestamp reads
    as a long under ``spark.sql.legacy.parquet.nanosAsLong`` (set by
    ``session.get_spark``; Spark's reader rejects nanos without it)
    and is truncated to microseconds with exact integer division — the
    same truncation DuckDB applies, so both engines see identical
    timestamps. Any TIMESTAMP_NTZ column is normalized to TIMESTAMP
    here (see ``normalize_ntz``).
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.schema(_inferred_schema(spark, path)).parquet(path)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return normalize_ntz(df)


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TESTDATA_TABLES
) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in names}


def register_views(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TESTDATA_TABLES
) -> dict[str, DataFrame]:
    """Register each table as a temp view so `spark.sql` queries (the
    serving layer style of the reference, ref app/routes/data.py:123-148)
    can name them directly."""
    dfs = load_tables(spark, sf_dir, names)
    for n, df in dfs.items():
        df.createOrReplaceTempView(n)
    return dfs


# ---------------------------------------------------------------------------
# Multi-format source/sink round-trips (S1/S5 beyond CSV+parquet)
# ---------------------------------------------------------------------------

_FORMAT_OPTIONS: dict[str, dict[str, str]] = {
    "json": {},      # JSON-lines: one object per line, splittable
    "orc": {},       # columnar alternative to parquet, stats-bearing
    "csv": {"header": "true"},
    "parquet": {},
}


def write_table_as(df: DataFrame, path: str, fmt: str, mode: str = "overwrite") -> None:
    """Write a DataFrame in any supported interchange format.

    Format choice is a storage concern, not a plan concern — the same
    logical plan feeds every sink. At 100 TB: parquet/ORC for
    analytics (columnar pruning + predicate pushdown), JSON-lines for
    interchange with non-columnar consumers, CSV only at the edge.
    """
    if fmt not in _FORMAT_OPTIONS:
        raise ValueError(f"unsupported format {fmt!r}; one of {sorted(_FORMAT_OPTIONS)}")
    df.write.mode(mode).options(**_FORMAT_OPTIONS[fmt]).format(fmt).save(path)


def read_table_as(spark: SparkSession, path: str, fmt: str, schema=None) -> DataFrame:
    """Read any supported interchange format with an EXPLICIT schema
    (schema inference is a full extra pass over the data at scale and
    type-drifts CSV/JSON; production reads always pin the schema)."""
    if fmt not in _FORMAT_OPTIONS:
        raise ValueError(f"unsupported format {fmt!r}; one of {sorted(_FORMAT_OPTIONS)}")
    reader = spark.read.options(**_FORMAT_OPTIONS[fmt]).format(fmt)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.load(path)


def read_raw_text(spark: SparkSession, path: str) -> DataFrame:
    """Raw-text corpus ingestion: one row per line (`text` column) —
    the first step of an ingest pipeline before parsing/curation.
    Splittable by line; wholetext=false keeps memory per-row."""
    return spark.read.text(path)
