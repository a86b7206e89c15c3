"""Multi-format source/sink round-trips: the same relation written to
JSON-lines / ORC / CSV and read back with an explicit schema must be
value-identical to the parquet original (types permitting — CSV is
stringly and re-cast by the schema)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from mspr2_back_spark.sources.readers import (
    load_table,
    read_raw_text,
    read_table_as,
    write_table_as,
)


def _rows(df, cols):
    return sorted(tuple(str(r[c]) for c in cols) for r in df.collect())


@pytest.mark.parametrize("fmt", ["json", "orc", "csv"])
def test_format_roundtrip_orders(spark, sf_dir, tmp_path, fmt):
    src = load_table(spark, sf_dir, "orders").limit(500)
    path = str(tmp_path / f"orders_{fmt}")
    write_table_as(src, path, fmt)
    back = read_table_as(spark, path, fmt, schema=src.schema)
    cols = src.columns
    assert _rows(back, cols) == _rows(src, cols)


def test_format_rejects_unknown(spark, sf_dir, tmp_path):
    src = load_table(spark, sf_dir, "nation")
    with pytest.raises(ValueError):
        write_table_as(src, str(tmp_path / "x"), "avro")  # not in this build
    with pytest.raises(ValueError):
        read_table_as(spark, str(tmp_path / "x"), "xml")


def test_raw_text_ingest_feeds_curation(spark, sf_dir, tmp_path):
    """Raw lines → curation: the text scrubber runs directly on a
    line-per-row text source (the ingest entry point)."""
    from mspr2_back_spark.functions.pii import scrub_documents

    docs = load_table(spark, sf_dir, "documents").limit(50)
    path = str(tmp_path / "raw_txt")
    docs.select("text").write.mode("overwrite").text(path)
    raw = read_raw_text(spark, path)
    assert raw.count() == 50
    scrubbed = scrub_documents(
        raw.withColumn("doc_id", F.monotonically_increasing_id()).select("doc_id", "value")
        .withColumnRenamed("value", "text")
    )
    assert scrubbed.count() == 50


def test_parquet_schema_evolution_mergeschema(spark, tmp_path):
    """Long-lived tables gain columns over time: batches written with
    different schemas must merge (new column NULL for old rows) under
    mergeSchema, and a pinned schema read must project the union."""
    path = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], "id long, v string").write.mode(
        "overwrite"
    ).parquet(path)
    spark.createDataFrame(
        [(2, "b", 9.5)], "id long, v string, score double"
    ).write.mode("append").parquet(path)
    merged = spark.read.option("mergeSchema", "true").parquet(path)
    assert set(merged.columns) == {"id", "v", "score"}
    rows = {r.id: (r.v, r.score) for r in merged.collect()}
    assert rows == {1: ("a", None), 2: ("b", 9.5)}


def test_load_table_reads_nanosecond_event_timestamps(spark, sf_dir, tmp_path):
    """An events file written with nanosecond timestamps reads through
    the session's nanosAsLong conf and truncates to the same
    microsecond values as the committed (microsecond) file."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    micros = pq.read_table(f"{sf_dir}/events.parquet")
    i = micros.schema.get_field_index("ts")
    ns = pc.add(
        micros.column(i).cast(pa.timestamp("ns")), pa.scalar(999, pa.duration("ns"))
    )
    pq.write_table(micros.set_column(i, "ts", ns), str(tmp_path / "events.parquet"))
    assert pq.read_schema(tmp_path / "events.parquet").field("ts").type.unit == "ns"

    got = load_table(spark, str(tmp_path), "events")
    want = load_table(spark, sf_dir, "events")
    assert dict(got.dtypes)["ts"] == dict(want.dtypes)["ts"] == "timestamp"
    cols = ["event_id", "ts"]
    assert _rows(got, cols) == _rows(want, cols)
