"""Multi-format source/sink round-trips: the same relation written to
JSON-lines / ORC / CSV and read back with an explicit schema must be
value-identical to the parquet original (types permitting — CSV is
stringly and re-cast by the schema)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from mspr2_back_spark.session import group_jobs, job_group
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


def _load_jobs(spark, path, group):
    """Load ``path``'s table under a job group; return the frame and
    the Spark jobs the load fired."""
    with job_group(spark, group):
        df = load_table(spark, str(path), "t")
    return df, group_jobs(spark, group)


def test_load_table_infers_each_file_version_once_per_session(spark, sf_dir, tmp_path):
    """The first load of a file version infers its schema (one Spark
    job); a second load of the unchanged file fires none and returns
    the same schema; a rewrite at the same path is inferred again."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    nation = pq.read_table(f"{sf_dir}/nation.parquet")
    pq.write_table(nation, str(tmp_path / "t.parquet"))

    first, jobs = _load_jobs(spark, tmp_path, "memo-first")
    assert jobs >= 1
    second, jobs = _load_jobs(spark, tmp_path, "memo-second")
    assert jobs == 0
    assert second.schema == first.schema
    assert second.count() == nation.num_rows

    extra = pa.array(range(nation.num_rows), pa.int64())
    pq.write_table(nation.append_column("n_extra", extra), str(tmp_path / "t.parquet"))
    rewritten, jobs = _load_jobs(spark, tmp_path, "memo-rewritten")
    assert jobs >= 1
    assert rewritten.columns == first.columns + ["n_extra"]
    assert sorted(r.n_extra for r in rewritten.collect()) == list(range(nation.num_rows))


def test_load_table_schema_memo_is_per_session(spark, sf_dir, tmp_path):
    """A new session does not see another session's inferred schemas:
    it infers its own, under its own reader confs."""
    import shutil

    shutil.copy(f"{sf_dir}/region.parquet", tmp_path / "t.parquet")
    _load_jobs(spark, tmp_path, "memo-session-a")
    _, jobs = _load_jobs(spark, tmp_path, "memo-session-a-again")
    assert jobs == 0
    other = spark.newSession()
    df, jobs = _load_jobs(other, tmp_path, "memo-session-b")
    assert jobs >= 1
    assert df.count() == 5
