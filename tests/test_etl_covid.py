"""Golden-output tests for the pandemic ETL (SURVEY §5 strategy #1/#3).

Literal fixtures exercise the edge cases FIXTURES.md calls out: null
regions, null case counts, null/empty VACCINES_USED, an unmatched
vaccination country (dropped + surfaced), first-row lag null, and the
ISO-week year boundary.
"""

from __future__ import annotations

import datetime

import pytest

from pyspark.sql import functions as F

from mspr2_back_spark.etl import covid, serving
from mspr2_back_spark.functions.marshal import records

D = datetime.date


COVID_ROWS = [
    # (Date_reported, Country_code, Country, WHO_region, New_cases,
    #  Cumulative_cases, New_deaths, Cumulative_deaths)
    ("2020-12-28", "FR", "France", "EURO", 10, 10, 1, 1),
    ("2021-01-03", "FR", "France", "EURO", 5, 15, None, 1),  # same ISO week as Dec-28
    ("2021-01-04", "FR", "France", "EURO", 20, 35, 2, 3),
    ("2021-01-11", "FR", "France", "EURO", None, 35, 1, 4),
    ("2020-12-28", "XX", "Atlantis", None, 7, 7, 0, 0),  # null region
    ("2021-01-04", "XX", "Atlantis", None, 3, 10, 1, 1),
]


@pytest.fixture(scope="module")
def tables(spark):
    covid_raw = spark.createDataFrame(
        COVID_ROWS,
        "Date_reported STRING, Country_code STRING, Country STRING, WHO_region STRING,"
        " New_cases INT, Cumulative_cases LONG, New_deaths INT, Cumulative_deaths LONG",
    )
    vaccination = spark.createDataFrame(
        [
            #  COUNTRY       DATE_UPDATED  TOTAL_VACC  P1D    VACCINES_USED
            ("France", "2021-01-04", 100.0, 80.0, "VaxA - One,VaxB - Two"),
            ("France", "2021-01-11", 250.0, 180.0, "VaxA - One,VaxB - Two"),
            ("  atlantis ", "2021-01-04", 50.0, 40.0, None),  # null vaccines, ws country
            ("Wakanda", "2021-01-04", 9.0, 9.0, ""),  # no dim match -> dropped
        ],
        "COUNTRY STRING, DATE_UPDATED STRING, TOTAL_VACCINATIONS DOUBLE,"
        " PERSONS_VACCINATED_1PLUS_DOSE DOUBLE, VACCINES_USED STRING",
    ).withColumn("PERSONS_LAST_DOSE", F.col("PERSONS_VACCINATED_1PLUS_DOSE"))
    metadata = spark.createDataFrame(
        [("VaxA - One",), ("VaxB - Two",), ("VaxC - Unused",), (None,)],
        "VACCINE_NAME STRING",
    )
    worldometer = spark.createDataFrame(
        [("France", 67_000_000), ("Atlantis", 0)],
        "country STRING, population LONG",
    )
    t = covid.build_all(spark, covid_raw, vaccination, metadata, worldometer)
    covid.register_views(t)
    return t


def test_who_region_decode(tables):
    rows = {r.who_region_short_code: r.who_region_name for r in tables["who_region"].collect()}
    assert rows == {"EURO": "European Region", "UNKNOWN": "Other"}


def test_country_dim(tables):
    rows = {r.country_short_code: r for r in tables["country"].collect()}
    assert set(rows) == {"FR", "XX"}
    assert rows["XX"].who_region_short_code == "UNKNOWN"


def test_vaccine_dim_ids_ordered_by_name(tables):
    rows = {r.name: r.id for r in tables["vaccine"].collect()}
    assert rows == {"VaxA - One": 1, "VaxB - Two": 2, "VaxC - Unused": 3, "unknown": 0}


def test_weekly_statistics_monday_truncation(tables):
    rows = {
        (r.country_short_code, r.date_of_report): (
            r.week_new_reported_cases,
            r.week_new_reported_deaths,
        )
        for r in tables["weekly_statistics"].collect()
    }
    # Dec-28-2020 is a Monday; Jan-3 belongs to that week, Jan-4 starts the next.
    assert rows[("FR", D(2020, 12, 28))] == (15, 1)  # 10+5 cases; null death -> 0
    assert rows[("FR", D(2021, 1, 4))] == (20, 2)
    assert rows[("FR", D(2021, 1, 11))] == (0, 1)  # null cases -> 0
    assert rows[("XX", D(2020, 12, 28))] == (7, 0)


def test_daily_vaccine_lag_diff_and_explode(tables):
    rows = tables["daily_vaccine_statistics"].collect()
    fr_by_day_vax = {
        (r.day_of_report, r.vaccine_id): r.new_reported_shots
        for r in rows
        if r.country_short_code == "FR"
    }
    # first report -> full cumulative; second -> delta; per exploded vaccine
    assert fr_by_day_vax[(D(2021, 1, 4), 1)] == 100
    assert fr_by_day_vax[(D(2021, 1, 4), 2)] == 100
    assert fr_by_day_vax[(D(2021, 1, 11), 1)] == 150
    assert fr_by_day_vax[(D(2021, 1, 11), 2)] == 150
    # Atlantis: null VACCINES_USED -> vaccine_id 0 (unknown), name-normalized join
    xx = [r for r in rows if r.country_short_code == "XX"]
    assert len(xx) == 1 and xx[0].vaccine_id == 0 and xx[0].new_reported_shots == 50
    # Wakanda never matched the dim -> dropped entirely
    assert all(r.country_short_code in {"FR", "XX"} for r in rows)


def test_unmatched_rows_surfaced(spark, tables):
    rejects = covid.unmatched_vaccination_countries(
        spark.table("daily_vaccine_statistics").sparkSession.createDataFrame(
            [("Wakanda",), ("France",)], "COUNTRY STRING"
        ),
        tables["country"],
    ).collect()
    assert [r.country for r in rejects] == ["Wakanda"]


def test_global_total_cumulative_cases(tables):
    [row] = tables["global_total_cumulative_cases"].collect()
    assert row.total_cumulative_cases == 35 + 10  # last per country


def test_yearly_summary_cfr(tables):
    rows = {r.Year: r for r in tables["covid_global_yearly_summary"].collect()}
    assert rows[2020].total_new_cases == 17 and rows[2020].total_new_deaths == 1
    assert rows[2021].total_new_cases == 28 and rows[2021].total_new_deaths == 4
    assert rows[2020].CFR == pytest.approx(1 / 17 * 100)
    assert rows[2020].Year_ts == datetime.datetime(2020, 1, 1)


def test_region_yearly_summary(tables):
    rows = {
        (r.WHO_region, r.Year): (r.total_cases, r.total_deaths)
        for r in tables["covid_region_yearly_summary"].collect()
    }
    assert rows[("EURO", 2020)] == (10, 1)  # Jan-3 row is calendar-2021
    assert rows[("EURO", 2021)] == (25, 3)
    assert rows[("UNKNOWN", 2021)] == (3, 1)


def test_serving_totals(spark, tables):
    assert records(serving.total_cases(spark)) == [{"total_weekly_cases": 45}]
    assert records(serving.total_deaths(spark)) == [{"total_weekly_deaths": 5}]
    [shots] = records(serving.total_vaccines(spark))
    assert shots["total_reported_shots"] == 100 + 100 + 150 + 150 + 50


def test_serving_weekly_join_and_pagination(spark, tables):
    all_rows = records(serving.weekly_statistics_total(spark, page=1, limit=10))
    assert len(all_rows) == 5
    fr_jan4 = next(
        r for r in all_rows if r["country"] == "France" and r["date"] == "2021-01-04"
    )
    # week (2021, 1) vaccinations = 100+100 exploded shots on Jan-4
    assert fr_jan4["vaccinations"] == 200
    assert fr_jan4["confirmed_cases"] == 20
    [meta] = records(serving.weekly_statistics_pagination(spark, limit=3))
    assert meta == {"total_rows": 5, "total_pages": 2}
    page2 = records(serving.weekly_statistics_total(spark, page=2, limit=3))
    assert len(page2) == 2


def test_serving_by_country_binding(spark, tables):
    rows = records(serving.weekly_statistics_by_country(spark, "FR"))
    assert [r["date"] for r in rows] == ["2020-12-28", "2021-01-04", "2021-01-11"]


def test_serving_top5_and_evolution(spark, tables):
    top = records(serving.top5_cases(spark))
    assert top[0] == {"country_name": "France", "total_cases": 35}
    evo = records(serving.covid_cases_evolution(spark))
    assert [r["total_cases"] for r in evo] == [22, 23, 0]


def test_serving_rates_with_population(spark, tables):
    rows = records(serving.country_covid_rates(spark))
    # Atlantis has population 0 -> filtered; France remains
    assert len(rows) == 1 and rows[0]["country_code"] == "FR"
    assert rows[0]["case_rate_percent"] == pytest.approx(35 / 67_000_000 * 100, abs=1e-2)


def test_serving_worldmap_allowlist(spark, tables):
    rows = {r["country"]: r["value"] for r in records(serving.worldmap(spark, "cases"))}
    assert rows == {"France": 35, "Atlantis": 10}
    with pytest.raises(KeyError):
        serving.worldmap(spark, "cases; DROP TABLE country")


def test_grafana_panels(spark, tables):
    yearly = records(serving.grafana_yearly_cases_delta(spark))
    assert [r["cases_delta"] for r in yearly] == [0, 28 - 17]
    region = records(serving.grafana_region_yearly_delta(spark))
    euro = [r for r in region if r["WHO_region"] == "EURO"]
    assert [r["cases_delta"] for r in euro] == [0, 25 - 10]
    latest = records(serving.grafana_latest_year_region_summary(spark))
    assert {r["Year"] for r in latest} == {2021}


def test_etl_job_end_to_end(spark, tmp_path):
    """The runnable job (python -m mspr2_back_spark.etl.run) against
    the reference's real CSVs: every table lands with plausible
    cardinalities and the warehouse is re-runnable (idempotent
    overwrite)."""
    import os

    from mspr2_back_spark.etl.run import main

    data_dir = "/root/reference/app/data"
    if not os.path.exists(os.path.join(data_dir, "data_covid")):
        pytest.skip("reference data not present")
    wh = str(tmp_path / "wh")
    manifest = main(["--data-dir", data_dir, "--warehouse", wh])
    assert manifest["weekly_statistics"] == 62640
    assert manifest["who_region"] == 8  # 7 decoded + null-region row
    assert manifest["disease"] == 1
    assert manifest["vaccine"] >= 2  # real vaccines + the 'unknown' default
    assert manifest["global_total_cumulative_cases"] == 1
    # Rerun converges (overwrite, not append).
    manifest2 = main(["--data-dir", data_dir, "--warehouse", wh])
    assert manifest2 == manifest
    got = spark.read.parquet(f"{wh}/weekly_statistics").count()
    assert got == manifest["weekly_statistics"]


def test_predicted_weekly_statistics(tables):
    """The §2.10 fix: predicted_weekly_statistics exists at the fact
    grain, one row per (country, future week), dates continuing the
    observed series weekly."""
    from mspr2_back_spark.ml.forecast import predict_weekly_statistics

    weekly = tables["weekly_statistics"]
    pred = predict_weekly_statistics(weekly, horizon_weeks=3, lookback=2)
    rows = pred.collect()
    countries = {r.country_short_code for r in weekly.select("country_short_code").collect()}
    assert len(rows) == 3 * len(countries)
    by_c = {}
    for r in rows:
        by_c.setdefault(r.country_short_code, []).append(r)
    last_obs = {
        r.country_short_code: r.d
        for r in weekly.groupBy("country_short_code")
        .agg(F.max("date_of_report").alias("d"))
        .collect()
    }
    for c, rs in by_c.items():
        rs.sort(key=lambda r: r.step)
        assert [r.step for r in rs] == [1, 2, 3]
        assert (rs[0].date_of_report - last_obs[c]).days == 7
        assert all((b.date_of_report - a.date_of_report).days == 7 for a, b in zip(rs, rs[1:]))
        assert all(r.predicted_new_cases == r.predicted_new_cases for r in rs)  # no NaN


def test_csv_ingestion_tolerates_malformed_rows(spark, tmp_path):
    """Bronze reads must survive dirty rows: PERMISSIVE mode keeps
    malformed lines as null-filled rows instead of failing the job —
    at 100 TB a handful of bad lines must never kill ingestion."""
    from mspr2_back_spark.etl import schemas

    path = tmp_path / "dirty.csv"
    path.write_text(
        "Date_reported,Country_code,Country,WHO_region,New_cases,"
        "Cumulative_cases,New_deaths,Cumulative_deaths\n"
        "2021-01-04,FR,France,EURO,20,35,2,3\n"
        "2021-01-05,FR,France,EURO,NOT_A_NUMBER,36,1,4\n"  # bad int
        "2021-01-06,FR,France,EURO,5,41,0,4\n"
    )
    df = (
        spark.read.schema(schemas.WHO_COVID_SCHEMA)
        .option("header", True)
        .option("mode", "PERMISSIVE")
        .csv(str(path))
    )
    rows = {r.Date_reported: r for r in df.collect()}
    assert len(rows) == 3  # nothing dropped, nothing crashed
    assert rows["2021-01-04"].New_cases == 20
    assert rows["2021-01-05"].New_cases is None  # malformed cell -> null
    assert rows["2021-01-06"].New_cases == 5
    # FAILFAST is the strict alternative: same file must raise.
    import pytest as _pytest

    strict = (
        spark.read.schema(schemas.WHO_COVID_SCHEMA)
        .option("header", True)
        .option("mode", "FAILFAST")
        .csv(str(path))
    )
    with _pytest.raises(Exception):
        strict.collect()


# ---------------------------------------------------------------------------
# Serving snapshot (AnalyticsEngine.covid_warehouse). These tests replace
# the serving views, so they stay after every test that reads the
# ``tables`` fixture's views.
# ---------------------------------------------------------------------------

SERVING_REQUESTS = (
    ("total_cases", ()),
    ("total_deaths", ()),
    ("total_vaccines", ()),
    ("weekly_statistics_total", (1, 3)),
    ("weekly_statistics_pagination", (3,)),
    ("weekly_statistics_by_country", ("FR",)),
    ("covid_cases_evolution", ()),
    ("vaccinations_evolution", ()),
    ("top5_deaths", ()),
    ("top5_cases", ()),
    ("country_covid_rates", ()),
    *(("worldmap", (m,)) for m in sorted(serving.WORLDMAP_METRICS)),
    ("grafana_yearly_cases_delta", ()),
    ("grafana_region_yearly_delta", ()),
    ("grafana_latest_year_region_summary", ()),
)


def _write_bronze(root, case_factor: int = 1) -> str:
    """Tiny bronze CSVs in the layout ``read_bronze`` reads, with the
    FIXTURES.md edge cases: a null region, null case/death cells, the
    ISO-week year boundary, null and blank VACCINES_USED, a padded
    country name, scientific notation, a vaccination country with no
    WHO match, and a zero population. ``case_factor`` scales New_cases
    so a rewrite changes the totals."""
    import csv

    from mspr2_back_spark.etl import schemas

    def write(path, schema, rows):
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w", newline="") as fh:
            w = csv.DictWriter(fh, [f.name for f in schema])
            w.writeheader()
            w.writerows(rows)

    who = [f.name for f in schemas.WHO_COVID_SCHEMA]
    write(
        root / "data_covid" / "WHO-COVID-19-global-data.csv",
        schemas.WHO_COVID_SCHEMA,
        [
            dict(zip(who, r[:4] + (None if r[4] is None else r[4] * case_factor,) + r[5:]))
            for r in COVID_ROWS
        ],
    )
    vax = ("COUNTRY", "DATE_UPDATED", "TOTAL_VACCINATIONS",
           "PERSONS_VACCINATED_1PLUS_DOSE", "PERSONS_LAST_DOSE", "VACCINES_USED")
    write(
        root / "data_covid" / "vaccination-data.csv",
        schemas.VACCINATION_SCHEMA,
        [
            dict(zip(vax, r))
            for r in [
                ("France", "2021-01-04", "1E2", 80.0, 70.0, "VaxA - One,VaxB - Two"),
                ("France", "2021-01-11", "2.5E2", 180.0, 150.0, "VaxA - One,VaxB - Two"),
                ("  atlantis ", "2021-01-04", 50.0, 40.0, 30.0, None),
                ("Wakanda", "2021-01-04", 9.0, 9.0, 9.0, "  "),
            ]
        ],
    )
    write(
        root / "data_covid" / "vaccination-metadata.csv",
        schemas.VACCINATION_METADATA_SCHEMA,
        [{"VACCINE_NAME": n} for n in ("VaxA - One", "VaxB - Two", "VaxC - Unused", None)],
    )
    write(
        root / "worldometer_coronavirus_summary_data.csv",
        schemas.WORLDOMETER_SCHEMA,
        [{"country": "France", "population": 67_000_000}, {"country": "Atlantis", "population": 0}],
    )
    return str(root)


def _serve_all(spark) -> dict:
    out = {}
    for name, params in SERVING_REQUESTS:
        rows = records(getattr(serving, name)(spark, *params))
        out[(name, params)] = sorted(rows, key=repr) if name == "worldmap" else rows
    return out


def test_serving_requests_cover_every_endpoint():
    import inspect

    endpoints = {
        n for n, f in inspect.getmembers(serving, inspect.isfunction)
        if f.__module__ == serving.__name__
    }
    assert {name for name, _ in SERVING_REQUESTS} == endpoints
    assert len(endpoints) == 15


def test_covid_warehouse_is_a_refreshable_snapshot(spark, tmp_path):
    """The serving warehouse is an eager snapshot: it answers every
    endpoint exactly as lazy views over the same CSVs do, keeps
    answering once the CSVs are gone, leaves no CacheManager entry that
    a later read of those CSVs could match, and a second call picks up
    rewritten bronze."""
    import shutil

    from pyspark import StorageLevel

    from mspr2_back_spark.engine import AnalyticsEngine
    from mspr2_back_spark.etl.run import read_bronze

    def build_lazy(data_dir):
        b = read_bronze(spark, data_dir)
        return covid.build_all(
            spark, b["covid_raw"], b["vaccination"], b["metadata"],
            worldometer=b.get("worldometer"),
        )

    data_dir = _write_bronze(tmp_path / "bronze")
    lazy = build_lazy(data_dir)
    covid.register_views(lazy)
    expected = _serve_all(spark)
    assert expected[("total_cases", ())] == [{"total_weekly_cases": 45}]

    snapshot = AnalyticsEngine(spark).covid_warehouse(data_dir)
    assert set(snapshot) == set(lazy)
    # (a) same rows as the lazy views of the same files
    assert _serve_all(spark) == expected
    # (c) no cache entry: neither the snapshot nor a fresh build over
    # the same CSVs is served from the CacheManager
    for df in (*snapshot.values(), *build_lazy(data_dir).values()):
        assert df.storageLevel == StorageLevel.NONE

    # (b) no request re-scans the CSVs
    shutil.rmtree(data_dir)
    assert _serve_all(spark) == expected

    # (d) rewritten bronze: a fresh build sees it, the snapshot does not
    # until covid_warehouse is called again
    _write_bronze(tmp_path / "bronze", case_factor=10)
    [fresh] = (
        build_lazy(data_dir)["weekly_statistics"]
        .agg(F.sum("week_new_reported_cases").alias("s"))
        .collect()
    )
    assert fresh.s == 450
    assert records(serving.total_cases(spark)) == [{"total_weekly_cases": 45}]
    AnalyticsEngine(spark).covid_warehouse(data_dir)
    assert records(serving.total_cases(spark)) == [{"total_weekly_cases": 450}]


def test_serving_snapshot_plans(spark, tmp_path):
    """Plan pin for serving over the snapshot: no endpoint's plan scans
    CSV, and the literal disease dim is a known-size broadcast side, so
    the disease semi-join plans as a BroadcastHashJoin from the start
    (an unknown-size dim made the initial plan a SortMergeJoin)."""
    from mspr2_back_spark.engine import AnalyticsEngine

    AnalyticsEngine(spark).covid_warehouse(_write_bronze(tmp_path / "bronze"))
    for name, params in SERVING_REQUESTS:
        df = getattr(serving, name)(spark, *params)
        qe = df._jdf.queryExecution()
        initial = qe.executedPlan().toString()  # AQE, not yet run
        if name in ("covid_cases_evolution", "country_covid_rates"):
            assert "SortMergeJoin" not in initial, name
            assert any(
                "BroadcastHashJoin" in line and "LeftSemi" in line
                for line in initial.splitlines()
            ), name
        records(df)
        assert "FileScan csv" not in qe.executedPlan().toString(), name


# Row counts of ``_write_bronze``'s tables, as the nightly job reports them.
NIGHTLY_MANIFEST = {
    "who_region": 2,
    "country": 2,
    "disease": 1,
    "vaccine": 4,
    "weekly_statistics": 5,
    "daily_vaccine_statistics": 5,
    "global_total_cumulative_cases": 1,
    "global_statistics": 2,
    "covid_global_yearly_summary": 2,
    "covid_region_yearly_summary": 4,
    "country_statistics": 2,
    "population": 2,
    "predicted_weekly_statistics": 8,
}


def test_nightly_job_leaves_the_serving_snapshot(spark, tmp_path):
    """The nightly job (``etl.run.main``) run in the serving session:
    it writes the manifest's tables as parquet and converges on rerun,
    and the views it leaves are a checkpointed snapshot like
    ``covid_warehouse``'s, so serving neither re-scans the CSVs nor
    needs them any more."""
    import shutil

    from pyspark import StorageLevel

    from mspr2_back_spark.engine import AnalyticsEngine
    from mspr2_back_spark.etl import run

    data_dir = _write_bronze(tmp_path / "bronze")
    AnalyticsEngine(spark).covid_warehouse(data_dir)
    expected = _serve_all(spark)

    # (a) the manifest; (b) parquet read-back and an idempotent rerun
    wh = str(tmp_path / "wh")
    argv = ["--data-dir", data_dir, "--warehouse", wh]
    manifest = run.main(argv)
    assert manifest == NIGHTLY_MANIFEST
    assert {n: spark.read.parquet(f"{wh}/{n}").count() for n in manifest} == manifest
    assert run.main(argv) == manifest

    # (c) no request scans CSV, and every endpoint answers as before
    for name, params in SERVING_REQUESTS:
        df = getattr(serving, name)(spark, *params)
        records(df)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "FileScan csv" not in plan, name
    assert _serve_all(spark) == expected

    # (d) the views outlive the bronze
    shutil.rmtree(data_dir)
    assert _serve_all(spark) == expected

    # (e) no view the job leaves is a CacheManager entry
    for name in manifest:
        assert spark.table(name).storageLevel == StorageLevel.NONE, name


def test_warm_serving_pass_compiles_no_generated_code(spark, tmp_path):
    """The session's generated-class cache holds the warehouse snapshot
    and every serving endpoint, so a warm pass over the endpoints
    compiles no class with Janino. With Spark's default 100 entries the
    same pass recompiled 90-110 of them."""
    from mspr2_back_spark.engine import AnalyticsEngine
    from mspr2_back_spark.session import CODEGEN_CACHE_ENTRIES, codegen_compiles

    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_ENTRIES
    )
    AnalyticsEngine(spark).covid_warehouse(_write_bronze(tmp_path / "bronze"))
    _serve_all(spark)
    before = codegen_compiles(spark)
    _serve_all(spark)
    assert codegen_compiles(spark) - before == 0
