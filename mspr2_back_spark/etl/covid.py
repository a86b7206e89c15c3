"""Pandemic-analytics ETL: star schema + summary tables, Spark-first.

Re-expresses the reference's batch pipeline (ref app/etl.py:59-172)
as pure DataFrame→DataFrame transforms: WHO case/death CSV +
vaccination CSVs → dimensions (who_region, country, disease, vaccine)
and facts (weekly_statistics, daily_vaccine_statistics), plus the
Gen-B/Gen-C summary tables specified in the reference's README
(ref README.md:1-33) and Grafana dashboard.

Deliberate divergences from the reference (SURVEY §7.4), each noted
on the function:
- dates are cast before any ordering (the reference lags over a
  string DATE_UPDATED, ref app/etl.py:122);
- dimension joins are explicitly broadcast;
- the sink is managed parquet (``save_tables``), not JDBC — Spark is
  the warehouse; JDBC remains possible via df.write.jdbc;
- silently-dropped unmatched fact rows are surfaced by
  ``unmatched_vaccination_countries`` (the reference drops them with
  a bare isNotNull filter, ref app/etl.py:158).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

# ref app/etl.py:71-79 — WHO region decode table
WHO_REGION_NAMES = {
    "EMRO": "Eastern Mediterranean Region",
    "EURO": "European Region",
    "AFRO": "African Region",
    "WPRO": "Western Pacific Region",
    "AMRO": "Region of the Americas",
    "SEARO": "South-East Asia Region",
    "UNKNOWN": "Other",
}


# ---------------------------------------------------------------------------
# Cleaning (bronze → silver)
# ---------------------------------------------------------------------------


def clean_covid_data(covid: DataFrame) -> DataFrame:
    """Parse dates, zero-fill case/death counts, default the region
    (ref app/etl.py:64-67)."""
    return (
        covid.withColumn("Date_reported", F.to_date("Date_reported", "yyyy-MM-dd"))
        .na.fill({"New_cases": 0, "New_deaths": 0})
        .na.fill({"WHO_region": "UNKNOWN"})
    )


# ---------------------------------------------------------------------------
# Dimensions
# ---------------------------------------------------------------------------


def build_who_regions(covid: DataFrame) -> DataFrame:
    """WHO region dim with name decode (ref app/etl.py:80-88).

    The reference hand-writes a 6-branch when-chain; a literal map
    lookup scales to any mapping size and stays one expression."""
    mapping = F.create_map(
        *[F.lit(x) for kv in WHO_REGION_NAMES.items() for x in kv]
    )
    return (
        covid.select(F.col("WHO_region").alias("who_region_short_code"))
        .distinct()
        .withColumn(
            "who_region_name",
            F.coalesce(
                mapping[F.col("who_region_short_code")], F.lit(WHO_REGION_NAMES["UNKNOWN"])
            ),
        )
    )


def build_countries(covid: DataFrame) -> DataFrame:
    """Country dim (ref app/etl.py:91-95)."""
    return covid.select(
        F.col("Country_code").alias("country_short_code"),
        F.col("Country").alias("country_name"),
        F.col("WHO_region").alias("who_region_short_code"),
    ).distinct()


def build_diseases(spark: SparkSession) -> DataFrame:
    """Literal disease dim (ref app/etl.py:98). Built in the JVM from
    a one-row range, so it plans with a known 16-byte size (a
    broadcast side) instead of a Python-worker RDD scan of unknown
    size."""
    return spark.range(1, numPartitions=1).select(
        F.lit(1).alias("id"), F.lit("COVID-19").alias("name")
    )


def build_vaccines(spark: SparkSession, metadata: DataFrame) -> DataFrame:
    """Vaccine dim: surrogate ids by name order + default 'unknown'
    row (ref app/etl.py:101-108).

    The id assignment is a row_number over a global name order —
    a single-partition window. Acceptable solely because the distinct
    vaccine list is tiny (the ref's X4 anti-pattern, contained to dim
    size); ids are deterministic given the name set, so tests join on
    names (SURVEY §7.4 trap 3)."""
    names = (
        metadata.select(F.col("VACCINE_NAME").alias("name"))
        .filter(F.col("name").isNotNull())
        .distinct()
    )
    ids = names.select(
        F.row_number().over(W.orderBy("name")).alias("id"),
        "name",
        F.lit(1).alias("treated_disease"),
    )
    default = spark.range(1, numPartitions=1).select(
        F.lit(0).alias("id"),
        F.lit("unknown").alias("name"),
        F.lit(1).alias("treated_disease"),
    )
    return ids.unionByName(default)


# ---------------------------------------------------------------------------
# Facts
# ---------------------------------------------------------------------------


def build_weekly_statistics(covid: DataFrame) -> DataFrame:
    """country × week fact: Monday-truncated week, summed dailies
    (ref app/etl.py:111-117). Hash agg with map-side partials; the
    shuffle carries (country, week) groups, not raw rows."""
    return (
        covid.groupBy(
            F.col("Country_code").alias("country_short_code"),
            F.date_trunc("week", F.col("Date_reported"))
            .cast("date")
            .alias("date_of_report"),
        )
        .agg(
            F.sum("New_cases").cast("int").alias("week_new_reported_cases"),
            F.sum("New_deaths").cast("int").alias("week_new_reported_deaths"),
        )
        .withColumn("disease_id", F.lit(1))
    )


def build_daily_vaccine_statistics(
    vaccination: DataFrame, countries: DataFrame, vaccines: DataFrame
) -> DataFrame:
    """country × day × vaccine fact (ref app/etl.py:120-158).

    Pipeline: cumulative→delta lag-diff per country (date-ordered —
    the reference orders by the raw string, SURVEY §7.4 trap 2),
    comma-list → explode of VACCINES_USED with the null/empty →
    ['unknown'] rule, name-normalized broadcast join to the country
    dim, name join to the vaccine dim, then the reference's
    drop-unmatched filter.

    No manual repartition: the window's partitionBy plans its own
    exchange (the ref's X3 is redundant)."""
    vac = vaccination.withColumn(
        "day_of_report", F.to_date("DATE_UPDATED", "yyyy-MM-dd")
    )
    win = W.partitionBy("COUNTRY").orderBy("day_of_report")
    deltas = vac.withColumn("prev_total", F.lag("TOTAL_VACCINATIONS").over(win)).withColumn(
        "new_reported_shots",
        F.coalesce(
            F.col("TOTAL_VACCINATIONS") - F.col("prev_total"),
            F.col("TOTAL_VACCINATIONS"),
        ),
    )
    exploded = deltas.withColumn(
        "vaccine",
        F.explode(
            F.when(
                F.col("VACCINES_USED").isNull()
                | (F.trim(F.col("VACCINES_USED")) == ""),
                F.array(F.lit("unknown")),
            ).otherwise(F.split(F.trim(F.col("VACCINES_USED")), ","))
        ),
    )
    # LONG, not the reference's INT cast (ref app/etl.py:143): real
    # cumulative totals exceed 2^31 (caught by ANSI mode on the real
    # WHO data; the reference silently relies on pre-ANSI behavior).
    facts = exploded.select(
        F.lower(F.trim(F.col("COUNTRY"))).alias("country_name_clean"),
        "day_of_report",
        "vaccine",
        F.col("new_reported_shots").cast("long").alias("new_reported_shots"),
    ).filter(F.col("day_of_report").isNotNull())
    dim_countries = F.broadcast(
        countries.select(
            F.lower(F.trim(F.col("country_name"))).alias("country_name_clean"),
            "country_short_code",
        )
    )
    dim_vaccines = F.broadcast(vaccines.select("id", "name"))
    return (
        facts.join(dim_countries, "country_name_clean", "left")
        .join(dim_vaccines, facts.vaccine == dim_vaccines.name, "left")
        .select(
            "country_short_code",
            "day_of_report",
            F.col("id").alias("vaccine_id"),
            F.coalesce("new_reported_shots", F.lit(0)).alias("new_reported_shots"),
        )
        .filter(F.col("country_short_code").isNotNull())
    )


def unmatched_vaccination_countries(
    vaccination: DataFrame, countries: DataFrame
) -> DataFrame:
    """Reject-side of the country-name join the reference silently
    drops (SURVEY §7.4 trap 7): vaccination rows whose normalized
    country name has no match in the country dim."""
    dim = countries.select(
        F.lower(F.trim(F.col("country_name"))).alias("country_name_clean")
    ).distinct()
    return (
        vaccination.select(
            F.lower(F.trim(F.col("COUNTRY"))).alias("country_name_clean"),
            F.col("COUNTRY").alias("country"),
        )
        .join(F.broadcast(dim), "country_name_clean", "left_anti")
        .distinct()
    )


# ---------------------------------------------------------------------------
# Gen-C summary tables (ref README.md:1-33) and Gen-B legacy tables
# ---------------------------------------------------------------------------


def _last_cumulative_per_country(covid: DataFrame) -> DataFrame:
    """Latest Cumulative_cases per country with a deterministic
    tiebreak (SURVEY §7.4 trap 4)."""
    win = W.partitionBy("Country_code").orderBy(
        F.col("Date_reported").desc(), F.col("Cumulative_cases").desc()
    )
    return (
        covid.withColumn("rn", F.row_number().over(win))
        .filter(F.col("rn") == 1)
        .select("Country_code", "Country", "Cumulative_cases")
    )


def build_global_total_cumulative_cases(covid: DataFrame) -> DataFrame:
    """Single row: Σ over countries of last Cumulative_cases
    (ref README.md:1-3)."""
    return _last_cumulative_per_country(covid).agg(
        F.sum("Cumulative_cases").alias("total_cumulative_cases")
    )


def build_global_statistics(covid: DataFrame, vaccination: DataFrame) -> DataFrame:
    """Per-country means + last cumulative (ref README.md:6-13)."""
    per_day = covid.groupBy(F.col("Country").alias("country")).agg(
        F.avg("New_cases").alias("avg_new_cases_per_day"),
        F.avg("New_deaths").alias("avg_new_deaths_per_day"),
    )
    vacc = vaccination.groupBy(
        F.lower(F.trim(F.col("COUNTRY"))).alias("country_clean")
    ).agg(
        F.avg("PERSONS_VACCINATED_1PLUS_DOSE").alias("avg_people_vaccinated"),
        F.avg("PERSONS_LAST_DOSE").alias("avg_people_fully_vaccinated"),
    )
    last = _last_cumulative_per_country(covid).select(
        F.col("Country").alias("country"),
        F.col("Cumulative_cases").alias("last_cumulative_cases"),
    )
    return (
        per_day.join(last, "country", "left")
        .withColumn("country_clean", F.lower(F.trim(F.col("country"))))
        .join(vacc, "country_clean", "left")
        .drop("country_clean")
    )


def build_covid_global_yearly_summary(covid: DataFrame) -> DataFrame:
    """Per-year totals + CFR + Year_ts (ref README.md:16-24)."""
    return (
        covid.groupBy(F.year("Date_reported").alias("Year"))
        .agg(
            F.sum("New_cases").alias("total_new_cases"),
            F.sum("New_deaths").alias("total_new_deaths"),
            F.sum("Cumulative_cases").alias("total_cumulative_cases"),
            F.sum("Cumulative_deaths").alias("total_cumulative_deaths"),
        )
        .withColumn(
            "CFR",
            F.col("total_new_deaths")
            / F.nullif(F.col("total_new_cases").cast("double"), F.lit(0.0))
            * 100.0,
        )
        .withColumn("Year_ts", F.make_date("Year", F.lit(1), F.lit(1)).cast("timestamp"))
    )


def build_covid_region_yearly_summary(covid: DataFrame) -> DataFrame:
    """Per (WHO_region, year) totals + Year_ts (ref README.md:27-33,
    app/sql/region_yearly_summary.sql)."""
    return (
        covid.groupBy(
            F.col("WHO_region").alias("WHO_region"),
            F.year("Date_reported").alias("Year"),
        )
        .agg(
            F.sum("New_cases").alias("total_cases"),
            F.sum("New_deaths").alias("total_deaths"),
        )
        .withColumn("Year_ts", F.make_date("Year", F.lit(1), F.lit(1)).cast("timestamp"))
    )


def build_country_statistics(
    covid: DataFrame, vaccination: DataFrame, worldometer: DataFrame
) -> DataFrame:
    """Gen-B country_statistics(Country, total_cases,
    total_vaccinated, population) (ref app/sql/country_statistics.sql,
    populated here from the real sources — the snapshot never ships
    the ETL that filled it)."""
    last = _last_cumulative_per_country(covid).select(
        F.col("Country").alias("Country"),
        F.col("Cumulative_cases").alias("total_cases"),
        F.lower(F.trim(F.col("Country"))).alias("k"),
    )
    vacc = vaccination.groupBy(
        F.lower(F.trim(F.col("COUNTRY"))).alias("k")
    ).agg(F.max("PERSONS_VACCINATED_1PLUS_DOSE").alias("total_vaccinated"))
    pop = worldometer.select(
        F.lower(F.trim(F.col("country"))).alias("k"), "population"
    )
    return (
        last.join(vacc, "k", "left")
        .join(F.broadcast(pop), "k", "left")
        .select("Country", "total_cases", "total_vaccinated", "population")
    )


# ---------------------------------------------------------------------------
# Pipeline orchestration
# ---------------------------------------------------------------------------

TABLE_BUILDERS = (
    "who_region",
    "country",
    "disease",
    "vaccine",
    "weekly_statistics",
    "daily_vaccine_statistics",
    "global_total_cumulative_cases",
    "global_statistics",
    "covid_global_yearly_summary",
    "covid_region_yearly_summary",
    "country_statistics",
)


def build_all(
    spark: SparkSession,
    covid_raw: DataFrame,
    vaccination: DataFrame,
    metadata: DataFrame,
    worldometer: DataFrame | None = None,
) -> dict[str, DataFrame]:
    """Run the full dimensional build; returns name → DataFrame
    (lazy — nothing executes until a sink or action)."""
    covid = clean_covid_data(covid_raw)
    countries = build_countries(covid)
    vaccines = build_vaccines(spark, metadata)
    out = {
        "who_region": build_who_regions(covid),
        "country": countries,
        "disease": build_diseases(spark),
        "vaccine": vaccines,
        "weekly_statistics": build_weekly_statistics(covid),
        "daily_vaccine_statistics": build_daily_vaccine_statistics(
            vaccination, countries, vaccines
        ),
        "global_total_cumulative_cases": build_global_total_cumulative_cases(covid),
        "global_statistics": build_global_statistics(covid, vaccination),
        "covid_global_yearly_summary": build_covid_global_yearly_summary(covid),
        "covid_region_yearly_summary": build_covid_region_yearly_summary(covid),
    }
    if worldometer is not None:
        out["country_statistics"] = build_country_statistics(
            covid, vaccination, worldometer
        )
        out["population"] = worldometer
    return out


def save_tables(tables: dict[str, DataFrame], warehouse_dir: str) -> None:
    """Persist the gold layer as parquet tables (overwrite semantics
    replace the reference's DELETE-then-append JDBC dance,
    ref app/etl.py:31-36,170-172)."""
    for name, df in tables.items():
        df.write.mode("overwrite").parquet(os.path.join(warehouse_dir, name))


def register_views(tables: dict[str, DataFrame]) -> None:
    """Expose the warehouse to spark.sql — the serving layer queries
    these names exactly as the reference's SQL queries its Postgres
    tables. A view reads the frame it is given; ``etl.run.snapshot``
    registers checkpointed frames, so serving queries read stored
    tables."""
    for name, df in tables.items():
        df.createOrReplaceTempView(name)
