"""Seeded bronze CSV generator for the pandemic ETL (the serve workload).

Writes the four source files ``etl/run.read_bronze`` reads, with the
columns of ``etl/schemas.py`` and the shapes of the reference inputs
(one WHO row per country per week, a few vaccination snapshots per
country, vaccine metadata, one worldometer row per country). The
FIXTURES.md edge cases are always present:

- whole countries with a null ``WHO_region`` (the "UNKNOWN" path);
- null ``New_cases``/``New_deaths`` cells (zero-filled by the ETL);
- null, empty and whitespace-only ``VACCINES_USED`` (the 'unknown'
  vaccine path), and a vaccine name missing from the metadata;
- a vaccination country with no WHO match (dropped by the ETL);
- ``TOTAL_VACCINATIONS`` written in scientific notation;
- ISO-week year-boundary report dates (Dec 29 - Jan 3);
- a zero and a null population in the worldometer file.

The same (seed, scale) always gives the same bytes. The WHO rows, which
carry nearly all the work, depend on ``scale`` only; the small
vaccination and metadata files vary by a few rows with the seed. The
generator also returns the answers the program must reproduce
(``Bronze.expected``), derived from the generated rows with plain
pandas, never from the program.
"""

from __future__ import annotations

import dataclasses
import math
import os

import numpy as np
import pandas as pd

REGIONS = ("EMRO", "EURO", "AFRO", "WPRO", "AMRO", "SEARO")
VACCINES = (
    "AstraZeneca - AZD1222",
    "Moderna - mRNA-1273",
    "Pfizer BioNTech - Comirnaty",
    "Janssen - Ad26.COV 2-S",
    "Sinovac - CoronaVac",
    "Gamaleya - Sputnik V",
    "Novavax - NVX-CoV2373",
    "Bharat - Covaxin",
)
# Named in VACCINES_USED but absent from the metadata: joins to a null
# vaccine id in daily_vaccine_statistics.
UNLISTED_VACCINE = "Local - Unlisted"
UNMATCHED_COUNTRY = "Atlantis (vaccination only)"
FIRST_REPORT = pd.Timestamp("2019-12-29")  # a Sunday; weekly from here
SERVE_PAGE_LIMIT = 100  # etl.serving pagination default
FORECAST_HORIZON_WEEKS = 4  # ml.forecast.predict_weekly_statistics default

WHO_FILE = os.path.join("data_covid", "WHO-COVID-19-global-data.csv")
VACCINATION_FILE = os.path.join("data_covid", "vaccination-data.csv")
METADATA_FILE = os.path.join("data_covid", "vaccination-metadata.csv")
WORLDOMETER_FILE = "worldometer_coronavirus_summary_data.csv"


@dataclasses.dataclass
class Bronze:
    data_dir: str
    rows: dict[str, int]
    bytes: dict[str, int]
    country_codes: list[str]
    expected: dict


def sizes(scale: float) -> tuple[int, int]:
    """(countries, weeks); scale 1.0 is the reference's 240 x 261."""
    return max(12, round(240 * scale)), max(60, round(261 * scale))


def _country_names(rng: np.random.Generator, n: int) -> list[str]:
    syllables = ["ba", "lo", "ri", "ma", "té", "ka", "su", "ne", "do", "vi", "ô", "qu"]
    names: set[str] = set()
    out = []
    while len(out) < n:
        parts = rng.choice(syllables, size=int(rng.integers(2, 5)))
        name = "".join(parts).capitalize()
        if rng.random() < 0.2:
            name += " d'" + "".join(rng.choice(syllables, size=2)).capitalize()
        if name.lower() not in names:
            names.add(name.lower())
            out.append(name)
    return out


def generate(out_dir: str, seed: int, scale: float) -> Bronze:
    rng = np.random.default_rng(seed)
    n_countries, n_weeks = sizes(scale)
    letters = np.array([a + b for a in "ABCDEFGHIJKLMNOPQRSTUVWXYZ" for b in "ABCDEFGHIJKLMNOPQRSTUVWXYZ"])
    codes = sorted(rng.choice(letters, size=n_countries, replace=False).tolist())
    names = _country_names(rng, n_countries)
    regions = rng.choice(REGIONS, size=n_countries).astype(object)
    regions[rng.choice(n_countries, size=max(1, n_countries // 30), replace=False)] = None

    # -- WHO weekly case/death rows -------------------------------------
    dates = FIRST_REPORT + pd.to_timedelta(7 * np.arange(n_weeks), unit="D")
    n = n_countries * n_weeks
    level = rng.lognormal(6.0, 1.5, size=n_countries)
    new_cases = rng.poisson(np.repeat(level, n_weeks)).astype("float64")
    new_deaths = rng.binomial(new_cases.astype(np.int64), 0.01).astype("float64")
    new_cases[rng.random(n) < 0.02] = np.nan
    new_deaths[rng.random(n) < 0.02] = np.nan
    cum_cases = np.nan_to_num(new_cases).reshape(n_countries, n_weeks).cumsum(axis=1).ravel()
    cum_deaths = np.nan_to_num(new_deaths).reshape(n_countries, n_weeks).cumsum(axis=1).ravel()
    who = pd.DataFrame(
        {
            "Date_reported": np.tile(dates.strftime("%Y-%m-%d"), n_countries),
            "Country_code": np.repeat(codes, n_weeks),
            "Country": np.repeat(names, n_weeks),
            "WHO_region": np.repeat(regions, n_weeks),
            "New_cases": pd.array(new_cases, dtype="Int64"),
            "Cumulative_cases": cum_cases.astype(np.int64),
            "New_deaths": pd.array(new_deaths, dtype="Int64"),
            "Cumulative_deaths": cum_deaths.astype(np.int64),
        }
    )

    # -- vaccination snapshots (cumulative, a few dates per country) ----
    vac_rows = []
    for i, name in enumerate(names + [UNMATCHED_COUNTRY]):
        shown = name.upper() if rng.random() < 0.3 else name
        shown = f"  {shown} " if rng.random() < 0.2 else shown
        total = 0.0
        for k in range(int(rng.integers(2, 6))):
            total += float(rng.integers(1_000, 5_000_000))
            roll = rng.random()
            if roll < 0.08:
                used = None
            elif roll < 0.12:
                used = "" if roll < 0.10 else "   "
            else:
                picks = rng.choice(VACCINES + (UNLISTED_VACCINE,), size=int(rng.integers(1, 4)), replace=False)
                used = ",".join(picks)
            vac_rows.append(
                {
                    "COUNTRY": shown,
                    "ISO3": (codes[i] if i < n_countries else "ATL") + "X",
                    "WHO_REGION": regions[i] if i < n_countries else "EURO",
                    "DATA_SOURCE": "REPORTING" if rng.random() < 0.7 else "OWID",
                    "DATE_UPDATED": (
                        pd.Timestamp("2021-01-04") + pd.Timedelta(days=60 * k + int(rng.integers(0, 30)))
                    ).strftime("%Y-%m-%d"),
                    "TOTAL_VACCINATIONS": f"{total:.6E}" if rng.random() < 0.3 else f"{total:.1f}",
                    "PERSONS_VACCINATED_1PLUS_DOSE": round(total * 0.6),
                    "TOTAL_VACCINATIONS_PER100": round(rng.random() * 200, 3),
                    "PERSONS_VACCINATED_1PLUS_DOSE_PER100": round(rng.random() * 100, 3),
                    "PERSONS_LAST_DOSE": round(total * 0.5) if rng.random() < 0.9 else None,
                    "PERSONS_LAST_DOSE_PER100": round(rng.random() * 100, 3),
                    "VACCINES_USED": used,
                    "FIRST_VACCINE_DATE": "2020-12-15",
                    "NUMBER_VACCINES_TYPES_USED": 0 if used is None else len(used.split(",")),
                    "PERSONS_BOOSTER_ADD_DOSE": None if rng.random() < 0.3 else round(total * 0.2),
                    "PERSONS_BOOSTER_ADD_DOSE_PER100": round(rng.random() * 50, 3),
                }
            )
    vaccination = pd.DataFrame(vac_rows)

    # -- vaccine metadata: every listed vaccine plus extra products -----
    meta_names = list(VACCINES) + ["Extra - Never Used A", "Extra - Never Used B"]
    meta_rows = [
        {
            "ISO3": codes[int(rng.integers(n_countries))] + "X",
            "PRODUCT_NAME": f"{v} product {j}",
            "VACCINE_NAME": v,
            "COMPANY_NAME": v.split(" - ")[0],
            "AUTHORIZATION_DATE": None,
            "START_DATE": "2021-01-01",
            "END_DATE": None,
            "COMMENT": None,
            "DATA_SOURCE": "REPORTING",
        }
        for v in meta_names
        for j in range(int(rng.integers(1, 4)))
    ]
    metadata = pd.DataFrame(meta_rows)

    # -- worldometer (the `population` source) --------------------------
    population = rng.integers(100_000, 200_000_000, size=n_countries).astype(object)
    population[0] = 0
    population[1] = None
    worldometer = pd.DataFrame(
        {
            "country": names,
            "continent": rng.choice(["Asia", "Europe", "Africa", "America", "Oceania"], size=n_countries),
            "total_confirmed": cum_cases.reshape(n_countries, n_weeks)[:, -1].astype(np.int64),
            "total_deaths": cum_deaths.reshape(n_countries, n_weeks)[:, -1],
            "total_recovered": None,
            "active_cases": None,
            "serious_or_critical": None,
            "total_cases_per_1m_population": None,
            "total_deaths_per_1m_population": None,
            "total_tests": None,
            "total_tests_per_1m_population": None,
            "population": pd.array(population, dtype="Int64"),
        }
    )

    frames = {
        WHO_FILE: who,
        VACCINATION_FILE: vaccination,
        METADATA_FILE: metadata,
        WORLDOMETER_FILE: worldometer,
    }
    os.makedirs(os.path.join(out_dir, "data_covid"), exist_ok=True)
    for rel, df in frames.items():
        df.to_csv(os.path.join(out_dir, rel), index=False)
    return Bronze(
        data_dir=out_dir,
        rows={rel: len(df) for rel, df in frames.items()},
        bytes={rel: os.path.getsize(os.path.join(out_dir, rel)) for rel in frames},
        country_codes=codes,
        expected=_expected(who, vaccination, metadata, worldometer, n_weeks),
    )


def _expected(who, vaccination, metadata, worldometer, n_weeks) -> dict:
    """Answers derived from the generated rows: serving totals and the
    ETL manifest row counts."""
    region = who["WHO_region"].fillna("UNKNOWN")
    years = pd.to_datetime(who["Date_reported"]).dt.year
    country_keys = set(who["Country"].str.strip().str.lower())

    daily = 0
    for _, r in vaccination.iterrows():
        if r["COUNTRY"].strip().lower() not in country_keys:
            continue
        used = r["VACCINES_USED"]
        daily += 1 if used is None or not used.strip() else len(used.strip().split(","))

    n_countries = who["Country_code"].nunique()
    weekly_rows = n_countries * n_weeks
    manifest = {
        "who_region": region.nunique(),
        "country": n_countries,
        "disease": 1,
        "vaccine": metadata["VACCINE_NAME"].nunique() + 1,
        "weekly_statistics": weekly_rows,
        "daily_vaccine_statistics": daily,
        "global_total_cumulative_cases": 1,
        "global_statistics": who["Country"].nunique(),
        "covid_global_yearly_summary": years.nunique(),
        "covid_region_yearly_summary": len(set(zip(region, years))),
        "country_statistics": n_countries,
        "population": len(worldometer),
        "predicted_weekly_statistics": n_countries * FORECAST_HORIZON_WEEKS,
    }
    return {
        "total_cases": int(who["New_cases"].fillna(0).sum()),
        "total_deaths": int(who["New_deaths"].fillna(0).sum()),
        "weekly_rows": weekly_rows,
        "weekly_pages": math.ceil(weekly_rows / SERVE_PAGE_LIMIT),
        "weeks_per_country": n_weeks,
        "manifest": manifest,
    }
