"""The ``serve`` workload: dashboard and REST traffic of the paper.

Set-up writes seeded bronze CSVs and starts serving the way the API
does: ``AnalyticsEngine.covid_warehouse`` registers the serving views
over the *lazy* ETL frames of that bronze. Every request is one
``etl.serving`` endpoint call followed by ``functions.marshal.records``,
so each request re-runs the CSV -> star-schema work under its SQL. The
benchmark materializes, caches and re-reads no warehouse to serve.

The 17 requests are the 15 endpoints, with ``worldmap`` once per
metric, so every run costs the program the same mix of work whatever
the seed. The country code and the page are drawn from the seed once
per run. The warm-up makes each request once; a timed pass makes each
request twice, in the warm-up's order. The order is the same for every
seed: a seeded order changes how far JIT compilation of each request's
code paths has got when it is timed, and with it the run's figures.

The traced run also runs the nightly ETL job once, after its timed
phases (``nightly_job``): ``etl.run.main`` writes a run-owned parquet
warehouse from the same bronze, and its layers are reported per job.
"""

from __future__ import annotations

import contextlib
import hashlib
import io
import json
import os
import random

import pyarrow.parquet as pq

import bronze as bronze_gen
import checks

ENDPOINTS = (
    "total_cases",
    "total_deaths",
    "total_vaccines",
    "weekly_statistics_total",
    "weekly_statistics_pagination",
    "weekly_statistics_by_country",
    "covid_cases_evolution",
    "vaccinations_evolution",
    "top5_deaths",
    "top5_cases",
    "country_covid_rates",
    "worldmap",
    "grafana_yearly_cases_delta",
    "grafana_region_yearly_delta",
    "grafana_latest_year_region_summary",
)
# the only endpoint whose SQL has no ORDER BY: its digest ignores row order
UNORDERED = {"worldmap"}
# a pass makes every request this many times: 17 requests alone give
# too few samples for a steady median on a shared 4-core box
REQUEST_REPEATS = 2


def _digest(name: str, rows: list[dict]) -> str:
    canon = [json.dumps(checks.canonical(r), sort_keys=True) for r in rows]
    if name in UNORDERED:
        canon.sort()
    return hashlib.sha256("\n".join(canon).encode()).hexdigest()


class Serve:
    def __init__(self, ctx, seed: int, scale: float) -> None:
        self.ctx = ctx
        self.seed = seed
        self.scale = scale
        self.digests: dict[tuple, str] = {}

    # -- set-up --------------------------------------------------------

    def setup(self) -> None:
        ctx = self.ctx
        data_dir = os.path.join(ctx.run_dir, "bronze")
        self.bronze = bronze_gen.generate(data_dir, self.seed, self.scale)
        ctx.diag["inputs"] = {"rows": self.bronze.rows, "bytes": self.bronze.bytes}

        from mspr2_back_spark.engine import AnalyticsEngine
        from mspr2_back_spark.etl import serving
        from mspr2_back_spark.functions import marshal

        self.serving, self.marshal = serving, marshal
        with ctx.tracer.span("etl.covid_warehouse"):
            AnalyticsEngine(ctx.spark).covid_warehouse(data_dir)

        rng = random.Random(self.seed)
        params = {
            "weekly_statistics_total": [(rng.randint(1, self.bronze.expected["weekly_pages"]),)],
            "weekly_statistics_by_country": [(rng.choice(self.bronze.country_codes),)],
            "worldmap": [(m,) for m in sorted(serving.WORLDMAP_METRICS)],
        }
        self.requests = [(name, p) for name in ENDPOINTS for p in params.get(name, [()])]
        # warm-up: each request once; its digest is the reference for
        # every later call
        for name, p in self.requests:
            rows = self._request(name, p)
            with ctx.untimed():
                self.digests[(name, p)] = _digest(name, rows)
                ctx.setup_check(f"serve {name}{p}", self._known_answer(name, p, rows))

    def nightly_job(self) -> None:
        """One ``etl.run.main`` run into a run-owned warehouse, layer by
        layer under the current tracer; its outputs are checked."""
        ctx = self.ctx
        from mspr2_back_spark.etl import covid, run
        from mspr2_back_spark.ml import forecast

        patches = [
            (run, "read_bronze", "etl.read_bronze"),
            (covid, "build_all", "etl.build_all"),
            (forecast, "predict_weekly_statistics", "ml.predict_weekly_statistics"),
            (covid, "save_tables", "etl.save_tables"),
        ]
        warehouse = os.path.join(ctx.run_dir, "warehouse")
        saved = [getattr(mod, attr) for mod, attr, _ in patches]
        try:
            for (mod, attr, span), fn in zip(patches, saved):
                setattr(mod, attr, ctx.traced(span, fn))
            with ctx.tracer.span("etl.run.main"), contextlib.redirect_stdout(io.StringIO()):
                manifest = run.main(["--data-dir", self.bronze.data_dir, "--warehouse", warehouse])
        finally:
            for (mod, attr, _), fn in zip(patches, saved):
                setattr(mod, attr, fn)

        with ctx.untimed():
            expected = self.bronze.expected["manifest"]
            ctx.setup_check("etl manifest", manifest == expected, f"{manifest} != {expected}")
            files = [os.path.join(d, f) for d, _, fs in os.walk(warehouse) for f in fs]
            read_back = {
                name: pq.read_table(os.path.join(warehouse, name)).num_rows for name in manifest
            }
            ctx.setup_check("etl warehouse read-back", read_back == expected, f"{read_back} != {expected}")
            ctx.diag["warehouse"] = {
                "files": len(files),
                "bytes": sum(os.path.getsize(f) for f in files),
            }

    # -- ops -----------------------------------------------------------

    def _request(self, name: str, params: tuple) -> list[dict]:
        ctx = self.ctx
        tracer = ctx.tracer
        with tracer.span("etl.serving.build"):
            df = getattr(self.serving, name)(ctx.spark, *params)
        if tracer.enabled:
            with tracer.span("spark.plan"):
                df._jdf.queryExecution().executedPlan()
        with tracer.span("functions.marshal.records"):
            return self.marshal.records(df)

    def _known_answer(self, name: str, params: tuple, rows: list[dict]) -> bool:
        expected = self.bronze.expected
        if name == "total_cases":
            return rows == [{"total_weekly_cases": expected["total_cases"]}]
        if name == "total_deaths":
            return rows == [{"total_weekly_deaths": expected["total_deaths"]}]
        if name == "weekly_statistics_pagination":
            return rows == [{"total_rows": expected["weekly_rows"], "total_pages": expected["weekly_pages"]}]
        if name == "weekly_statistics_by_country":
            return len(rows) == expected["weeks_per_country"] and all(
                r["country"] is not None for r in rows
            )
        if name == "weekly_statistics_total":
            (page,) = params
            limit = bronze_gen.SERVE_PAGE_LIMIT
            return len(rows) == max(0, min(limit, expected["weekly_rows"] - (page - 1) * limit))
        return len(rows) > 0

    def pass_ops(self) -> list:
        return [
            (i, name, lambda n=name, p=params: self._request(n, p), self._checker(name, params))
            for i, (name, params) in enumerate(self.requests * REQUEST_REPEATS)
        ]

    def _checker(self, name: str, params: tuple):
        def check(rows: list[dict]) -> bool:
            return (
                self._known_answer(name, params, rows)
                and _digest(name, rows) == self.digests[(name, params)]
            )

        return check
