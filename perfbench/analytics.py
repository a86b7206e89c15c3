"""The ``analytics`` workload: analysts running named queries.

One heavy member per operator family of ``plans.QUERIES`` (the
heaviest floors of the repository's headline sweep) runs over seeded
tables. Set-up runs each query once on Spark (the warm-up) and checks
the result against DuckDB running the query's ``ORACLE_SQL`` over the
same parquet (row count only where a query has no oracle SQL). A value
the two engines round to neighbouring last decimals is accepted only
where the oracle's unrounded value is the midpoint between them; such
values are listed in the diagnostics. Every timed run must reproduce
the checked Spark result exactly. A pass runs every query once, in the
warm-up's order, which is the same for every seed (see serve.py); the
session cache is cleared after each query, outside the timed region.
"""

from __future__ import annotations

import os
import re
import sys

import checks
import analyst_tables

QUERIES = (
    "dedup_keep_best",
    "dedup_minhash_lsh",
    "bigram_surprisal",
    "tfidf_top_terms",
    "rfm_segments",
    "funnel_latency",
    "multimodal_jpeg_meta",
    "ann_batch_topk",
    "cms_heavy_hitters",
)


class Analytics:
    def __init__(self, ctx, seed: int, sf: float) -> None:
        self.ctx = ctx
        self.seed = seed
        self.sf = sf
        self.expected: dict[str, list[tuple]] = {}

    def setup(self) -> None:
        import duckdb

        from mspr2_back_spark.plans import ORACLE_SQL, QUERIES as PLANS

        ctx = self.ctx
        self.plans, self.oracle_sql = PLANS, ORACLE_SQL
        self.sf_dir = os.path.join(ctx.run_dir, "tables")
        ctx.diag["inputs"] = analyst_tables.generate(self.sf_dir, self.seed, self.sf)
        self._trace_load_table()
        with ctx.untimed():
            self.con = duckdb.connect()
            self.con.execute("SET enable_progress_bar = false")  # stdout is the result line's
            self.con.execute("CREATE MACRO perfbench_unrounded(x, d) AS x")
            for name in ctx.diag["inputs"]:
                path = os.path.join(self.sf_dir, f"{name}.parquet")
                self.con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        for name in QUERIES:
            rows = self._query(name)
            with ctx.untimed():
                ctx.spark.catalog.clearCache()
                self.expected[name] = checks.spark_rows(rows)
                ok = self._matches_oracle(name, self.expected[name])
                ctx.setup_check(f"analytics {name} vs oracle", ok, f"{len(rows)} rows")
        with ctx.untimed():
            self.con.close()

    def _matches_oracle(self, name: str, got: list[tuple]) -> bool:
        if name not in self.oracle_sql:
            return len(got) > 0
        cur = self.con.execute(self.oracle_sql[name])
        want = checks.row_set([d[0] for d in cur.description], cur.fetchall())
        if checks.same_rows(got, want):
            return True
        ties = checks.rounding_ties(got, want)
        self.ctx.diag.setdefault("oracle_rounding_ties", {})[name] = ties
        return bool(ties) and checks.on_boundary(ties, self._unrounded(name))

    def _unrounded(self, name: str) -> list[tuple]:
        """The oracle's result with every ROUND(x, d) left as x."""
        sql = re.sub(r"\bround\s*\(", "perfbench_unrounded(", self.oracle_sql[name], flags=re.IGNORECASE)
        cur = self.con.execute(sql)
        return checks.row_set([d[0] for d in cur.description], cur.fetchall())

    def _trace_load_table(self) -> None:
        """In the traced run, record every ``sources.readers.load_table``
        call as a span: rebind the name in each program module that
        imported it."""
        from mspr2_back_spark.sources import readers

        original = readers.load_table
        traced = self.ctx.traced("sources.load_table", original)
        if traced is original:
            return
        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith("mspr2_back_spark") and (
                getattr(mod, "load_table", None) is original
            ):
                mod.load_table = traced

    def _query(self, name: str):
        ctx = self.ctx
        tracer = ctx.tracer
        with tracer.span("plans.build"):
            df = self.plans[name](ctx.spark, self.sf_dir)
        if tracer.enabled:
            with tracer.span("spark.plan"):
                df._jdf.queryExecution().executedPlan()
        with tracer.span("spark.collect"):
            return df.collect()

    def pass_ops(self) -> list:
        return [(i, name, lambda n=name: self._query(n), self._checker(name)) for i, name in enumerate(QUERIES)]

    def _checker(self, name: str):
        def check(rows) -> bool:
            return checks.same_rows(checks.spark_rows(rows), self.expected[name])

        return check

    def after_op(self) -> None:
        self.ctx.spark.catalog.clearCache()
