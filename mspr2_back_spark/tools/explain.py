"""Plan-audit tooling: print any registered query's physical plan
(and optionally its runtime metrics) — the generator behind PLANS.md.

Usage:
    python -m mspr2_back_spark.tools.explain pricing_summary
    python -m mspr2_back_spark.tools.explain dedup_minhash_lsh --run
    python -m mspr2_back_spark.tools.explain --list
"""

from __future__ import annotations

import argparse
import sys


def collect_plan_metrics(df) -> dict[str, int]:
    """Aggregate the executed plan's SQL metrics after an action:
    rows output per operator class, shuffle bytes written — the
    numbers behind 'is this plan shuffle-proportional?'."""
    plan = df._jdf.queryExecution().executedPlan()
    out: dict[str, int] = {}

    def walk(node):
        name = node.nodeName()
        cls = node.getClass().getSimpleName()
        # AQE: the adaptive node's children() is the INITIAL plan;
        # the re-planned final plan hangs off executedPlan().
        if "AdaptiveSparkPlan" in cls:
            walk(node.executedPlan())
            return
        # Query stages (Result/Shuffle/BroadcastQueryStageExec) are
        # LEAF wrappers — children() is empty; the subtree is .plan().
        if "QueryStage" in cls:
            walk(node.plan())
            return
        metrics = node.metrics()
        it = metrics.iterator()
        while it.hasNext():
            kv = it.next()
            key, metric = kv._1(), kv._2()
            if key in ("numOutputRows", "shuffleBytesWritten", "dataSize"):
                out[f"{name}.{key}"] = out.get(f"{name}.{key}", 0) + metric.value()
        cit = node.children().iterator()
        while cit.hasNext():
            walk(cit.next())

    walk(plan)
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("query", nargs="?", help="registered query name")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--run", action="store_true", help="execute and print metrics")
    ap.add_argument("--list", action="store_true", help="list registered queries")
    args = ap.parse_args(argv)

    from mspr2_back_spark.plans import QUERIES

    if args.list or not args.query:
        print("\n".join(QUERIES))
        return 0
    if args.query not in QUERIES:
        print(f"unknown query {args.query!r}; --list shows all", file=sys.stderr)
        return 2

    from mspr2_back_spark.session import get_spark

    # the shipped session conf (AQE, advisory size), so printed plans
    # are the ones the engine runs
    spark = get_spark(app_name="mspr2_back_spark_explain")
    spark.sparkContext.setLogLevel("ERROR")
    df = QUERIES[args.query](spark, args.sf_dir)
    df.explain("formatted")
    if args.run:
        # collect() (not count()) so the metrics belong to THIS plan —
        # count() compiles a different aggregate plan.
        n = len(df.collect())
        print(f"\nrows: {n}")
        for k, v in sorted(collect_plan_metrics(df).items()):
            print(f"{k}: {v}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
