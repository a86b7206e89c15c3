#!/usr/bin/env python3
"""Benchmark of the pandemic-analytics engine, one workload per run.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository. One closed-loop
client in this process sends the next op only after the previous one
returned. Spark runs as ``local[1]`` (see README.md); the
program's own defaults stay in force for every ``SPARK_GRAFT_*`` tuning
value, and only deployment values are set: cores, driver memory, time
zone and the directories Spark and Python write to, all inside a
run-owned directory under the checkout that is removed at exit.

Set-up (inputs from ``--seed``, session, program state, warm-up ops,
output checks) is followed by whole passes of ops, every pass in the
same fixed order, until ``--seconds`` have elapsed. Every op's output is
checked outside the timed region; a wrong result or an exception counts
as a failed op. With ``--trace 0``
the last stdout line carries the end-to-end metrics; with
``--trace 1`` every other op is traced and the line carries the
per-layer metrics (see README.md). Noise-attribution
diagnostics go to stderr as one ``perfbench-diagnostics`` JSON line.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from analytics import QUERIES, Analytics  # noqa: E402
from serve import ENDPOINTS, Serve  # noqa: E402

DRIVER_MEMORY = "2g"
# local[1]: the inputs are small, so more cores buy little, and a run
# that leaves cores free is less exposed to the neighbours' load on a
# shared box (the JVM's compiler and GC threads use more cores anyway)
CORES = 1
DEFAULT_SCALE = {"serve": 0.25, "analytics": 0.02}
OP_TYPES = ENDPOINTS + QUERIES


def metric_units(kind: str) -> dict[str, str]:
    """Name -> unit of the ``end_to_end`` or ``per_layer`` metrics
    that BENCHMARK.json declares; the result line prints exactly these."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


class Context:
    """What the workloads share: the session, the run directory, the
    current tracer, set-up check results and diagnostics."""

    def __init__(self, run_dir: str, trace: bool) -> None:
        from spans import NullTracer

        self.run_dir = run_dir
        self.trace = trace
        self.tracer = NullTracer()
        self.spark = None
        self.untimed_s = 0.0
        self.failed_checks: list[str] = []
        self.diag: dict = {}

    @contextlib.contextmanager
    def untimed(self):
        """Work excluded from set-up time (output checks)."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.untimed_s += time.perf_counter() - t0

    def setup_check(self, name: str, ok: bool, detail: str = "") -> None:
        if not ok:
            self.failed_checks.append(f"{name}: {detail}"[:500])

    def traced(self, name: str, fn):
        """``fn`` recorded as a span named ``name`` under whichever
        tracer is current; ``fn`` itself when the run is untraced."""
        if not self.trace:
            return fn

        def call(*args, **kwargs):
            with self.tracer.span(name):
                return fn(*args, **kwargs)

        return call


def cpu_probe_ms() -> float:
    """Single-thread box-speed probe (best of 3)."""
    best = math.inf
    for _ in range(3):
        t0 = time.perf_counter()
        s = 0
        for i in range(500_000):
            s += i * i
        best = min(best, time.perf_counter() - t0)
    return round(best * 1000.0, 2)


def box_state() -> dict:
    return {"cpu_probe_ms": cpu_probe_ms(), "loadavg": list(os.getloadavg())}


def configure_environment(run_dir: str, cores: int) -> None:
    """Deployment values only; must run before pyspark is imported."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        {
            "TZ": "UTC",
            "TMPDIR": tmp,
            "SPARK_GRAFT_CPUS": str(cores),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEMORY,
            "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
            # the JVMs' perf-data files would go to /tmp/hsperfdata_<user>
            "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
            "PYSPARK_PYTHON": sys.executable,
        }
    )
    time.tzset()
    tempfile.tempdir = tmp


def start_session(ctx: Context):
    """The program's session, then the package shipped to its workers;
    the two steps are timed apart (``session_start_s``,
    ``ship_package_s``)."""
    from mspr2_back_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(ctx.run_dir, "spark-warehouse"),
            "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}",
        }
    )
    t1 = time.perf_counter()
    ctx.diag["session_start_s"] = t1 - t0
    # ship the package to the Python workers as a deployment would
    # (--py-files): mapInPandas/applyInPandas pickle functions by module
    zip_path = shutil.make_archive(
        os.path.join(ctx.run_dir, "mspr2_back_spark"), "zip", root_dir=ROOT, base_dir="mspr2_back_spark"
    )
    spark.sparkContext.addPyFile(zip_path)
    ctx.diag["ship_package_s"] = time.perf_counter() - t1
    return spark


def stop_session(spark) -> None:
    """Stop Spark, the JVM and the Python workers, and wait for them."""
    from pyspark import SparkContext
    from proctree import tree_pids

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.terminate()
            proc.wait(timeout=60)
    deadline = time.time() + 30
    while len(tree_pids()) > 1 and time.time() < deadline:
        time.sleep(0.2)


def measure(wl, ctx: Context, seconds: float, trace: bool = False) -> tuple[list[dict], int]:
    """Whole passes of ops, one at a time, until ``seconds`` elapsed.

    ``wl.pass_ops`` gives one pass as (index, type, run, check) tuples;
    the index identifies the op across passes. With ``trace``, at least two
    passes run and ops with even ``index + pass`` run under
    ``ctx.tracer``: each op runs once traced and once untraced,
    interleaved in time, so their latency difference is the tracing
    overhead, not JVM warm-up."""
    from proctree import PeakRss, cpu_seconds, tree_pids
    from spans import NullTracer

    tracer, null = ctx.tracer, NullTracer()
    records = []
    rss = PeakRss(tree_pids()).start()
    start = time.perf_counter()
    passes = 0
    scans_cpu = 0.0
    try:
        while time.perf_counter() - start < seconds or (trace and passes < 2):
            for index, op_type, run, check in wl.pass_ops():
                traced = trace and (passes + index) % 2 == 0
                ctx.tracer = tracer if traced else null
                first_span = len(getattr(tracer, "spans", ()))
                pids = tree_pids()
                rss.watch(pids)
                cpu0 = cpu_seconds(pids)
                error = None
                with ctx.tracer.op(op_type):
                    t0 = time.perf_counter()
                    try:
                        out = run()
                    except Exception:
                        error = traceback.format_exc()
                    t1 = time.perf_counter()
                # the /proc scan that finds workers forked during the op
                # runs in this thread: its CPU is not the program's
                scan0 = time.thread_time()
                pids = tree_pids()
                scan_cpu = time.thread_time() - scan0
                scans_cpu += scan_cpu
                cpu1 = cpu_seconds(pids) - scan_cpu
                rss.watch(pids)
                if error is None:
                    try:
                        ok = bool(check(out))
                    except Exception:
                        error, ok = traceback.format_exc(), False
                    if not ok and error is None:
                        error = "output check failed"
                if error is not None:
                    print(f"perfbench: {op_type} failed: {error}", file=sys.stderr)
                if hasattr(wl, "after_op"):
                    wl.after_op()
                if traced:
                    tracer.collect_counters(first_span)
                records.append(
                    {
                        "index": index,
                        "type": op_type,
                        "s": t1 - t0,
                        "cpu_s": cpu1 - cpu0,
                        "ok": error is None,
                        "traced": traced,
                    }
                )
            passes += 1
    finally:
        peak = rss.stop()
        ctx.tracer = tracer
    op_cpu = sum(r["cpu_s"] for r in records)
    ctx.diag["rss_sampler"] = {
        "samples": rss.samples,
        "cpu_s": rss.cpu_s,
        "share_of_op_cpu": rss.cpu_s / op_cpu if op_cpu > 0 else None,
    }
    ctx.diag["proc_scan_cpu_s_per_op"] = scans_cpu / max(1, len(records))
    return records, peak


def hd_quantile(values: list[float], q: float) -> float:
    """Harrell-Davis estimate of the ``q`` quantile: a Beta-weighted
    mean of all order statistics. Runs hold tens of ops from a few
    clusters of op types; a plain sample quantile jumps between clusters
    with the jitter of the one or two ops next to it, this estimate does
    not."""
    xs = sorted(values)
    n = len(xs)
    a, b = (n + 1) * q, (n + 1) * (1 - q)
    grid = 20_000  # midpoint rule over [0, 1] for the Beta(a, b) weights
    logs = [
        (a - 1) * math.log(t) + (b - 1) * math.log1p(-t) for t in ((k + 0.5) / grid for k in range(grid))
    ]
    top = max(logs)  # scaled by the largest weight, so none underflows
    weights = [0.0] * n
    for k, lw in enumerate(logs):
        weights[min(k * n // grid, n - 1)] += math.exp(lw - top)
    return sum(w * x for w, x in zip(weights, xs)) / sum(weights)


def p50(values: list[float]) -> float:
    return hd_quantile(values, 0.5)


def p90(values: list[float]) -> float:
    return hd_quantile(values, 0.9)


def end_to_end(records: list[dict], peak_rss: int, setup_s: float) -> dict[str, float]:
    ok = [r for r in records if r["ok"]] or records
    ms = [r["s"] * 1000 for r in ok]
    by_type: dict[str, list[float]] = {}
    for r in ok:
        by_type.setdefault(r["type"], []).append(r["s"] * 1000)
    return {
        "setup_s": setup_s,
        "op_p50_ms": p50(ms),
        "op_p90_ms": p90(ms),
        "op_geomean_ms": math.exp(statistics.fmean(math.log(p50(v)) for v in by_type.values())),
        "ops_per_s": len(ok) / sum(r["s"] for r in records),
        "cpu_s_per_op": statistics.fmean(r["cpu_s"] for r in records),
        "peak_rss_mb": peak_rss / 2**20,
    }


def per_layer(ctx: Context, records: list[dict]) -> dict[str, float]:
    from spans import self_times, union_ms

    spans = ctx.tracer.spans
    selfs = self_times(spans)
    # 0 where the layer does no work on this workload: the other
    # workload's op types, and the nightly job outside traced serve runs
    out = {f"op.{t}.{m}": 0.0 for t in OP_TYPES for m in ("p50_ms", "jobs")}
    traced = [r for r in records if r["traced"]]
    untraced = [r for r in records if not r["traced"]]
    n_ops = len(traced)

    def spans_named(name, in_ops):
        return [i for i, s in enumerate(spans) if s["name"] == name and (s["op"] >= 0) == in_ops]

    def counter(idxs, key):
        return sum(spans[i].get("counters", {}).get(key, 0) for i in idxs)

    def spark_ms(idxs):
        return union_ms([iv for i in idxs for iv in spans[i].get("job_intervals_ms", [])])

    # set-up layers (op id -1)
    out["session.get_spark_s"] = ctx.diag["session_start_s"]
    for name, key in (("etl.covid_warehouse", "etl.covid_warehouse_s"), ("etl.run.main", "etl.run_main_s")):
        idxs = spans_named(name, False)
        out[key] = sum(spans[i]["end"] - spans[i]["start"] for i in idxs)
    job = spans_named("etl.run.main", False)
    if not job:
        out.update(
            dict.fromkeys(
                (
                    "etl.read_bronze_ms",
                    "etl.build_all_ms",
                    "ml.predict_weekly_statistics_ms",
                    "etl.save_tables_ms",
                    "etl.manifest_ms",
                    "etl.jobs",
                    "etl.bronze_scans_per_op",
                    "etl.bytes_written",
                    "etl.files_written",
                    "etl.stored_bytes_per_input_byte",
                ),
                0.0,
            )
        )
    else:
        for name in ("etl.read_bronze", "etl.build_all", "ml.predict_weekly_statistics", "etl.save_tables"):
            out[f"{name}_ms"] = 1000 * sum(selfs[i] for i in spans_named(name, False))
        out["etl.manifest_ms"] = 1000 * selfs[job[0]]
        in_job = [i for i in range(len(spans)) if _within(spans, i, job[0])]
        bronze_bytes = sum(ctx.diag["inputs"]["bytes"].values())
        out["etl.jobs"] = counter(in_job, "jobs")
        out["etl.bronze_scans_per_op"] = counter(in_job, "inputBytes") / bronze_bytes
        out["etl.bytes_written"] = ctx.diag["warehouse"]["bytes"]
        out["etl.files_written"] = ctx.diag["warehouse"]["files"]
        out["etl.stored_bytes_per_input_byte"] = ctx.diag["warehouse"]["bytes"] / bronze_bytes

    # per-op layers, averaged over the traced ops
    op_spans = [i for i, s in enumerate(spans) if s["op"] >= 0]
    for name, key in (
        ("etl.serving.build", "etl.serving.build_ms"),
        ("plans.build", "plans.build_ms"),
        ("sources.load_table", "sources.load_table_ms"),
        ("spark.plan", "spark.plan_ms"),
    ):
        out[key] = 1000 * sum(selfs[i] for i in spans_named(name, True)) / n_ops
    # the action's driver side: its self time minus the time its Spark jobs ran
    for name in ("functions.marshal.records", "spark.collect"):
        out[f"{name}_ms"] = sum(1000 * selfs[i] - spark_ms([i]) for i in spans_named(name, True)) / n_ops
    out["plans.build_jobs"] = counter(spans_named("plans.build", True), "jobs") / n_ops
    out["sources.load_table_calls"] = len(spans_named("sources.load_table", True)) / n_ops
    out["sources.load_table_jobs"] = counter(spans_named("sources.load_table", True), "jobs") / n_ops
    by_op: dict[int, list[int]] = {}
    for i in op_spans:
        by_op.setdefault(spans[i]["op"], []).append(i)
    out["spark.exec_ms"] = sum(spark_ms(idxs) for idxs in by_op.values()) / n_ops
    for key, field in (
        ("spark.jobs_per_op", "jobs"),
        ("spark.stages_per_op", "stages"),
        ("spark.tasks_per_op", "numTasks"),
        ("spark.input_bytes_per_op", "inputBytes"),
        ("spark.shuffle_write_bytes_per_op", "shuffleWriteBytes"),
        ("spark.executor_run_ms_per_op", "executorRunTime"),
    ):
        out[key] = counter(op_spans, field) / n_ops
    out["spark.spill_bytes_per_op"] = (
        counter(op_spans, "memoryBytesSpilled") + counter(op_spans, "diskBytesSpilled")
    ) / n_ops
    out["spark.executor_cpu_ms_per_op"] = counter(op_spans, "executorCpuTime") / 1e6 / n_ops
    out["spark.failed_tasks"] = counter(op_spans, "numFailedTasks")

    for t in OP_TYPES:
        lat = [1000 * r["s"] for r in traced if r["type"] == t]
        jobs = [counter(idxs, "jobs") for idxs in by_op.values() if spans[idxs[0]]["name"] == f"op.{t}"]
        if lat:
            out[f"op.{t}.p50_ms"] = p50(lat)
            out[f"op.{t}.jobs"] = statistics.fmean(jobs)

    out["trace.untraced_op_p50_ms"] = p50([1000 * r["s"] for r in untraced])
    out["trace.traced_op_p50_ms"] = p50([1000 * r["s"] for r in traced])
    # paired: each op's traced latency over its own untraced latency
    untraced_s = {r["index"]: r["s"] for r in untraced}
    out["trace.overhead_pct"] = 100 * (p50([r["s"] / untraced_s[r["index"]] for r in traced]) - 1)
    return out


def _within(spans: list[dict], i: int, ancestor: int) -> bool:
    while i is not None:
        if i == ancestor:
            return True
        i = spans[i]["parent"]
    return False


def main(argv: list[str] | None = None) -> int:
    t_start = time.perf_counter()
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True, choices=sorted(DEFAULT_SCALE))
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    parser.add_argument("--scale", type=float, help="input size (serve: bronze scale, analytics: sf)")
    parser.add_argument("--spans-out", help="also write the traced run's spans (JSON lines) here")
    args = parser.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "mspr2_back_spark")):
        print(f"perfbench: no mspr2_back_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    cores = min(CORES, len(os.sched_getaffinity(0)))
    scale = args.scale if args.scale is not None else DEFAULT_SCALE[args.workload]
    run_dir = tempfile.mkdtemp(prefix=".perfbench-run-", dir=ROOT)
    spark = None
    try:
        configure_environment(run_dir, cores)
        ctx = Context(run_dir, bool(args.trace))
        diag = ctx.diag
        diag.update(
            workload=args.workload,
            seed=args.seed,
            scale=scale,
            cores=cores,
            driver_memory=DRIVER_MEMORY,
            box_before=box_state(),
        )
        spark = ctx.spark = start_session(ctx)
        if args.trace:
            from spans import Tracer

            ctx.tracer = Tracer(spark)
        wl = (Serve if args.workload == "serve" else Analytics)(ctx, args.seed, scale)
        wl.setup()
        if ctx.tracer.enabled:
            ctx.tracer.collect_counters()
        setup_s = time.perf_counter() - t_start - ctx.untimed_s

        if args.trace:
            tracer = ctx.tracer
            records, _ = measure(wl, ctx, args.seconds, trace=True)
            if isinstance(wl, Serve):
                first_span = len(tracer.spans)
                wl.nightly_job()
                tracer.collect_counters(first_span)
            units = metric_units("per_layer")
            values = per_layer(ctx, records)
            tracer.dump(args.spans_out or os.path.join(run_dir, "spans.jsonl"))
        else:
            records, peak_rss = measure(wl, ctx, args.seconds)
            units = metric_units("end_to_end")
            values = end_to_end(records, peak_rss, setup_s)
        if set(values) != set(units):
            raise RuntimeError(f"metrics computed {sorted(set(values) ^ set(units))} differ from BENCHMARK.json")

        op_ms = [1000 * r["s"] for r in records]
        diag.update(
            box_after=box_state(),
            ops=len(records),
            op_ms=[[r["type"], round(1000 * r["s"], 1), r["traced"]] for r in records],
            ops_above_p90=sum(ms > p90(op_ms) for ms in op_ms),
            failed_setup_checks=ctx.failed_checks,
            failed_ops=sorted({r["type"] for r in records if not r["ok"]}),
            spark_graft_env={k: v for k, v in os.environ.items() if k.startswith("SPARK_GRAFT_")},
            spark_conf=dict(spark.sparkContext.getConf().getAll()),
        )
        failed = sum(not r["ok"] for r in records)
        result = {
            "correct": failed == 0 and not ctx.failed_checks,
            "attempted": len(records),
            "failed": failed,
            "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in units.items()},
        }
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    print("perfbench-diagnostics " + json.dumps(diag, default=str), file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
