"""spark-doccheck benchmark.

    python3 perfbench/run.py --workload suite_full --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --emit-spec     # rewrite BENCHMARK.json from spec.py
    python3 perfbench/run.py --summary       # tracing overhead etc. from saved runs

Run from the repository root. One process, one Spark session at local[4].
Each run: host probe; session start; the workload's inputs generated,
written and materialized (the workload's setup_reps times); then the
measured phase; host probe again. The report stamps a run `degraded` when
the probes diverge or co-tenants stole CPU during the timed passes or the
traced decomposition (`steal_share`).

--trace 0 prints the end-to-end metrics. The measured phase is one warm-up
pass (codegen and the C2 JIT need full passes), then timed passes until
--seconds have elapsed and the workload's min_passes ran, each followed by
an untimed output check. setup_s = session start + the median input set-up
+ the warm-up pass.

--trace 1 turns on Spark's file-based event log and runs the workload's
layer decomposition instead: each layer call is tagged with a job group and
the per-layer metrics are parsed from the log. It has no warm-up pass (one
would not fit the run's time limit at full size), so its pipeline call,
session.traced_pass_s, compares with the untraced warm-up pass: the
difference is the tracing overhead (--summary).

The last stdout line is the result JSON; the line before it is a report
(host probes, JVM heap, check details). Every run also saves its report
under perfbench/_work/results/.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
CORES = 4
WARM_PASSES = 1


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=5)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--emit-spec", action="store_true")
    p.add_argument("--summary", action="store_true")
    return p.parse_args(argv)


def _start_session(work: str, trace: bool, heap_mb: int):
    from datachecker_spark.session import get_spark

    os.environ["SPARK_DRIVER_MEM"] = f"{heap_mb}m"
    conf = {"spark.local.dir": os.path.join(work, "spark-local")}
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(cores=CORES, shuffle_partitions=CORES, app_name="perfbench",
                     extra_conf=conf)


def _stop_session(spark) -> None:
    """Stop the context, then the JVM, and wait for it to exit."""
    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    try:
        gw.shutdown()
    finally:
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)


def _event_log_file(work: str) -> str:
    files = [f for f in glob.glob(os.path.join(work, "eventlog", "*"))
             if not f.endswith(".inprogress")]
    return max(files, key=os.path.getmtime)


def run(args) -> tuple[dict, dict]:
    from perfbench import eventlog, procstat, spec
    from perfbench.workloads import WORKLOADS, Ctx

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    work = os.path.join(WORK, args.workload)
    os.makedirs(work, exist_ok=True)
    if args.trace:
        shutil.rmtree(os.path.join(work, "eventlog"), ignore_errors=True)
    t_run = time.perf_counter()
    probe_start = procstat.host_probe()
    heap_mb = procstat.jvm_heap_mb()
    wl = WORKLOADS[args.workload]()

    t_app = time.perf_counter()
    spark = _start_session(work, bool(args.trace), heap_mb)
    session_s = time.perf_counter() - t_app
    jvm = spark.sparkContext._gateway.proc.pid
    tracer = eventlog.Tracer(spark.sparkContext, tag=bool(args.trace))
    ctx = Ctx(spark=spark, work=work, seed=args.seed, tracer=tracer)
    try:
        input_s = []
        with tracer.layer("bench"):
            for _ in range(wl.setup_reps):
                t0 = time.perf_counter()
                wl.generate(ctx)
                wl.materialize_inputs(ctx)
                input_s.append(time.perf_counter() - t0)
            t0 = time.perf_counter()
            wl.prepare(ctx)
            prepare_s = time.perf_counter() - t0

        attempted = failed = null_misses = 0
        problems: list[str] = []

        def one_pass(tag: str):
            nonlocal attempted, failed, null_misses
            attempted += 1
            c0 = procstat.tree_cpu_s(jvm)
            t0 = time.perf_counter()
            try:
                with tracer.layer(tag):
                    out = wl.run_pass(ctx)
            except Exception as e:  # a raising pass is a failed operation
                traceback.print_exc()
                failed += 1
                problems.append(f"{tag}: {type(e).__name__}: {e}")
                return None
            wall, cpu = time.perf_counter() - t0, procstat.tree_cpu_s(jvm) - c0
            try:
                with tracer.layer("bench"):
                    bad, null_misses = wl.check(ctx, out)
            finally:
                wl.release(out)
            if bad:
                failed += 1
                problems.extend(f"{tag}: {b}" for b in bad)
            return wall, cpu

        warm = [one_pass("warmup") for _ in range(0 if args.trace else WARM_PASSES)]
        warm_s = sum(w[0] for w in warm if w)
        passes = []
        layer_extra = {}
        jiffies = procstat.cpu_jiffies()
        if args.trace:
            # the per-layer decomposition is the traced run's checked operation
            attempted += 1
            layer_extra = wl.layers(ctx)
            if ctx.info["traced_check"]:
                failed += 1
                problems.extend(f"layers: {b}" for b in ctx.info["traced_check"])
        else:
            with procstat.PeakRss(jvm) as rss:
                t_end = time.perf_counter() + args.seconds
                timed = 0
                while time.perf_counter() < t_end or timed < wl.min_passes:
                    timed += 1
                    r = one_pass("pass")
                    if r:
                        passes.append(r)
        steal = procstat.steal_share(jiffies, procstat.cpu_jiffies())
        app_s = time.perf_counter() - t_app
    finally:
        _stop_session(spark)
    probe_end = procstat.host_probe()

    walls = [w for w, _ in passes]
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "cores": CORES,
        "jvm_heap_mb": heap_mb,
        "docs": wl.n_docs,
        "host_probe_start": probe_start,
        "host_probe_end": probe_end,
        "steal_share": steal,
        "degraded": procstat.degraded(probe_start, probe_end, steal),
        "run_s": time.perf_counter() - t_run,
        "session_s": session_s,
        "input_s": input_s,
        "prepare_s": prepare_s,
        "warm_s": warm_s,
        "pass_s": walls,
        "pass_cpu_s": [c for _, c in passes],
        "peak_rss_by_proc_mb": None if args.trace else rss.at_peak,
        "attempted": attempted,
        "failed": failed,
        "error_rate": failed / max(attempted, 1),
        "null_misses": null_misses,
        "problems": problems[:20],
        **ctx.info,
    }
    if args.trace:
        log = eventlog.parse(_event_log_file(work))
        metrics = _per_layer(log, tracer, wl, layer_extra, app_s)
        units = spec.per_layer()
    else:
        setup_s = session_s + statistics.median(input_s) + warm_s
        metrics = _end_to_end(wl.n_docs, passes, setup_s, rss.peak_mb)
        units = {n: (u,) for n, (u, _, _) in spec.END_TO_END.items()}
    result = {
        "correct": failed == 0 and bool(passes or layer_extra),
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": metrics[n], "unit": units[n][0]} for n in units},
    }
    return report, result


def _end_to_end(n_docs: int, passes: list[tuple[float, float]], setup_s: float,
                peak_rss_mb: float) -> dict[str, float]:
    """passes: (wall, tree CPU) of each timed pass."""
    return {
        "docs_per_s": n_docs / statistics.median(w for w, _ in passes),
        "cpu_s_per_mdoc": sum(c for _, c in passes) / (len(passes) * n_docs) * 1e6,
        "setup_s": setup_s,
        "peak_rss_mb": peak_rss_mb,
    }


def _per_layer(log, tracer, wl, extra: dict, app_s: float) -> dict[str, float]:
    """Generic measures per layer. `session` is the whole Spark application:
    every job of the run, over the wall from session start to the last
    layer call (set-up, warm-up and checks included)."""
    from perfbench import spec
    from perfbench.eventlog import LayerTotals

    totals = log.layer_totals(tracer)
    walls = tracer.self_wall_s()
    app = LayerTotals()
    for t in totals.values():
        for f in ("cpu_s", "gc_s", "shuffle_mb", "tasks", "failed_tasks", "jobs"):
            setattr(app, f, getattr(app, f) + getattr(t, f))
    totals["session"], walls["session"] = app, app_s
    out: dict[str, float] = {}
    for layer in spec.LAYERS:
        t = totals.get(layer, LayerTotals())
        wall = walls.get(layer, 0.0)
        out[f"{layer}.wall_s"] = wall
        out[f"{layer}.cpu_s"] = t.cpu_s
        out[f"{layer}.gc_s"] = t.gc_s
        out[f"{layer}.shuffle_mb"] = t.shuffle_mb
        out[f"{layer}.tasks"] = t.tasks
        out[f"{layer}.core_util"] = t.cpu_s / (wall * CORES) if wall > 0 else 0.0
    out["session.jobs"] = app.jobs
    out["session.failed_tasks"] = app.failed_tasks
    for name in spec.EXTRA:
        out.setdefault(name, 0.0)
    out.update(extra)
    out.update(wl.layer_counts(log, tracer))
    return out


def summary() -> None:
    """Per workload: tracing overhead and whether cpu_s_per_mdoc repeats
    more tightly than docs_per_s across the saved untraced runs.

    The traced pass (the layer decomposition's pipeline call) runs after a
    shorter warm-up than an untraced timed pass and after a longer one than
    the untraced warm-up pass, so the overhead is given against both:
    traced minus warm-up (a lower bound where the traced call is partly
    warm) and traced minus timed (an upper bound)."""
    runs: dict[str, list[dict]] = {}
    for f in sorted(glob.glob(os.path.join(WORK, "results", "*.json"))):
        with open(f) as fh:
            r = json.load(fh)
        runs.setdefault(r["report"]["workload"], []).append(r)
    out = {}
    for wl, rs in runs.items():
        plain = [r for r in rs if not r["report"]["trace"]]
        traced = [r for r in rs if r["report"]["trace"]]
        row: dict = {"untraced_runs": len(plain), "traced_runs": len(traced)}
        if plain and traced:
            t = statistics.median(
                r["result"]["metrics"]["session.traced_pass_s"]["value"] for r in traced
            )
            warm = statistics.median(r["report"]["warm_s"] for r in plain)
            timed = statistics.median(statistics.median(r["report"]["pass_s"]) for r in plain)
            row["traced_pass_s"] = t
            row["tracing_overhead_vs_warmup_s"] = t - warm
            row["tracing_overhead_vs_timed_s"] = t - timed
        if len(plain) >= 4:
            for m in ("docs_per_s", "cpu_s_per_mdoc"):
                vals = [r["result"]["metrics"][m]["value"] for r in plain]
                q = statistics.quantiles(vals, n=4)
                row[f"{m}_spread"] = (q[2] - q[0]) / statistics.median(vals)
            row["cpu_tighter_than_wall"] = row["cpu_s_per_mdoc_spread"] < row["docs_per_s_spread"]
        row["degraded_runs"] = sum(r["report"]["degraded"] for r in rs)
        out[wl] = row
    print(json.dumps(out, indent=2))


def main(argv=None) -> int:
    args = _args(argv)
    sys.path.insert(0, ROOT)
    if args.emit_spec:
        from perfbench import spec

        with open(os.path.join(ROOT, "BENCHMARK.json"), "w") as f:
            f.write(spec.render())
        return 0
    if args.summary:
        summary()
        return 0
    import datachecker_spark  # noqa: F401  (fail fast outside a full checkout)

    # keep every temporary file inside the checkout: tempfile (py4j
    # connection info), the JVM's java.io.tmpdir, and no hsperfdata in /tmp
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    report, result = run(args)
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    name = f"{args.workload}-t{args.trace}-s{args.seed}-{int(time.time())}.json"
    with open(os.path.join(WORK, "results", name), "w") as f:
        json.dump({"report": report, "result": result}, f, indent=1)
    print(json.dumps({"report": report}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
