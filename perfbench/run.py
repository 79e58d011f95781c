"""Seeded benchmark of the engine's public functions.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Runs one workload (see ``spec.WORKLOADS``) in one process on ``local[nproc/2]``:
package import and session start, one untimed warm-up pass whose outputs
the correctness checks read, then as many measured passes as take about
``--seconds`` on the reference machine (a fixed count per workload, at
least three). Every operation is closed-loop with one client.

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics: spans around the public calls, and Spark's job, stage, SQL and
executor numbers per job group (``workload:op:pass``) from the local UI's
REST API. A traced run alternates untraced and traced passes, so it also
reports the tracing overhead. Each metric is printed as ``name value unit``;
the last line is one JSON object ``{correct, attempted, failed, metrics}``.
The full record (per-operation latencies, spans, per-pass layer numbers,
load average and bench.py's contention sentinel before and after) is
written under ``.perfbench/results/``.

Exits non-zero when a correctness check or an operation fails, and
without a result when the package is not beside this directory.
"""

from __future__ import annotations

import time

T_PROCESS = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

import spec  # noqa: E402


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=list(spec.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=spec.RUN_SECONDS)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def task_slots() -> int:
    """Half the usable CPUs: the other half stays free for this process's
    Python, py4j and the JVM's JIT and GC threads. With every CPU running
    tasks those queue behind the tasks, and run-to-run spread doubled
    (perfbench/NOTES.md)."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def configure_env(run_dir: str) -> None:
    """Pin the load to local[task_slots()] and keep every file Spark, the
    JVM and the Python workers write inside the checkout."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(task_slots())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    jvm = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "{jvm}" --conf spark.ui.showConsoleProgress=false pyspark-shell')


def measured_passes(seconds: float, pass_s: float) -> int:
    """Passes that take about ``seconds`` on the reference machine, at least 3.

    The count is fixed per workload rather than "until the clock runs out":
    the JIT keeps speeding the passes up for several passes, so a run that
    fits one pass more would report a different median."""
    return max(3, round(seconds / pass_s))


def p90(values: list[float]) -> tuple[float, int]:
    """Nearest-rank 90th percentile, and how many samples lie beyond it.

    A fixed percentile rather than "the highest with at least ten samples
    beyond it": a run holds 5 to 40 operations, and a percentile that moves
    with the sample count would jump between the cheap and the expensive
    operations of a mix from one run to the next."""
    xs = sorted(values)
    v = xs[max(0, math.ceil(0.9 * len(xs)) - 1)]
    return v, sum(x > v for x in xs)


class Context:
    def __init__(self, args, spark, tracer, run_dir: str):
        self.workload = args.workload
        self.seed = args.seed
        self.spark = spark
        self.tracer = tracer
        self.work = run_dir
        self.inputs = os.path.join(WORK, "inputs", args.workload, f"seed{args.seed}")

    def trace_id(self, p: int) -> str:
        return f"{self.workload}:{p}"


def run_pass(ctx, wl, p: int, warm: bool, traced: bool, record: dict) -> float:
    """One pass; returns its wall time (untimed landing excluded)."""
    sc = ctx.spark.sparkContext
    ctx.tracer.enabled = traced
    lat = record.setdefault("ops", [])
    untimed = 0.0
    t_pass = time.time()
    for op in wl.ops(p):
        u0 = time.time()
        wl.before(op)
        untimed += time.time() - u0
        if traced:
            sc.setJobGroup(f"{ctx.workload}:{op}:{p}", "perfbench", False)
        t0 = time.perf_counter()
        ok = True
        try:
            with ctx.tracer.span(op, ctx.trace_id(p)):
                wl.run(op, p, warm)
        except Exception:  # an operation failure is counted, not fatal
            ok = False
            traceback.print_exc(file=sys.stderr)
        lat.append({"op": op, "pass": p, "warm": warm, "traced": traced,
                    "s": time.perf_counter() - t0, "ok": ok})
    t_end = time.time()
    if traced:
        sc.setLocalProperty("spark.jobGroup.id", None)
    ctx.tracer.enabled = False
    record.setdefault("passes", []).append(
        {"pass": p, "warm": warm, "traced": traced, "start": t_pass, "end": t_end,
         "untimed_s": untimed, "wall_s": t_end - t_pass - untimed})
    return t_end - t_pass - untimed


def layer_metrics(ctx, wl, record: dict, probes: dict) -> tuple[dict, dict]:
    """Per-layer numbers for each traced pass, and their medians."""
    import tracing as tr

    rest = tr.SparkRest(ctx.spark)
    snap = rest.snapshot()
    spans = ctx.tracer.spans
    selfs = tr.self_times(spans)
    per_pass = []
    # Baseline for the overhead: untraced passes past the first (JIT ramp).
    untraced = [ps["wall_s"] for ps in record["passes"] if not ps["traced"] and ps["pass"] > 1]
    for ps in record["passes"]:
        if not ps["traced"]:
            continue
        p = ps["pass"]
        trace_id = ctx.trace_id(p)
        mine = [s for s in spans if s["trace"] == trace_id]
        groups = {f"{ctx.workload}:{op}:{p}" for op in wl.ops(p)}
        builds = [(s["start"], s["end"]) for s in mine if s["name"] in wl.BUILD_SPANS]
        m = tr.group_metrics(rest, snap, groups, (ps["start"], ps["end"]), builds)
        top = [s for s in mine if s["parent"] is None]
        m["plan.build_s"] = sum(b - a for a, b in builds)
        m["trace.unattributed_s"] = ps["wall_s"] - sum(s["end"] - s["start"] for s in top)
        m["trace.overhead_s"] = ps["wall_s"] - statistics.median(untraced)
        m.update(wl.pass_counters(p))
        m.update(probes.get(p, {}))
        by_name: dict[str, float] = {}
        for s in mine:
            by_name[s["name"]] = by_name.get(s["name"], 0.0) + selfs[s["id"]]
        m["span_self_s"] = by_name
        per_pass.append(m)
    med = {k: statistics.median(m.get(k, 0) for m in per_pass) for k in spec.PER_LAYER}
    return per_pass, med


def stop_spark(spark) -> None:
    """Stop the session, close the gateway and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "firmable_aus_etl_spark")):
        print("perfbench: the firmable_aus_etl_spark package is not beside perfbench/",
              file=sys.stderr)
        return 2
    run_dir = os.path.join(WORK, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    configure_env(run_dir)
    sys.path[:0] = [ROOT, HERE, os.path.join(ROOT, "tools")]

    t0 = time.time()
    import bench
    import workloads
    from firmable_aus_etl_spark.session import get_session
    from tracing import RssSampler, Tracer

    import __spark_entry__  # noqa: F401  (check_oracle imports it; load ours first)
    import_s = time.time() - t0

    record: dict = {"args": vars(args), "cpus": os.environ["SPARK_GRAFT_CPUS"],
                    "loadavg_before": os.getloadavg(), "sentinel_before": bench._sentinel()}
    tracer = Tracer(enabled=False)
    checks: list[tuple[str, bool, str]] = []
    with RssSampler() as rss:
        t0 = time.time()
        spark = get_session("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.time() - t0
        ctx = Context(args, spark, tracer, run_dir)
        wl = workloads.WORKLOADS[args.workload](ctx)
        record["inputs"] = {0: wl.prepare(0)}
        warm_s = run_pass(ctx, wl, 0, warm=True, traced=False, record=record)
        setup_s = import_s + session_s + warm_s
        try:
            checks += wl.checks()
        except Exception:
            traceback.print_exc(file=sys.stderr)
            checks.append(("checks", False, "check raised"))

        for p in range(1, measured_passes(args.seconds, wl.PASS_S) + 1):
            record["inputs"][p] = wl.prepare(p)
            traced = bool(args.trace) and p % 2 == 0
            run_pass(ctx, wl, p, warm=False, traced=traced, record=record)
        try:
            checks += wl.final_checks()
        except Exception:
            traceback.print_exc(file=sys.stderr)
            checks.append(("final_checks", False, "check raised"))
        peak_rss_mb = rss.peak_bytes / 2**20

        if args.trace:
            probes = {ps["pass"]: wl.probe(ps["pass"]) for ps in record["passes"] if ps["traced"]}
            per_pass, layer = layer_metrics(ctx, wl, record, probes)
            record["layer_per_pass"] = per_pass
            record["spans"] = tracer.spans
        stop_spark(spark)
    shutil.rmtree(run_dir, ignore_errors=True)

    ops = [o for o in record["ops"] if not o["warm"]]
    attempted = len(record["ops"]) + len(checks)
    failed = sum(not o["ok"] for o in record["ops"]) + sum(not ok for _, ok, _ in checks)
    walls = [x["wall_s"] for x in record["passes"] if not x["warm"] and not x["traced"]]
    lat = [o["s"] for o in ops if not o["traced"]]
    tail, beyond = p90(lat)
    e2e = {"setup_s": setup_s, "wall_s": statistics.median(walls),
           "op_p50_s": statistics.median(lat), "op_tail_s": tail,
           "peak_rss_mb": peak_rss_mb}
    record.update({
        "setup": {"import_s": import_s, "session_s": session_s, "warmup_s": warm_s},
        "op_samples": len(lat), "op_samples_beyond_p90": beyond, "end_to_end": e2e,
        "checks": checks, "diagnostics": wl.diagnostics, "loadavg_after": os.getloadavg(),
        "sentinel_after": bench._sentinel(),
        "process_s": time.time() - T_PROCESS,
    })
    if args.trace:
        record["per_layer"] = layer
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    out = os.path.join(WORK, "results", f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(out, "w") as fh:
        json.dump(record, fh, indent=1, default=str)

    for name, ok, detail in checks:
        print(f"check {name}: {'ok' if ok else 'FAILED'} ({detail})")
    if args.trace:
        metrics = {k: {"value": layer[k], "unit": spec.PER_LAYER[k][0]} for k in spec.PER_LAYER}
    else:
        metrics = {k: {"value": e2e[k], "unit": spec.END_TO_END[k][0]} for k in spec.END_TO_END}
    for k, v in metrics.items():
        print(f"{k} {v['value']} {v['unit']}")
    if not args.trace:
        print(f"op_tail_s is p90 of {len(lat)} operations, {beyond} beyond it")
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
