"""What the benchmark measures: workloads, metrics, units, bounds, and for
each per-layer metric the end-to-end metric and workload it should move.

``BENCHMARK.json`` at the repository root is derived from this table;
``test_perfbench.py`` checks that the two agree.
"""

from __future__ import annotations

HEADLINE = "headline"
COMPANY_ER = "company_er_incremental"

WORKLOADS = {
    HEADLINE: (
        "bench.py headline queries on a seeded sf0.01 star schema with warm memos: "
        "fixed per-query cost (jobs, stages, py4j round-trips, plan building) dominates"
    ),
    COMPANY_ER: (
        "reference DAG from raw ABR XML and WARC files, landed in increments and merged "
        "into lakehouse snapshots: the only workload that parses sources and writes tables"
    ),
}

# name -> (unit, better, bound, meaning). Every metric is reported on every
# workload; an "operation" is one query run (headline) or one increment from
# landing to commit (company_er_incremental).
END_TO_END = {
    "setup_s": ("s", "lower", 0.25,
                "package import + session start + the untimed warm-up pass; input "
                "generation and correctness checks excluded"),
    "wall_s": ("s", "lower", 0.25, "median wall time of one measured pass"),
    "op_p50_s": ("s", "lower", 0.25, "median operation latency over the measured passes"),
    "op_tail_s": ("s", "lower", 0.25, "nearest-rank p90 of operation latency"),
    "peak_rss_mb": ("MB", "lower", 0.15,
                    "peak summed RSS of the benchmark process, the JVM and the Python workers"),
}

H, E = HEADLINE, COMPANY_ER

# name -> (unit, better, module, what it should move). Values are medians
# over the traced passes of one run; counts, bytes and seconds are per pass.
# A layer a workload does not touch reads 0 there.
PER_LAYER = {
    "session.jobs": ("count", "lower", "session",
                     f"op_p50_s and wall_s on {H}; op_p50_s on {E}"),
    "session.stages": ("count", "lower", "session", f"op_p50_s and wall_s on {H}"),
    "session.tasks": ("count", "lower", "session", f"op_p50_s and wall_s on {H}"),
    "session.no_job_s": ("s", "lower", "session",
                         f"op_p50_s and wall_s on {H} and {E} (client-side Python, py4j, planning)"),
    "session.executor_run_s": ("s", "lower", "session",
                               f"wall_s on {H}; op_tail_s on {E}"),
    "session.executor_cpu_s": ("s", "lower", "session", f"wall_s on {H}; op_tail_s on {E}"),
    "session.gc_s": ("s", "lower", "session", f"peak_rss_mb and wall_s on {H} and {E}"),
    "session.task_skew": ("ratio", "lower", "session", f"op_tail_s on {E} (hot name blocks)"),
    "shuffle.write_bytes": ("bytes", "lower", "exchange", f"wall_s on {H}; op_p50_s on {E}"),
    "shuffle.read_bytes": ("bytes", "lower", "exchange", f"wall_s on {H}; op_p50_s on {E}"),
    "shuffle.spill_bytes": ("bytes", "lower", "exchange", f"op_tail_s on {H} and {E}"),
    "shuffle.write_s": ("s", "lower", "exchange", f"wall_s on {H}; op_p50_s on {E}"),
    "plan.build_s": ("s", "lower", "queries",
                     f"op_p50_s on {H} (registered query callables) and {E} (source and "
                     "pipeline constructors)"),
    "plan.sizing_jobs": ("count", "lower", "queries",
                         f"op_p50_s on {H} (memo misses) and {E} (XML schema inference)"),
    "plan.sizing_s": ("s", "lower", "queries", f"op_p50_s on {H} and {E}"),
    "functions.python_run_s": ("s", "lower", "functions",
                               f"op_tail_s on {H} (MinHash kernel); op_p50_s on {E} (WARC, HTML)"),
    "functions.python_start_s": ("s", "lower", "functions", f"op_p50_s on {H} and {E}"),
    "functions.python_bytes": ("bytes", "lower", "functions", f"op_p50_s on {E}"),
    "sources.read_s": ("s", "lower", "sources",
                       f"op_p50_s on {E} (XML and WARC scan+parse, forced); wall_s on {H} (parquet)"),
    "sources.input_bytes": ("bytes", "lower", "sources", "none: the input size behind sources.read_s"),
    "lakehouse.bytes_written": ("bytes", "lower", "sources.lakehouse", f"op_p50_s on {E}"),
    "lakehouse.files_written": ("count", "lower", "sources.lakehouse", f"op_p50_s on {E}"),
    "lakehouse.write_bytes_per_input_byte": ("ratio", "lower", "sources.lakehouse",
                                             f"op_p50_s on {E}"),
    "lakehouse.stored_bytes_per_input_byte": ("ratio", "lower", "sources.lakehouse",
                                              f"peak_rss_mb and op_p50_s on {E}"),
    "lakehouse.retries": ("count", "lower", "sources.lakehouse", f"op_tail_s on {E}"),
    "similarity_join.candidate_pairs": ("count", "lower", "operators",
                                        f"op_p50_s and op_tail_s on {E}"),
    "similarity_join.yield": ("ratio", "higher", "operators", f"op_p50_s on {E}"),
    "pipelines.abr_kept_rows": ("count", "higher", "pipelines", f"op_p50_s on {E}"),
    "pipelines.abr_dropped_rows": ("count", "lower", "pipelines", f"op_p50_s on {E}"),
    "trace.overhead_s": ("s", "lower", "benchmark",
                         "none: traced minus untraced pass wall in the same run"),
    "trace.unattributed_s": ("s", "lower", "benchmark",
                             "none: pass wall not covered by the top-level operation spans"),
}

RUN_SECONDS = 20


def benchmark_json() -> dict:
    """The BENCHMARK.json document this table defines."""
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": n, "why": w} for n, w in WORKLOADS.items()],
        "end_to_end": [
            {"name": n, "unit": u, "better": b, "bound": bound}
            for n, (u, b, bound, _) in END_TO_END.items()
        ],
        "per_layer": [
            {"name": n, "unit": u, "better": b} for n, (u, b, _, _) in PER_LAYER.items()
        ],
    }
