#!/usr/bin/env python3
"""Benchmark entry point for the engine.

    python3 perfbench/run.py --workload analytics-heavy --seed 1 --seconds 10 --trace 0

Run it from the repository root. It generates the workload's inputs from
`--seed`, starts one Spark session on `local[nproc]`, runs the workload as
a closed loop with one client, checks every output against its
reference, and prints as its last stdout line one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end metrics; with `--trace 1`
they are the per-layer metrics of a traced run (see README.md). The line
before it is a JSON detail record: input fingerprints, per-check results
and per-request samples.

All scratch (Spark local dirs, temp files, generated inputs) lives in
`.perfbench-work/` under the checkout and is removed on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile
import time

WORKLOADS = {"analytics-heavy": "wl_analytics", "daily-pipeline": "wl_pipeline"}

END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "ok_share": "1",
    "request_cpu_p50_s": "s",
    "day_cpu_s": "s",
    "rerun_cpu_s": "s",
    "batch_cpu_p50_s": "s",
    "rows_per_cpu_s": "1/s",
}

CLI_COMMANDS = (
    "import_pricecharting", "normalize_scryfall", "build_daily",
    "rollup_values", "export_feed", "revalue",
)

PER_LAYER = {
    "session.start_s": "s",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "queries.action_s": "s",
    "queries.action_jobs": "count",
    "queries.action_stages": "count",
    "queries.action_tasks": "count",
    "queries.failed_tasks": "count",
    "queries.input_bytes": "B",
    "queries.shuffle_write_bytes": "B",
    "queries.shuffle_read_bytes": "B",
    "queries.spill_bytes": "B",
    **{f"cli.{c}_s": "s" for c in CLI_COMMANDS},
    "cli.jobs": "count",
    "cli.self_s": "s",
    "operators.upsert.write_s": "s",
    "operators.upsert.bytes_written": "B",
    "operators.upsert.write_amplification": "x",
    "sources.runlog_s": "s",
    "sources.runlog_files": "count",
    "sources.csv_read_s": "s",
    "sources.feed_write_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.planning_s": "s",
    "streaming.wal_commit_s": "s",
    "streaming.batches": "count",
    "streaming.state_rows": "count",
    "streaming.state_memory_bytes": "B",
    "streaming.out_of_order_failures": "count",
    "trace.overhead_s": "s",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare(workload: str, seed: int, seconds: float, trace: bool):
    """Create the run's scratch directory, point every temp and Spark
    local dir into it, make the engine importable and move to a foreign
    working directory. Returns the run's `Ctx`."""
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "legendary_data_pipeline_spark", "cli.py")):
        raise SystemExit(
            "perfbench: run from the repository root "
            "(legendary_data_pipeline_spark/ not found in the current directory)"
        )
    work = os.path.join(root, ".perfbench-work", f"{workload}-{os.getpid()}")
    for sub in ("tmp", "spark-local", "cwd"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    os.environ.update(
        {
            "TMPDIR": os.path.join(work, "tmp"),
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
            "LDP_DRIVER_MEM": "2g",
            "PYSPARK_PYTHON": sys.executable,
            "OMP_NUM_THREADS": "1",
        }
    )
    tempfile.tempdir = None  # re-read TMPDIR even if an import cached /tmp
    if root not in sys.path:
        sys.path.insert(0, root)
    # Run from a foreign cwd: Python-UDF workers must then import the
    # engine through `session.ship_package`, as a deployed job would.
    os.chdir(os.path.join(work, "cwd"))
    from common import Ctx

    return Ctx(
        workload=workload, seed=seed, seconds=seconds,
        trace=trace, root=root, work=work, cpus=cpus,
    )


def cleanup(ctx) -> None:
    """Stop the JVM, wait for every process the run started, and remove
    the run's scratch directory."""
    import common

    common.shutdown_jvm()
    common.reap_descendants()
    os.chdir(ctx.root)
    shutil.rmtree(ctx.work, ignore_errors=True)
    parent = os.path.dirname(ctx.work)
    if os.path.isdir(parent) and not os.listdir(parent):
        os.rmdir(parent)


def _cpu_jiffies() -> list[int]:
    """Aggregate CPU time counters of the machine (user ... steal)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def main(argv=None) -> int:
    args = parse_args(argv)
    # A terminated run still stops its JVM and removes its scratch.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ctx = prepare(args.workload, args.seed, args.seconds, bool(args.trace))
    import common
    from tracing import Tracer

    workload = __import__(WORKLOADS[args.workload])
    started = time.perf_counter()
    cpu0 = _cpu_jiffies()
    ctx.marks["start"] = started
    outcome = None
    try:
        with common.RssSampler() as rss:
            outcome = workload.run(ctx, lambda spark: Tracer(spark, ctx.trace))
            common.stop_session(outcome.spark)
    finally:
        cleanup(ctx)

    cpu = [b - a for a, b in zip(cpu0, _cpu_jiffies())]
    attempted = outcome.attempted
    failed = outcome.failed
    e2e = dict(outcome.metrics)
    e2e["peak_rss_mb"] = (rss.peak_mb, "MB")
    e2e["ok_share"] = ((attempted - failed) / attempted, "1")
    if ctx.trace:
        chosen = {k: outcome.layer.get(k, (0.0, unit)) for k, unit in PER_LAYER.items()}
    else:
        chosen = {k: e2e[k] for k in END_TO_END}
    metrics = {k: {"value": float(v), "unit": u} for k, (v, u) in chosen.items()}
    detail = {
        "workload": ctx.workload,
        "seed": ctx.seed,
        "trace": int(ctx.trace),
        "cpus": ctx.cpus,
        "wall_s": round(time.perf_counter() - started, 3),
        # Share of the machine's CPU time taken by other guests: a
        # contended host slows every timing of the run alike.
        "steal_share": round(cpu[7] / max(sum(cpu), 1), 4),
        "phase_end_s": {k: round(v - started, 2) for k, v in ctx.marks.items()},
        "checks": outcome.checks,
        **outcome.detail,
    }
    if ctx.trace:
        detail["end_to_end_traced"] = {k: v for k, (v, _) in e2e.items()}
    print(json.dumps({"detail": detail}, sort_keys=True, default=str))
    print(
        json.dumps(
            {
                "correct": outcome.correct,
                "attempted": attempted,
                "failed": failed,
                "metrics": metrics,
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
