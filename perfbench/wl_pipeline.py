"""`daily-pipeline`: one day of the marketplace's cron work, then its re-run.

The day is the reference chain driven through the engine's CLI —
import-pricecharting → normalize-scryfall → build-daily → rollup-values →
export-feed → revalue, each parsed by `cli.build_parser()` and run by its
`cmd_*` function on one session — followed by the streaming entry points
that replace the events cron: the day's event files land and are drained
by `run_sessionize_once(max_files_per_trigger=2)` and
`run_daily_rollup_once` (see `streamday.py`). This is the write path:
the `operators.upsert` full-rewrite and partition-overwrite sinks (per
day in the CLI, per micro-batch in the rollup's foreachBatch), the
`sources.runlog` appends, `csv_alias`, `feed_writer` and the streaming
state store.

A cycle runs the day over newly landed inputs, then re-runs four of the
day's commands over the same inputs — import-pricecharting (the keyed
upsert of the vendor prices), build-daily and rollup-values (partition
overwrites of the day) and revalue (which rewrites the collection it
reads) — and drains the streams again (nothing new), as an idempotent
re-run. After the first cycle, outside the timed region: the
content checksum of every table the re-run rewrote is unchanged, the
feed has the 37 merchant columns and one row per product, the run log
holds a start and a finish row for every command run, the session sink
equals the batch sessionizer and the rollup sink equals a recount of the
events.
"""

from __future__ import annotations

import glob
import shutil
import time
from datetime import date, timedelta

import gen
import streamday
from common import JobGroups, Meter, Outcome, median, percentile, repeat_setup, start_session
from tracing import StreamRecorder, upsert_metrics, wrap_upserts

DAY0 = date(2024, 6, 1)
EVENT_FILES_PER_DAY = 2
PROBE_PARTITIONS = "4"
# State partitions of the streams: one per core. The session default of
# 32 makes every micro-batch pay 32 state-store task lifecycles, about
# 14 s per sessionizer batch on 4 cores.
STREAM_PARTITIONS_PER_CPU = 1
COMMANDS = (
    ("import_pricecharting", "import-pricecharting"),
    ("normalize_scryfall", "normalize-scryfall"),
    ("build_daily", "build-daily"),
    ("rollup_values", "rollup-values"),
    ("export_feed", "export-feed"),
    ("revalue", "revalue"),
)
# The re-run repeats the commands whose sinks merge by key, overwrite the
# day's partition or rewrite what they read; normalize-scryfall and the
# feed are left out only because a full second chain did not fit the
# time budget.
RERUN_COMMANDS = ("import_pricecharting", "build_daily", "rollup_values", "revalue")
CHECKED_TABLES = (
    "pricecharting_prices_raw",
    "market_price_daily",
    "market_values_daily",
    "user_collection_daily_valuations",
    "user_collection_items",
)
FEED_COLUMNS = 37
DRAINS = ("sessionize", "rollup")


def _argv(cmd: str, wh: str, feed: str, csv: str, day: date) -> list[str]:
    argv = [cmd, "--warehouse", wh, "--date", day.isoformat()]
    if cmd == "import-pricecharting":
        argv += ["--file", csv, "--game", "pokemon"]
    elif cmd == "export-feed":
        argv += ["--out", feed, "--format", "tsv"]
    return argv


def _checksums(spark, wh: str) -> dict[str, tuple]:
    from legendary_data_pipeline_spark.operators.profiling import table_checksum

    out = {}
    for t in CHECKED_TABLES:
        df = spark.read.parquet(f"{wh}/{t}")
        row = table_checksum(df, df.columns).first()
        out[t] = (row["n_rows"], row["checksum"])
    return out


def _warm_up(spark, csv: str, wh: str, out: str) -> None:
    """Untimed, once, after the set-ups: run Spark's generic machinery —
    CSV and parquet scans, a shuffled aggregation, a window, a join, a
    partitioned parquet write and a pandas UDF over one partition per
    core, which starts the Python workers — and no engine code. The
    timed day then pays the engine's own first executions, not the JVM's
    class loading, the first compilation of Spark itself or Python
    worker start-up, which swing with load on the host (the first three
    commands of a day varied by 30-36% from run to run without it, and
    worker start-up added about 2 s to the first sessionizer drain)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    spark.read.option("header", "true").csv(csv).count()
    daily = (
        spark.read.parquet(f"{wh}/market_sales_comps")
        .groupBy("card_key", "grade", F.to_date("sold_at").alias("day"))
        .agg(F.count("*").alias("n"), F.avg("sold_price_usd").alias("usd"))
    )
    newest = Window.partitionBy("card_key", "grade").orderBy(F.col("day").desc())
    products = spark.read.parquet(f"{wh}/products").select(
        F.col("slug").alias("card_key"), "price_cents"
    )
    (
        daily.withColumn("rn", F.row_number().over(newest))
        .filter("rn = 1")
        .join(products, "card_key", "left")
        .write.mode("overwrite")
        .partitionBy("grade")
        .parquet(out)
    )
    cores = spark.sparkContext.defaultParallelism
    spark.range(0, cores, 1, cores).mapInPandas(lambda batches: batches, "id long").collect()


def run(ctx, tracer_factory) -> Outcome:
    from legendary_data_pipeline_spark import cli
    from legendary_data_pipeline_spark.plans import jobs

    wh, land, feed = ctx.path("wh"), ctx.path("landing"), ctx.path("feed")
    ev_land = ctx.path("events-landing")
    landed: dict = {}

    def setup_once(ctx, rep):
        for d in (wh, land, feed, ev_land):
            shutil.rmtree(d, ignore_errors=True)
        t0 = time.perf_counter()
        spark = start_session(ctx)
        start_s = time.perf_counter() - t0
        gen.collectibles_base(wh, ctx.seed)
        landed.update(gen.collectibles_day(wh, land, ctx.seed, DAY0, first=True))
        landed["events"] = gen.event_files(ev_land, ctx.seed, EVENT_FILES_PER_DAY)
        spark.read.option("header", "true").csv(landed["csv"]).count()  # light warm-up
        return spark, start_s

    spark, setup, starts = repeat_setup(ctx, setup_once)
    ctx.mark("setup")
    _warm_up(spark, landed["csv"], wh, ctx.path("warm"))
    ctx.mark("warm_up")
    inputs = sorted(glob.glob(f"{wh}/**/*.parquet", recursive=True))
    inputs += sorted(glob.glob(f"{ev_land}/*.parquet"))
    fingerprint = {
        "layout_sha": gen.layout_fingerprint(inputs),
        "input_sha": gen.content_fingerprint(inputs + [landed["csv"]]),
    }
    parser = cli.build_parser()
    groups = JobGroups(spark, f"pb-{ctx.seed}")
    stream = streamday.EventStream(ctx.path("stream"))

    tracer = tracer_factory(spark)
    upserts = wrap_upserts(tracer)
    for attr in ("start_run", "finish_run"):
        tracer.wrap(cli, attr, "sources.runlog")
    tracer.wrap(cli, "read_csv_with_aliases", "sources.csv_read")
    tracer.wrap(cli, "write_feed", "sources.feed_write")
    for attr in ("import_pricecharting", "normalize_scryfall", "build_market_price_daily",
                 "rollup_market_values", "export_google_merchant_feed",
                 "resolve_prices", "revalue_collection"):
        tracer.wrap(jobs, attr, "plans.jobs")
    recorder = StreamRecorder(spark) if ctx.trace else None
    drain_calls = 0

    def day_run(day: date, csv: str, events: list[dict], commands=COMMANDS) -> dict:
        """One timed day: the CLI commands, then the streams drain whatever
        event files landed. Returns per-request (name, Meter) pairs."""
        nonlocal drain_calls
        reqs, cmd_groups, first_span = [], [], len(tracer.spans)
        for key, cmd in commands:
            args = parser.parse_args(_argv(cmd, wh, feed, csv, day))
            cmd_groups.append(groups.next(key))
            try:
                with tracer.span(f"cli.{key}"), Meter() as m:
                    rc = args.fn(spark, args)
                reqs.append((key, m))
            finally:
                groups.clear()
            if rc != 0:
                raise RuntimeError(f"{cmd} exited {rc}")
        base = time.time() - 10_000  # listing order = event-time order
        for i, f in enumerate(events):
            stream.land(f, mtime=base + len(stream.landed) + i)
        t_land = time.perf_counter()
        default_parts = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set(
            "spark.sql.shuffle.partitions", str(STREAM_PARTITIONS_PER_CPU * ctx.cpus)
        )
        try:
            sessionize, rollup = stream.drain(spark)
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", default_parts)
        reqs += [("sessionize", sessionize), ("rollup", rollup)]
        drain_calls += 2
        if recorder is not None:
            recorder.wait_terminated(drain_calls)
        return {
            "reqs": reqs,
            "groups": cmd_groups,
            "spans": range(first_span, len(tracer.spans)),
            "fresh": time.perf_counter() - t_land,
            "events": sum(f["rows"] for f in events),
        }

    cycles = []  # (new_day, rerun)
    checks: dict[str, str] = {}
    elapsed, day, csv, events = 0.0, DAY0, landed["csv"], landed["events"]
    while True:
        new = day_run(day, csv, events)
        if not cycles:
            after_new = _checksums(spark, wh)
        rerun = day_run(day, csv, [], [c for c in COMMANDS if c[0] in RERUN_COMMANDS])
        if not cycles:
            checks.update(_converged(spark, wh, feed, after_new))
            checks["stream.sessions"] = streamday.check_sessions(spark, stream)
            checks["stream.rollup"] = streamday.check_rollup(spark, stream)
        cycles.append((new, rerun))
        elapsed += sum(m.wall_s for _, m in new["reqs"] + rerun["reqs"])
        if elapsed >= ctx.seconds:
            break
        day += timedelta(days=1)
        csv = gen.collectibles_day(wh, land, ctx.seed, day, first=False)["csv"]
        n = EVENT_FILES_PER_DAY * (len(cycles) + 1)
        events = gen.event_files(ev_land, ctx.seed, n)[-EVENT_FILES_PER_DAY:]

    ctx.mark("measure_and_checks")
    probe = "not run (traced runs only)"
    if recorder is not None:
        recorder.detach()
        # The known out-of-order sessionizer defect, replayed on a fresh
        # checkpoint with few state partitions (the failure does not
        # depend on the partition count; the replay is not part of the
        # timed day).
        spark.conf.set("spark.sql.shuffle.partitions", PROBE_PARTITIONS)
        probe = streamday.disorder_probe(spark, ctx.path("probe"), landed["events"], 0)

    def total(reqs, attr: str, only=None) -> float:
        return sum(getattr(m, attr) for k, m in reqs if only is None or k in only)

    def per_cycle(attr: str) -> dict[str, float]:
        """Medians over the cycles, in `attr` (cpu_s or wall_s) seconds."""
        drains = [m for new, _ in cycles for k, m in new["reqs"] if k in DRAINS]
        return {
            "request_p50": median(
                [getattr(m, attr) for new, rerun in cycles for _, m in new["reqs"] + rerun["reqs"]]
            ),
            "day": median([total(new["reqs"], attr) for new, _ in cycles]),
            "rerun": median([total(rerun["reqs"], attr) for _, rerun in cycles]),
            "batch_p50": median([getattr(m, attr) for m in drains]),
            "events_per_s": median(
                [new["events"] / total(new["reqs"], attr, DRAINS) for new, _ in cycles]
            ),
        }

    cpu, wall = per_cycle("cpu_s"), per_cycle("wall_s")
    lat = [m.wall_s for new, rerun in cycles for _, m in new["reqs"] + rerun["reqs"]]
    attempted = len(lat) + len(checks)
    failed = sum(v != "ok" for v in checks.values())
    metrics = {
        "setup_s": (setup.cpu_s, "s"),
        "request_cpu_p50_s": (cpu["request_p50"], "s"),
        "day_cpu_s": (cpu["day"], "s"),
        "rerun_cpu_s": (cpu["rerun"], "s"),
        "batch_cpu_p50_s": (cpu["batch_p50"], "s"),
        "rows_per_cpu_s": (cpu["events_per_s"], "1/s"),
    }
    wall_metrics = {
        "setup_s": setup.wall_s,
        "queries_per_min": 60.0 * len(lat) / sum(lat),
        "query_p50_s": wall["request_p50"],
        "query_p90_s": percentile(lat, 90),
        "pipeline_day_s": wall["day"],
        "pipeline_rerun_s": wall["rerun"],
        "stream_events_per_s": wall["events_per_s"],
        "batch_p50_s": wall["batch_p50"],
        "freshness_s": median([new["fresh"] for new, _ in cycles]),
    }
    layer = {}
    if ctx.trace:
        layer = _layer_metrics(tracer, cycles, starts, upserts, recorder, wh)
        layer["streaming.out_of_order_failures"] = (float(probe != "ok"), "count")
    tracer.restore()
    return Outcome(
        metrics=metrics,
        layer=layer,
        attempted=attempted,
        failed=failed,
        checks=checks,
        spark=spark,
        detail={
            "fingerprint": fingerprint,
            "samples": len(lat),
            "cycles": len(cycles),
            "wall": wall_metrics,
            # per cycle: each request's wall and CPU seconds
            "request_s": [
                [(k, round(m.wall_s, 4), round(m.cpu_s, 4)) for k, m in new["reqs"] + rerun["reqs"]]
                for new, rerun in cycles
            ],
            "known_defects": {"sessionizer_out_of_order_replay": probe},
        },
    )


def _converged(spark, wh: str, feed: str, after_new: dict) -> dict[str, str]:
    """Output checks of the first cycle (untimed)."""
    import pyarrow.parquet as pq

    checks = {}
    after_rerun = _checksums(spark, wh)
    for t in CHECKED_TABLES:
        a, b = after_new[t], after_rerun[t]
        checks[f"rerun_converges.{t}"] = (
            "ok" if a == b and a[0] > 0 else f"after day {a} != after rerun {b}"
        )
    (part,) = glob.glob(f"{feed}/part-*")  # the feed is written as one file
    with open(part, newline="") as fh:
        lines = fh.read().split("\r\n")
    header, body = lines[0].split("\t"), [ln for ln in lines[1:] if ln]
    n_products = pq.read_table(f"{wh}/products").num_rows
    checks["feed.columns"] = (
        "ok" if len(header) == FEED_COLUMNS else f"{len(header)} columns"
    )
    checks["feed.rows"] = (
        "ok" if len(body) == n_products else f"{len(body)} rows, {n_products} products"
    )
    log = pq.read_table(f"{wh}/pipeline_runs", columns=["job", "status"]).to_pylist()
    counts: dict[tuple[str, str], int] = {}
    for row in log:
        key = (row["job"], row["status"])
        counts[key] = counts.get(key, 0) + 1
    jobs = {j for j, _ in counts}
    runs = {  # day + re-run
        "import_pricecharting": 2,
        "build_market_price_daily": 2,
        "rollup_market_values": 2,
        "revalue_collection": 2,
    }
    bad = {
        j: (counts.get((j, "started"), 0), counts.get((j, "finished"), 0))
        for j in jobs
        if not counts.get((j, "started"), 0)
        == counts.get((j, "finished"), 0)
        == runs.get(j, 1)
    }
    checks["runlog.start_finish"] = (
        "ok" if len(jobs) == len(COMMANDS) and not bad else f"{bad} jobs={sorted(jobs)}"
    )
    return checks


def _layer_metrics(tracer, cycles, starts, upserts, recorder, wh) -> dict:
    spans = tracer.spans
    layer = {"session.start_s": (median(starts), "s")}
    for key, _ in COMMANDS:
        layer[f"cli.{key}_s"] = (
            median([s.duration for s in spans if s.name == f"cli.{key}"]), "s"
        )
    days = [d for cycle in cycles for d in cycle]
    groups = [g for d in days for g in d["groups"]]
    jobs = sum(tracer.group_metrics(g)["jobs"] for g in groups)
    layer["cli.jobs"] = (jobs / len(groups), "count")
    self_s, runlog_s = [], []
    for d in days:
        top = [i for i in d["spans"] if spans[i].parent is None
               and spans[i].name.startswith("cli.")]
        self_s.append(sum(tracer.self_time(i) for i in top))
        runlog_s.append(sum(tracer.total_within(i, "sources.runlog") for i in top))
    layer["cli.self_s"] = (median(self_s), "s")
    layer["sources.runlog_s"] = (median(runlog_s), "s")
    layer["sources.runlog_files"] = (
        len(glob.glob(f"{wh}/pipeline_runs/*.parquet")), "count"
    )
    for name in ("csv_read", "feed_write"):
        layer[f"sources.{name}_s"] = (
            median([s.duration for s in spans if s.name == f"sources.{name}"]), "s"
        )
    layer.update(upsert_metrics(upserts))
    progress = recorder.progress
    data = [p for p in progress if p["rows"] > 0]
    for name, key in (("add_batch", "addBatch"), ("planning", "queryPlanning"),
                      ("wal_commit", "walCommit")):
        layer[f"streaming.{name}_s"] = (
            median([p["duration_ms"].get(key, 0) / 1000.0 for p in data]), "s"
        )
    layer["streaming.batches"] = (len(progress), "count")
    layer["streaming.state_rows"] = (max((p["state_rows"] for p in progress), default=0), "count")
    layer["streaming.state_memory_bytes"] = (
        max((p["state_bytes"] for p in progress), default=0), "B"
    )
    layer["trace.overhead_s"] = (tracer.overhead_s, "s")
    return layer
