"""The event-stream part of the daily workload.

The day's events land as parquet files (event-time ordered, users drawn
from a skewed population). `streaming.sessions.run_sessionize_once`
(with `max_files_per_trigger`) and `streaming.snapshots.
run_daily_rollup_once` (whose foreachBatch sink is the keyed upsert)
drain them: first the day's backlog, then a re-run with nothing new,
then one late file at a time.

Checks (untimed): the session sink equals `sessions.sessionize_batch`
over the same events, restricted to the sessions the stream can have
closed; the rollup sink equals a batch recount of the drained files.
`disorder_probe` replays the backlog with one adjacent pair of files
swapped — a known sessionizer defect (the state timeout is set below
the eviction watermark) makes that replay fail; the outcome is reported
beside the result, not hidden.
"""

from __future__ import annotations

import os
import shutil
import time
from decimal import Decimal

import pyarrow.parquet as pq

from common import Meter
from gen import EVENT_ORIGIN_US

GAP_S = 1800  # run_sessionize_once defaults
WATERMARK_US = 3_600_000_000


class EventStream:
    """A stream's input directory, sinks and checkpoints under `root`."""

    def __init__(self, root: str):
        self.root = root
        self.inbox = os.path.join(root, "in")
        self.landed: list[dict] = []
        os.makedirs(self.inbox, exist_ok=True)

    def path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def land(self, f: dict, mtime: float | None = None) -> float:
        """Move one file into the stream's input directory; returns the
        landing time. `mtime` pins the file's listing order (backlog)."""
        dst = os.path.join(self.inbox, os.path.basename(f["path"]))
        tmp = os.path.join(self.root, ".landing.parquet")
        shutil.copyfile(f["path"], tmp)
        if mtime is not None:
            os.utime(tmp, (mtime, mtime))
        os.replace(tmp, dst)
        self.landed.append(f)
        return time.perf_counter()

    def drain(self, spark, max_files_per_trigger: int = 2) -> list[Meter]:
        """Run both entry points once; returns their wall and CPU times."""
        from legendary_data_pipeline_spark.streaming.sessions import run_sessionize_once
        from legendary_data_pipeline_spark.streaming.snapshots import run_daily_rollup_once

        with Meter() as sessionize:
            run_sessionize_once(
                spark, self.inbox, self.path("sessions"), self.path("sessions_ckpt"),
                max_files_per_trigger=max_files_per_trigger,
            )
        with Meter() as rollup:
            run_daily_rollup_once(
                spark, self.inbox, self.path("rollup"), self.path("rollup_ckpt")
            )
        return [sessionize, rollup]


def check_sessions(spark, stream: EventStream) -> str:
    """Sink sessions == batch sessionization of the drained events, minus
    each user's still-open last session (end + gap not yet below the
    final watermark)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from legendary_data_pipeline_spark.catalog import normalize_event_ts
    from legendary_data_pipeline_spark.streaming.sessions import sessionize_batch
    from legendary_data_pipeline_spark.streaming.snapshots import (
        EVENTS_SCHEMA,
        with_event_time,
    )

    events = spark.read.schema(EVENTS_SCHEMA).parquet(stream.inbox)
    batch = sessionize_batch(with_event_time(normalize_event_ts(events)), GAP_S)
    max_us = max(f["t_max_us"] for f in stream.landed)
    wm_us = max_us + EVENT_ORIGIN_US - WATERMARK_US
    last = Window.partitionBy("user_id").orderBy(F.col("session_start").desc())
    closed = (
        batch.withColumn("__rn", F.row_number().over(last))
        .filter(
            (F.col("__rn") > 1)
            | (F.unix_micros("session_end") + GAP_S * 1_000_000 < F.lit(wm_us))
        )
        .drop("__rn")
    )
    cols = ["user_id", "session_start", "session_end", "n_events", "total_value"]
    want = sorted(tuple(r) for r in closed.select(*cols).collect())
    got = sorted(tuple(r) for r in spark.read.parquet(stream.path("sessions")).select(*cols).collect())
    if len(want) != len(got):
        return f"{len(got)} sessions in sink, {len(want)} closed in batch"
    for w, g in zip(want, got):
        if w[:4] != g[:4] or abs(w[4] - g[4]) > 1e-9 * max(1.0, abs(w[4])):
            return f"session differs: sink {g} vs batch {w}"
    return "ok" if want else "no closed sessions"



def check_rollup(spark, stream: EventStream) -> str:
    """Rollup sink == per (day, event_type) count and cents recomputed
    from the landed files."""
    want: dict[tuple[str, str], list[int]] = {}
    for f in stream.landed:
        t = pq.read_table(f["path"], columns=["ts", "event_type", "value"]).to_pydict()
        for ts, et, v in zip(t["ts"], t["event_type"], t["value"]):
            key = (ts.strftime("%Y-%m-%d"), et)
            acc = want.setdefault(key, [0, 0])
            acc[0] += 1
            acc[1] += int((Decimal(repr(v)) * 100).to_integral_value())
    got = {
        (r["day"], r["event_type"]): [r["events"], r["total_value_cents"]]
        for r in spark.read.parquet(stream.path("rollup")).collect()
    }
    if got != want:
        diff = sorted(k for k in set(got) | set(want) if got.get(k) != want.get(k))
        return f"{len(diff)} (day, event_type) cells differ, first {diff[0]}"
    return "ok"


def disorder_probe(spark, root: str, files: list[dict], swap_at: int) -> str:
    """Replay files[0..swap_at+1] through a fresh sessionizer with files
    swap_at and swap_at+1 listed in swapped order, one file per trigger.
    Returns "ok" or the error class the replay failed with."""
    from legendary_data_pipeline_spark.streaming.sessions import run_sessionize_once

    probe = EventStream(root)
    order = list(range(swap_at + 2))
    order[swap_at], order[swap_at + 1] = order[swap_at + 1], order[swap_at]
    base = time.time() - 10_000
    for rank, i in enumerate(order):
        probe.land(files[i], mtime=base + rank)
    try:
        run_sessionize_once(
            spark, probe.inbox, probe.path("sessions"), probe.path("ckpt"),
            max_files_per_trigger=1,
        )
    except Exception as exc:  # the replay's failure is the finding
        msg = str(exc)
        for marker in ("INVALID_TIMEOUT_TIMESTAMP",):
            if marker in msg:
                return marker
        return f"{type(exc).__name__}: {msg.splitlines()[0][:200]}"
    return "ok"
