"""Custom stateful streaming operator: gap-based user sessionization.

The reference has no streaming surface (SURVEY.md §2.9) — this is the
additive `applyInPandasWithState` showcase the engine exposes for
event streams: group events by user, close a session when no event
arrives within `gap` seconds, emit one row per closed session.

Why `applyInPandasWithState` and not a windowed agg: session windows
have data-dependent extents; the state (current session start / last
seen / running aggregates) must live across micro-batches. State is
bounded per key (a handful of scalars) and evicted via timeout — the
watermark-driven equivalent of closing idle sessions.

Batch parity: `sessionize_batch` computes identical sessions with a
lag/cumsum window cascade — used by tests to cross-check the stateful
path, and usable directly for backfills (same semantics, one shuffle +
two window passes).
"""

from __future__ import annotations

from typing import Any, Iterator

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

SESSION_SCHEMA = (
    "user_id long, session_start timestamp, session_end timestamp, "
    "n_events long, total_value double"
)

# Timestamps are carried as INTEGER microseconds in state — float seconds
# would round-trip with sub-microsecond noise that Arrow refuses to cast
# back to timestamp[us] (and would break parity with the batch path).
_STATE_SCHEMA = "start long, last long, n long, total double"


def sessionize_stream(
    events: DataFrame, gap_seconds: int = 1800, watermark: str = "1 hour"
) -> DataFrame:
    """Stateful sessionization over a streaming events frame.

    `events` needs `event_time timestamp, user_id long, value double`
    (see `snapshots.with_event_time`). Emits closed sessions only —
    a session closes when the EVENT-TIME timeout fires: the watermark
    passes `last_event + gap`, i.e. closing is data-driven and
    replayable, not wall-clock dependent.
    """

    def update(
        key: tuple[Any, ...],
        batches: Iterator["pd.DataFrame"],
        state: GroupState,
    ) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        (user_id,) = key
        gap_us = gap_seconds * 1_000_000
        if state.hasTimedOut:
            start, last, n, total = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [user_id],
                    "session_start": [pd.Timestamp(start, unit="us")],
                    "session_end": [pd.Timestamp(last, unit="us")],
                    "n_events": [n],
                    "total_value": [total],
                }
            )
            return

        # This function runs once per (key, micro-batch) — groups are
        # typically a handful of rows, so per-call pandas overhead
        # (concat, assign, sort_values, fillna) dominated the operator
        # (r15 probe: the parity's streaming run scaled with partition
        # parallelism, the per-GROUP-call signature). Numpy views +
        # argsort keep the identical semantics at a fraction of the
        # per-call cost; pd.concat is skipped for the common
        # single-chunk delivery.
        chunks = list(batches)
        rows = chunks[0] if len(chunks) == 1 else pd.concat(
            chunks, ignore_index=True
        )
        # event_time arrives as datetime64[ns]; state works in int micros.
        micros = rows["event_time"].to_numpy().astype("int64") // 1000
        closed: list[tuple[int, int, int, float]] = []
        if state.exists:
            start, last, n, total = state.get
        else:
            start = last = int(micros.min())
            n, total = 0, 0.0
        order = np.argsort(micros, kind="stable")
        # Replace only NaN/None with 0.0 (the batch path's
        # coalesce(value, 0.0) / the old fillna(0.0)) — the nan_to_num
        # default would ALSO clamp ±inf to ±1.8e308, a silent semantics
        # change (r15 advice): an infinite value must propagate into
        # the session total exactly like the batch operator.
        t_sorted = micros[order]
        vals = rows["value"].to_numpy(dtype="float64")[order]
        vals = np.where(np.isnan(vals), 0.0, vals)
        # Vectorized session splitting (r16, guide §4.2): the per-EVENT
        # Python loop ran once per row (600k iterations per parity
        # run); gap breaks and per-segment aggregates are numpy ops,
        # leaving a loop only over SEGMENTS (sessions touched by this
        # batch — a handful per call). With t sorted ascending, the
        # running last before row i is max(carried last, t[i-1]), so
        # break_i = t[i] - max(last, t[i-1]) > gap.
        #
        # Exactness: when every value (and the carried total) is
        # integer-valued — the engine's cents convention, and the only
        # regime where stream totals can promise bit-parity with the
        # batch operator at all — segment totals sum as int64, where
        # every addition order is exact. Anything else (fractional,
        # ±inf) falls back to the original per-event loop so the
        # sequential float association is preserved bit-for-bit.
        prev_last = np.maximum(
            np.concatenate((np.array([last], dtype="int64"), t_sorted[:-1])),
            last,
        )
        bounds = [
            0,
            *np.flatnonzero((t_sorted - prev_last) > gap_us).tolist(),
            len(t_sorted),
        ]
        # Fast-path envelope: beyond double's integer-exact range the
        # int64 segment sums would diverge from the legacy sequential
        # float accumulation (and a large-enough prefix sum could wrap
        # int64), so the bounds keep every intermediate BOTH int64-safe
        # and exactly representable as a double: |v| <= 2^31 per event,
        # <= 2^16 events per batch (segment sums <= 2^47), carried
        # total <= 2^48 -> running totals < 2^49 << 2^53. Anything
        # outside falls back to the sequential loop.
        exact_int = (
            float(total).is_integer()
            and abs(total) <= float(1 << 48)
            and len(vals) <= (1 << 16)
            and bool(np.all(np.isfinite(vals)))
            and bool(np.all(vals == np.trunc(vals)))
            and bool(np.all(np.abs(vals) <= float(1 << 31)))
        )
        if exact_int:
            cs = np.cumsum(vals.astype("int64"))  # exact integer prefix sums
            for j in range(len(bounds) - 1):
                s, e = bounds[j], bounds[j + 1]
                if j > 0:  # a gap closed the running session before row s
                    closed.append((start, last, n, total))
                    start, n, total = int(t_sorted[s]), 0, 0.0
                if e > s:
                    last = max(last, int(t_sorted[e - 1]))
                    n += e - s
                    total += float(cs[e - 1] - (cs[s - 1] if s else 0))
        else:
            for t, v in zip(t_sorted.tolist(), vals.tolist()):
                if t - last > gap_us:
                    closed.append((start, last, n, total))
                    start, n, total = t, 0, 0.0
                last = max(last, t)
                n += 1
                total += v
        state.update((start, last, n, total))
        # Close when the watermark passes last_event + gap (ms epoch).
        state.setTimeoutTimestamp(last // 1000 + gap_seconds * 1000)
        if closed:
            yield pd.DataFrame(
                {
                    "user_id": [user_id] * len(closed),
                    "session_start": [
                        pd.Timestamp(c[0], unit="us") for c in closed
                    ],
                    "session_end": [
                        pd.Timestamp(c[1], unit="us") for c in closed
                    ],
                    "n_events": [c[2] for c in closed],
                    "total_value": [c[3] for c in closed],
                }
            )

    return (
        events.withWatermark("event_time", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=SESSION_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def run_sessionize_once(
    spark,
    events_path: str,
    target_path: str,
    checkpoint_path: str,
    gap_seconds: int = 1800,
    watermark: str = "1 hour",
    max_files_per_trigger: int | None = None,
) -> None:
    """Drain available events once, append closed sessions to a parquet
    table, and exit — the cron-replacement entry point (mirrors
    snapshots.run_daily_rollup_once). Closed sessions are append-only
    facts keyed by (user_id, session_start); re-runs resume from the
    checkpoint so nothing re-emits. `max_files_per_trigger` splits the
    backlog into multiple micro-batches (cross-batch session state;
    the parity query and tests use 1).
    """
    from legendary_data_pipeline_spark.streaming.snapshots import (
        _drain,
        read_events_stream,
        with_event_time,
    )

    stream = with_event_time(
        read_events_stream(
            spark, events_path, max_files_per_trigger=max_files_per_trigger
        )
    )
    sessions = sessionize_stream(
        stream, gap_seconds=gap_seconds, watermark=watermark
    )
    _drain(
        sessions.writeStream.outputMode("append")
        .format("parquet")
        .option("path", target_path),
        checkpoint_path,
    )


def sessionize_batch(events: DataFrame, gap_seconds: int = 1800) -> DataFrame:
    """Batch sessionization with identical semantics (backfill path).

    lag → gap flag → cumulative sum = session id, then one groupBy.
    Two window passes + one aggregation, all partitioned by user — a
    single shuffle on `user_id` at scale.
    """
    by_user = Window.partitionBy("user_id").orderBy("event_time")
    gap = F.col("event_time").cast("double") - F.lag(
        F.col("event_time").cast("double")
    ).over(by_user)
    flagged = events.withColumn(
        "__new_session",
        F.when(gap.isNull() | (gap > gap_seconds), 1).otherwise(0),
    ).withColumn(
        "__session_idx",
        F.sum("__new_session").over(
            by_user.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return (
        flagged.groupBy("user_id", "__session_idx")
        .agg(
            F.min("event_time").alias("session_start"),
            F.max("event_time").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.coalesce(F.col("value"), F.lit(0.0))).alias("total_value"),
        )
        .drop("__session_idx")
    )
