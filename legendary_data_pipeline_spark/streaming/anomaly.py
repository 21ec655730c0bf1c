"""Stateful streaming EWMA anomaly scoring — the continuous form of
the batch detector (operators/stats.py `ewma_anomalies`).

Per key, the state is the last ≤k observed values in event-time order;
each arriving point is scored against the PREDICTIVE halving-weight
EWMA of those lags (the exact batch formula: ewma_t = Σ 2^(k−j)·x_{t−j}
/ Σ 2^(k−j), integer numerator/denominator, partial windows exact) and
emitted immediately with its residual. Downstream alerting thresholds
the residual stream however it likes — the batch operator's per-group
MAD flag needs the WHOLE group's residuals and is therefore not a
streaming quantity; this module deliberately emits the score, not the
verdict (documented divergence, not a silent approximation).

Batch/stream parity: for an IN-ORDER stream the (key, t, ewma, resid)
rows are bit-identical to `ewma_anomalies`' columns on the same data —
pinned in tests/test_streaming_anomaly.py. Out-of-order arrivals
WITHIN one micro-batch are sorted before scoring. A point arriving
late ACROSS micro-batches is scored against the retained values that
PRECEDE it in event time (NULL if none are retained — honest
"unknown", never a baseline built from its own future) and is
INSERTED into the lag buffer by t, so the stored state stays "last ≤k
observed values in event-time order" and future baselines never treat
a stale point as lag 1. Points newer than the late arrival that were
already emitted are not rescored (append mode is immutable); the
batch operator is the backfill oracle.

State is bounded: ≤k int64 values per key, evicted when the WATERMARK
passes ``last event + idle_timeout`` (event-time timeout — data-driven
and replayable, the sessions.py convention; a processing-time timeout
would also never let an availableNow drain terminate, since every
armed timer keeps scheduling another micro-batch). The timeout
timestamp is clamped to ``current watermark + 1``: Spark requires it
to exceed the watermark. In Spark 4 the scenario that could violate
that (a micro-batch holding ONLY events older than
watermark − idle_timeout for a key) is unreachable through the data
path — applyInPandasWithState drops sub-watermark rows BEFORE the
state function (pinned in tests/test_streaming_anomaly.py) — so the
clamp is defense-in-depth for idle_timeout_ms=0 or an engine version
without the pre-filter, the same failure class (crash poisons the
checkpoint, replays on every restart) the NULL t/v pre-filter guards
against.
"""

from __future__ import annotations

from typing import Any, Iterator

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

ANOMALY_SCHEMA = (
    "user_id long, t long, v long, ewma double, resid double"
)

#: last ≤k (t, value) pairs in event-time order (newest last) — ts is
#: kept so late cross-batch arrivals insert by t instead of appending.
#:
#: STATE-SCHEMA VERSION NOTE (r12): this schema replaced the r10 shape
#: ``vs array<long>, last_t long``. applyInPandasWithState state is NOT
#: schema-evolvable — a stream checkpoint written under the old shape
#: will fail (or silently misdecode: the old scalar last_t occupies the
#: slot the new ts array reads) on restart with this code. Upgrading a
#: live stream across this boundary requires a NEW checkpoint directory
#: (state rebuilds from the retained source offsets / reprocessing
#: window); there is no in-place migration hook in the
#: applyInPandasWithState API to version-and-convert old tuples.
_STATE_SCHEMA = "vs array<long>, ts array<long>"


def ewma_anomaly_stream(
    events: DataFrame,
    k: int = 8,
    idle_timeout_ms: int = 24 * 3600 * 1000,
) -> DataFrame:
    """Score a streaming frame of (user_id long, event_time timestamp,
    t long, v long) rows — `t` is the series index (e.g. day number),
    `v` the integer measure (cents convention; |v|·2^k must fit int64,
    the batch operator's bound).

    Returns the streaming DataFrame of scored rows (append mode). The
    caller owns watermarking (`events` must already carry a watermark
    on event_time — the timeout clock).
    """
    if k < 1:
        raise ValueError(f"ewma_anomaly_stream: k must be >= 1, got {k}")

    def update(
        key: tuple[Any, ...],
        batches: Iterator["pd.DataFrame"],
        state: GroupState,
    ) -> Iterator["pd.DataFrame"]:
        import bisect

        import pandas as pd

        import numpy as np

        (user_id,) = key
        if state.hasTimedOut:
            state.remove()
            return
        # Per-(key, micro-batch) call — groups are small, so per-call
        # pandas overhead (concat, sort_values) dominated the operator
        # (r15 probe; see sessions.py `update` for the measurement).
        # Numpy argsort + list conversion keeps identical semantics:
        # kind="stable" preserves arrival order on equal t exactly like
        # the mergesort it replaces.
        chunks = list(batches)
        rows = chunks[0] if len(chunks) == 1 else pd.concat(
            chunks, ignore_index=True
        )
        t_np = rows["t"].to_numpy()
        order = np.argsort(t_np, kind="stable")
        last_ms = int(
            rows["event_time"].to_numpy().astype("int64").max() // 1_000_000
        )
        vs: list[int] = []
        ts: list[int] = []
        if state.exists:
            stored_vs, stored_ts = state.get
            vs = list(stored_vs)
            ts = list(stored_ts)
        out_t: list[int] = []
        out_v: list[int] = []
        out_ewma: list[float | None] = []
        out_resid: list[float | None] = []
        for t_val, v_val in zip(
            t_np[order].tolist(), rows["v"].to_numpy()[order].tolist()
        ):
            t_val = int(t_val)
            v_val = int(v_val)
            # event-time insertion point: lags are the ≤k retained
            # values strictly before this point in event time (ties →
            # after existing equal-t values, i.e. arrival order); for
            # in-order streams pos == len(vs) and this is the plain
            # trailing window
            pos = bisect.bisect_right(ts, t_val)
            lags = vs[max(0, pos - k):pos]
            num = 0
            den = 0
            # lags[-1] is lag 1 (weight 2^(k-1)), matching the batch
            # operator's F.lag(j) halving weights exactly
            for j, lv in enumerate(reversed(lags), start=1):
                weight = 1 << (k - j)
                num += lv * weight
                den += weight
            if den > 0:
                ewma = float(num) / float(den)
                resid = float(v_val) - ewma
            else:
                ewma = None
                resid = None
            out_t.append(t_val)
            out_v.append(v_val)
            out_ewma.append(ewma)
            out_resid.append(resid)
            vs.insert(pos, v_val)
            ts.insert(pos, t_val)
            if len(vs) > k:
                vs = vs[-k:]
                ts = ts[-k:]
        state.update((vs, ts))
        # event-time eviction: drop the key's lag buffer once the
        # watermark passes its last activity + the idle window.
        # Clamped to watermark+1 — Spark rejects a timeout at or below
        # the current watermark, and a micro-batch holding ONLY very
        # late events for this key would otherwise compute one and
        # crash the query (poisoning the checkpoint on every restart).
        state.setTimeoutTimestamp(
            max(last_ms + idle_timeout_ms,
                state.getCurrentWatermarkMs() + 1)
        )
        yield pd.DataFrame(
            {
                "user_id": [user_id] * len(out_t),
                "t": out_t,
                "v": out_v,
                "ewma": pd.array(out_ewma, dtype="float64"),
                "resid": pd.array(out_resid, dtype="float64"),
            }
        )

    from pyspark.sql import functions as F

    # NULL t/v rows drop BEFORE the state function (the batch
    # operator's .where contract): a nullable parquet column delivers
    # NaN to pandas, int(NaN) raises inside applyInPandasWithState,
    # and the poisoned checkpoint replays the crash on every restart.
    clean = events.where(
        F.col("t").isNotNull() & F.col("v").isNotNull()
    )
    return clean.groupBy("user_id").applyInPandasWithState(
        update,
        ANOMALY_SCHEMA,
        _STATE_SCHEMA,
        "append",
        GroupStateTimeout.EventTimeTimeout,
    )


def run_ewma_anomaly_once(
    spark,
    source_dir: str,
    target: str,
    checkpoint: str,
    k: int = 8,
    watermark: str = "1 hour",
    idle_timeout_ms: int = 24 * 3600 * 1000,
    max_files_per_trigger: int | None = None,
) -> None:
    """availableNow drain: read parquet events (user_id, ts, t, v),
    score, append to `target`. The backfill-vs-stream harness.
    `max_files_per_trigger` splits the backlog into multiple
    micro-batches (cross-batch lag-buffer state; the parity queries
    and tests use 1)."""
    from pyspark.sql import functions as F

    from legendary_data_pipeline_spark.streaming.snapshots import (
        _drain,
        _read_stream,
        with_event_time,
    )

    src = _read_stream(
        spark, source_dir, "user_id long, ts long, t long, v long",
        max_files_per_trigger,
    )
    timed = with_event_time(src).withWatermark("event_time", watermark)
    scored = ewma_anomaly_stream(
        timed.select("user_id", "event_time", "t", "v"),
        k=k,
        idle_timeout_ms=idle_timeout_ms,
    )
    _drain(
        scored.writeStream.format("parquet")
        .option("path", target)
        .outputMode("append"),
        checkpoint,
    )
