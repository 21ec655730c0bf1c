"""Ordered-funnel conversion and retention-cohort analytics.

The two classic event-sequence reports a data platform must answer over
an events table (reference analogue: the per-user event rollups of
SURVEY.md §2 A-family, extended to ORDERED semantics):

- `funnel_times` / `funnel_report`: first-touch ordered funnel — for
  each user the earliest step-1 event, then the earliest step-2 event
  strictly after it, and so on, all within a horizon of the step-1
  time (the Amplitude/GA "conversion window" convention).
- `retention_cohorts`: day-granularity cohort retention — users
  cohorted by first-activity day, activity measured at fixed day
  offsets.

Scale (100 TB): every stage aggregates or joins on `user_col` — one
shuffle key end to end, so AQE coalesces the chain onto one exchange
layout; no window over anything bigger than a user's own events, no
collect_list of event arrays (per-user event counts are unbounded in a
crawl — sorted-array funnels OOM on power users; conditional-min
aggregation does not). Event time is the engine's integer-nanos
contract (catalog.load_table).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

NANOS_PER_SECOND = 1_000_000_000
NANOS_PER_DAY = 86_400 * NANOS_PER_SECOND


def funnel_times(
    events: DataFrame,
    steps: Sequence[str],
    horizon_s: int,
) -> DataFrame:
    """(user, t1..tk): first-touch step times in epoch nanos.

    Rows exist for every user with a step-1 event; `t{i}` is NULL from
    the first step the user never reached (within `horizon_s` of t1,
    each step strictly after the previous one).
    """
    if len(steps) < 2:
        raise ValueError("funnel needs at least 2 steps")
    horizon_ns = horizon_s * NANOS_PER_SECOND
    # One source scan for all steps: each step's frame filters the
    # PINNED step-events projection instead of rescanning the events
    # table per step (k steps previously meant k full scans).
    step_events = (
        events.filter(F.col("event_type").isin(*steps))
        .select("user_id", "ts", "event_type")
        .localCheckpoint(eager=False)
    )
    cur = (
        step_events.filter(F.col("event_type") == steps[0])
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    for i, step in enumerate(steps[1:], start=2):
        nxt = step_events.filter(F.col("event_type") == step).select(
            "user_id", F.col("ts").alias("__t")
        )
        prev_cols = [f"t{j}" for j in range(1, i)]
        hit = (
            (F.col("__t") > F.col(f"t{i - 1}"))
            & (F.col("__t") <= F.col("t1") + F.lit(horizon_ns))
        )
        cur = (
            cur.join(nxt, "user_id", "left")
            .groupBy("user_id", *prev_cols)
            .agg(F.min(F.when(hit, F.col("__t"))).alias(f"t{i}"))
        )
    return cur


def funnel_report(
    events: DataFrame,
    steps: Sequence[str],
    horizon_s: int,
) -> DataFrame:
    """Per-step conversion summary: (step_idx, step, n_users,
    conversion) where conversion = n_users / step-1 users — a RAW
    IEEE ratio of exact integers (bit-stable; the round-9
    representation audit removed the superfluous fractional round)."""
    times = funnel_times(events, steps, horizon_s)
    counts = times.agg(
        *[
            F.count(F.col(f"t{i}")).alias(f"n{i}")
            for i in range(1, len(steps) + 1)
        ]
    )
    per_step = F.array(
        *[
            F.struct(
                F.lit(i).alias("step_idx"),
                F.lit(step).alias("step"),
                F.col(f"n{i}").alias("n_users"),
            )
            for i, step in enumerate(steps, start=1)
        ]
    )
    return (
        counts.select(F.explode(per_step).alias("s"), F.col("n1"))
        .select(
            F.col("s.step_idx").alias("step_idx"),
            F.col("s.step").alias("step"),
            F.col("s.n_users").alias("n_users"),
            # try_divide: an empty funnel (n1 = 0) reports NULL
            # conversion instead of an ANSI divide-by-zero error.
            F.try_divide(
                F.col("s.n_users").cast("double"),
                F.col("n1").cast("double"),
            ).alias("conversion"),
        )
    )


_DAY_OFFSETS = (0, 1, 3, 7, 14)


def retention_cohorts(events: DataFrame) -> DataFrame:
    """Day-granularity cohort retention: (cohort_day, day_offset,
    n_active, cohort_size, retention).

    Users are cohorted by their first active day (UTC day of the
    integer-nanos event time); a user counts as retained at offset k
    when active on cohort_day + k. Only the requested offsets are
    emitted (day 0 is the cohort itself: retention 1.0).
    """
    # Integer DIV, not float division: epoch nanos (~1.7e18) exceed a
    # double's 53-bit mantissa, so `/` would misplace day boundaries.
    # Pin the distinct (user, day) frame: it feeds the cohort agg AND
    # the activity join, and cohort itself fans out to sizes + the
    # retained-count join — unpinned, every consumer chain replays the
    # events scan (r13 registry-wide audit: 3 scans). The pin is the
    # activity footprint (users × active days), far smaller than the
    # event log it derives from.
    days = events.select(
        "user_id",
        F.expr(f"ts DIV {NANOS_PER_DAY}").alias("__day"),
    ).distinct().localCheckpoint(eager=False)
    cohort = days.groupBy("user_id").agg(F.min("__day").alias("__c"))
    activity = days.join(cohort, "user_id").select(
        "user_id", "__c", (F.col("__day") - F.col("__c")).alias("__k")
    )
    sizes = cohort.groupBy("__c").agg(
        F.count_distinct(F.col("user_id")).alias("cohort_size")
    )
    ret = (
        activity.filter(F.col("__k").isin(*_DAY_OFFSETS))
        .groupBy("__c", "__k")
        .agg(F.count_distinct(F.col("user_id")).alias("n_active"))
    )
    cohort_day = F.date_format(
        F.expr("date_add(DATE '1970-01-01', CAST(__c AS INT))"), "yyyy-MM-dd"
    )
    return ret.join(sizes, "__c").select(
        cohort_day.alias("cohort_day"),
        F.col("__k").cast("long").alias("day_offset"),
        "n_active",
        "cohort_size",
        (
            F.col("n_active").cast("double")
            / F.col("cohort_size").cast("double")
        ).alias("retention"),
    )


def event_transitions(events: DataFrame) -> DataFrame:
    """First-order transition matrix over each user's event sequence:
    (from_type, to_type, n_transitions, p) with p row-normalized per
    from_type (a raw IEEE ratio of exact integers — bit-stable).

    The lag/lead window partitions by user — per-partition state is one
    user's events; the count and normalization aggregate over the
    TYPE×TYPE matrix (tiny). The `event_id` tie-break makes the within-user
    order total, so the matrix is deterministic under any layout.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        events.select(
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .filter(F.col("to_type").isNotNull())
    )
    counts = pairs.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n_transitions")
    )
    w_from = Window.partitionBy("from_type")
    return counts.select(
        "from_type",
        "to_type",
        "n_transitions",
        (
            F.col("n_transitions").cast("double")
            / F.sum("n_transitions").over(w_from).cast("double")
        ).alias("p"),
    )
