"""Percentile / last-value rollups (SURVEY.md §2.4 A1/A2/A6, §2.3 J9).

Re-expresses `scripts/pricing/10_rollup_market_values_daily.mjs:33-92`:
per (card_key, grade) over a 180-day lookback —
`percentile_cont(0.5/0.25/0.75)`, `COUNT(*)`, `MAX(sold_at)`, the latest
sale (correlated `ORDER BY sold_at DESC LIMIT 1` subquery), and an
A/B/C/D confidence bucket from the sample count (10:78-83).

Spark-first notes:
- the correlated last-sale subquery becomes `max_by(value,
  struct(ts, tie_breakers...))` inside the SAME groupBy as the
  percentiles — one aggregation, map-side combinable, no window sort
  and no re-join, unlike the reference's stats-CTE + correlated lookup.
- `percentile(...)` is exact (matches `percentile_cont` on doubles
  bit-for-bit); `percentile_approx` would be the 100 TB swap.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def confidence_bucket(count_col: Column) -> Column:
    """A/B/C/D bucket by sample count (10:78-83)."""
    return (
        F.when(count_col >= 10, "A")
        .when(count_col >= 5, "B")
        .when(count_col >= 2, "C")
        .otherwise("D")
    )


def percentile_rollup(
    df: DataFrame,
    group_keys: Sequence[str],
    value_col: str,
    ts_col: str,
    tie_breakers: Sequence[str] = (),
    percentiles: Sequence[float] = (0.25, 0.5, 0.75),
) -> DataFrame:
    """Grouped percentile stats + deterministic last-value per group.

    `tie_breakers` complete the ordering for the "latest" row so the
    last-value is deterministic when `ts_col` ties (the reference's
    `LIMIT 1` is nondeterministic there). The "latest" ordering is the
    lexicographic max of struct(ts, *tie_breakers) — all components
    descend, which is exactly the reference's `ORDER BY sold_at DESC`.
    """
    pcts = ", ".join(str(p) for p in percentiles)
    latest_key = F.struct(F.col(ts_col), *[F.col(c) for c in tie_breakers])
    aggs = [
        F.expr(f"percentile({value_col}, array({pcts}))").alias("__pcts"),
        F.count(F.lit(1)).alias("sales_count"),
        F.max(ts_col).alias("last_ts"),
        F.max_by(F.col(value_col), latest_key).alias("last_value"),
    ]
    out = df.groupBy(*group_keys).agg(*aggs)
    for i, p in enumerate(percentiles):
        label = str(int(p * 100))
        out = out.withColumn(f"p{label}", F.col("__pcts")[i])
    return out.drop("__pcts").withColumn(
        "confidence", confidence_bucket(F.col("sales_count"))
    )


# ---------------------------------------------------------------------------
# incremental rollup maintenance (mergeable aggregates)
# ---------------------------------------------------------------------------

# merge rule per aggregate kind: how two partial states combine.
# SUM preserves SQL semantics: a both-sides-NULL state (sum over only
# NULL values) stays NULL rather than becoming 0.
def _merge_sum(a, b):
    return F.when(
        a.isNull() & b.isNull(), F.lit(None)
    ).otherwise(F.coalesce(a, F.lit(0)) + F.coalesce(b, F.lit(0)))


_MERGEABLE = {
    "sum": _merge_sum,
    "count": lambda a, b: F.coalesce(a, F.lit(0)) + F.coalesce(b, F.lit(0)),
    "min": lambda a, b: F.least(a, b),   # least/greatest skip NULLs
    "max": lambda a, b: F.greatest(a, b),
}


def aggregate_batch(batch, keys, specs):
    """Aggregate a raw batch into rollup-shaped partials.

    `specs` is a list of (out_col, kind, value_expr) with kind in
    {sum, count, min, max}; `count` ignores value_expr. Output schema =
    keys + out_cols — the same shape `merge_rollup` maintains.
    """
    aggs = []
    for out_col, kind, value in specs:
        if kind == "count":
            aggs.append(F.count(F.lit(1)).cast("long").alias(out_col))
        elif kind == "sum":
            aggs.append(F.sum(value).alias(out_col))
        elif kind in ("min", "max"):
            fn = F.min if kind == "min" else F.max
            aggs.append(fn(value).alias(out_col))
        else:
            raise ValueError(f"unmergeable aggregate kind: {kind!r}")
    return batch.groupBy(*keys).agg(*aggs)


def merge_rollup(existing, batch_agg, keys, kinds):
    """Incrementally maintain a materialized rollup: combine an existing
    rollup table with a new batch's partial aggregates of the SAME
    schema, producing the rollup a full recompute would give — without
    rescanning history.

    `kinds` maps each aggregate column to its merge rule (sum / count /
    min / max — the decomposable aggregates; avg and distinct need
    sum+count or sketch columns instead, see `sk_hll_distinct_users`
    for the distinct-count pattern). Keys present on only one side pass
    through; on both sides the kind's merge rule combines them.

    This is THE 100 TB maintenance shape: each arriving batch costs
    O(batch) to aggregate plus a join against the (much smaller) rollup
    — never a rescan of the raw corpus. Correctness is by the algebra
    of decomposable aggregates, and the paired registry query proves it
    against a full-recompute oracle. Idempotent delivery still matters:
    merging the same batch twice double-counts sums — pair with the
    runlog/batch_id conventions (sources/runlog.py, streaming/quality)
    to ensure each batch merges exactly once.
    """
    unknown = {k for k in kinds.values()} - set(_MERGEABLE)
    if unknown:
        raise ValueError(f"unmergeable aggregate kinds: {sorted(unknown)}")
    e = existing.select(
        *keys, *[F.col(c).alias(f"__e_{c}") for c in kinds]
    )
    b = batch_agg.select(
        *keys, *[F.col(c).alias(f"__b_{c}") for c in kinds]
    )
    merged = e.join(b, list(keys), "full_outer")
    out_cols = [
        _MERGEABLE[kind](F.col(f"__e_{c}"), F.col(f"__b_{c}")).alias(c)
        for c, kind in kinds.items()
    ]
    return merged.select(*keys, *out_cols)
