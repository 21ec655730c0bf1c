"""Best-of-group selection via window ranking (SURVEY.md §2.5 W1/W2, §2.4 A4).

The reference's core rollup picks ONE row per (item, currency, day) by a
priority ordering (`scripts/pricing/03_build_market_price_daily.js:107-170`):
`ROW_NUMBER() OVER (PARTITION BY ... ORDER BY src_rank, type_rank, value DESC)`
then `WHERE rn = 1`.

Spark-first notes for 100 TB:
- `row_number` over a window is one shuffle on the partition keys; with
  the input already partitioned/bucketed by the same keys it is
  shuffle-free. Filter(rn=1) is evaluated inside the window stage.
- Order columns MUST form a total order within each partition (append a
  unique tie-breaker) or the picked row is nondeterministic under retries
  — the reference has the same latent issue on value ties (03:146).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def best_of_group(
    df: DataFrame,
    partition_by: Sequence[str | Column],
    order_by: Sequence[Column],
) -> DataFrame:
    """Keep exactly one row per partition, the first under `order_by`."""
    window = Window.partitionBy(*partition_by).orderBy(*order_by)
    return (
        df.withColumn("rn", F.row_number().over(window))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def top_k_per_group(
    df: DataFrame,
    partition_by: Sequence[str | Column],
    order_by: Sequence[Column],
    k: int,
    rank_col: str = "rn",
) -> DataFrame:
    """Top-k per partition; keeps the rank column (1-based)."""
    window = Window.partitionBy(*partition_by).orderBy(*order_by)
    return df.withColumn(rank_col, F.row_number().over(window)).filter(
        F.col(rank_col) <= k
    )


def _bucket_search_tree(value: Column, bounds: Sequence) -> Column:
    """bucket(value) = #{b ∈ bounds : value > b}, as a balanced
    when()-tree over literal bounds: O(log n) comparisons per row, all
    inside whole-stage codegen. `bounds` must be sorted ascending and
    deduplicated."""
    if not bounds:
        return F.lit(0)

    def build(lo: int, hi: int) -> Column:
        # Invariant: value belongs to bucket in [lo, hi].
        if lo == hi:
            return F.lit(lo)
        mid = (lo + hi) // 2
        return F.when(value > F.lit(bounds[mid]), build(mid + 1, hi)).otherwise(
            build(lo, mid)
        )

    return build(0, len(bounds))


_SKETCH_ACCURACY = 100


def global_row_number(
    df: DataFrame,
    bucket_by: Column,
    order_by: Sequence[Column],
    rn_col: str = "rn",
    total_col: str | None = None,
    num_buckets: int = 64,
    nulls: str = "first",
) -> DataFrame:
    """Exact GLOBAL row_number without funneling the data through one
    partition — the scale-safe substitute for `Window.orderBy(...)` with
    no partition key.

    Bucketed two-phase ranking:

    1. A single tiny aggregation computes `num_buckets` approximate
       quantile bounds of `bucket_by` (percentile_approx — a mergeable
       sketch, fully map-side-combinable). Every row gets a bucket id =
       #bounds below its value: a pure function of the VALUE, so equal
       values always share a bucket and bucket ranges partition the
       total order.
    2. Per-bucket local row_number (window PARTITIONED by bucket — each
       window partition is ~|data|/num_buckets rows), plus per-bucket
       counts whose shuffle carries only (bucket, count) map-side
       partials — bytes, not data. Cumulative counts give each bucket
       its global offset; rn = local rn + offset via a broadcast join.

    The only single-partition stage is the offset window over the counts
    frame — ≤num_buckets metadata rows, invariant to data volume. Sketch
    accuracy only affects load BALANCE, never correctness (100 ≈
    1% relative error — bucket sizes within a few percent of even, at a
    fraction of a high-accuracy sketch's cost); a degenerate
    column (all values equal) degrades to one bucket, i.e. the naive
    plan. The pruned columns are scanned once for the bounds sketch and
    twice for the ranked/counts branches — at 100 TB prefer re-scanning
    two pruned columns over a second full shuffle, or stage the bucketed
    frame if scans dominate.

    `order_by` MUST be a total order consistent with `bucket_by` leading
    (unique tie-breaker appended) or ranking is nondeterministic — same
    contract as any deterministic ranking (see module notes).

    NULL `bucket_by` values get a dedicated sentinel bucket placed per
    `nulls` ("first" = before every value bucket, matching Spark's
    default ASC NULLS FIRST; "last" = after, for `asc_nulls_last`/DESC
    order specs). percentile_approx ignores NULLs, so without explicit
    routing they would silently fall through the when() tree into the
    lowest value bucket — wrong for nulls-last orderings. `nulls` must
    agree with how `order_by` places NULLs.

    `total_col` additionally attaches the global row count to every row
    (free — it rides the same broadcast metadata frame), for rank-derived
    analytics like NTILE that need N.
    """
    qs = [i / num_buckets for i in range(1, num_buckets)]
    # ONE metadata action: the (num_buckets−1)-value quantile sketch is
    # collected and baked into the plan as LITERALS (same pattern as the
    # LSH sign matrix) so the per-row bucket lookup compiles to a
    # codegen'd binary-search CASE tree — depth log2(num_buckets)
    # comparisons — instead of an interpreted array traversal.
    if nulls not in ("first", "last"):
        raise ValueError(f"nulls must be 'first' or 'last', got {nulls!r}")
    row = df.agg(
        F.percentile_approx(bucket_by, qs, F.lit(_SKETCH_ACCURACY)).alias("__bounds")
    ).first()
    bounds = sorted(set(row["__bounds"] or []))
    null_bucket = -1 if nulls == "first" else len(bounds) + 1
    with_bucket = df.withColumn(
        "__bucket",
        F.when(bucket_by.isNull(), F.lit(null_bucket)).otherwise(
            _bucket_search_tree(bucket_by, bounds)
        ),
    )

    local_w = Window.partitionBy("__bucket").orderBy(*order_by)
    local = with_bucket.withColumn("__local_rn", F.row_number().over(local_w))

    counts = with_bucket.groupBy("__bucket").agg(
        F.count(F.lit(1)).alias("__cnt")
    )
    offset_w = Window.orderBy("__bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    total_w = Window.orderBy("__bucket").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    offsets = counts.select(
        "__bucket",
        F.coalesce(F.sum("__cnt").over(offset_w), F.lit(0)).alias("__offset"),
        F.sum("__cnt").over(total_w).alias("__total"),
    )
    out = local.join(F.broadcast(offsets), "__bucket").withColumn(
        rn_col, (F.col("__local_rn") + F.col("__offset")).cast("long")
    )
    if total_col is not None:
        out = out.withColumn(total_col, F.col("__total"))
    return out.drop("__bucket", "__local_rn", "__offset", "__total")


def ntile_from_rank(rn: Column, n_total: Column, k: int) -> Column:
    """NTILE(k) bucket from a 1-based global rank and the total row count:
    floor((rn−1)·k / N) + 1 — the SQL-standard assignment (first N mod k
    buckets get the extra row). Pure arithmetic, so NTILE semantics
    survive the distributed two-phase ranking above."""
    return (F.floor((rn - 1) * k / n_total) + 1).cast("int")
