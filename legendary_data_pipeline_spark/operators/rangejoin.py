"""Range (point-in-interval) join with bucketized candidate generation.

Spark turns `p.ts BETWEEN i.start AND i.end` into a broadcast
nested-loop or a cartesian-per-key join — O(P×I) per key. The scalable
pattern: quantize time into buckets, explode each interval over the
buckets it covers, equi-join points on (key, bucket), then apply the
exact range predicate. Candidate count per point = intervals overlapping
its bucket, so the quadratic blowup is bounded by interval_span/bucket.

Pick `bucket` ≈ the typical interval length: shorter → more explode
rows per interval; longer → more false candidates per point.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def range_join(
    points: DataFrame,
    intervals: DataFrame,
    on: Sequence[str],
    point_ts: str,
    interval_start: str,
    interval_end: str,
    bucket: int,
) -> DataFrame:
    """Join each point to the interval(s) containing it (inclusive ends).

    Output: all point columns + all interval columns (minus duplicate
    keys); an inner join, so points no interval covers are dropped.
    """
    keys = list(on)
    exploded = intervals.withColumn(
        "__bkt",
        F.explode(
            F.sequence(
                F.floor(F.col(interval_start) / bucket).cast("long"),
                F.floor(F.col(interval_end) / bucket).cast("long"),
            )
        ),
    )
    pts = points.withColumn(
        "__bkt", F.floor(F.col(point_ts) / bucket).cast("long")
    )
    cond = " AND ".join(
        [f"p.{k} = i.{k}" for k in keys]
        + [
            "p.__bkt = i.__bkt",
            f"p.{point_ts} >= i.{interval_start}",
            f"p.{point_ts} <= i.{interval_end}",
        ]
    )
    joined = pts.alias("p").join(exploded.alias("i"), F.expr(cond))
    interval_cols = [c for c in intervals.columns if c not in keys]
    return joined.select(
        *[F.col(f"p.{c}") for c in points.columns],
        *[F.col(f"i.{c}") for c in interval_cols],
    )
