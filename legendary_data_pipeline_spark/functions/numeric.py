"""Representation of fractional statistics at the engine boundary."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def e6(col: Column) -> Column:
    """Canonical micro-scaled integer for a double statistic.

    Fractional statistics leave the engine as `round(x * 1e6)` BIGINT,
    not as a fractional `round(x, 6)` DOUBLE. Fractional double rounding
    is not engine-version-canonical: DuckDB changed its double-round
    algorithm across releases, which is what turned the r8
    `st_kendall_tau_qty_discount` driver cell red while every local run
    was bit-identical (NOTES.md §Round-9). Scale-0 rounding of a double
    is nearest-integer in every engine, a 1-ulp upstream difference
    (libm ln/exp, round path) cannot move the integer except on exact
    .5 ties, and integers hash identically under any harness
    canonicalization.

    The oracle twin is `CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT)`.
    NaN and ±Inf raise under ANSI mode (the cast to BIGINT overflows),
    as DuckDB's cast does.
    """
    return F.round(col.cast("double") * F.lit(1e6)).cast("long")
