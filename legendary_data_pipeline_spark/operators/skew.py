"""Skew-mitigation operators: salted aggregation and salted joins.

AQE's skew-join splitting (on in `session.py`) handles most skew at
runtime, but two shapes still need explicit salting at 100 TB:

- a groupBy where one key holds a large share of all rows (hot user,
  hot date): `salted_agg` splits each key into `salt_buckets` partial
  groups (map-side-combinable first pass), then merges the partials —
  two small shuffles instead of one giant straggler task.
- a broadcast-infeasible join against a skewed fact side:
  `salted_join` salts the fact rows and explodes the dim side across
  all salt values, so a hot key's rows spread over `salt_buckets`
  tasks.

Salting trades shuffle volume (dim replicated ×salt) for parallelism —
use it for keys AQE can't split (single-key aggregation hotspots).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_SALT = "__ldp_salt"


def salted_agg(
    df: DataFrame,
    keys: Sequence[str],
    partial_aggs: Sequence[Column],
    merge_aggs: Sequence[Column],
    salt_buckets: int = 16,
) -> DataFrame:
    """Two-phase aggregation for skewed keys.

    `partial_aggs` run per (keys, salt); `merge_aggs` combine the
    partials per keys. Each partial alias must match what the merge agg
    consumes, e.g. partial `sum(x) AS s` + merge `sum(s) AS s`.

    The salt is a deterministic hash of a uniformly-distributed column
    set (here: all columns via monotonic id fallback is NOT used —
    callers pass high-cardinality rows; spark_partition_id spreads rows
    already resident in different partitions without any extra scan).
    """
    salted = df.withColumn(_SALT, F.spark_partition_id() % salt_buckets)
    partial = salted.groupBy(*keys, _SALT).agg(*partial_aggs)
    return partial.groupBy(*keys).agg(*merge_aggs)


def salted_count_sum(
    df: DataFrame,
    keys: Sequence[str],
    sum_col: str | None = None,
    salt_buckets: int = 16,
) -> DataFrame:
    """Convenience: skew-safe count(*) (+ optional sum) per key."""
    partials: list[Column] = [F.count(F.lit(1)).alias("__cnt")]
    merges: list[Column] = [F.sum("__cnt").alias("cnt")]
    if sum_col is not None:
        partials.append(F.sum(sum_col).alias("__sum"))
        merges.append(F.sum("__sum").alias(f"sum_{sum_col}"))
    return salted_agg(df, keys, partials, merges, salt_buckets)


_SALT_BUCKETS = 8


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    on: Sequence[str],
    how: str = "inner",
) -> DataFrame:
    """Equi-join where `fact` is skewed on the join keys and `dim` is too
    big to broadcast: salt fact rows, explode dim across all salts, join
    on (keys, salt). Output columns match a plain `fact.join(dim, on, how)`.
    """
    salted_fact = fact.withColumn(
        _SALT, F.spark_partition_id() % _SALT_BUCKETS
    )
    exploded_dim = dim.withColumn(
        _SALT,
        F.explode(F.array(*[F.lit(i) for i in range(_SALT_BUCKETS)])),
    )
    return salted_fact.join(
        exploded_dim, [*on, _SALT], how
    ).drop(_SALT)


def join_skew_forecast(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    top_k: int = 20,
) -> DataFrame:
    """Pre-join skew diagnostics: the keys that will dominate a join's
    output, BEFORE paying for the join.

    An equi-join key appearing n_l times left and n_r times right emits
    n_l·n_r rows — the quantity that decides whether AQE skew-split,
    salting, or a key-exclusion rule is needed. This computes per-key
    counts on each side (partial-aggregable), inner-joins the two count
    tables (key-cardinality-sized, tiny relative to the data), and
    returns the top_k keys by output contribution with both side counts:

        (*on, n_left, n_right, n_out) ordered by n_out desc.

    Scale: the only shuffles are the two count aggregations; the
    count-table join and TakeOrderedAndProject top-k never touch a
    data-sized relation.
    """
    keys = list(on)
    lc = (
        left.select(*keys)
        .na.drop(subset=keys)
        .groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("n_left"))
    )
    rc = (
        right.select(*keys)
        .na.drop(subset=keys)
        .groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("n_right"))
    )
    return (
        lc.join(rc, keys)
        .withColumn("n_out", F.col("n_left") * F.col("n_right"))
        .orderBy(
            F.col("n_out").desc(), *[F.col(k).asc() for k in keys]
        )
        .limit(top_k)
    )
