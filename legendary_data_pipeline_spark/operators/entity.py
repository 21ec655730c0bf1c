"""Entity resolution: blocked fuzzy matching on string keys.

The reference pipeline reconciles records by exact keys after
normalization (03_translate_to_products.js:96-118 joins on
cleaned name/code strings); real catalogs also need the fuzzy step —
"red widgat" and "red widget" are the same product entity. These
operators add that step Spark-first:

- `fuzzy_pairs_blocked`: near-duplicate (id_a, id_b) pairs within one
  relation whose string keys are within an edit-distance threshold,
  restricted to a blocking key so the candidate set is per-block
  quadratic instead of corpus quadratic.
- `fuzzy_best_match`: record linkage — every left row linked to its
  best (minimum-distance) right candidate within the block, with a
  deterministic tie-break so reruns and oracles agree.
- `sorted_neighborhood_pairs`: the sliding-window blocking alternative
  (sort by a domain key, pair within `window` ranks) for duplicates
  whose blocking tokens disagree.

Scale notes (100 TB): the all-pairs comparison is the classic entity-
resolution blowup; blocking is the standard answer (Fellegi-Sunter /
Dedoop-style). Both operators take arbitrary blocking *expressions*
(phonetic code, token, prefix, sorted-neighborhood key), join on them
— a plain shuffled equi-join Catalyst plans like any other — and only
then pay `levenshtein`, which is JVM codegen, not a Python UDF. A hot
block (every product named "widget") degrades to block² pairs; pick
blocking keys with bounded selectivity or pre-cap blocks the same way
dedup.lsh_candidate_pairs caps band buckets. `max_dist` is pushed as a
join-side filter via `levenshtein(l, r) <= d`; Spark's levenshtein
accepts a threshold argument that early-exits the DP loop, which we
use when available.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _lev(a: Column, b: Column, max_dist: int | None) -> Column:
    """Levenshtein with the bounded variant when the runtime has it
    (Spark >= 3.5 signature `levenshtein(l, r, threshold)` returns -1
    past the threshold — an early-exit DP, cheaper on long strings)."""
    if max_dist is not None:
        try:
            return F.levenshtein(a, b, max_dist)
        except TypeError:  # pragma: no cover - older runtime
            pass
    return F.levenshtein(a, b)


def fuzzy_pairs_blocked(
    df: DataFrame,
    name_col: str,
    id_col: str,
    block_exprs: Sequence[Column],
    max_dist: int = 2,
) -> DataFrame:
    """Within-relation fuzzy duplicate pairs.

    Returns (id_a, id_b, name_a, name_b, edit_dist) for every pair of
    rows sharing ALL blocking keys with
    `levenshtein(name_a, name_b) <= max_dist` and id_a < id_b (each
    unordered pair once). Identical names are included (edit_dist 0) —
    exact dedup upstream is cheaper if those dominate.
    """
    blocks = [e.alias(f"__blk{i}") for i, e in enumerate(block_exprs)]
    keys = [f"__blk{i}" for i in range(len(block_exprs))]
    base = df.select(
        F.col(id_col).alias("__id"), F.col(name_col).alias("__name"), *blocks
    ).filter(F.col("__name").isNotNull())
    left = base.select(
        F.col("__id").alias("id_a"), F.col("__name").alias("name_a"), *keys
    )
    right = base.select(
        F.col("__id").alias("id_b"), F.col("__name").alias("name_b"), *keys
    )
    dist = _lev(F.col("name_a"), F.col("name_b"), max_dist)
    return (
        left.join(right, keys)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("edit_dist", dist)
        .filter(
            (F.col("edit_dist") >= 0) & (F.col("edit_dist") <= max_dist)
        )
        .select("id_a", "id_b", "name_a", "name_b", "edit_dist")
    )


def fuzzy_best_match(
    left: DataFrame,
    right: DataFrame,
    left_name: str,
    right_name: str,
    left_id: str,
    right_id: str,
    left_block: Sequence[Column],
    right_block: Sequence[Column],
    max_dist: int = 2,
    exclude_equal: bool = False,
) -> DataFrame:
    """Record linkage: each left row's best right match within its block.

    Returns (left_id, left_name, right_id, right_name, edit_dist) —
    collapsed to one column when left_id == left_name — with
    exactly one row per left row that has >=1 candidate within
    `max_dist`; best = lowest edit_dist, ties broken by lowest right id
    (deterministic, oracle-reproducible). Left rows with no candidate
    are absent — LEFT-join the result back if unmatched rows matter.
    `exclude_equal` drops exact-string candidates — the setting for
    "nearest OTHER entity" canonicalization suggestions when left and
    right are the same name universe.
    """
    lb = [e.alias(f"__blk{i}") for i, e in enumerate(left_block)]
    rb = [e.alias(f"__blk{i}") for i, e in enumerate(right_block)]
    keys = [f"__blk{i}" for i in range(len(left_block))]
    lt = left.select(
        F.col(left_id).alias("__lid"),
        F.col(left_name).alias("__lname"),
        *lb,
    ).filter(F.col("__lname").isNotNull())
    rt = right.select(
        F.col(right_id).alias("__rid"),
        F.col(right_name).alias("__rname"),
        *rb,
    ).filter(F.col("__rname").isNotNull())
    dist = _lev(F.col("__lname"), F.col("__rname"), max_dist)
    joined = lt.join(rt, keys)
    if exclude_equal:
        joined = joined.filter(F.col("__lname") != F.col("__rname"))
    cand = (
        joined
        .withColumn("edit_dist", dist)
        .filter(
            (F.col("edit_dist") >= 0) & (F.col("edit_dist") <= max_dist)
        )
    )
    w = Window.partitionBy("__lid").orderBy(
        F.col("edit_dist").asc(), F.col("__rid").asc()
    )
    out_cols = [F.col("__lid").alias(left_id)]
    if left_name != left_id:
        out_cols.append(F.col("__lname").alias(left_name))
    out_cols += [
        F.col("__rid").alias(right_id),
        F.col("__rname").alias(right_name),
        F.col("edit_dist"),
    ]
    return (
        cand.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(*out_cols)
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    sort_expr: Column,
    id_col: str,
    window: int = 3,
    bucket_expr: Column | None = None,
) -> DataFrame:
    """Sorted-neighborhood candidate pairs — the other classic ER
    blocking method: order records by a domain sort key (normalized
    name, phonetic code, zip+street…) and propose every pair within
    `window` positions. Catches near-duplicates whose blocking tokens
    differ (where `fuzzy_pairs_blocked` is blind) as long as the sort
    key places them nearby.

    Returns (id_a, id_b, gap) with gap = rank distance in [1, window],
    each unordered pair once (id-ordered within the pair's rank order).

    Scale: ranking whole-table on one sort key is the single-partition
    trap, so ranks are computed per `bucket_expr` partition (default:
    first character of the sort key — a sortedness-preserving coarse
    split; pass a wider prefix for hot initials). Pairing is NOT a
    range join: each row is exploded to `window` probe ranks and
    equi-joined on (bucket, rank) — a plain shuffled equi-join, linear
    in window. Neighborhoods do not span bucket boundaries (standard
    SNM trade-off; widen the bucket if that seam matters).
    """
    key = sort_expr.cast("string")
    bucket = (
        bucket_expr if bucket_expr is not None else F.substring(key, 1, 1)
    )
    base = df.select(
        F.col(id_col).alias("__id"),
        key.alias("__key"),
        bucket.alias("__bkt"),
    ).filter(F.col("__key").isNotNull())
    w = Window.partitionBy("__bkt").orderBy(
        F.col("__key").asc(), F.col("__id").asc()
    )
    ranked = base.withColumn("__rn", F.row_number().over(w))
    probes = ranked.select(
        F.col("__id").alias("id_a"),
        "__bkt",
        F.explode(
            F.array(
                *[
                    F.struct(
                        (F.col("__rn") + F.lit(j)).alias("rn"),
                        F.lit(j).alias("gap"),
                    )
                    for j in range(1, window + 1)
                ]
            )
        ).alias("__p"),
    ).select("id_a", "__bkt", F.col("__p.rn").alias("__rn"), "__p.gap")
    targets = ranked.select(
        F.col("__id").alias("id_b"), "__bkt", "__rn"
    )
    return probes.join(targets, ["__bkt", "__rn"]).select(
        "id_a", "id_b", "gap"
    )


def survivorship_fuse(
    df: DataFrame,
    key_cols,
    most_frequent=(),
    latest_by: str | None = None,
    latest_cols=(),
    max_cols=(),
    longest_cols=(),
) -> DataFrame:
    """Golden-record survivorship: fuse duplicate records per key into
    ONE canonical row by per-attribute rules — the step AFTER entity
    resolution (fuzzy_pairs/best_match find the cluster; this decides
    which attribute values survive):

    - ``most_frequent``: modal non-NULL value (tie → lexicographically
      smallest — deterministic, no arbitrary first()).
    - ``latest_cols`` + ``latest_by``: value from the row with the
      greatest ``latest_by`` (tie → greatest value) — last-writer-wins.
    - ``max_cols``: greatest non-NULL value.
    - ``longest_cols``: longest non-NULL string (tie →
      lexicographically smallest).

    Every rule is an order-independent aggregation over exact
    comparisons (struct min/max encodes the tie order), so the golden
    record is bit-deterministic on any engine/partitioning. A key
    whose values are all NULL for a column yields NULL.

    Scale: ONE key-shuffle groupBy covers latest/max/longest; each
    ``most_frequent`` column adds one (key, value) groupBy + one
    key-sized join (value-count tables are the model — what a real MDM
    run persists). Keys are the parallelism unit.

    Output: key_cols..., n_records, then one column per rule target
    (original names).
    """
    keys = list(key_cols)
    aggs = [F.count(F.lit(1)).cast("long").alias("n_records")]
    for c in max_cols:
        aggs.append(F.max(F.col(c)).alias(c))
    for c in longest_cols:
        aggs.append(
            F.min(
                F.when(
                    F.col(c).isNotNull(),
                    F.struct(
                        (-F.length(F.col(c))).alias("l"),
                        F.col(c).alias("v"),
                    ),
                )
            )["v"].alias(c)
        )
    for c in latest_cols:
        if latest_by is None:
            raise ValueError(
                "survivorship_fuse: latest_cols needs latest_by"
            )
        aggs.append(
            F.max(
                F.when(
                    F.col(c).isNotNull() & F.col(latest_by).isNotNull(),
                    F.struct(
                        F.col(latest_by).alias("t"), F.col(c).alias("v")
                    ),
                )
            )["v"].alias(c)
        )
    out = df.groupBy(*keys).agg(*aggs)
    for c in most_frequent:
        vc = (
            df.where(F.col(c).isNotNull())
            .groupBy(*keys, c)
            .agg(F.count(F.lit(1)).cast("long").alias("__cnt"))
        )
        pick = vc.groupBy(*keys).agg(
            F.min(
                F.struct(
                    (-F.col("__cnt")).alias("n"), F.col(c).alias("v")
                )
            )["v"].alias(c)
        )
        # Null-safe key join: a NULL-key cluster is a cluster (groupBy
        # retains it), so its modal value must attach too.
        pick = pick.select(
            *[F.col(k).alias(f"__pk_{k}") for k in keys], c
        )
        cond = [F.col(k).eqNullSafe(F.col(f"__pk_{k}")) for k in keys]
        out = out.join(pick, cond, "left").drop(
            *[f"__pk_{k}" for k in keys]
        )
    return out
