"""Idempotent keyed sinks on immutable parquet (SURVEY.md §2.1 S5-S8).

The reference's writers are all idempotent-by-key against Postgres:
- S5 `INSERT ... ON CONFLICT ... DO UPDATE` (01:171-186, 03:191-197, 10:85-92)
- S6 UPDATE-then-INSERT-missing via NOT EXISTS (02:159-193)
- S7 DELETE date-partition then INSERT (revalueCollection.mjs:134-165)
- S8 bulk keyed UPDATE FROM VALUES (revalueCollection.mjs:107-129)

Core Spark has no MERGE on plain parquet, so the engine implements upsert
as a *logical* operator (pure DataFrame, oracle-checkable) plus physical
writers:

- `upsert(existing, updates, keys)` — union + window-dedup preferring
  updates. One shuffle on the key columns; at scale the key set should be
  the table's bucket/partition key so the shuffle co-locates with the
  write layout.
- `write_upsert_parquet` — S5's shape for a non-partitioned table: the
  merge is written beside the table and swapped in by renames, so a
  failed write never loses the old rows.
- `write_upsert_partitioned` — S7's shape: dynamic partition overwrite on
  `as_of_date`-style partition columns; only touched partitions rewrite,
  which is the scalable idempotency story for daily snapshot tables.

Null-safe key matching (P8: `IS NOT DISTINCT FROM`, 02:172) is supported
because snapshot conflict keys include a nullable `condition` column.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from legendary_data_pipeline_spark.sources.layout import hadoop_fs, rename

_PRECEDENCE = "__ldp_precedence"
_ROWNUM = "__ldp_rn"


def upsert(
    existing: DataFrame,
    updates: DataFrame,
    keys: Sequence[str],
    order_within_source: Sequence[Column] = (),
) -> DataFrame:
    """S5/S6/S8 semantics: rows from `updates` win on key collision.

    `order_within_source` breaks ties among duplicate keys *within* the
    same source (first row under that ordering wins), keeping the result
    deterministic — stricter than the reference, whose ON CONFLICT takes
    whichever arrives last.
    """
    tagged_new = updates.withColumn(_PRECEDENCE, F.lit(0))
    tagged_old = existing.withColumn(_PRECEDENCE, F.lit(1))
    unioned = tagged_new.unionByName(tagged_old)
    order = [F.col(_PRECEDENCE).asc(), *order_within_source]
    window = Window.partitionBy(*[F.col(k) for k in keys]).orderBy(*order)
    return (
        unioned.withColumn(_ROWNUM, F.row_number().over(window))
        .filter(F.col(_ROWNUM) == 1)
        .drop(_ROWNUM, _PRECEDENCE)
    )


def insert_missing(
    existing: DataFrame, updates: DataFrame, keys: Sequence[str]
) -> DataFrame:
    """S6's INSERT-missing half: rows of `updates` whose key is absent
    from `existing` (null-safe anti join, P8)."""
    cond = None
    for k in keys:
        clause = updates[k].eqNullSafe(existing[k])
        cond = clause if cond is None else cond & clause
    return updates.join(existing, on=cond, how="left_anti")


def write_upsert_parquet(
    existing_path: str,
    updates: DataFrame,
    keys: Sequence[str],
    spark: SparkSession,
    order_within_source: Sequence[Column] = (),
) -> None:
    """S5 physical writer for non-partitioned tables: merge, then swap.

    The merge of the current rows and `updates` is written to the sibling
    `<path>.__new__`, then swapped in by Hadoop `FileSystem` renames:
    `<path>` → `<path>.__old__`, `.__new__` → `<path>`, and the old copy
    is deleted. The merge reads `<path>` while writing elsewhere, so
    nothing has to be materialized first (no checkpoint, one write job),
    and the old files stay whole until the new ones are committed. If the
    second rename raises, the first is undone before the error surfaces.

    Recovery rule, applied on entry: a process that died between the two
    renames leaves `<path>.__old__` and no `<path>`; the old copy is
    renamed back before the merge reads it. A `.__old__` next to a
    present `<path>` is a finished swap whose delete did not run, and is
    removed. `<path>` is read only when it exists; an error reading it
    raises before the swap, so the table keeps its files. For
    partitioned daily-snapshot tables prefer `write_upsert_partitioned`
    (rewrites only touched dates).
    """
    fs, path = hadoop_fs(spark, existing_path)
    new, old = path.suffix(".__new__"), path.suffix(".__old__")
    if fs.exists(old):
        if fs.exists(path):
            fs.delete(old, True)
        else:
            rename(fs, old, path)
    replaced = fs.exists(path)
    if replaced:
        # A present target that fails to read raises here: merging it as
        # a first write would swap in only the updates.
        existing = spark.read.parquet(existing_path)
    else:
        # First write still needs within-source key dedup (duplicate keys
        # inside one batch must collapse exactly as they would on merge);
        # an empty existing side reuses the identical window semantics.
        existing = updates.limit(0)
    merged = upsert(existing, updates, keys, order_within_source)
    merged.write.mode("overwrite").parquet(new.toString())
    if replaced:
        rename(fs, path, old)
    try:
        rename(fs, new, path)
    except BaseException:
        if replaced:
            rename(fs, old, path)
        raise
    fs.delete(old, True)


def write_upsert_partitioned(
    existing_path: str,
    updates: DataFrame,
    partition_cols: Sequence[str],
    spark: SparkSession,
) -> None:
    """S7 physical writer: replace exactly the partitions present in
    `updates` (dynamic partition overwrite) — the delete-then-insert-date
    pattern, minus the full-table rewrite. The mode is a per-write option,
    so the session's `partitionOverwriteMode` is left as it was."""
    (
        updates.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_cols)
        .parquet(existing_path)
    )


def scd2_apply(
    dim: DataFrame,
    updates: DataFrame,
    key_cols: Sequence[str],
    attr_cols: Sequence[str],
) -> DataFrame:
    """Slowly-changing-dimension type 2 MERGE: apply an update batch to a
    versioned dimension, closing changed rows and opening new versions.

    The reference's upsert family (S5–S8, `01_import_pricecharting_csv
    .js:171-186`) OVERWRITES attributes in place; SCD2 is the
    historized variant a warehouse needs when "what was the price in
    March" must stay answerable. Semantics per update key:
    - attrs differ from the CURRENT row (null-safe) → the current row
      closes (`valid_to` = `effective_date`, `is_current` = false) and
      a new current version opens (`valid_from` = `effective_date`);
    - attrs identical → no-op (no empty versions);
    - key absent from the dimension → inserted as a new current row.
    Historic (non-current) rows pass through untouched; current rows
    not referenced by the batch stay current. `updates` must be
    key-unique (one row per key per batch — pre-aggregate a multi-event
    batch to its latest state first).

    Spark-first shape: one full-outer join on the key + one union of
    four disjoint classes — never an iterative MERGE loop. At 100 TB
    both sides shuffle once on the dimension key (or zero times with
    the dimension bucketed on it); history passthrough is a pure scan.
    The join and the dimension are PINNED with lazy localCheckpoints:
    the four class branches would otherwise each replay the join
    (exchange reuse does not hold across the filter branches under
    AQE — the r11 scan audit measured 7 source scans unpinned, 1
    pinned).
    """
    keys = list(key_cols)
    attrs = list(attr_cols)
    # pinned: cur + hist both read the dimension, and the four row
    # classes below each replay the full-outer join — the r11 scan
    # audit measured 7 source scans in the unpinned final plan (the
    # "Catalyst reuses the exchange" assumption does not hold across
    # the four filter branches under AQE)
    dim = dim.localCheckpoint(eager=False)
    cur = dim.filter(F.col("is_current"))
    hist = dim.filter(~F.col("is_current"))

    upd = updates.select(
        *[F.col(k).alias(f"__u_{k}") for k in keys],
        *[F.col(a).alias(f"__u_{a}") for a in attrs],
        F.col("effective_date").alias("__u_eff"),
    )
    cond = None
    for k in keys:
        c = F.col(k) == F.col(f"__u_{k}")
        cond = c if cond is None else cond & c
    joined = cur.join(upd, cond, "full_outer").localCheckpoint(
        eager=False
    )

    has_cur = F.col(keys[0]).isNotNull()
    has_upd = F.col(f"__u_{keys[0]}").isNotNull()
    differs = None
    for a in attrs:
        d = ~F.col(a).eqNullSafe(F.col(f"__u_{a}"))
        differs = d if differs is None else differs | d

    out_cols = [*keys, *attrs, "valid_from", "valid_to", "is_current"]

    # 1. current rows without an update, or with a no-op update: as-is.
    kept = joined.filter(
        has_cur & (~has_upd | ~differs)
    ).select(*[F.col(c) for c in out_cols])
    # 2. current rows with a real change: closed at the effective date.
    closed = joined.filter(has_cur & has_upd & differs).select(
        *keys,
        *attrs,
        F.col("valid_from"),
        F.col("__u_eff").alias("valid_to"),
        F.lit(False).alias("is_current"),
    )
    # 3. new versions: changed keys + brand-new keys.
    opened = joined.filter(
        has_upd & (~has_cur | differs)
    ).select(
        *[F.col(f"__u_{k}").alias(k) for k in keys],
        *[F.col(f"__u_{a}").alias(a) for a in attrs],
        F.col("__u_eff").alias("valid_from"),
        F.lit(None).cast(dim.schema["valid_to"].dataType).alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    # 4. history passthrough.
    return (
        hist.select(*out_cols)
        .unionByName(kept)
        .unionByName(closed)
        .unionByName(opened)
    )
