"""Continuous materialized-view maintenance: streaming incremental
rollups over the engine's versioned tables.

The batch form (operators/rollup.merge_rollup) proves the algebra; this
sink runs it per micro-batch: aggregate the arriving batch, merge into
the rollup's latest snapshot, commit as the NEXT version via the
versioned table's stage-then-publish protocol (sources/versioned.py) —
readers never observe a partial merge, and every batch leaves an
auditable snapshot (time travel to "the rollup as of batch N").

Idempotency: each commit's manifest op records its batch_id
(`merge_batch_<id>`); a replayed batch_id (foreachBatch at-least-once
retry) is detected by scanning the manifests — metadata-scale — and
skipped, so a crash between publish and checkpoint cannot double-count.
The guard is scoped to ONE stream lineage: batch ids restart with a
fresh checkpoint, so point a fresh checkpoint at a fresh table.

Cost per batch: O(batch) aggregation + a join against the rollup
(small by construction) + one rollup-sized write. At 100 TB of raw
history that is the difference between maintenance and a rescan; if
the ROLLUP itself grows huge, partition the table by a rollup key
prefix and merge only affected partitions (documented trade — this
implementation rewrites the whole rollup snapshot per batch).
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import DataFrame, SparkSession

from legendary_data_pipeline_spark.operators.rollup import (
    aggregate_batch,
    merge_rollup,
)
from legendary_data_pipeline_spark.sources.versioned import (
    read_version,
    versions,
    write_version,
)
from legendary_data_pipeline_spark.streaming.snapshots import _drain, _read_stream


def rollup_maintenance_sink(
    table: str,
    keys: Sequence[str],
    specs: Sequence[tuple],
    kinds: Mapping[str, str],
):
    """`foreachBatch` writer maintaining a versioned rollup table."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.limit(1).count() == 0:
            return
        op_tag = f"merge_batch_{int(batch_id)}"
        committed = versions(table)  # [] for a not-yet-created table
        if any(m.get("op") == op_tag for m in committed):
            return  # replayed batch — already merged and published
        spark = batch_df.sparkSession
        batch_agg = aggregate_batch(batch_df, list(keys), list(specs))
        if committed:
            existing = read_version(spark, table)
            merged = merge_rollup(
                existing, batch_agg, list(keys), dict(kinds)
            )
        else:
            merged = batch_agg
        write_version(merged, table, op=op_tag)

    return write_batch


def run_rollup_maintenance_once(
    spark: SparkSession,
    input_path: str,
    input_schema: str,
    table: str,
    keys: Sequence[str],
    specs: Sequence[tuple],
    kinds: Mapping[str, str],
    checkpoint_path: str,
    max_files_per_trigger: int | None = None,
) -> None:
    """Drain all available input files once through the maintenance
    sink (Trigger.AvailableNow)."""
    stream = _read_stream(spark, input_path, input_schema, max_files_per_trigger)
    _drain(
        stream.writeStream.outputMode("append").foreachBatch(
            rollup_maintenance_sink(table, keys, specs, kinds)
        ),
        checkpoint_path,
    )


def cms_maintenance_sink(
    table: str, key_col: str, depth: int = 4, width: int = 1024
):
    """`foreachBatch` writer maintaining a versioned Count-Min sketch.

    The CMS cell frame (operators/cms.py) is a pure sum-rollup over
    (row_idx, col_idx), so maintenance is the same stage-then-publish
    merge the rollup sink uses — sketch the arriving batch, add cells
    into the latest snapshot, commit as the next version with the same
    batch-id replay guard. State stays ≤ depth × width rows forever
    while absorbing unbounded stream history: point-frequency queries
    (cms_query) over "everything seen so far" never rescan the stream.
    """
    from legendary_data_pipeline_spark.operators.cms import (
        cms_build,
        cms_merge,
    )

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.limit(1).count() == 0:
            return
        op_tag = f"cms_batch_{int(batch_id)}"
        committed = versions(table)
        if any(m.get("op") == op_tag for m in committed):
            return
        spark = batch_df.sparkSession
        batch_cells = cms_build(batch_df, key_col, depth, width)
        if committed:
            merged = cms_merge(read_version(spark, table), batch_cells)
        else:
            merged = batch_cells
        write_version(merged, table, op=op_tag)

    return write_batch


def run_cms_maintenance_once(
    spark: SparkSession,
    input_path: str,
    input_schema: str,
    table: str,
    key_col: str,
    checkpoint_path: str,
    depth: int = 4,
    width: int = 1024,
    max_files_per_trigger: int | None = None,
) -> None:
    """Drain all available input files once through the CMS sink."""
    stream = _read_stream(spark, input_path, input_schema, max_files_per_trigger)
    _drain(
        stream.writeStream.outputMode("append").foreachBatch(
            cms_maintenance_sink(table, key_col, depth, width)
        ),
        checkpoint_path,
    )
