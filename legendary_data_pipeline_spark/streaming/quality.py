"""Continuous data quality: per-micro-batch constraint monitoring.

The batch `dq` surface (operators/profiling.py, cli.py `dq`) audits a
table once; a landing zone needs the audit CONTINUOUSLY — every
arriving file batch checked against the same named constraints, with
the verdict history appended to a report table an alerting job tails.
This module runs `check_constraints` inside `foreachBatch`: the checks
are one conditional-sum Aggregate per micro-batch (bounded state — no
streaming aggregation state at all, since each batch is audited
independently), and the report table grows by n_checks rows per batch.

Quarantine semantics: with `fail_path` set, batches that violate any
check are ALSO written verbatim to a quarantine directory — the stream
keeps flowing (the report records the failure) but bad batches are
preserved for triage, the streaming form of the CLI's nonzero exit.

Batch/stream parity: the same checks dict over the same rows produces
the same (n_rows, n_violations, passed) whether run here or through
`check_constraints` directly — pinned in tests/test_streaming_quality.py.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from legendary_data_pipeline_spark.operators.profiling import (
    check_constraints,
)
from legendary_data_pipeline_spark.streaming.snapshots import _drain, _read_stream


def quality_report_sink(
    report_path: str,
    checks: Mapping[str, Column],
    fail_path: str | None = None,
):
    """`foreachBatch` writer: audit each micro-batch, append the report.

    Report rows: (batch_id, check_name, n_rows, n_violations, passed) —
    `batch_id` materializes as a partition column (each batch writes
    `<path>/batch_id=N/` with overwrite), which is what makes the sink
    IDEMPOTENT under foreachBatch's at-least-once retries: a replayed
    batch_id overwrites its own partition instead of appending a
    duplicate set of report/quarantine rows. Empty batches are skipped
    (no report rows — nothing was audited).

    Layout contract: `report_path`/`fail_path` must be fresh dirs owned
    by this sink — pointing it at a dir of flat (non-partitioned)
    parquet breaks partition discovery on read. `batch_id` reads back
    with the partition-inferred integer type; declare a schema on read
    if a wider type matters downstream.
    """

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        report = check_constraints(batch_df, checks)
        rows = report.collect()  # n_checks rows — metadata-scale
        if not rows or rows[0]["n_rows"] == 0:
            return
        spark = batch_df.sparkSession
        spark.createDataFrame(rows, report.schema).write.mode(
            "overwrite"
        ).parquet(f"{report_path}/batch_id={int(batch_id)}")
        if fail_path is not None and any(not r["passed"] for r in rows):
            batch_df.write.mode("overwrite").parquet(
                f"{fail_path}/batch_id={int(batch_id)}"
            )

    return write_batch


def run_quality_monitor_once(
    spark: SparkSession,
    input_path: str,
    input_schema: str,
    report_path: str,
    checkpoint_path: str,
    checks: Mapping[str, Column],
    fail_path: str | None = None,
    max_files_per_trigger: int | None = None,
) -> None:
    """Drain all available input files once (Trigger.AvailableNow)
    through the constraint monitor. `max_files_per_trigger` splits the
    backlog into multiple audited micro-batches (useful in tests and
    for bounding per-batch work on large backfills)."""
    stream = _read_stream(spark, input_path, input_schema, max_files_per_trigger)
    _drain(
        stream.writeStream.outputMode("append").foreachBatch(
            quality_report_sink(report_path, checks, fail_path)
        ),
        checkpoint_path,
    )


_CHISQ_ALERT = 20.1  # χ²(8) p≈0.99; tune per column dof


def drift_monitor_sink(
    baseline: DataFrame,
    col: str,
    report_path: str,
):
    """`foreachBatch` writer: chi-square drift of each micro-batch's
    `col` distribution against a STATIC baseline snapshot.

    Per batch the per-category drift decomposition is written to
    `<report_path>/batch_id=N/` (overwrite — idempotent under retries,
    same contract as `quality_report_sink`) with an `alert` flag set
    when the summed statistic crosses `_CHISQ_ALERT`. The baseline side
    aggregates to a value-cardinality count table once per batch —
    metadata-scale; cache the baseline DataFrame if batches are small
    and frequent.
    """
    from legendary_data_pipeline_spark.operators.profiling import (
        categorical_drift,
    )

    # validate the static baseline ONCE at sink construction — not one
    # Spark job per micro-batch forever
    if baseline.limit(1).count() == 0:
        raise ValueError(
            "drift_monitor_sink: baseline snapshot is empty — every "
            "batch would compare against zero totals."
        )

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.limit(1).count() == 0:
            return
        drift = categorical_drift(
            baseline, batch_df, col, require_nonempty=False
        )
        rows = drift.collect()  # value-cardinality — metadata-scale
        if not rows:
            return
        total = sum(r["chisq_contrib"] or 0.0 for r in rows)
        spark = batch_df.sparkSession
        out = spark.createDataFrame(rows, drift.schema).select(
            "*",
            F.lit(total).alias("chisq_total"),
            F.lit(total > _CHISQ_ALERT).alias("alert"),
        )
        out.write.mode("overwrite").parquet(
            f"{report_path}/batch_id={int(batch_id)}"
        )

    return write_batch


def run_drift_monitor_once(
    spark: SparkSession,
    input_path: str,
    input_schema: str,
    baseline: DataFrame,
    col: str,
    report_path: str,
    checkpoint_path: str,
    max_files_per_trigger: int | None = None,
) -> None:
    """Drain all available input files once through the drift monitor."""
    stream = _read_stream(spark, input_path, input_schema, max_files_per_trigger)
    _drain(
        stream.writeStream.outputMode("append").foreachBatch(
            drift_monitor_sink(baseline, col, report_path)
        ),
        checkpoint_path,
    )


_PSI_ALERT = 0.25  # the standard "population shifted" bar


def psi_monitor_sink(
    baseline: DataFrame,
    col: str,
    report_path: str,
):
    """`foreachBatch` writer: Population Stability Index of each
    micro-batch's `col` distribution against a STATIC baseline — the
    threshold-able companion to `drift_monitor_sink`'s chi-square
    decomposition (chi-square scales with batch size; PSI measures the
    SHIFT itself, so one alert bar works across batch sizes).

    Per batch the per-category PSI decomposition is written to
    `<report_path>/batch_id=N/` (overwrite — idempotent under retries,
    the module's sink contract) with `alert` set when the feature-level
    PSI crosses `_PSI_ALERT`. Both sides reduce to value-cardinality
    count tables per batch — metadata-scale.

    The report is `psi_drift`'s `scaled_e6` form (exact BIGINT
    micro-units, `functions.e6`): the alert compares
    `psi_e6 > round(_PSI_ALERT * 1e6)`, bit-equivalent across engine
    versions.
    """
    from legendary_data_pipeline_spark.operators.profiling import psi_drift

    if baseline.limit(1).count() == 0:
        raise ValueError(
            "psi_monitor_sink: baseline snapshot is empty — every "
            "batch would compare against zero totals."
        )

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.limit(1).count() == 0:
            return
        rep = psi_drift(
            baseline, batch_df, col, require_nonempty=False, scaled_e6=True
        )
        rows = rep.collect()  # value-cardinality — metadata-scale
        if not rows:
            return
        psi_total = rows[0]["psi_e6"]
        alert = psi_total is not None and psi_total > round(_PSI_ALERT * 1e6)
        spark = batch_df.sparkSession
        out = spark.createDataFrame(rows, rep.schema).select(
            "*", F.lit(alert).alias("alert")
        )
        out.write.mode("overwrite").parquet(
            f"{report_path}/batch_id={int(batch_id)}"
        )

    return write_batch


def run_psi_monitor_once(
    spark: SparkSession,
    input_path: str,
    input_schema: str,
    baseline: DataFrame,
    col: str,
    report_path: str,
    checkpoint_path: str,
    max_files_per_trigger: int | None = None,
) -> None:
    """Drain all available input files once through the PSI monitor."""
    stream = _read_stream(spark, input_path, input_schema, max_files_per_trigger)
    _drain(
        stream.writeStream.outputMode("append").foreachBatch(
            psi_monitor_sink(baseline, col, report_path)
        ),
        checkpoint_path,
    )
