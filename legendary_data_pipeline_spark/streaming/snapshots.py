"""Streaming daily snapshots over the `events` stream.

The reference is batch-only: cron re-runs rebuild daily snapshot tables
idempotently (SURVEY.md §2.9). The streaming equivalents keep the same
table contracts but maintain them continuously:

- tumbling 1-day windows + watermark  ≈ the daily re-run of 02/03
- `foreachBatch` keyed upsert         ≈ `INSERT ... ON CONFLICT` (S5)
- watermark-late rows                  ≈ the reference's idempotent rerun

Event time: `events.ts` is integer nanoseconds; it converts to a
timestamp column at the stream edge (`timestamp_micros(ts DIV 1000)`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

EVENTS_SCHEMA = (
    "event_id long, ts timestamp_ntz, user_id long, event_type string, "
    "value double, props string"
)


def _read_stream(
    spark: SparkSession, path: str, schema: str, max_files_per_trigger: int | None
) -> DataFrame:
    """Parquet files appearing under `path`, read with a declared
    schema. `max_files_per_trigger` (None: no cap) splits a backlog into
    several micro-batches."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def _drain(writer: DataStreamWriter, checkpoint_path: str) -> None:
    """Run a configured stream writer once under Trigger.AvailableNow:
    process every file available now, in one or more micro-batches,
    and return when done."""
    writer.option("checkpointLocation", checkpoint_path).trigger(
        availableNow=True
    ).start().awaitTermination()


def read_events_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-based event stream (parquet files appearing under `path`).

    `ts` arrives as parquet TIMESTAMP(MICROS) NTZ and is normalized to
    the engine's integer-epoch-nanos contract (`catalog.
    normalize_event_ts`) so every downstream operator sees the same
    event-time type as the batch loaders.
    """
    from legendary_data_pipeline_spark.catalog import normalize_event_ts

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return normalize_event_ts(
        _read_stream(spark, path, EVENTS_SCHEMA, max_files_per_trigger)
    )


def with_event_time(events: DataFrame) -> DataFrame:
    return events.withColumn(
        "event_time", F.timestamp_micros(F.expr("ts DIV 1000"))
    )


def daily_event_rollup_stream(
    events: DataFrame,
    watermark: str = "2 days",
    include_approx_users: bool = True,
) -> DataFrame:
    """Tumbling-day rollup with late-data tolerance.

    Batch equivalent: the `e_daily_event_rollup` query. The watermark
    bounds state: windows older than it finalize and evict — the
    streaming answer to the reference's "re-run the day" idempotency.
    (approx_count_distinct replaces exact distinct — exact per-key
    distinct in streaming state is unbounded.) The oracle-paired parity
    query (`stream_rollup_parity`) sets
    `include_approx_users=False`: count/sum are exactly replayable in
    SQL, the HLL sketch column is not.
    """
    timed = with_event_time(events).withWatermark("event_time", watermark)
    cents = F.round(F.col("value").cast("decimal(18,2)") * 100, 0).cast("long")
    aggs = [
        F.count(F.lit(1)).alias("events"),
        F.sum(cents).alias("total_value_cents"),
    ]
    cols = ["events", "total_value_cents"]
    if include_approx_users:
        aggs.append(F.approx_count_distinct("user_id").alias("approx_unique_users"))
        cols.append("approx_unique_users")
    return timed.groupBy(
        F.window("event_time", "1 day").alias("win"), F.col("event_type")
    ).agg(*aggs).select(
        F.date_format(F.col("win.start"), "yyyy-MM-dd").alias("day"),
        "event_type",
        *cols,
    )


def dedup_events_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming exact dedup of re-delivered events.

    `dropDuplicatesWithinWatermark` keeps state only for the watermark
    horizon — the streaming form of the exact-dedup operator: an event
    re-delivered within the window is dropped, state is bounded, and
    at-least-once upstream delivery collapses to exactly-once downstream.
    """
    timed = with_event_time(events).withWatermark("event_time", watermark)
    return timed.dropDuplicatesWithinWatermark(["event_id"])


def sliding_stats_stream(
    events: DataFrame,
    window_days: int = 7,
    slide_days: int = 1,
) -> DataFrame:
    """Sliding-window value stats per event_type — the streaming analogue
    of the 180-day rollup (10_rollup_market_values_daily.mjs:33-48).

    Exact percentiles are unbounded-state in streaming, so this uses
    `percentile_approx` (bounded sketch state, mergeable across window
    panes) — the same substitution the batch rollup documents for
    100 TB. Window panes: `window_days` wide, sliding every
    `slide_days`.
    """
    timed = with_event_time(events).withWatermark("event_time", "2 days")
    return timed.groupBy(
        F.window(
            "event_time", f"{window_days} days", f"{slide_days} days"
        ).alias("win"),
        F.col("event_type"),
    ).agg(
        F.count(F.lit(1)).alias("events"),
        F.expr("percentile_approx(value, array(0.25, 0.5, 0.75), 10000)").alias(
            "value_quartiles"
        ),
        F.max("value").alias("max_value"),
    ).select(
        F.date_format(F.col("win.start"), "yyyy-MM-dd").alias("window_start"),
        F.date_format(F.col("win.end"), "yyyy-MM-dd").alias("window_end"),
        "event_type",
        "events",
        F.col("value_quartiles")[0].alias("p25"),
        F.col("value_quartiles")[1].alias("p50"),
        F.col("value_quartiles")[2].alias("p75"),
        "max_value",
    )


def upsert_sink(target_path: str, keys: list[str], order_within_source=()):
    """`foreachBatch` writer applying S5 upsert semantics per micro-batch.

    Each micro-batch MERGEs into the parquet target by key — re-delivered
    windows (late data re-finalization, restarts) overwrite their prior
    rows instead of duplicating: exactly the reference's ON CONFLICT
    rerun story, continuously.

    `order_within_source` (passed through to `upsert`) picks the
    surviving row when ONE micro-batch carries several rows with the
    same key — leave it empty only when every non-key column is a pure
    function of the key, otherwise the kept row is nondeterministic
    across reruns.
    """
    from legendary_data_pipeline_spark.operators.upsert import (
        write_upsert_parquet,
    )

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        write_upsert_parquet(
            target_path,
            batch_df,
            keys,
            batch_df.sparkSession,
            order_within_source,
        )

    return write_batch


def run_daily_rollup_once(
    spark: SparkSession,
    events_path: str,
    target_path: str,
    checkpoint_path: str,
) -> None:
    """Process all available events once (Trigger.AvailableNow) and stop.

    This is the cron-replacement entry point: each invocation drains new
    files, updates the snapshot table idempotently, and exits.
    """
    stream = read_events_stream(spark, events_path)
    rolled = daily_event_rollup_stream(stream)
    _drain(
        rolled.writeStream.outputMode("update").foreachBatch(
            upsert_sink(target_path, ["day", "event_type"])
        ),
        checkpoint_path,
    )

