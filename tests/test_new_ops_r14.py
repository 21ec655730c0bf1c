"""Hand-computed contracts for the round-14 streaming-parity readouts
(X234–X236): the availableNow daily-rollup upsert run, cross-batch
exact dedup of redelivered events, and versioned rollup maintenance.

The value-level correctness of all three lives in the DuckDB oracle
suite (tests/test_queries_oracle.py at sf0.001, the driver gate at
sf0.01). These tests pin the STREAMING mechanics the oracles cannot
see: that the runs genuinely cross micro-batch boundaries (state
carried across batches, one versioned commit per batch), that the
fixture property the dedup oracle depends on (unique event_id) holds,
and that the production rollup keeps its HLL column while the parity
variant drops it."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

# the registry package must initialize before any queries_* submodule
# is imported directly (rotation-time import-order contract)
import legendary_data_pipeline_spark.queries  # noqa: F401

from tests.conftest import SF_DIR


def test_event_id_unique_in_fixture(spark):
    """stream_dedup_parity's oracle (plain GROUP BY over events) is only
    valid because redelivered copies are value-identical per event_id —
    which needs event_id unique in the single-delivery table."""
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    n = ev.count()
    assert ev.select("event_id").distinct().count() == n


def test_parity_variant_drops_hll_column(spark):
    from legendary_data_pipeline_spark.streaming.snapshots import (
        daily_event_rollup_stream,
    )

    stream = (
        spark.readStream.schema("event_id long, ts long, user_id long, "
                                "event_type string, value double, props string")
        .parquet(SF_DIR)  # never started — schema-only check
    )
    exact = daily_event_rollup_stream(stream, include_approx_users=False)
    assert exact.columns == ["day", "event_type", "events", "total_value_cents"]
    prod = daily_event_rollup_stream(stream)
    assert prod.columns[-1] == "approx_unique_users"


def test_stream_dedup_collapses_cross_batch_redelivery(spark, tmp_path):
    """Exact redelivery split across micro-batches must collapse to
    exactly-once: the dedup state store spans batches. 3 distinct
    events delivered twice in two separate files, maxFilesPerTrigger=1
    → the duplicate arrivals are in a LATER batch than the originals."""
    from legendary_data_pipeline_spark.streaming.snapshots import (
        dedup_events_stream,
    )

    schema = ("event_id long, ts long, user_id long, event_type string, "
              "value double, props string")
    rows = [
        (1, 1_000_000_000_000, 10, "click", 1.0, None),
        (2, 2_000_000_000_000, 11, "view", 2.0, None),
        (3, 3_000_000_000_000, 10, "click", 3.0, None),
    ]
    inp = str(tmp_path / "in")
    for _ in range(2):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(inp)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(inp)
    )
    out = str(tmp_path / "out")
    q = (
        dedup_events_stream(stream, watermark="3650 days")
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(
        (r.event_id, r.user_id, r.value)
        for r in spark.read.parquet(out).collect()
    )
    assert got == [(1, 10, 1.0), (2, 11, 2.0), (3, 10, 3.0)]


def test_maintenance_commits_one_version_per_batch(spark, tmp_path):
    """The parity query's maintained table is built by per-batch
    versioned merges — 4 staged files at maxFilesPerTrigger=1 must
    leave 4 auditable merge_batch_* snapshots, and the latest must
    equal the full recompute (the algebra the oracle re-proves at
    corpus scale)."""
    from legendary_data_pipeline_spark.sources.versioned import (
        read_version,
        versions,
    )
    from legendary_data_pipeline_spark.streaming.rollup import (
        run_rollup_maintenance_once,
    )

    schema = "day string, event_type string, v_cents long"
    rows = [
        ("2024-01-01", "click", 100),
        ("2024-01-01", "view", 50),
        ("2024-01-02", "click", 25),
        ("2024-01-01", "click", 7),
    ]
    inp = str(tmp_path / "in")
    for r in rows:  # one file per row → one micro-batch per row
        spark.createDataFrame([r], schema).coalesce(1).write.mode(
            "append"
        ).parquet(inp)

    table = str(tmp_path / "rollup")
    run_rollup_maintenance_once(
        spark, inp, schema, table,
        keys=["day", "event_type"],
        specs=[("events", "count", None),
               ("total_value_cents", "sum", F.col("v_cents")),
               ("max_value_cents", "max", F.col("v_cents"))],
        kinds={"events": "count", "total_value_cents": "sum",
               "max_value_cents": "max"},
        checkpoint_path=str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
    )
    vs = versions(table)
    assert len(vs) == 4
    assert all(m["op"].startswith("merge_batch_") for m in vs)
    got = {
        (r.day, r.event_type): (r.events, r.total_value_cents, r.max_value_cents)
        for r in read_version(spark, table).collect()
    }
    assert got == {
        ("2024-01-01", "click"): (2, 107, 100),
        ("2024-01-01", "view"): (1, 50, 50),
        ("2024-01-02", "click"): (1, 25, 25),
    }


def test_gate_funnel_empty_input_reports_zero_rows(spark):
    """An empty corpus must produce all-ZERO funnel rows, not NULL
    docs_dropped/docs_out (F.sum over an empty frame is NULL; r13
    advice fix wraps every indicator sum in coalesce)."""
    from legendary_data_pipeline_spark.operators.curation import (
        gate_funnel_report,
    )

    empty = spark.createDataFrame([], "w long, flag boolean")
    rows = gate_funnel_report(
        empty,
        [("min_w", F.col("w") >= 10), ("flagged", F.col("flag"))],
        weight_col="w",
    ).collect()
    assert len(rows) == 2
    for r in rows:
        assert (r.docs_in, r.docs_dropped, r.docs_out) == (0, 0, 0)
        assert (r.tokens_in, r.tokens_dropped, r.tokens_out) == (0, 0, 0)
        assert r.doc_survival_frac is None  # 0/0 stays NULL by contract


def test_parity_queries_keep_full_oracles():
    """The r14 addition-coverage bands promised the streaming family its
    first driver-oracle exposure; all five earned full hash-green rows
    in CORRECTNESS_r14, so the r15 rotation legitimately demoted them
    (seat passed to the X239–X243 parities). The standing contract is
    that they keep their full DuckDB oracles wherever they live, so
    shadow pytest coverage never weakens to rows-only."""
    from legendary_data_pipeline_spark.queries import ALL_QUERIES

    for name in ("stream_rollup_parity", "stream_dedup_parity",
                 "stream_maint_parity", "stream_cms_parity",
                 "curation_gate_disagreement"):
        assert name in ALL_QUERIES
        assert ALL_QUERIES[name].oracle is not None


def test_cms_maintenance_equals_one_shot_sketch(spark, tmp_path):
    """X237's core claim at operator level: per-batch cms_build +
    versioned cell-merge across micro-batches telescopes to the
    one-shot sketch over the concatenated input — bit-identical cells,
    not just close estimates."""
    from legendary_data_pipeline_spark.operators.cms import cms_build
    from legendary_data_pipeline_spark.sources.versioned import (
        read_version,
        versions,
    )
    from legendary_data_pipeline_spark.streaming.rollup import (
        run_cms_maintenance_once,
    )

    schema = "k long"
    b1, b2 = [(1,), (2,), (2,)], [(2,), (3,)]
    inp = str(tmp_path / "in")
    for rows in (b1, b2):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(inp)
    table = str(tmp_path / "cms")
    run_cms_maintenance_once(
        spark, inp, schema, table, key_col="k",
        checkpoint_path=str(tmp_path / "ckpt"),
        depth=4, width=64, max_files_per_trigger=1,
    )
    assert len(versions(table)) == 2  # one sketch commit per batch
    maintained = {
        (r.row_idx, r.col_idx): r.cnt
        for r in read_version(spark, table).collect()
    }
    one_shot = {
        (r.row_idx, r.col_idx): r.cnt
        for r in cms_build(
            spark.createDataFrame(b1 + b2, schema), "k", 4, 64
        ).collect()
    }
    assert maintained == one_shot


def test_gate_disagreement_cells_sum_to_funnel_head(spark):
    """The disagreement matrix and the funnel consume the SAME gate
    signals: total docs/tokens across the 2x2x2 cells must equal the
    funnel's stage-1 docs_in/tokens_in, and the cumulative funnel
    survivors (g AND c AND p) must equal the all-true cell."""
    from legendary_data_pipeline_spark.queries_curation import (
        curation_gate_disagreement,
        curation_gate_funnel,
    )

    cells = curation_gate_disagreement(spark, SF_DIR).collect()
    funnel = {r.stage: r for r in curation_gate_funnel(spark, SF_DIR).collect()}
    assert sum(r.docs for r in cells) == funnel["gopher_quality"].docs_in
    assert sum(r.tokens for r in cells) == funnel["gopher_quality"].tokens_in
    all_true = [
        r for r in cells if r.gopher_keep and r.c4_keep and r.pii_keep
    ]
    survivors = funnel["pii_screen"].docs_out
    assert sum(r.docs for r in all_true) == survivors
    for r in cells:
        assert r.n_gates_passed == int(r.gopher_keep) + int(r.c4_keep) + int(
            r.pii_keep
        )
