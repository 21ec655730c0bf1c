"""Round-15 contracts.

1. NULL-text gate parity (r14 advice #1): the disagreement oracle's pii
   signal `pk.p` was the only gate clause not COALESCEd to FALSE, so a
   NULL-text document would group into a NULL pii_keep cell on the
   oracle side while the Spark side coalesces to False. Pin parity on a
   fixture that actually contains a NULL-text doc.
2. Streaming-parity session hygiene (r14 advice #2/#3, verdict #2):
   each parity callable must restore spark.sql.shuffle.partitions on
   exit and clean up its staging/checkpoint tmpdirs (only the written
   target outlives the call, for driver re-collection); all parity
   queries declare a scan_budget.
"""

from __future__ import annotations

import glob
import os

import pytest

from tests.conftest import SF_DIR
from tests.oracle_utils import compare_to_oracle


def _null_text_sf_dir(spark, tmp_path) -> str:
    """A tmp sf dir = real sf0.001 tables (symlinked) with documents
    replaced by a copy carrying one NULL-text row."""
    from legendary_data_pipeline_spark.catalog import TABLES

    root = tmp_path / "sf_nulltext"
    root.mkdir()
    for t in TABLES:
        if t == "documents":
            continue
        os.symlink(f"{SF_DIR}/{t}.parquet", str(root / f"{t}.parquet"))
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    extra = spark.createDataFrame(
        [(999_999, None, "en", "synthetic", None)], docs.schema
    )
    staged = str(tmp_path / "docs_staged")
    docs.unionByName(extra).coalesce(1).write.parquet(staged)
    (part,) = glob.glob(f"{staged}/*.parquet")
    os.symlink(part, str(root / "documents.parquet"))
    return str(root)


def test_gate_disagreement_null_text_oracle_parity(spark, tmp_path):
    from legendary_data_pipeline_spark.queries import ALL_QUERIES

    spec = ALL_QUERIES["curation_gate_disagreement"]
    sf = _null_text_sf_dir(spark, tmp_path)
    compare_to_oracle(spec.spark_fn(spark, sf), spec.oracle, sf)


def test_gate_funnel_null_text_oracle_parity(spark, tmp_path):
    # the funnel shares _GATE_SIGNALS_CTES — pin it on the same fixture
    from legendary_data_pipeline_spark.queries import ALL_QUERIES

    spec = ALL_QUERIES["curation_gate_funnel"]
    sf = _null_text_sf_dir(spark, tmp_path)
    compare_to_oracle(spec.spark_fn(spark, sf), spec.oracle, sf)


_PARITY_QUERIES = (
    "stream_rollup_parity",
    "stream_dedup_parity",
    "stream_maint_parity",
    "stream_cms_parity",
    "stream_ewma_parity",
    "stream_attribution_parity",
    "stream_quality_parity",
    "stream_psi_parity",
    "stream_session_parity",
)


def test_parity_queries_restore_shuffle_partitions_and_clean_tmp(spark):
    """r14 verdict #2: a DIRECT invocation of any streaming parity
    query must leave the session's shuffle-partition conf unchanged
    (no dependence on the next query's ensure_engine_confs), and must
    not leave its staging input / checkpoint dirs behind in /tmp."""
    from legendary_data_pipeline_spark.queries import ALL_QUERIES
    from legendary_data_pipeline_spark.session import ensure_engine_confs

    prior = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        # every registered callable runs ensure_engine_confs on entry,
        # so the restorable value IS the engine value — the contract is
        # that the query exits with that value, never the tiny-state 8.
        ensure_engine_confs(spark)
        engine_val = spark.conf.get("spark.sql.shuffle.partitions")
        assert engine_val != "8"
        # roots live under the parity scratch base (r16: RAM-backed
        # when available), not necessarily /tmp
        import tempfile as _tf

        from legendary_data_pipeline_spark.queries_streaming import (
            _scratch_base,
        )

        base = _scratch_base() or _tf.gettempdir()
        for name in _PARITY_QUERIES:
            spec = ALL_QUERIES[name]
            before = set(glob.glob(f"{base}/ldp_stream_*"))
            df = spec.spark_fn(spark, SF_DIR)
            assert (
                spark.conf.get("spark.sql.shuffle.partitions") == engine_val
            ), name
            assert df.count() >= 0  # returned frame survives cleanup
            new_roots = set(glob.glob(f"{base}/ldp_stream_*")) - before
            assert new_roots, name  # staged at least one fresh root
            for r in new_roots:
                assert not os.path.exists(f"{r}/in"), name
                assert not os.path.exists(f"{r}/ckpt"), name
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prior)


def test_parity_queries_declare_scan_budget():
    """r14 verdict #2: the scan-audit disposition must be
    machine-readable on all four parity queries."""
    from legendary_data_pipeline_spark.queries import ALL_QUERIES

    for name in _PARITY_QUERIES:
        spec = ALL_QUERIES[name]
        assert spec.scan_budget is not None, name


# ---------------------------------------------------------------------------
# X239–X243 operator-level contracts
# ---------------------------------------------------------------------------


def test_file_stream_delivers_in_mtime_order(spark, tmp_path):
    """The load-bearing assumption of the order-sensitive parities
    (X239/X242/X243): Spark's file stream source lists new files in
    modification-time order, NOT path order — so _stage_ordered_files'
    strictly increasing mtimes pin micro-batch i = parts[i] under
    maxFilesPerTrigger=1, even when path order disagrees."""
    import glob
    import shutil

    src = tmp_path / "in"
    src.mkdir()
    spark.createDataFrame([(1,)], "v long").coalesce(1).write.parquet(
        str(tmp_path / "t1")
    )
    spark.createDataFrame([(2,)], "v long").coalesce(1).write.parquet(
        str(tmp_path / "t2")
    )
    # path order says a_* first; mtime says z_* first — mtime must win
    shutil.copy(glob.glob(str(tmp_path / "t2" / "*.parquet"))[0],
                str(src / "a_second.parquet"))
    shutil.copy(glob.glob(str(tmp_path / "t1" / "*.parquet"))[0],
                str(src / "z_first.parquet"))
    os.utime(str(src / "z_first.parquet"), (1_700_000_000,) * 2)
    os.utime(str(src / "a_second.parquet"), (1_700_000_100,) * 2)
    batches = {}

    def sink(df, bid):
        batches[int(bid)] = [r.v for r in df.collect()]

    q = (
        spark.readStream.schema("v long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert batches == {0: [1], 1: [2]}


def test_stage_ordered_files_rejects_empty_split(spark, tmp_path):
    from legendary_data_pipeline_spark import queries as _q  # noqa: F401 — registry first (partial-import guard)
    from legendary_data_pipeline_spark.queries_streaming import (
        _stage_ordered_files,
    )

    full = spark.createDataFrame([(1,), (2,)], "v long")
    empty = full.filter("v > 99")
    with pytest.raises(ValueError, match="empty split"):
        _stage_ordered_files(spark, [full, empty], str(tmp_path))


def test_session_spans_micro_batch_boundary(spark, tmp_path):
    """X243's core claim at operator level: a session whose events
    straddle the file boundary closes as ONE session (state carried
    across micro-batches), and the still-open final session is never
    emitted under a never-late watermark."""
    from legendary_data_pipeline_spark import queries as _q  # noqa: F401 — registry first (partial-import guard)
    from legendary_data_pipeline_spark.queries_streaming import (
        _stage_ordered_files,
    )
    from legendary_data_pipeline_spark.streaming.sessions import (
        run_sessionize_once,
    )

    schema = (
        "event_id long, ts timestamp_ntz, user_id long, "
        "event_type string, value double, props string"
    )

    def ev(eid, minute, v):
        import datetime

        t = datetime.datetime(2024, 1, 1) + datetime.timedelta(
            minutes=minute
        )
        return (eid, t, 1, "click", float(v), None)

    # file 1: two events 5 min apart; file 2: one event 5 min after the
    # last (same session, crosses the boundary), then a gap > 30 min
    # opening a second session that stays open (never emitted)
    f1 = spark.createDataFrame([ev(1, 0, 10), ev(2, 5, 20)], schema)
    f2 = spark.createDataFrame([ev(3, 10, 30), ev(4, 60, 40)], schema)
    staging = _stage_ordered_files(spark, [f1, f2], str(tmp_path))
    target = str(tmp_path / "out")
    run_sessionize_once(
        spark, staging, target, str(tmp_path / "ckpt"),
        gap_seconds=1800, watermark="3650 days", max_files_per_trigger=1,
    )
    rows = spark.read.parquet(target).collect()
    assert len(rows) == 1  # the spanning session closed; the open one didn't
    (r,) = rows
    assert (r.user_id, r.n_events, r.total_value) == (1, 3, 60.0)
    assert r.session_end.minute == 10  # ends at the cross-boundary event


def test_ewma_parity_state_crosses_batches(spark, tmp_path):
    """X239's core claim at operator level: a point in micro-batch 2 is
    scored against the lag buffer retained from micro-batch 1 — the
    stream equals the batch formula across the boundary."""
    from legendary_data_pipeline_spark.operators.stats import ewma_anomalies
    from legendary_data_pipeline_spark import queries as _q  # noqa: F401 — registry first (partial-import guard)
    from legendary_data_pipeline_spark.queries_streaming import (
        _stage_ordered_files,
    )
    from legendary_data_pipeline_spark.streaming.anomaly import (
        run_ewma_anomaly_once,
    )

    schema = "user_id long, ts long, t long, v long"
    rows = [(1, (t + 1) * 10**9, t, 100 + 7 * t) for t in range(8)]
    f1 = spark.createDataFrame(rows[:4], schema)
    f2 = spark.createDataFrame(rows[4:], schema)
    staging = _stage_ordered_files(spark, [f1, f2], str(tmp_path))
    target = str(tmp_path / "out")
    run_ewma_anomaly_once(
        spark, staging, target, str(tmp_path / "ckpt"),
        k=3, watermark="3650 days", max_files_per_trigger=1,
    )
    got = {
        (r.user_id, r.t): (r.ewma, r.resid)
        for r in spark.read.parquet(target).collect()
    }
    expected = {
        (r.user_id, r.t): (r.ewma, r.resid)
        for r in ewma_anomalies(
            spark.createDataFrame([(u, t, v) for u, _, t, v in rows],
                                  "user_id long, t long, v long"),
            "t", "v", group_cols=["user_id"], k=3,
        ).collect()
    }
    assert got == expected
    assert got[(1, 4)][0] is not None  # first batch-2 point has a baseline


def test_psi_monitor_scaled_e6_report(spark, tmp_path):
    """X242's sink contract: the report carries the driver-gate e6
    integer columns and derives the alert from psi_e6 against the
    micro-unit bar."""
    from legendary_data_pipeline_spark.operators.profiling import psi_drift
    from legendary_data_pipeline_spark.streaming.quality import (
        run_psi_monitor_once,
    )

    base = spark.createDataFrame(
        [("a",)] * 8 + [("b",)] * 2, "c string"
    )
    cur_rows = [("a",)] * 2 + [("b",)] * 8  # heavy shift -> alert
    spark.createDataFrame(cur_rows, "c string").coalesce(1).write.parquet(
        str(tmp_path / "in")
    )
    report = str(tmp_path / "report")
    run_psi_monitor_once(
        spark, str(tmp_path / "in"), "c string", base, "c",
        report, str(tmp_path / "ckpt"),
    )
    rows = spark.read.parquet(report).collect()
    assert {r.value for r in rows} == {"a", "b"}
    ref = {
        r.value: r
        for r in psi_drift(
            base, spark.createDataFrame(cur_rows, "c string"), "c",
            scaled_e6=True,
        ).collect()
    }
    for r in rows:
        assert r.psi_term_e6 == ref[r.value].psi_term_e6
        assert r.psi_e6 == ref[r.value].psi_e6
        assert r.alert == (r.psi_e6 > 250000)
    assert all(r.alert for r in rows)  # the shift really crossed the bar
