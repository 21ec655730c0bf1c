"""Streaming constraint monitor: per-batch reports, quarantine, parity."""

from __future__ import annotations

from pyspark.sql import functions as F

from legendary_data_pipeline_spark.operators.profiling import (
    check_constraints,
)
from legendary_data_pipeline_spark.streaming.quality import (
    run_quality_monitor_once,
)

_SCHEMA = "id long, price double"


def _checks():
    # built lazily: Column construction needs an active session
    return {
        "price_positive": F.col("price") > 0,
        "id_not_null": F.col("id").isNotNull(),
    }


def _write_batch(spark, path, rows, name):
    spark.createDataFrame(rows, _SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(path)
    # rename irrelevant: each append adds distinct files; the stream
    # picks them up by listing
    _ = name


def test_monitor_reports_per_batch_and_quarantines(spark, tmp_path):
    inp = str(tmp_path / "in")
    report = str(tmp_path / "report")
    ckpt = str(tmp_path / "ckpt")
    quarantine = str(tmp_path / "bad")

    good = [(1, 5.0), (2, 6.0)]
    bad = [(3, -1.0), (None, 2.0)]
    _write_batch(spark, inp, good, "g")
    _write_batch(spark, inp, bad, "b")

    run_quality_monitor_once(
        spark, inp, _SCHEMA, report, ckpt, _checks(),
        fail_path=quarantine, max_files_per_trigger=1,
    )

    rep = spark.read.parquet(report)
    # 2 audited batches × 2 checks
    assert rep.count() == 4
    by_batch = {
        (r.batch_id, r.check_name): r for r in rep.collect()
    }
    batches = sorted({b for b, _ in by_batch})
    assert len(batches) == 2
    # one batch fully passes, the other fails both checks (order of
    # file pickup is not guaranteed, so identify by outcome)
    outcomes = {
        b: all(by_batch[(b, c)].passed for c in _checks()) for b in batches
    }
    assert sorted(outcomes.values()) == [False, True]
    failed_batch = next(b for b, ok in outcomes.items() if not ok)
    assert by_batch[(failed_batch, "price_positive")].n_violations == 1
    assert by_batch[(failed_batch, "id_not_null")].n_violations == 1

    # only the failing batch's rows were quarantined
    q = spark.read.parquet(quarantine)
    assert {(r.id, r.price) for r in q.collect()} == set(bad)


def test_monitor_matches_batch_check_constraints(spark, tmp_path):
    inp = str(tmp_path / "in")
    report = str(tmp_path / "report")
    ckpt = str(tmp_path / "ckpt")
    rows = [(1, 5.0), (2, -2.0), (3, None)]
    _write_batch(spark, inp, rows, "a")

    run_quality_monitor_once(
        spark, inp, _SCHEMA, report, ckpt, _checks()
    )
    stream_rep = {
        r.check_name: (r.n_rows, r.n_violations, r.passed)
        for r in spark.read.parquet(report).collect()
    }
    batch_rep = {
        r.check_name: (r.n_rows, r.n_violations, r.passed)
        for r in check_constraints(
            spark.createDataFrame(rows, _SCHEMA), _checks()
        ).collect()
    }
    assert stream_rep == batch_rep


def test_monitor_rerun_is_checkpointed_noop(spark, tmp_path):
    inp = str(tmp_path / "in")
    report = str(tmp_path / "report")
    ckpt = str(tmp_path / "ckpt")
    _write_batch(spark, inp, [(1, 1.0)], "a")
    run_quality_monitor_once(spark, inp, _SCHEMA, report, ckpt, _checks())
    n1 = spark.read.parquet(report).count()
    run_quality_monitor_once(spark, inp, _SCHEMA, report, ckpt, _checks())
    assert spark.read.parquet(report).count() == n1


def test_sink_replayed_batch_id_is_idempotent(spark, tmp_path):
    """foreachBatch delivers at-least-once: a replayed batch_id must
    overwrite its own report/quarantine partition, not append dupes
    (review finding: non-idempotent appends)."""
    from legendary_data_pipeline_spark.streaming.quality import (
        quality_report_sink,
    )

    report = str(tmp_path / "report")
    quarantine = str(tmp_path / "bad")
    sink = quality_report_sink(report, _checks(), fail_path=quarantine)
    bad_batch = spark.createDataFrame([(1, -4.0), (2, 3.0)], _SCHEMA)
    sink(bad_batch, 7)
    sink(bad_batch, 7)  # simulated retry of the SAME batch
    rep = spark.read.parquet(report)
    assert rep.count() == len(_checks())
    assert {r.batch_id for r in rep.collect()} == {7}
    assert spark.read.parquet(quarantine).count() == 2


def test_drift_monitor_alerts_on_shifted_batch(spark, tmp_path):
    from legendary_data_pipeline_spark.streaming.quality import (
        run_drift_monitor_once,
    )

    schema = "id long, status string"
    baseline = spark.createDataFrame(
        [(i, "ok") for i in range(90)] + [(i, "bad") for i in range(10)],
        schema,
    )
    inp = str(tmp_path / "in")
    # batch matching the baseline mix, then a flipped batch
    spark.createDataFrame(
        [(i, "ok") for i in range(45)] + [(i, "bad") for i in range(5)],
        schema,
    ).coalesce(1).write.mode("append").parquet(inp)
    spark.createDataFrame(
        [(i, "bad") for i in range(45)] + [(i, "ok") for i in range(5)],
        schema,
    ).coalesce(1).write.mode("append").parquet(inp)

    report = str(tmp_path / "drift")
    run_drift_monitor_once(
        spark, inp, schema, baseline, "status", report,
        str(tmp_path / "ckpt"), max_files_per_trigger=1,
    )
    rep = spark.read.parquet(report)
    by_batch = {}
    for r in rep.collect():
        by_batch.setdefault(r.batch_id, r.alert)
    alerts = sorted(by_batch.values())
    assert alerts == [False, True]
    # per-category decomposition present for both categories
    assert rep.filter("value = 'bad'").count() == 2


def test_psi_monitor_alerts_on_shifted_batch(spark, tmp_path):
    from legendary_data_pipeline_spark.streaming.quality import (
        run_psi_monitor_once,
    )

    schema = "id long, status string"
    baseline = spark.createDataFrame(
        [(i, "ok") for i in range(90)] + [(i, "bad") for i in range(10)],
        schema,
    )
    inp = str(tmp_path / "in")
    # batch matching the baseline mix, then a flipped batch
    spark.createDataFrame(
        [(i, "ok") for i in range(45)] + [(i, "bad") for i in range(5)],
        schema,
    ).coalesce(1).write.mode("append").parquet(inp)
    spark.createDataFrame(
        [(i, "bad") for i in range(45)] + [(i, "ok") for i in range(5)],
        schema,
    ).coalesce(1).write.mode("append").parquet(inp)

    report = str(tmp_path / "psi")
    run_psi_monitor_once(
        spark, inp, schema, baseline, "status", report,
        str(tmp_path / "ckpt_psi"), max_files_per_trigger=1,
    )
    rep = spark.read.parquet(report)
    by_batch = {}
    for r in rep.collect():
        by_batch.setdefault(r.batch_id, r.alert)
    assert sorted(by_batch.values()) == [False, True]
    # matching batch: tiny PSI; flipped batch: way past 0.25
    psis = {r.batch_id: r.psi_e6 for r in rep.collect()}
    assert min(psis.values()) < 50_000 and max(psis.values()) > 250_000


def test_psi_monitor_rejects_empty_baseline(spark, tmp_path):
    import pytest as _pytest

    from legendary_data_pipeline_spark.streaming.quality import (
        psi_monitor_sink,
    )
    from pyspark.sql import functions as F

    empty = spark.createDataFrame([("x",)], "status string").filter(
        F.lit(False)
    )
    with _pytest.raises(ValueError, match="baseline snapshot is empty"):
        psi_monitor_sink(empty, "status", str(tmp_path / "r"))
