"""CLI `dq` command: profile + constraint audit over a parquet table."""

from __future__ import annotations

import json

from legendary_data_pipeline_spark import cli


def _run(spark, argv):
    args = cli.build_parser().parse_args(argv)
    return args.fn(spark, args)


def _write_table(spark, path):
    spark.createDataFrame(
        [
            (1, 10.0, "A"),
            (2, -3.0, "B"),
            (2, 5.0, None),
        ],
        "id long, price double, status string",
    ).write.parquet(path)


def test_dq_reports_and_exit_codes(spark, tmp_path, capsys):
    wh = str(tmp_path / "wh")
    table = str(tmp_path / "t")
    _write_table(spark, table)

    rc = _run(spark, [
        "dq", "--warehouse", wh, "--input", table,
        "--not-null", "status",
        "--unique-key", "id",
        "--check", "price_positive:price > 0",
    ])
    assert rc == 1  # all three checks fail on this table
    out = capsys.readouterr().out.strip().splitlines()[-1]
    summary = json.loads(out)
    assert summary["rows"] == 3
    assert summary["checks"] == 3
    assert summary["checks_failed"] == 3

    prof = {
        r.column: r for r in spark.read.parquet(f"{wh}/dq_profile").collect()
    }
    assert set(prof) == {"id", "price", "status"}
    assert prof["status"].n_null == 1
    assert prof["id"].n_distinct == 2

    checks = {
        r.check_name: r
        for r in spark.read.parquet(f"{wh}/dq_checks").collect()
    }
    assert checks["status_not_null"].n_violations == 1
    assert checks["price_positive"].n_violations == 1
    assert checks["unique(id)"].n_violations == 1
    # run log records the failed audit
    runs = spark.read.parquet(f"{wh}/pipeline_runs")
    assert runs.filter("job = 'dq' and status = 'failed'").count() == 1


def test_dq_passes_on_clean_table(spark, tmp_path, capsys):
    wh = str(tmp_path / "wh")
    table = str(tmp_path / "clean")
    spark.createDataFrame(
        [(1, 2.0), (2, 3.0)], "id long, price double"
    ).write.parquet(table)
    rc = _run(spark, [
        "dq", "--warehouse", wh, "--input", table,
        "--not-null", "id,price",
        "--unique-key", "id",
        "--check", "price_positive:price > 0",
        "--columns", "id",
    ])
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["checks_failed"] == 0
    assert summary["columns_profiled"] == 1


def test_dq_profile_only_no_checks(spark, tmp_path, capsys):
    wh = str(tmp_path / "wh")
    table = str(tmp_path / "t2")
    _write_table(spark, table)
    rc = _run(spark, ["dq", "--warehouse", wh, "--input", table])
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["checks"] == 0 and summary["checks_failed"] == 0


# ---------------------------------------------------------------------------
# sql command
# ---------------------------------------------------------------------------


def test_sql_over_testdata_views(spark, sf_dir, capsys):
    rc = _run(spark, [
        "sql", "--warehouse", sf_dir,
        "--query",
        "SELECT o_orderstatus, COUNT(*) AS n FROM orders "
        "GROUP BY o_orderstatus ORDER BY o_orderstatus",
    ])
    assert rc == 0
    out_lines = [
        l for l in capsys.readouterr().out.strip().splitlines() if l
    ]
    rows = [json.loads(l) for l in out_lines]
    assert {r["o_orderstatus"] for r in rows} == {"P", "O", "F"}
    assert sum(r["n"] for r in rows) == spark.read.parquet(
        f"{sf_dir}/orders.parquet"
    ).count()


def test_sql_writes_parquet_out(spark, sf_dir, tmp_path, capsys):
    out = str(tmp_path / "res")
    rc = _run(spark, [
        "sql", "--warehouse", sf_dir,
        "--query", "SELECT p_brand, COUNT(*) AS n FROM part GROUP BY p_brand",
        "--out", out,
    ])
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["rows"] == spark.read.parquet(out).count() > 0
    assert "part" in summary["tables"]


def test_sql_limit_bounds_stdout(spark, sf_dir, capsys):
    rc = _run(spark, [
        "sql", "--warehouse", sf_dir,
        "--query", "SELECT * FROM lineitem", "--limit", "7",
    ])
    assert rc == 0
    out_lines = [
        l for l in capsys.readouterr().out.strip().splitlines() if l
    ]
    assert len(out_lines) == 7


def test_dq_duplicate_check_name_rejected(spark, tmp_path):
    import pytest

    wh = str(tmp_path / "wh")
    table = str(tmp_path / "t3")
    _write_table(spark, table)
    with pytest.raises(SystemExit, match="duplicate check name"):
        _run(spark, [
            "dq", "--warehouse", wh, "--input", table,
            "--check", "a:price > 0", "--check", "a:price < 100",
        ])


def test_dq_psi_drift_gate(spark, tmp_path, capsys):
    wh = str(tmp_path / "wh")
    base = str(tmp_path / "base")
    cur = str(tmp_path / "cur")
    spark.createDataFrame(
        [(i, "ok") for i in range(90)] + [(i, "bad") for i in range(10)],
        "id long, status string",
    ).write.parquet(base)
    # flipped distribution — PSI way past 0.25
    spark.createDataFrame(
        [(i, "bad") for i in range(90)] + [(i, "ok") for i in range(10)],
        "id long, status string",
    ).write.parquet(cur)

    rc = _run(spark, [
        "dq", "--warehouse", wh, "--input", cur,
        "--drift-baseline", base, "--drift-col", "status",
    ])
    assert rc == 1
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["psi_alert"] is True and summary["psi"] > 0.25
    # per-category decomposition persisted
    rep = spark.read.parquet(f"{wh}/dq_drift")
    assert {r.value for r in rep.collect()} == {"ok", "bad"}

    # same distribution → quiet gate, exit 0
    rc2 = _run(spark, [
        "dq", "--warehouse", wh, "--input", base,
        "--drift-baseline", base, "--drift-col", "status",
    ])
    assert rc2 == 0
    s2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert s2["psi_alert"] is False and abs(s2["psi"]) < 0.01


def test_dq_drift_requires_col(spark, tmp_path):
    import pytest as _pytest

    base = str(tmp_path / "b")
    wh = tmp_path / "wh"
    _write_table(spark, base)
    with _pytest.raises(SystemExit, match="drift-col"):
        _run(spark, [
            "dq", "--warehouse", str(wh), "--input", base,
            "--drift-baseline", base,
        ])
    # argv validation runs before the run is logged or the profile written
    assert not (wh / "pipeline_runs").exists()
    assert not (wh / "dq_profile").exists()


def test_stats_cli_metrics(spark, tmp_path, capsys):
    import json as _json

    table = str(tmp_path / "st")
    spark.createDataFrame(
        [(float(i), float(i * i), ("g1" if i < 50 else "g2"), i, i % 2)
         for i in range(100)],
        "x double, y double, g string, t long, e int",
    ).write.parquet(table)

    rc = _run(spark, [
        "stats", "--input", table, "--metric", "spearman",
        "--cols", "x,y",
    ])
    assert rc == 0
    out = capsys.readouterr().out.strip().splitlines()
    row = _json.loads(out[0])
    assert row["col_a"] == "x" and row["rho"] == 1.0  # monotone

    rc = _run(spark, [
        "stats", "--input", table, "--metric", "gini",
        "--cols", "t", "--group", "g",
    ])
    assert rc == 0
    rows = [_json.loads(x) for x in capsys.readouterr().out.strip().splitlines()]
    assert {r["g"] for r in rows} == {"g1", "g2"}

    out_path = str(tmp_path / "km_out")
    rc = _run(spark, [
        "stats", "--input", table, "--metric", "km",
        "--cols", "t,e", "--out", out_path,
    ])
    assert rc == 0
    summary = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["metric"] == "km" and summary["rows"] > 0
    assert spark.read.parquet(out_path).count() == summary["rows"]


def test_stats_cli_validates_cols(spark, tmp_path):
    import pytest as _pytest

    table = str(tmp_path / "st2")
    spark.createDataFrame([(1.0, 2.0)], "x double, y double").write.parquet(table)
    with _pytest.raises(SystemExit, match="exactly two"):
        _run(spark, [
            "stats", "--input", table, "--metric", "kendall", "--cols", "x",
        ])


def test_stats_cli_rejects_group_for_ungrouped_metrics(spark, tmp_path):
    """--group with a metric that ignores grouping must fail loud, not
    silently return ungrouped results (round-8 ADVICE)."""
    import pytest as _pytest

    table = str(tmp_path / "st3")
    spark.createDataFrame(
        [(1.0, 2.0, "a"), (2.0, 3.0, "b")], "x double, y double, g string"
    ).write.parquet(table)
    for metric, cols in [
        ("corr", "x,y"), ("spearman", "x,y"), ("kendall", "x,y"),
        ("km", "x,y"),
    ]:
        with _pytest.raises(SystemExit, match="--group is not supported"):
            _run(spark, [
                "stats", "--input", table, "--metric", metric,
                "--cols", cols, "--group", "g",
            ])


# ---------------------------------------------------------------------------
# fk_orphan_report (X208)
# ---------------------------------------------------------------------------


def test_fk_orphan_report_counts(spark):
    from pyspark.sql import functions as F

    from legendary_data_pipeline_spark.operators.profiling import (
        fk_orphan_report,
    )

    child = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 99), (4, None)], "id long, fk long"
    )
    parent = spark.createDataFrame([(10,), (20,)], "pk long")
    out = fk_orphan_report(
        child, [("fk->pk", parent, "fk", "pk")]
    ).collect()[0]
    # NULL fk excluded from n_child; 99 is the one orphan
    assert out.fk_name == "fk->pk"
    assert out.n_child == 3 and out.n_orphans == 1
    assert out.orphan_rate == 1.0 / 3.0


def test_fk_orphan_report_multiple_fks_and_validation(spark):
    import pytest as _pt

    from legendary_data_pipeline_spark.operators.profiling import (
        fk_orphan_report,
    )

    child = spark.createDataFrame([(1, 10, 7)], "id long, a long, b long")
    pa = spark.createDataFrame([(10,)], "pk long")
    pb = spark.createDataFrame([(8,)], "pk long")
    out = {
        r.fk_name: r
        for r in fk_orphan_report(
            child, [("a", pa, "a", "pk"), ("b", pb, "b", "pk")]
        ).collect()
    }
    assert out["a"].n_orphans == 0 and out["b"].n_orphans == 1
    with _pt.raises(ValueError, match="at least one"):
        fk_orphan_report(child, [])
