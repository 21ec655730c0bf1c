"""Idempotent writers (S5-S8) against real parquet in tmp dirs."""

from __future__ import annotations

from pyspark.sql import functions as F

from legendary_data_pipeline_spark.operators.upsert import (
    insert_missing,
    upsert,
    write_upsert_parquet,
    write_upsert_partitioned,
)


def test_upsert_updates_win(spark):
    existing = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20)], "k int, name string, v int"
    )
    updates = spark.createDataFrame(
        [(2, "b2", 21), (3, "c", 30)], "k int, name string, v int"
    )
    merged = {r.k: (r.name, r.v) for r in upsert(existing, updates, ["k"]).collect()}
    assert merged == {1: ("a", 10), 2: ("b2", 21), 3: ("c", 30)}


def test_upsert_null_keys_collapse(spark):
    """Null-safe conflict keys (P8): NULL condition matches NULL."""
    existing = spark.createDataFrame(
        [(1, None, 10)], "k int, cond string, v int"
    )
    updates = spark.createDataFrame([(1, None, 99)], "k int, cond string, v int")
    out = upsert(existing, updates, ["k", "cond"]).collect()
    assert len(out) == 1 and out[0].v == 99


def test_insert_missing_null_safe(spark):
    existing = spark.createDataFrame(
        [(1, None), (2, "x")], "k int, cond string"
    )
    updates = spark.createDataFrame(
        [(1, None), (2, "y"), (3, None)], "k int, cond string"
    )
    missing = {(r.k, r.cond) for r in insert_missing(existing, updates, ["k", "cond"]).collect()}
    assert missing == {(2, "y"), (3, None)}


def test_write_upsert_parquet_idempotent(spark, tmp_path):
    path = str(tmp_path / "t")
    first = spark.createDataFrame([(1, 10), (2, 20)], "k int, v int")
    write_upsert_parquet(path, first, ["k"], spark)
    second = spark.createDataFrame([(2, 21), (3, 30)], "k int, v int")
    write_upsert_parquet(path, second, ["k"], spark)
    # re-run the same batch — converges, no duplicates (S5 idempotency)
    write_upsert_parquet(path, second, ["k"], spark)
    state = {r.k: r.v for r in spark.read.parquet(path).collect()}
    assert state == {1: 10, 2: 21, 3: 30}


def test_write_upsert_parquet_first_batch_dedupes_keys(spark, tmp_path):
    """Duplicate keys INSIDE the very first batch must collapse exactly
    as they would on a merge into an existing table (regression: the
    no-existing-target branch used to write updates verbatim)."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "fresh")
    batch = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 20)], "k int, v int"
    )
    write_upsert_parquet(
        path, batch, ["k"], spark, order_within_source=[F.col("v").desc()]
    )
    state = {r.k: r.v for r in spark.read.parquet(path).collect()}
    assert state == {1: 11, 2: 20}
    assert spark.read.parquet(path).count() == 2


def test_write_upsert_partitioned_replaces_only_touched(spark, tmp_path):
    path = str(tmp_path / "daily")
    day1 = spark.createDataFrame(
        [("2024-01-01", 1, 10), ("2024-01-02", 1, 20)],
        "as_of_date string, k int, v int",
    ).withColumn("as_of_date", F.col("as_of_date").cast("date"))
    write_upsert_partitioned(path, day1, ["as_of_date"], spark)
    day2 = spark.createDataFrame(
        [("2024-01-02", 1, 99), ("2024-01-02", 2, 50)],
        "as_of_date string, k int, v int",
    ).withColumn("as_of_date", F.col("as_of_date").cast("date"))
    write_upsert_partitioned(path, day2, ["as_of_date"], spark)
    state = {
        (str(r.as_of_date), r.k): r.v
        for r in spark.read.parquet(path).collect()
    }
    # day1 untouched; day2 fully replaced (delete-then-insert semantics, S7)
    assert state == {
        ("2024-01-01", 1): 10,
        ("2024-01-02", 1): 99,
        ("2024-01-02", 2): 50,
    }


def test_write_upsert_partitioned_leaves_session_conf(spark, tmp_path):
    """Dynamic overwrite is the write's own option: a session left on
    `static` stays `static`, and the write still keeps the partitions it
    does not touch (a static overwrite would delete them)."""
    key = "spark.sql.sources.partitionOverwriteMode"
    path = str(tmp_path / "daily")
    before = spark.conf.get(key)
    spark.conf.set(key, "static")
    try:
        for day, v in (("2024-01-01", 10), ("2024-01-02", 20)):
            write_upsert_partitioned(
                path,
                spark.sql(f"SELECT DATE'{day}' AS as_of_date, {v} AS v"),
                ["as_of_date"],
                spark,
            )
        assert spark.conf.get(key) == "static"
    finally:
        spark.conf.set(key, before)
    state = {str(r.as_of_date): r.v for r in spark.read.parquet(path).collect()}
    assert state == {"2024-01-01": 10, "2024-01-02": 20}


def test_scd2_apply_semantics(spark):
    from legendary_data_pipeline_spark.operators.upsert import scd2_apply

    dim = spark.createDataFrame(
        [
            # k=1: has history; current price 100, city NULL
            (1, 100, None, "2023-01-01", "2024-01-01", False),
            (1, 100, None, "2024-01-01", None, True),
            # k=2: current only
            (2, 200, "ber", "2024-01-01", None, True),
            # k=3: current only, not in batch
            (3, 300, "par", "2024-01-01", None, True),
        ],
        "k int, price int, city string, valid_from string,"
        " valid_to string, is_current boolean",
    )
    updates = spark.createDataFrame(
        [
            (1, 150, None, "2024-06-01"),   # price change (city stays NULL)
            (2, 200, "ber", "2024-06-01"),  # no-op — attrs identical
            (4, 400, None, "2024-06-01"),   # brand-new key
        ],
        "k int, price int, city string, effective_date string",
    )
    out = scd2_apply(
        dim, updates, key_cols=["k"], attr_cols=["price", "city"]
    )
    rows = {
        (r.k, r.valid_from): (r.price, r.city, r.valid_to, r.is_current)
        for r in out.collect()
    }
    assert len(rows) == 6
    # k=1: history untouched, old current closed, new version open.
    assert rows[(1, "2023-01-01")] == (100, None, "2024-01-01", False)
    assert rows[(1, "2024-01-01")] == (100, None, "2024-06-01", False)
    assert rows[(1, "2024-06-01")] == (150, None, None, True)
    # k=2: no-op update leaves the single current row untouched.
    assert rows[(2, "2024-01-01")] == (200, "ber", None, True)
    # k=3: untouched; k=4: inserted current.
    assert rows[(3, "2024-01-01")] == (300, "par", None, True)
    assert rows[(4, "2024-06-01")] == (400, None, None, True)
    # Invariant: exactly one current row per live key.
    cur = out.filter("is_current").groupBy("k").count().collect()
    assert all(r["count"] == 1 for r in cur)


def test_scd2_apply_is_idempotent(spark):
    """Re-applying the same batch must be a pure no-op: every update
    now matches the (new) current row, so no rows close and no versions
    open — the retry/replay safety a warehouse merge needs."""
    from legendary_data_pipeline_spark.operators.upsert import scd2_apply

    dim = spark.createDataFrame(
        [
            (1, 100, "2024-01-01", None, True),
            (2, 200, "2024-01-01", None, True),
        ],
        "k int, price int, valid_from string, valid_to string,"
        " is_current boolean",
    )
    updates = spark.createDataFrame(
        [(1, 150, "2024-06-01"), (3, 300, "2024-06-01")],
        "k int, price int, effective_date string",
    )
    once = scd2_apply(dim, updates, ["k"], ["price"])
    twice = scd2_apply(once, updates, ["k"], ["price"])
    key = lambda r: (r.k, r.valid_from)
    assert {key(r): tuple(r) for r in once.collect()} == {
        key(r): tuple(r) for r in twice.collect()
    }
    assert once.count() == 4  # 1 closed + 1 opened + 1 kept + 1 inserted
