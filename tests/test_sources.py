"""Sources/sinks: CSV alias reader, feed writer, run log, upsert writers."""

from __future__ import annotations

import os
import time
from datetime import datetime, timedelta, timezone

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import DataType

from legendary_data_pipeline_spark.sources.csv_alias import (
    PRICECHARTING_ALIASES,
    read_csv_with_aliases,
)
from legendary_data_pipeline_spark.sources.feed_writer import (
    collect_single_file,
    write_feed,
)
from legendary_data_pipeline_spark.sources import runlog
from legendary_data_pipeline_spark.sources.runlog import (
    RUNLOG_SCHEMA,
    current_runs,
    finish_run,
    sha256_file,
    start_run,
)

CSV_BODY = (
    "Id,Product-Name,Console-Name,Loose-Price,CIB-Price,release-date\r\n"
    '1001,"Charizard, Base Set",Pokemon,"$1,234.56",$99.00,1999-01-09\r\n'
    '1002,"Pikachu ""Promo""",Pokemon,$5.00,,2000-05-01\r\n'
    ",Missing Id,Pokemon,$1.00,,2001-01-01\r\n"
)


@pytest.fixture()
def csv_path(tmp_path):
    path = tmp_path / "prices.csv"
    path.write_text(CSV_BODY)
    return str(path)


def test_csv_alias_resolution(spark, csv_path):
    df = read_csv_with_aliases(spark, csv_path, PRICECHARTING_ALIASES)
    assert set(PRICECHARTING_ALIASES) == set(df.columns)
    rows = {r.pricecharting_id: r for r in df.collect()}
    # quoted comma + escaped quotes survive
    assert rows["1001"].product_name == "Charizard, Base Set"
    assert rows["1002"].product_name == 'Pikachu "Promo"'
    # header variants resolve: Loose-Price → loose_price
    assert rows["1001"].loose_price == "$1,234.56"
    # missing variant columns materialize as nulls
    assert rows["1001"].new_price is None


def test_feed_writer_tsv_roundtrip(spark, tmp_path):
    df = spark.createDataFrame(
        [("1", "Tab\there", "line\nbreak"), ("2", "plain", 'quote"s')],
        "id string, title string, description string",
    )
    out_dir = str(tmp_path / "feed")
    write_feed(df, out_dir, fmt="tsv")
    flat = collect_single_file(out_dir, str(tmp_path / "feed.tsv"))
    raw = open(flat, "rb").read().decode()
    lines = raw.split("\r\n")
    assert lines[0] == "id\ttitle\tdescription"
    body = dict(line.split("\t", 1) for line in lines[1:] if line)
    # tabs and newlines collapsed to single spaces inside fields
    assert body["1"] == "Tab here\tline break"

    back = (
        spark.read.option("header", "true").option("sep", "\t").csv(out_dir)
    )
    assert back.count() == 2


def test_feed_writer_csv_quoting(spark, tmp_path):
    df = spark.createDataFrame(
        [("1", "has,comma"), ("2", 'has"quote')], "id string, title string"
    )
    out_dir = str(tmp_path / "feedcsv")
    write_feed(df, out_dir, fmt="csv")
    back = (
        spark.read.option("header", "true")
        .option("quote", '"')
        .option("escape", '"')
        .csv(out_dir)
    )
    vals = {r.id: r.title for r in back.collect()}
    assert vals == {"1": "has,comma", "2": 'has"quote'}


def test_runlog_lifecycle(spark, tmp_path, csv_path):
    log_path = str(tmp_path / "runs")
    digest = sha256_file(csv_path)
    assert len(digest) == 64
    run_id = start_run(
        spark, log_path, "import", file_name="prices.csv", file_sha256=digest
    )
    finish_run(spark, log_path, run_id, "import", row_count=2)
    state = current_runs(spark, log_path).collect()
    assert len(state) == 1
    assert state[0].status == "finished"
    assert state[0].row_count == 2


def test_runlog_event_at_is_utc_whatever_the_host_timezone(spark, tmp_path):
    """`event_at` is the true UTC instant when the Python process's local
    timezone is not UTC (a naive datetime would be read as local time)."""
    log_path = str(tmp_path / "runs")
    old_tz = os.environ.get("TZ")
    os.environ["TZ"] = "Asia/Tokyo"
    time.tzset()
    try:
        t0 = time.time()
        start_run(spark, log_path, "tz_probe")
        t1 = time.time()
    finally:
        if old_tz is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old_tz
        time.tzset()
    (row,) = spark.read.parquet(log_path).select(
        F.unix_micros("event_at").alias("us")
    ).collect()
    assert t0 - 1 <= row.us / 1e6 <= t1 + 1


def test_runlog_ignores_uncommitted_event_file(spark, tmp_path):
    """An event whose commit was interrupted stays under its hidden
    `_tmp-` name: neither the reader nor `current_runs` sees it."""
    log_path = str(tmp_path / "runs")
    run_id = start_run(spark, log_path, "import")
    (committed,) = [n for n in os.listdir(log_path) if n.endswith(".parquet")]
    stray = os.path.join(log_path, f"_tmp-{committed}")
    with open(os.path.join(log_path, committed), "rb") as fh:
        head = fh.read()
    with open(stray, "wb") as fh:
        fh.write(head[: len(head) // 2])  # a partial write
    assert spark.read.parquet(log_path).count() == 1
    (state,) = current_runs(spark, log_path).collect()
    assert (state.run_id, state.status) == (run_id, "started")


def _spark_job_event(spark, log_path: str, row: dict) -> None:
    """An event as a Spark write job stores it: one-row literal frame
    cast to `RUNLOG_SCHEMA`, appended as parquet (logs written before
    the driver-side commit hold files like this)."""
    fields = DataType.fromDDL(RUNLOG_SCHEMA).fields
    spark.range(1, numPartitions=1).select(
        *[F.lit(row[f.name]).cast(f.dataType).alias(f.name) for f in fields]
    ).write.mode("append").parquet(log_path)


def test_runlog_mixes_spark_written_and_driver_written_events(spark, tmp_path):
    """A log holding events from both writers reads back with the
    declared schema, and the same event written either way reads back
    with the same values."""
    log_path = str(tmp_path / "runs")
    at = datetime(2024, 6, 1, 12, 30, 45, 123456, tzinfo=timezone.utc)
    events = [
        {"job": "import", "status": "started", "file_name": "prices.csv",
         "file_sha256": "ab" * 32, "row_count": None,
         "meta": '{"game": "pokemon"}', "event_at": at},
        {"job": "import", "status": "finished", "file_name": None,
         "file_sha256": None, "row_count": 7, "meta": None,
         "event_at": at + timedelta(seconds=1)},
    ]
    for event in events:
        _spark_job_event(spark, log_path, {**event, "run_id": "spark-job"})
        runlog._append(spark, log_path, {**event, "run_id": "driver"})

    log = spark.read.parquet(log_path)
    assert log.schema == DataType.fromDDL(RUNLOG_SCHEMA)
    # event_at as epoch micros: collected datetimes depend on the host TZ
    rows = [
        r.asDict()
        for r in log.withColumn("event_at", F.unix_micros("event_at")).collect()
    ]
    by_writer = {
        w: sorted(
            ({k: v for k, v in r.items() if k != "run_id"}
             for r in rows if r["run_id"] == w),
            key=lambda r: r["status"],
        )
        for w in ("spark-job", "driver")
    }
    epoch = datetime(1970, 1, 1, tzinfo=timezone.utc)
    expected = sorted(
        ({**e, "event_at": (e["event_at"] - epoch) // timedelta(microseconds=1)}
         for e in events),
        key=lambda r: r["status"],
    )
    assert by_writer["spark-job"] == by_writer["driver"] == expected
    state = {
        r.run_id: (r.status, r.row_count)
        for r in current_runs(spark, log_path).collect()
    }
    assert state == {"spark-job": ("finished", 7), "driver": ("finished", 7)}


# ---------------------------------------------------------------------------
# JDBC option builder (S3 live path) — pure config, no live DB needed
# ---------------------------------------------------------------------------

def test_jdbc_options_partitioned():
    from legendary_data_pipeline_spark.sources.jdbc import jdbc_options

    opts = jdbc_options(
        "jdbc:postgresql://db/x", "market_price_daily",
        partition_column="market_item_id", lower_bound=0,
        upper_bound=1_000_000, num_partitions=8,
    )
    assert opts["partitionColumn"] == "market_item_id"
    assert opts["numPartitions"] == "8"
    assert opts["fetchsize"] == "10000"


def test_jdbc_options_requires_bounds():
    import pytest as _pytest

    from legendary_data_pipeline_spark.sources.jdbc import jdbc_options

    with _pytest.raises(ValueError):
        jdbc_options("jdbc:postgresql://db/x", "t", partition_column="id")


def test_kafka_options_builder():
    from legendary_data_pipeline_spark.streaming.kafka import kafka_options

    opts = kafka_options(
        "b1:9092,b2:9092", "events", starting_offsets="earliest",
        max_offsets_per_trigger=100_000, min_partitions=64,
    )
    assert opts["kafka.bootstrap.servers"] == "b1:9092,b2:9092"
    assert opts["subscribe"] == "events"
    assert opts["maxOffsetsPerTrigger"] == "100000"
    assert opts["minPartitions"] == "64"


def test_jsonl_roundtrip_and_quarantine(spark, sf_dir, tmp_path):
    """JSONL source: schema-declared read matches the parquet source of
    truth row-for-row (DuckDB read_json agrees), malformed lines land in
    quarantine with the raw line intact, and the sink round-trips."""
    import json as _json

    import duckdb

    from legendary_data_pipeline_spark.sources.jsonl import (
        quarantine,
        read_jsonl,
        write_jsonl,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(50)
    rows = [r.asDict() for r in docs.collect()]
    path = tmp_path / "docs.jsonl"
    BAD = '{"doc_id": 7, "text": unquoted garbage}'
    with open(path, "w") as f:
        for r in rows:
            f.write(_json.dumps(r) + "\n")
        f.write(BAD + "\n")

    schema = "doc_id long, text string, lang string, source string, n_chars long"
    clean, bad, pinned = quarantine(read_jsonl(spark, str(path), schema))

    got = {r["doc_id"]: r.asDict() for r in clean.collect()}
    assert len(got) == 50
    assert got[rows[0]["doc_id"]] == rows[0]
    # DuckDB reads the same clean lines identically (cross-engine
    # check); its ignore_errors surfaces malformed lines as all-NULL
    # rows, so filter to parsed ones.
    duck = duckdb.sql(
        f"SELECT count(*), sum(n_chars) FROM read_json('{path}', "
        "format='newline_delimited', ignore_errors=true) "
        "WHERE doc_id IS NOT NULL"
    ).fetchone()
    assert duck[0] == 50
    assert duck[1] == sum(r["n_chars"] for r in rows)
    # The malformed line is quarantined verbatim, never silently dropped.
    assert [r["raw_line"] for r in bad.collect()] == [BAD]

    out = tmp_path / "out_jsonl"
    write_jsonl(clean, str(out))
    back = read_jsonl(spark, str(out), schema)
    clean2, bad2, pinned2 = quarantine(back)
    assert bad2.count() == 0
    assert {r["doc_id"]: r.asDict() for r in clean2.collect()} == got
    pinned.unpersist()
    pinned2.unpersist()


def test_orc_roundtrip_matches_parquet(spark, sf_dir, tmp_path):
    """ORC source/sink parity: the engine is format-agnostic on its
    columnar inputs — a table written as ORC reads back row-identical
    to the parquet source of truth (schema included)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    path = str(tmp_path / "docs_orc")
    docs.write.orc(path)
    back = spark.read.orc(path)
    assert back.schema == docs.schema
    assert {tuple(r) for r in back.collect()} == {
        tuple(r) for r in docs.collect()
    }


def test_normalize_event_ts_handles_both_parquet_types(spark, tmp_path):
    """The events loader must yield identical integer nanos whether the
    file carries TIMESTAMP(NANOS) (legacy generator, read as long via
    nanosAsLong) or TIMESTAMP(MICROS) NTZ (current generator)."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from legendary_data_pipeline_spark.catalog import load_table

    base = dt.datetime(2024, 1, 1)
    stamps = [base + dt.timedelta(seconds=i, microseconds=i * 7) for i in range(5)]
    cols = {
        "event_id": pa.array(range(5), pa.int64()),
        "user_id": pa.array([1] * 5, pa.int64()),
        "event_type": pa.array(["t"] * 5),
        "value": pa.array([0.0] * 5),
        "props": pa.array(["{}"] * 5),
    }
    for unit, sub in (("ns", "ns_dir"), ("us", "us_dir")):
        d = tmp_path / sub
        d.mkdir()
        t = pa.table({**cols, "ts": pa.array(stamps, pa.timestamp(unit))})
        pq.write_table(t, d / "events.parquet")

    ns = load_table(spark, str(tmp_path / "ns_dir"), "events")
    us = load_table(spark, str(tmp_path / "us_dir"), "events")
    assert dict(ns.dtypes)["ts"] == "bigint"
    assert dict(us.dtypes)["ts"] == "bigint"
    get = lambda df: {r["event_id"]: r["ts"] for r in df.collect()}
    ns_ts, us_ts = get(ns), get(us)
    assert ns_ts == us_ts
    # Spot-check absolute value: 2024-01-01T00:00:01.000007 in nanos.
    epoch = int((stamps[1] - dt.datetime(1970, 1, 1)).total_seconds() * 1e6) * 1000
    assert ns_ts[1] == epoch
