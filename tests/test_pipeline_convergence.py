"""Chained rerun-convergence proof for the reference pipeline (S5-S10).

The reference's documented run order (README.md:22-33): import 01 →
normalize 02 → daily 03 → rollup 10 → feed export, then revalue. Each
job's sink is an idempotent upsert, so running the WHOLE chain twice
over unchanged inputs must converge: every warehouse table
byte-identical (pinned via `table_checksum`'s order-independent
content hash), the exported feed file byte-identical, and the run log
carrying start+finish lineage rows for every job of both passes.
test_cli.py proves each job once; this test proves the chained
fixpoint — the property an orchestrator retry actually relies on.
"""

from __future__ import annotations

import glob
import json
import threading

import pytest
from pyspark.sql import functions as F

from legendary_data_pipeline_spark import cli
from legendary_data_pipeline_spark.operators.profiling import table_checksum


def _run(spark, argv):
    args = cli.build_parser().parse_args(argv)
    assert args.fn(spark, args) == 0


def _checksum(spark, path: str) -> tuple:
    df = spark.read.parquet(path)
    # Full-width checksum: every column stringified through the
    # checksum's canonical form. Both sides are the same engine here,
    # so double/timestamp formatting is stable by construction.
    row = table_checksum(df, df.columns).first()
    return (row["n_rows"], row["checksum"])


_TABLES = [
    "pricecharting_prices_raw",
    "market_price_snapshots",
    "market_price_daily",
    "market_values_daily",
    "user_collection_daily_valuations",
    "user_collection_items",
]


def _write_fixture(spark, tmp_path, wh):
    csv = tmp_path / "prices.csv"
    csv.write_text(
        "id,product-name,console-name,loose-price,psa-10-price,release-date\r\n"
        '7,"Blastoise, Base",Pokemon,"$1,000.50",$9,1999-01-09\r\n'
        "8,Charizard,Pokemon,$50.25,,1999-01-09\r\n"
        "9,Junk,Pokemon,N/A,,bad-date\r\n"
    )
    spark.createDataFrame(
        [
            ("c1", json.dumps({"prices": {"usd": "1.23", "eur": "4.00",
                                          "tix": "0.5"}})),
            ("c2", json.dumps({"prices": {"usd": "10.00"}})),
        ],
        "id string, payload string",
    ).write.parquet(f"{wh}/scryfall_cards_raw")
    spark.createDataFrame(
        [(11, "mtg", "scryfall", "c1"), (12, "mtg", "scryfall", "c2")],
        "id long, game string, canonical_source string, canonical_id string",
    ).write.parquet(f"{wh}/market_items")
    spark.createDataFrame(
        [
            ("chz", "PSA10", 100.0, "2024-05-20 12:00:00"),
            ("chz", "PSA10", 120.0, "2024-05-25 12:00:00"),
            ("bls", "raw", 40.0, "2024-05-28 09:00:00"),
        ],
        "card_key string, grade string, sold_price_usd double, sold_at string",
    ).withColumn("sold_at", F.col("sold_at").cast("timestamp")).write.parquet(
        f"{wh}/market_sales_comps"
    )
    spark.createDataFrame(
        [
            ("p1", "Blastoise", "blastoise", "pokemon", "single", False,
             False, None, None, "NM", 10000, None, "single", 1, "active",
             None, "d", None, None),
            ("p2", "Charizard", "charizard", "pokemon", "single", False,
             True, "PSA", 100, None, 250000, 300000, "single", 1, "active",
             "Holo", "graded", None, None),
        ],
        "id string, title string, slug string, game string, format string,"
        " sealed boolean, is_graded boolean, grader string, grade_x10 int,"
        " condition string, price_cents long, compare_at_cents long,"
        " inventory_type string, quantity int, status string, subtitle string,"
        " description string, created_at timestamp, card_id string",
    ).write.parquet(f"{wh}/products")
    spark.createDataFrame(
        [("pk1", 12.5, None, None, None, None, None, None)],
        "card_id string, market_price double, mid_price double, normal string,"
        " reverse_holofoil string, holofoil string,"
        " first_edition_holofoil string, first_edition_normal string",
    ).write.parquet(f"{wh}/tcg_card_prices_tcgplayer")
    spark.createDataFrame(
        [("yg1", "2.00", None, None, None, None)],
        "card_id string, tcgplayer_price string, cardmarket_price string,"
        " amazon_price string, coolstuffinc_price string, ebay_price string",
    ).write.parquet(f"{wh}/ygo_card_prices")
    spark.createDataFrame(
        [("mg1", 5.0)], "scryfall_id string, effective_usd double"
    ).write.parquet(f"{wh}/mtg_prices_effective")
    spark.createDataFrame(
        [
            ("i1", "u1", "pokemon", "pk1", 2, 100, None),
            ("i2", "u1", "yugioh", "yg1", 1, 50, 7),
        ],
        "id string, user_id string, game string, card_id string,"
        " quantity int, cost_cents long, last_value_cents long",
    ).write.parquet(f"{wh}/user_collection_items")
    return str(csv)


def _chain(wh, csv, feed_out):
    """argv of each command of the chain, in run order."""
    return [
        ["import-pricecharting", "--warehouse", wh, "--file", csv,
         "--game", "pokemon", "--date", "2024-06-01"],
        ["normalize-scryfall", "--warehouse", wh, "--date", "2024-06-01"],
        ["build-daily", "--warehouse", wh, "--all-dates"],
        ["rollup-values", "--warehouse", wh, "--date", "2024-06-01"],
        ["export-feed", "--warehouse", wh, "--out", feed_out,
         "--format", "tsv"],
        ["revalue", "--warehouse", wh, "--date", "2024-06-01"],
    ]


def _run_chain(spark, wh, csv, feed_out):
    for argv in _chain(wh, csv, feed_out):
        _run(spark, argv)


def _feed_bytes(feed_out: str) -> bytes:
    parts = sorted(glob.glob(f"{feed_out}/part-*"))
    assert parts, f"no feed part files under {feed_out}"
    return b"".join(open(p, "rb").read() for p in parts)


def test_full_chain_rerun_converges(spark, tmp_path, monkeypatch):
    wh = str(tmp_path / "wh")
    monkeypatch.setattr(cli, "get_spark", lambda **kw: spark)
    csv = _write_fixture(spark, tmp_path, wh)

    feed1 = str(tmp_path / "feed1")
    _run_chain(spark, wh, csv, feed1)
    first = {t: _checksum(spark, f"{wh}/{t}") for t in _TABLES}
    # Every table non-empty after pass 1 — a checksum match of two
    # empty tables would prove nothing.
    assert all(n > 0 for n, _ in first.values()), first

    # The feed is the reference's 37-column Google Merchant contract
    # (exportGoogleMerchantFeed.mjs header; plans/jobs.py:342).
    feed_df = (
        spark.read.option("header", "true").option("sep", "\t").csv(feed1)
    )
    assert len(feed_df.columns) == 37, feed_df.columns
    assert feed_df.count() == 2
    bytes1 = _feed_bytes(feed1)

    feed2 = str(tmp_path / "feed2")
    _run_chain(spark, wh, csv, feed2)
    second = {t: _checksum(spark, f"{wh}/{t}") for t in _TABLES}

    # The chained fixpoint: byte-identical tables and feed.
    assert second == first
    assert _feed_bytes(feed2) == bytes1

    # Run-log lineage (S10): start+finish per job per pass, with the
    # import's file sha256 recorded both times.
    runs = spark.read.parquet(f"{wh}/pipeline_runs")
    by_job = {r["job"]: r["count"]
              for r in runs.groupBy("job").count().collect()}
    for job in ("import_pricecharting", "normalize_scryfall",
                "build_market_price_daily", "rollup_market_values",
                "export_feed", "revalue_collection"):
        assert by_job.get(job) == 4, (job, by_job)  # 2 runs x (start+finish)
    shas = {
        r["file_sha256"]
        for r in runs.filter(
            (F.col("job") == "import_pricecharting")
            & F.col("file_sha256").isNotNull()
        ).collect()
    }
    assert len(shas) == 1  # same input file, same recorded lineage hash


@pytest.fixture(scope="module")
def chain_once(spark, tmp_path_factory):
    """One pass of the chain; returns the warehouse and each job's logged
    `finished` row_count, read before any test appends more runs."""
    tmp = tmp_path_factory.mktemp("runlog")
    wh = str(tmp / "wh")
    _run_chain(spark, wh, _write_fixture(spark, tmp, wh), str(tmp / "feed"))
    finished = spark.read.parquet(f"{wh}/pipeline_runs").filter(
        F.col("status") == "finished"
    )
    return wh, {r["job"]: r["row_count"] for r in finished.collect()}


def test_run_log_row_counts_match_outputs(spark, chain_once):
    """Each job's logged row_count (observed from its write) equals a count
    of what it wrote, taken here from the tables."""
    wh, logged = chain_once

    def rows(table):
        return spark.read.parquet(f"{wh}/{table}").count()

    assert logged == {
        "import_pricecharting": rows("pricecharting_prices_raw"),
        "normalize_scryfall": rows("market_price_snapshots"),
        "build_market_price_daily": rows("market_price_daily"),  # --all-dates
        "rollup_market_values": rows("market_values_daily"),
        "export_feed": rows("products"),  # one feed row per product
        "revalue_collection": rows("user_collection_daily_valuations"),
    }


def test_build_daily_without_snapshots_logs_zero(spark, chain_once):
    """A day with no snapshots writes nothing and logs 0; reading the
    observed count of that empty write must not block."""
    wh, logged = chain_once
    argv = ["build-daily", "--warehouse", wh, "--date", "2030-01-01"]
    errors = []

    def run():
        try:
            _run(spark, argv)
        except Exception as exc:  # re-raised below, in the test thread
            errors.append(exc)

    worker = threading.Thread(target=run, daemon=True)
    worker.start()
    worker.join(300)
    assert not worker.is_alive(), "build-daily still running after 300 s"
    if errors:
        raise errors[0]
    finished = spark.read.parquet(f"{wh}/pipeline_runs").filter(
        (F.col("job") == "build_market_price_daily")
        & (F.col("status") == "finished")
    )
    assert sorted(r["row_count"] for r in finished.collect()) == sorted(
        [0, logged["build_market_price_daily"]]
    )


def test_run_log_writes_one_file_per_event(spark, chain_once):
    wh, _ = chain_once
    files = glob.glob(f"{wh}/pipeline_runs/*.parquet")
    assert len(files) == spark.read.parquet(f"{wh}/pipeline_runs").count()


# Spark jobs each command may run on this fixture, (day, re-run). Run-log
# events, the upsert swap and revalue's one join run none of their own;
# what is left is schema inference of each parquet read, broadcasts,
# shuffle stages and the writes. A new bookkeeping job fails this test.
_JOB_BUDGET = {
    "import-pricecharting": (6, 7),
    "normalize-scryfall": (5, 6),
    "build-daily": (3, 3),
    "rollup-values": (3, 3),
    "export-feed": (6, 6),
    "revalue": (11, 11),
}


def test_pipeline_commands_stay_within_job_budget(spark, tmp_path):
    wh = str(tmp_path / "wh")
    csv = _write_fixture(spark, tmp_path, wh)
    sc = spark.sparkContext
    over = {}
    for rerun in (0, 1):
        for argv in _chain(wh, csv, str(tmp_path / f"feed{rerun}")):
            group = f"job-budget-{tmp_path.name}-{rerun}-{argv[0]}"
            sc.setJobGroup(group, group)
            try:
                _run(spark, argv)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            jobs = len(sc.statusTracker().getJobIdsForGroup(group))
            if jobs > _JOB_BUDGET[argv[0]][rerun]:
                over[argv[0], ("day", "re-run")[rerun]] = jobs
    assert not over, f"jobs over budget {over}; budget {_JOB_BUDGET}"
