"""End-to-end CLI pipeline over a tmp warehouse (reference run order)."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from legendary_data_pipeline_spark import cli


def _run(spark, argv):
    args = cli.build_parser().parse_args(argv)
    assert args.fn(spark, args) == 0


def test_cli_pipeline_end_to_end(spark, tmp_path, monkeypatch):
    wh = str(tmp_path / "wh")
    monkeypatch.setattr(cli, "get_spark", lambda **kw: spark)

    # 01: import a vendor CSV
    csv = tmp_path / "prices.csv"
    csv.write_text(
        "id,product-name,console-name,loose-price,release-date\r\n"
        '7,"Blastoise, Base",Pokemon,"$1,000.50",1999-01-09\r\n'
        "8,Charizard,Pokemon,$50.25,1999-01-09\r\n"
    )
    _run(spark, [
        "import-pricecharting", "--warehouse", wh, "--file", str(csv),
        "--game", "pokemon", "--date", "2024-06-01",
    ])
    raw = spark.read.parquet(f"{wh}/pricecharting_prices_raw")
    assert raw.count() == 2
    # rerun converges (S5 idempotency)
    _run(spark, [
        "import-pricecharting", "--warehouse", wh, "--file", str(csv),
        "--game", "pokemon", "--date", "2024-06-01",
    ])
    assert spark.read.parquet(f"{wh}/pricecharting_prices_raw").count() == 2

    # 02: normalize scryfall payloads
    spark.createDataFrame(
        [("c1", json.dumps({"prices": {"usd": "1.23", "eur": "4.00"}}))],
        "id string, payload string",
    ).write.parquet(f"{wh}/scryfall_cards_raw")
    spark.createDataFrame(
        [(11, "mtg", "scryfall", "c1")],
        "id long, game string, canonical_source string, canonical_id string",
    ).write.parquet(f"{wh}/market_items")
    _run(spark, ["normalize-scryfall", "--warehouse", wh, "--date", "2024-06-01"])
    snaps = spark.read.parquet(f"{wh}/market_price_snapshots")
    assert snaps.count() == 2  # usd + eur

    # 03: best-of-day rollup
    _run(spark, ["build-daily", "--warehouse", wh, "--all-dates"])
    daily = spark.read.parquet(f"{wh}/market_price_daily")
    # one best row per (item, date, CURRENCY) — the reference's PK (03:191)
    by_cur = {r.currency: r.value_cents for r in daily.collect()}
    assert by_cur == {"USD": 123, "EUR": 400}

    # 10: sales rollup
    spark.createDataFrame(
        [("chz", "PSA10", 100.0, "2024-05-20 12:00:00")],
        "card_key string, grade string, sold_price_usd double, sold_at string",
    ).withColumn("sold_at", F.col("sold_at").cast("timestamp")).write.parquet(
        f"{wh}/market_sales_comps"
    )
    _run(spark, ["rollup-values", "--warehouse", wh, "--date", "2024-06-01"])
    assert spark.read.parquet(f"{wh}/market_values_daily").count() == 1

    # feeds: minimal products table, optional image dims absent
    spark.createDataFrame(
        [("p1", "Blastoise", "blastoise", "pokemon", "single", False, False,
          None, None, "NM", 10000, None, "single", 1, "active", None, "d",
          None, None)],
        "id string, title string, slug string, game string, format string,"
        " sealed boolean, is_graded boolean, grader string, grade_x10 int,"
        " condition string, price_cents long, compare_at_cents long,"
        " inventory_type string, quantity int, status string, subtitle string,"
        " description string, created_at timestamp, card_id string",
    ).write.parquet(f"{wh}/products")
    feed_out = str(tmp_path / "feed")
    _run(spark, [
        "export-feed", "--warehouse", wh, "--out", feed_out, "--format", "tsv",
    ])
    feed = spark.read.option("header", "true").option("sep", "\t").csv(feed_out)
    assert feed.count() == 1 and feed.first()["price"] == "100.00 USD"

    # revalue
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
        [("i1", "u1", "pokemon", "pk1", 2, 100, None)],
        "id string, user_id string, game string, card_id string,"
        " quantity int, cost_cents long, last_value_cents long",
    ).write.parquet(f"{wh}/user_collection_items")
    _run(spark, ["revalue", "--warehouse", wh, "--date", "2024-06-01"])
    items = spark.read.parquet(f"{wh}/user_collection_items")
    assert items.first().last_value_cents == 1250
    vals = spark.read.parquet(f"{wh}/user_collection_daily_valuations")
    assert vals.first().total_value_cents == 2500

    # run log recorded start+finish for every job
    runs = spark.read.parquet(f"{wh}/pipeline_runs")
    by_job = {
        r.job: r["count"]
        for r in runs.groupBy("job").count().collect()
    }
    assert by_job["import_pricecharting"] == 4  # 2 runs x (start+finish)
    assert all(v % 2 == 0 for v in by_job.values())


def test_cli_curate_jsonl_end_to_end(spark, sf_dir, tmp_path):
    """`curate` ingests JSONL, quarantines bad lines, dedups by content
    hash, writes the curated table, and logs the run."""
    import json

    from legendary_data_pipeline_spark.cli import build_parser

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(40)
    rows = [r.asDict() for r in docs.collect()]
    # Append an exact-duplicate text under a higher doc_id, and one
    # malformed line.
    dup = dict(rows[0], doc_id=10_000)
    src = tmp_path / "in.jsonl"
    with open(src, "w") as f:
        for r in rows + [dup]:
            f.write(json.dumps(r) + "\n")
        f.write("not json {\n")

    wh = str(tmp_path / "wh")
    args = build_parser().parse_args(
        ["curate", "--warehouse", wh, "--input", str(src)]
    )
    assert args.fn(spark, args) == 0

    curated = spark.read.parquet(f"{wh}/curated_documents")
    assert curated.count() == 40  # dup collapsed
    ids = {r["doc_id"] for r in curated.select("doc_id").collect()}
    assert rows[0]["doc_id"] in ids and 10_000 not in ids  # min-id keeper
    quarantined = spark.read.parquet(f"{wh}/curate_quarantine")
    assert quarantined.count() == 1
    assert quarantined.columns == ["raw_line"]
    runs = spark.read.parquet(f"{wh}/pipeline_runs")
    assert runs.filter("job = 'curate' AND status = 'finished'").count() == 1


def test_cli_curate_gopher_gate(spark, sf_dir, tmp_path):
    """--gopher drops documents failing the published quality rules
    (here: a too-short doc) while fluent-length docs survive."""
    import json

    from legendary_data_pipeline_spark.cli import build_parser

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    rows = [
        r.asDict()
        for r in docs.filter("n_chars > 300").limit(10).collect()
    ]
    short = {
        "doc_id": 777,
        "text": "tiny doc",
        "lang": "en",
        "source": "s",
        "n_chars": 8,
    }
    src = tmp_path / "in.jsonl"
    with open(src, "w") as f:
        for r in rows + [short]:
            f.write(json.dumps(r) + "\n")
    wh = str(tmp_path / "wh")
    args = build_parser().parse_args(
        ["curate", "--warehouse", wh, "--input", str(src), "--gopher"]
    )
    assert args.fn(spark, args) == 0
    out_ids = {
        r["doc_id"]
        for r in spark.read.parquet(f"{wh}/curated_documents").collect()
    }
    assert 777 not in out_ids          # fails the word-count gate
    assert len(out_ids) == 10          # long docs all survive


def test_cli_curate_strip_winsorize_mix(spark, sf_dir, tmp_path):
    """The three new curation gates compose: --strip-substrings drops a
    doc that is entirely corpus-duplicated text, --winsorize trims the
    token-count tails per lang, --mix-alpha applies the temperature
    gate deterministically."""
    import json

    from legendary_data_pipeline_spark.cli import build_parser

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    rows = [r.asDict() for r in docs.filter("n_chars > 200").limit(20).collect()]
    # Two NEW docs sharing one long run -> both stripped empty by
    # ExactSubstr (distinct doc_ids and trailing tokens so the exact
    # content-hash dedup upstream does NOT collapse them).
    shared = " ".join(f"tok{i}" for i in range(30))
    clones = [
        {"doc_id": 9001, "text": shared + " endA", "lang": "en",
         "source": "s", "n_chars": len(shared) + 5},
        {"doc_id": 9002, "text": shared + " endB", "lang": "en",
         "source": "s", "n_chars": len(shared) + 5},
    ]
    src = tmp_path / "in.jsonl"
    with open(src, "w") as f:
        for r in rows + clones:
            f.write(json.dumps(r) + "\n")
    # control: same input, no extra gates (fixture docs may contain
    # their own corpus near-dups, so the kept set is established by a
    # control run, not hardcoded)
    wh0 = str(tmp_path / "wh0")
    control = build_parser().parse_args(
        ["curate", "--warehouse", wh0, "--input", str(src)]
    )
    assert control.fn(spark, control) == 0
    control_ids = {
        r["doc_id"]
        for r in spark.read.parquet(f"{wh0}/curated_documents").collect()
    }

    wh = str(tmp_path / "wh")
    args = build_parser().parse_args(
        [
            "curate", "--warehouse", wh, "--input", str(src),
            "--strip-substrings", "8",
            "--winsorize", "0.0", "1.0",
            "--mix-alpha", "0.5", "--mix-budget", "1.0",
        ]
    )
    assert args.fn(spark, args) == 0
    out = spark.read.parquet(f"{wh}/curated_documents")
    ids = {r["doc_id"] for r in out.collect()}
    # the clones' shared 30-token run is corpus-duplicated -> both docs
    # lose it; their 1-token remainders survive ('endA'/'endB')
    assert {9001, 9002} <= ids
    clone_texts = {
        r["doc_id"]: r["clean_text"]
        for r in out.filter("doc_id in (9001, 9002)").collect()
    }
    assert clone_texts[9001] == "endA" and clone_texts[9002] == "endB"
    # winsorize(0,1) + budget 1.0 drop nothing: the only reducer vs the
    # control is ExactSubstr stripping fixture-internal duplicate runs
    assert ids <= control_ids
    assert len(ids) >= len(control_ids) - 5  # strip empties few docs
    # gate bookkeeping columns do not leak into the table
    assert not any(c.startswith("__") for c in out.columns)
    assert "keep" not in out.columns and "rate" not in out.columns


def test_cli_curate_nb_filter_and_split(spark, sf_dir, tmp_path):
    """`curate --nb-seeds --split-val-pct`: the NB classifier gate drops
    docs matching the negative seed's vocabulary, and the leakage-safe
    split lands every near-dup cluster wholly on one side."""
    from pyspark.sql import functions as F

    from legendary_data_pipeline_spark.cli import build_parser

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(30)
    # Two near-identical spam docs (a dup cluster) + the real corpus.
    spam = spark.createDataFrame(
        [
            (20_000, "buy cheap prize winner click now " * 8, "en", "srcX", 0),
            (20_001, "buy cheap prize winner click today " * 8, "en", "srcX", 0),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).withColumn("n_chars", F.length("text"))
    inp = str(tmp_path / "in.parquet")
    docs.unionByName(spam).write.parquet(inp)

    pos_seed = str(tmp_path / "pos.parquet")
    neg_seed = str(tmp_path / "neg.parquet")
    docs.select("doc_id", "text").write.parquet(pos_seed)
    spark.createDataFrame(
        [(i, "buy cheap prize winner click deal " * 6) for i in range(20)],
        "doc_id long, text string",
    ).write.parquet(neg_seed)

    wh = str(tmp_path / "wh")
    args = build_parser().parse_args(
        [
            "curate",
            "--warehouse",
            wh,
            "--input",
            inp,
            "--nb-seeds",
            pos_seed,
            neg_seed,
            "--split-val-pct",
            "30",
        ]
    )
    assert args.fn(spark, args) == 0

    curated = spark.read.parquet(f"{wh}/curated_documents")
    ids = {r["doc_id"] for r in curated.select("doc_id").collect()}
    # The spam cluster is classified negative and dropped.
    assert not ids & {20_000, 20_001}
    assert len(ids) == 30
    # Split column present, deterministic, cluster-consistent.
    assert {"group_key", "split"} <= set(curated.columns)
    assert set(
        r["split"] for r in curated.select("split").distinct().collect()
    ) <= {"train", "val"}
    # A parquet input has no bad lines: the quarantine is rewritten empty.
    quarantine = spark.read.parquet(f"{wh}/curate_quarantine")
    assert quarantine.schema.simpleString() == "struct<raw_line:string>"
    assert quarantine.count() == 0


def test_cli_curate_decontam_split_manifests(spark, sf_dir, tmp_path):
    """One `curate` run produces the full training handoff: a graded
    decontam report, contaminated docs dropped BEFORE the leakage-safe
    split, and train/val manifest tables with run lineage (VERDICT r5
    next-round #6)."""
    from legendary_data_pipeline_spark.cli import build_parser

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(40)
    src = tmp_path / "in_parquet"
    docs.write.parquet(str(src))

    # Benchmark = two of the corpus docs verbatim → contamination_frac
    # 1.0 for those ids, ≈0 for unrelated docs.
    contaminated_ids = [r["doc_id"] for r in docs.limit(2).collect()]
    bench = tmp_path / "bench_parquet"
    docs.limit(2).select("doc_id", "text").write.parquet(str(bench))

    wh = str(tmp_path / "wh")
    args = build_parser().parse_args(
        [
            "curate", "--warehouse", wh, "--input", str(src),
            "--benchmark", str(bench), "--contam-threshold", "0.5",
            "--split-val-pct", "30",
        ]
    )
    assert args.fn(spark, args) == 0

    report = spark.read.parquet(f"{wh}/decontam_report")
    by_id = {r["doc_id"]: r for r in report.collect()}
    for cid in contaminated_ids:
        assert by_id[cid]["contaminated"]
        assert by_id[cid]["contamination_frac"] == 1.0
    run_ids = {r["run_id"] for r in report.select("run_id").collect()}
    assert len(run_ids) == 1

    curated = spark.read.parquet(f"{wh}/curated_documents")
    curated_ids = {r["doc_id"] for r in curated.select("doc_id").collect()}
    assert not curated_ids & set(contaminated_ids)

    train = spark.read.parquet(f"{wh}/train_manifest")
    val = spark.read.parquet(f"{wh}/val_manifest")
    for m in (train, val):
        assert m.columns == [
            "doc_id", "text_sha", "group_key", "split", "run_id"
        ]
        assert {r["run_id"] for r in m.select("run_id").collect()} == run_ids
    t_ids = {r["doc_id"] for r in train.select("doc_id").collect()}
    v_ids = {r["doc_id"] for r in val.select("doc_id").collect()}
    assert t_ids and v_ids
    assert not t_ids & v_ids
    assert t_ids | v_ids == curated_ids
    # Leakage safety: every group lives wholly on one side.
    both = train.select("group_key", "split").union(
        val.select("group_key", "split")
    )
    sides = both.distinct().groupBy("group_key").count().collect()
    assert all(r["count"] == 1 for r in sides)
    # The run log records exactly one finished curate run.
    runs = spark.read.parquet(f"{wh}/pipeline_runs")
    assert runs.filter("job = 'curate' AND status = 'finished'").count() == 1


def test_cli_stats_round10_metrics(spark, tmp_path, capsys):
    """The round-10 metric surface: trend/ACF/seasonal/trimmed/partial/
    uncertainty all reachable from the CLI with JSON-lines output. The
    metrics run in-process on the test session; the `--group` rejection
    runs through `python -m`, so the entry point's exit code and stderr
    stay covered."""
    import subprocess
    import sys

    src = str(tmp_path / "series")
    spark.createDataFrame(
        [("a", t, 3 * t + 2) for t in range(10)],
        "g string, t long, v long",
    ).write.mode("overwrite").parquet(src)

    def run(metric, cols, group=None):
        argv = ["stats", "--input", src, "--metric", metric, "--cols", cols]
        if group:
            argv += ["--group", group]
        capsys.readouterr()
        _run(spark, argv)
        return [json.loads(line) for line in capsys.readouterr().out.splitlines()
                if line.startswith("{")]

    rows = run("mann_kendall", "t,v", group="g")
    assert rows[0]["tau"] == 1.0
    rows = run("theil_sen", "t,v", group="g")
    assert rows[0]["slope"] == 3.0
    rows = run("trimmed_mean", "v", group="g")
    assert rows[0]["n"] == 10
    rows = run("partial_corr", "t,v,v")
    assert rows[0]["n"] == 10
    # grouping rejected where unsupported
    bad = subprocess.run(
        [sys.executable, "-m", "legendary_data_pipeline_spark.cli",
         "stats", "--input", src, "--metric", "partial_corr",
         "--cols", "t,v,v", "--group", "g"],
        capture_output=True, text=True, timeout=600,
    )
    assert bad.returncode != 0 and "not supported" in bad.stderr


def test_read_optional_missing_table_is_none(spark, tmp_path):
    wh = str(tmp_path / "wh")
    spark.createDataFrame([(1,)], "k int").write.parquet(f"{wh}/present")
    assert cli._read_optional(spark, wh, "absent") is None
    assert cli._read_optional(spark, wh, "present").collect()[0].k == 1
