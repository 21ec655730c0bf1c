"""Command-line entry points for the five pipeline jobs.

Mirrors the reference's script surface (README.md:22-33 run order and
flags: `--date/--since/--until/--all-dates/--currency`,
`03_build_market_price_daily.js:54-63`; `--game --file`
`01_import_pricecharting_csv.js:100-117`) over a parquet warehouse
directory: each table lives at `<warehouse>/<name>`, writers are the
idempotent sinks from `operators.upsert`, and every run is recorded in
`<warehouse>/pipeline_runs` (S10). A run's `row_count` is observed from
the write itself (`DataFrame.observe` on the frame handed to the
writer), so logging it costs no second pass over the plan, and the
run-log events are committed from the driver, so they cost no Spark job
either: a command's jobs are its reads, shuffles and writes. `revalue`
writes the repriced item rows from its one items ⋈ prices join straight
into the swap upsert of the items table.

    python -m legendary_data_pipeline_spark.cli import-pricecharting \
        --warehouse /data/wh --file prices.csv --game pokemon --date 2026-08-13
    python -m legendary_data_pipeline_spark.cli build-daily \
        --warehouse /data/wh --since 2026-08-01 --until 2026-08-13
"""

from __future__ import annotations

import argparse
import sys
from datetime import date as _date

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from legendary_data_pipeline_spark.plans import jobs
from legendary_data_pipeline_spark.session import get_spark
from legendary_data_pipeline_spark.sources.csv_alias import (
    PRICECHARTING_ALIASES,
    read_csv_with_aliases,
)
from legendary_data_pipeline_spark.sources.feed_writer import write_feed
from legendary_data_pipeline_spark.sources.layout import hadoop_fs
from legendary_data_pipeline_spark.sources.runlog import (
    finish_run,
    sha256_file,
    start_run,
)


def _table(warehouse: str, name: str) -> str:
    return f"{warehouse.rstrip('/')}/{name}"


def _read(spark: SparkSession, warehouse: str, name: str) -> DataFrame:
    return spark.read.parquet(_table(warehouse, name))


def _read_optional(
    spark: SparkSession, warehouse: str, name: str
) -> DataFrame | None:
    """An optional table (the reference probes these with try/catch):
    None when its path does not exist; a present table that fails to
    read raises."""
    fs, path = hadoop_fs(spark, _table(warehouse, name))
    return _read(spark, warehouse, name) if fs.exists(path) else None


def _today() -> str:
    return _date.today().isoformat()


def _observed(df: DataFrame) -> tuple[DataFrame, Observation]:
    """`df` counting its rows into the returned Observation (`.get["rows"]`)
    during whatever action consumes it — no extra job."""
    obs = Observation()
    return df.observe(obs, F.count(F.lit(1)).alias("rows")), obs


def cmd_import_pricecharting(spark: SparkSession, args) -> int:
    from legendary_data_pipeline_spark.operators.upsert import (
        write_upsert_parquet,
    )

    log = _table(args.warehouse, "pipeline_runs")
    run_id = start_run(
        spark,
        log,
        "import_pricecharting",
        file_name=args.file,
        file_sha256=sha256_file(args.file),
    )
    aliased = read_csv_with_aliases(spark, args.file, PRICECHARTING_ALIASES)
    out = jobs.import_pricecharting(aliased, args.game, args.date)
    write_upsert_parquet(
        _table(args.warehouse, "pricecharting_prices_raw"),
        out,
        ["game", "pricecharting_id", "source_date"],
        spark,
    )
    # Logs the size of the merged table, which the input frame does not
    # carry, so this one is read back rather than observed.
    n = spark.read.parquet(
        _table(args.warehouse, "pricecharting_prices_raw")
    ).count()
    finish_run(spark, log, run_id, "import_pricecharting", n)
    return 0


def cmd_normalize_scryfall(spark: SparkSession, args) -> int:
    from legendary_data_pipeline_spark.operators.upsert import (
        write_upsert_parquet,
    )

    log = _table(args.warehouse, "pipeline_runs")
    run_id = start_run(spark, log, "normalize_scryfall")
    out, obs = _observed(jobs.normalize_scryfall(
        _read(spark, args.warehouse, "scryfall_cards_raw"),
        _read(spark, args.warehouse, "market_items"),
        args.date,
    ))
    write_upsert_parquet(
        _table(args.warehouse, "market_price_snapshots"),
        out,
        [
            "market_item_id",
            "source",
            "as_of_date",
            "currency",
            "price_type",
            "condition",
        ],
        spark,
        order_within_source=[F.col("value_cents").desc()],
    )
    finish_run(spark, log, run_id, "normalize_scryfall", obs.get["rows"])
    return 0


def cmd_build_daily(spark: SparkSession, args) -> int:
    from legendary_data_pipeline_spark.operators.upsert import (
        write_upsert_partitioned,
    )

    log = _table(args.warehouse, "pipeline_runs")
    run_id = start_run(spark, log, "build_market_price_daily")
    out, obs = _observed(jobs.build_market_price_daily(
        _read(spark, args.warehouse, "market_price_snapshots"),
        date=None if args.all_dates else args.date,
        since=args.since,
        until=args.until,
        currency=args.currency,
    ))
    write_upsert_partitioned(
        _table(args.warehouse, "market_price_daily"),
        out,
        ["as_of_date"],
        spark,
    )
    finish_run(spark, log, run_id, "build_market_price_daily", obs.get["rows"])
    return 0


def cmd_rollup_values(spark: SparkSession, args) -> int:
    from legendary_data_pipeline_spark.operators.upsert import (
        write_upsert_partitioned,
    )

    log = _table(args.warehouse, "pipeline_runs")
    run_id = start_run(spark, log, "rollup_market_values")
    out, obs = _observed(jobs.rollup_market_values(
        _read(spark, args.warehouse, "market_sales_comps"), args.date
    ))
    write_upsert_partitioned(
        _table(args.warehouse, "market_values_daily"),
        out,
        ["as_of_date"],
        spark,
    )
    finish_run(spark, log, run_id, "rollup_market_values", obs.get["rows"])
    return 0


def cmd_export_feed(spark: SparkSession, args) -> int:
    wh = args.warehouse
    log = _table(wh, "pipeline_runs")
    run_id = start_run(spark, log, "export_feed")
    # Observed above the feed's sort, which the range-sort's sampling job
    # does not run, so only the write counts rows.
    feed, obs = _observed(jobs.export_google_merchant_feed(
        _read(spark, wh, "products"),
        _read_optional(spark, wh, "tcg_cards"),
        _read_optional(spark, wh, "ygo_card_images"),
        _read_optional(spark, wh, "scryfall_cards_raw"),
        site_base=args.site_base,
    ))
    write_feed(feed, args.out, fmt=args.format)
    finish_run(spark, log, run_id, "export_feed", obs.get["rows"])
    return 0


def cmd_revalue(spark: SparkSession, args) -> int:
    from legendary_data_pipeline_spark.operators.upsert import (
        write_upsert_partitioned,
        write_upsert_parquet,
    )

    log = _table(args.warehouse, "pipeline_runs")
    run_id = start_run(spark, log, "revalue_collection")
    prices = jobs.resolve_prices(
        _read(spark, args.warehouse, "tcg_card_prices_tcgplayer"),
        _read(spark, args.warehouse, "ygo_card_prices"),
        _read(spark, args.warehouse, "mtg_prices_effective"),
        tcg_ebay=_read_optional(spark, args.warehouse, "tcg_card_prices_ebay"),
    )
    repriced, valuations = jobs.revalue_collection(
        _read(spark, args.warehouse, "user_collection_items"), prices, args.date
    )
    valuations, obs = _observed(valuations)
    # S7: replace the day's valuations FIRST — `valuations` lineage scans
    # the items files, which the S8 rewrite below swaps out.
    write_upsert_partitioned(
        _table(args.warehouse, "user_collection_daily_valuations"),
        valuations,
        ["as_of_date"],
        spark,
    )
    # S8: bulk keyed update of item values; the repriced rows are the
    # whole items table with the column replaced.
    write_upsert_parquet(
        _table(args.warehouse, "user_collection_items"), repriced, ["id"], spark
    )
    finish_run(spark, log, run_id, "revalue_collection", obs.get["rows"])
    return 0


def cmd_curate(spark: SparkSession, args) -> int:
    """End-to-end corpus curation: ingest (JSONL or parquet) → quality/
    PII/content-hash stage → exact dedup (min-id keeper) → curated
    parquet + JSONL quarantine, with run/lineage logging.

    The CLI form of the continuous pipeline (streaming/curation.py) for
    batch corpora — same stage function, same keyed-dedup convention, so
    a batch backfill and the stream produce identical curated tables.
    """
    from legendary_data_pipeline_spark.sources.jsonl import (
        quarantine,
        read_jsonl,
    )
    from legendary_data_pipeline_spark.streaming.curation import (
        DOCUMENTS_SCHEMA,
        curate_documents,
    )

    from legendary_data_pipeline_spark.operators.ranking import best_of_group

    log = _table(args.warehouse, "pipeline_runs")
    run_id = start_run(spark, log, "curate", file_name=args.input)
    pinned = None
    if args.input.endswith((".jsonl", ".json")):
        raw, bad, pinned = quarantine(
            read_jsonl(spark, args.input, DOCUMENTS_SCHEMA)
        )
        n_bad = bad.count()
    else:
        raw, n_bad = spark.read.parquet(args.input), 0
        bad = spark.range(0).select(F.lit(None).cast("string").alias("raw_line"))
    # ALWAYS rewrite the quarantine table (both branches, even when
    # empty) — a rerun must never leave a previous run's bad lines
    # behind for triage to misattribute. Parquet, not JSON: an empty
    # JSON directory cannot be read back (no schema to infer).
    bad.write.mode("overwrite").parquet(
        _table(args.warehouse, "curate_quarantine")
    )
    curated = curate_documents(raw)
    unique = best_of_group(curated, ["text_sha"], [F.col("doc_id").asc()])
    if args.min_quality is not None:
        unique = unique.filter(F.col("quality_score") >= args.min_quality)
    if args.gopher:
        from legendary_data_pipeline_spark.operators.curation import (
            gopher_gates,
        )

        # Gates need the ORIGINAL text; curated rows carry clean_text.
        gates = gopher_gates(
            unique.select("doc_id", F.col("clean_text").alias("text"))
        ).select("doc_id", "gopher_keep")
        unique = unique.join(gates, "doc_id").filter("gopher_keep").drop(
            "gopher_keep"
        )
    if args.nb_seeds is not None:
        from legendary_data_pipeline_spark.operators.classifier import (
            score_nb,
            train_nb,
        )

        pos = spark.read.parquet(args.nb_seeds[0])
        neg = spark.read.parquet(args.nb_seeds[1])
        weights, prior = train_nb(pos, neg)
        scored = score_nb(
            unique.select("doc_id", F.col("clean_text").alias("text")),
            weights,
            prior,
        )
        unique = unique.join(
            scored.filter("predicted_pos").select("doc_id"),
            "doc_id",
            "left_semi",
        )
    if args.strip_substrings:
        from legendary_data_pipeline_spark.operators.substrings import (
            strip_duplicated_substrings,
        )
        from legendary_data_pipeline_spark.operators.textstats import (
            quality_score,
        )

        # normalize_untouched=False: only documents that actually lose a
        # span are rebuilt token-joined; untouched text stays
        # byte-for-byte (newlines/paragraphs preserved).
        stripped = strip_duplicated_substrings(
            unique.select("doc_id", F.col("clean_text").alias("text")),
            n=args.strip_substrings,
            normalize_untouched=False,
        ).select("doc_id", F.col("clean_text").alias("__stripped"))
        # Docs that were entirely duplicated text strip to '' — drop them.
        unique = (
            unique.drop("clean_text")
            .join(stripped, "doc_id")
            .withColumnRenamed("__stripped", "clean_text")
            .filter(F.col("clean_text") != "")
        )
        # Re-score the POST-strip text so the published token_count /
        # quality columns describe the text actually stored (text_sha
        # stays the original content hash — it is the dedup identity).
        rescored = quality_score(
            unique.select("doc_id", F.col("clean_text").alias("text"))
        )
        unique = unique.drop(
            "token_count", "quality_score", "quality_bucket"
        ).join(rescored, "doc_id")
    if args.winsorize or args.mix_alpha is not None:
        from legendary_data_pipeline_spark.operators.dedup import tokens_expr

        unique = unique.withColumn(
            "__n_tokens", F.size(tokens_expr("clean_text")).cast("long")
        )
    if args.winsorize:
        from legendary_data_pipeline_spark.operators.curation import (
            winsorize_outliers,
        )

        lo, hi = args.winsorize
        unique = (
            winsorize_outliers(
                unique, "__n_tokens", group_col="lang", lo=lo, hi=hi
            )
            .filter("keep")
            .drop("lo_bound", "hi_bound", "keep")
        )
    if args.mix_alpha is not None:
        from legendary_data_pipeline_spark.operators.curation import (
            temperature_mix,
        )

        unique = (
            temperature_mix(
                unique,
                alpha=args.mix_alpha,
                budget_frac=args.mix_budget,
                tokens_col="__n_tokens",
            )
            .filter("keep")
            .drop("rate", "keep")
        )
    unique = unique.drop("__n_tokens")
    if args.benchmark is not None:
        from legendary_data_pipeline_spark.operators.curation import (
            contamination_scores,
        )

        # Eval-set decontamination as part of the SAME run: graded
        # per-doc shingle-overlap report persisted for audit, and
        # contaminated docs dropped BEFORE the split so the val side
        # can't inherit benchmark text. The benchmark is eval-suite-
        # sized → the probe broadcasts; the corpus never shuffles on
        # anything but doc_id (contamination_scores contract).
        bench = spark.read.parquet(args.benchmark)
        report = contamination_scores(
            unique.select("doc_id", F.col("clean_text").alias("text")),
            bench.select("doc_id", "text"),
            flag_threshold=args.contam_threshold,
        )
        report.withColumn("run_id", F.lit(run_id)).write.mode(
            "overwrite"
        ).parquet(_table(args.warehouse, "decontam_report"))
        flagged = spark.read.parquet(
            _table(args.warehouse, "decontam_report")
        )
        unique = unique.join(
            flagged.filter("contaminated").select("doc_id"),
            "doc_id",
            "left_anti",
        )
    if args.split_val_pct is not None:
        from legendary_data_pipeline_spark.operators.curation import (
            leakage_safe_split,
        )
        from legendary_data_pipeline_spark.operators.graph import (
            near_dup_components,
        )

        comps = near_dup_components(
            unique.select("doc_id", F.col("clean_text").alias("text"))
        )
        unique = leakage_safe_split(
            unique, comps, val_pct=args.split_val_pct
        )
    unique.write.mode("overwrite").parquet(
        _table(args.warehouse, "curated_documents")
    )
    n_out = spark.read.parquet(
        _table(args.warehouse, "curated_documents")
    ).count()
    if args.split_val_pct is not None:
        # Train/val MANIFESTS with run lineage: id + content hash +
        # leakage group + split + run_id, one table per side — the
        # handoff artifact a training job consumes without re-deriving
        # the split. Written from the PUBLISHED curated table so the
        # manifests can never disagree with it.
        cur = spark.read.parquet(_table(args.warehouse, "curated_documents"))
        for side in ("train", "val"):
            cur.filter(F.col("split") == side).select(
                "doc_id",
                "text_sha",
                "group_key",
                "split",
                F.lit(run_id).alias("run_id"),
            ).write.mode("overwrite").parquet(
                _table(args.warehouse, f"{side}_manifest")
            )
    finish_run(spark, log, run_id, "curate", n_out)
    if pinned is not None:
        # Release exactly the frame quarantine() pinned — never the
        # whole session cache.
        pinned.unpersist()
    print(f"curate: wrote {n_out} docs, quarantined {n_bad} lines")
    return 0


def cmd_dq(spark: SparkSession, args) -> int:
    """Data-quality audit of a parquet table: column profile +
    constraint report, written next to the warehouse and summarized on
    stdout. Exit code 1 when any constraint fails — the CI-gate form of
    the reference's per-row import guards (01:60-88).

    Checks come from flags: `--not-null a,b` (per-column NOT NULL),
    `--unique-key a,b` (composite key uniqueness), `--check name:expr`
    (any boolean SQL expression, repeatable). Everything folds into one
    scan for the row-level checks plus one distinct pass per unique key.
    """
    import json as _json

    from legendary_data_pipeline_spark.operators.profiling import (
        check_constraints,
        check_unique,
        profile_columns,
    )

    # argv-only validation FIRST: a malformed --check must fail before
    # the run is logged or the full-table profile scan is paid for
    checks: dict[str, F.Column] = {}
    for c in (args.not_null.split(",") if args.not_null else []):
        checks[f"{c}_not_null"] = F.col(c).isNotNull()
    for spec in args.check or []:
        name, _, expr = spec.partition(":")
        if not expr:
            raise SystemExit(f"--check needs name:expr, got {spec!r}")
        if name in checks:
            # a silent dict overwrite would drop a requested constraint
            # (e.g. --not-null price + --check price_not_null:…)
            raise SystemExit(f"duplicate check name {name!r}")
        checks[name] = F.expr(expr)
    if args.drift_baseline and not args.drift_col:
        raise SystemExit("--drift-baseline requires --drift-col")

    df = spark.read.parquet(args.input)
    cols = args.columns.split(",") if args.columns else None
    log = _table(args.warehouse, "pipeline_runs")
    run_id = start_run(spark, log, "dq", file_name=args.input)

    profile = profile_columns(
        df, cols, exact_distinct=not args.approx_distinct
    )
    profile.write.mode("overwrite").parquet(
        _table(args.warehouse, "dq_profile")
    )

    reports = []
    if checks:
        reports.append(check_constraints(df, checks))
    if args.unique_key:
        reports.append(check_unique(df, args.unique_key.split(",")))
    psi_alerted = False
    if args.drift_baseline:
        from legendary_data_pipeline_spark.operators.profiling import (
            psi_drift,
        )

        baseline = spark.read.parquet(args.drift_baseline)
        drift = psi_drift(baseline, df, args.drift_col)
        drift.write.mode("overwrite").parquet(
            _table(args.warehouse, "dq_drift")
        )
        drift_rows = spark.read.parquet(
            _table(args.warehouse, "dq_drift")
        ).collect()
        psi_total = drift_rows[0]["psi"] if drift_rows else None
        psi_alerted = psi_total is not None and psi_total > args.psi_alert
    n_failed = 0
    if reports:
        report = reports[0]
        for extra in reports[1:]:
            report = report.unionByName(extra)
        report.write.mode("overwrite").parquet(
            _table(args.warehouse, "dq_checks")
        )
        rows = spark.read.parquet(_table(args.warehouse, "dq_checks"))
        n_failed = rows.filter(~F.col("passed")).count()
    # read the already-written n_cols-row profile back rather than
    # re-running the full-table aggregation for the summary numbers
    prof_rows = spark.read.parquet(_table(args.warehouse, "dq_profile")).collect()
    n_rows = max((r["n_rows"] for r in prof_rows), default=0)
    failed = n_failed > 0 or psi_alerted
    finish_run(
        spark, log, run_id, "dq", n_rows,
        status="finished" if not failed else "failed",
    )
    summary = {
        "job": "dq",
        "input": args.input,
        "rows": n_rows,
        "columns_profiled": len(prof_rows),
        "checks": len(checks) + (1 if args.unique_key else 0),
        "checks_failed": n_failed,
    }
    if args.drift_baseline:
        summary["psi"] = psi_total
        summary["psi_alert"] = psi_alerted
    print(_json.dumps(summary))
    return 0 if not failed else 1


def cmd_sql(spark: SparkSession, args) -> int:
    """Ad-hoc SQL over the warehouse — the analytics front door.

    Every parquet table in `--warehouse` (a `<name>` directory or a
    `<name>.parquet` file, so a testdata dir works directly) is
    registered as a temp view named after it; the query then runs with
    the full engine session (AQE, shuffle sizing — `ensure_engine_confs`
    applies through `get_spark`). Results stream to stdout as JSON
    lines (driver-bounded by --limit) or to `--out` as parquet with no
    driver materialization at all.
    """
    import json as _json
    import os

    registered = []
    wh = args.warehouse.rstrip("/")
    for entry in sorted(os.listdir(wh)):
        path = os.path.join(wh, entry)
        name = entry[:-8] if entry.endswith(".parquet") else entry
        if not (os.path.isdir(path) or entry.endswith(".parquet")):
            continue
        try:
            spark.read.parquet(path).createOrReplaceTempView(name)
            registered.append(name)
        except Exception:
            continue  # non-parquet directory (checkpoints, feeds, …)
    result = spark.sql(args.query)
    if args.out:
        result.write.mode("overwrite").parquet(args.out)
        n = spark.read.parquet(args.out).count()
        print(
            _json.dumps(
                {"job": "sql", "rows": n, "out": args.out,
                 "tables": registered}
            )
        )
        return 0
    shown = 0
    for row in result.limit(args.limit).toJSON().toLocalIterator():
        print(row)
        shown += 1
    print(
        _json.dumps({"job": "sql", "rows_shown": shown,
                     "limit": args.limit, "tables": registered}),
        file=sys.stderr,
    )
    return 0


def cmd_stats(spark: SparkSession, args) -> int:
    """Statistical analyses over a parquet table — the CLI face of the
    operators/stats.py family. One metric per invocation:

      corr | spearman  --cols a,b,c        pairwise matrices
      kendall          --cols a,b          tau-b for one ordinal pair
      gini             --cols v [--group g]  concentration per group
      cusum            --cols order,value [--group g]  changepoint curve
      km               --cols duration,event  Kaplan-Meier curve
      mann_kendall     --cols t,v [--group g]  monotone-trend test
      theil_sen        --cols t,v [--group g]  robust trend line
      acf              --cols t,v [--group g]  autocorrelation lags 1..7
      seasonal         --cols t,v [--group g]  period-7 decomposition
      trimmed_mean     --cols v [--group g]  5% symmetric trimmed mean
      partial_corr     --cols x,y,z         r_xy controlling z
      uncertainty      --cols x,y           Theil's U dependency strength

    Results stream to stdout as JSON lines (or --out parquet). Exact
    cross-engine-deterministic math throughout — see each operator's
    docstring for the plan shape.
    """
    import json as _json

    from legendary_data_pipeline_spark.operators import stats as S

    df = spark.read.parquet(args.input)
    cols = args.cols.split(",") if args.cols else []
    groups = args.group.split(",") if args.group else []
    m = args.metric
    # Fail loud, not silent: only the seven metrics below support
    # grouping. Accepting-and-ignoring --group for the others would hand
    # back ungrouped results the user believes are per-group.
    grouped_metrics = (
        "gini", "cusum", "mann_kendall", "theil_sen", "acf",
        "seasonal", "trimmed_mean",
    )
    if groups and m not in grouped_metrics:
        raise SystemExit(
            f"--group is not supported for metric {m!r} "
            f"(grouping applies to: {', '.join(grouped_metrics)})"
        )
    if m in ("corr", "spearman"):
        if len(cols) < 2:
            raise SystemExit(f"{m} needs --cols with >= 2 columns")
        fn = S.correlation_matrix if m == "corr" else S.spearman_matrix
        result = fn(df, cols)
    elif m == "kendall":
        if len(cols) != 2:
            raise SystemExit("kendall needs --cols a,b (exactly two)")
        result = S.kendall_tau_b(df, cols[0], cols[1])
    elif m == "gini":
        if len(cols) != 1:
            raise SystemExit("gini needs --cols v (exactly one)")
        result = S.gini_concentration(df, cols[0], group_cols=groups)
    elif m == "cusum":
        if len(cols) != 2:
            raise SystemExit("cusum needs --cols order,value")
        result = S.cusum_curve(df, cols[0], cols[1], group_cols=groups)
    elif m == "km":
        if len(cols) != 2:
            raise SystemExit("km needs --cols duration,event")
        result = S.kaplan_meier(df, cols[0], cols[1])
    elif m in ("mann_kendall", "theil_sen", "acf", "seasonal"):
        if len(cols) != 2:
            raise SystemExit(f"{m} needs --cols t,v (exactly two)")
        fn = {
            "mann_kendall": S.mann_kendall,
            "theil_sen": S.theil_sen_trend,
            "acf": S.autocorrelation,
            "seasonal": S.seasonal_decompose,
        }[m]
        result = fn(df, cols[0], cols[1], group_cols=groups)
    elif m == "trimmed_mean":
        if len(cols) != 1:
            raise SystemExit("trimmed_mean needs --cols v (exactly one)")
        result = S.trimmed_mean(df, cols[0], group_cols=groups)
    elif m == "partial_corr":
        if len(cols) != 3:
            raise SystemExit("partial_corr needs --cols x,y,z")
        result = S.partial_correlation(df, cols[0], cols[1], cols[2])
    elif m == "uncertainty":
        if len(cols) != 2:
            raise SystemExit("uncertainty needs --cols x,y")
        result = S.uncertainty_coefficient(df, cols[0], cols[1])
    else:  # pragma: no cover - argparse choices guard this
        raise SystemExit(f"unknown metric {m!r}")
    if args.out:
        result.write.mode("overwrite").parquet(args.out)
        n = spark.read.parquet(args.out).count()
        print(_json.dumps({"job": "stats", "metric": m, "rows": n,
                           "out": args.out}))
        return 0
    shown = 0
    for row in result.limit(args.limit).toJSON().toLocalIterator():
        print(row)
        shown += 1
    print(
        _json.dumps({"job": "stats", "metric": m, "rows_shown": shown}),
        file=sys.stderr,
    )
    return 0


def build_parser() -> argparse.ArgumentParser:
    parser = argparse.ArgumentParser(prog="legendary_data_pipeline_spark")
    parser.add_argument("--master", default=None)
    sub = parser.add_subparsers(dest="command", required=True)

    def common(p):
        p.add_argument("--warehouse", required=True)
        p.add_argument("--date", default=_today())

    p = sub.add_parser("import-pricecharting")
    common(p)
    p.add_argument("--file", required=True)
    p.add_argument("--game", required=True, choices=sorted(jobs.VALID_GAMES))
    p.set_defaults(fn=cmd_import_pricecharting)

    p = sub.add_parser("normalize-scryfall")
    common(p)
    p.set_defaults(fn=cmd_normalize_scryfall)

    p = sub.add_parser("build-daily")
    common(p)
    p.add_argument("--since", default=None)
    p.add_argument("--until", default=None)
    p.add_argument("--currency", default=None)
    p.add_argument("--all-dates", action="store_true")
    p.set_defaults(fn=cmd_build_daily)

    p = sub.add_parser("rollup-values")
    common(p)
    p.set_defaults(fn=cmd_rollup_values)

    p = sub.add_parser("export-feed")
    common(p)
    p.add_argument("--out", required=True)
    p.add_argument("--format", default="tsv", choices=["tsv", "csv"])
    p.add_argument("--site-base", default="https://example.com")
    p.set_defaults(fn=cmd_export_feed)

    p = sub.add_parser("revalue")
    common(p)
    p.set_defaults(fn=cmd_revalue)

    p = sub.add_parser("curate")
    common(p)
    p.add_argument("--input", required=True, help="JSONL file or parquet dir")
    p.add_argument("--min-quality", type=float, default=None)
    p.add_argument(
        "--gopher",
        action="store_true",
        help="apply the document-level Gopher quality gates",
    )
    p.add_argument(
        "--strip-substrings",
        type=int,
        default=None,
        metavar="N",
        help="remove corpus-duplicated runs of >= N tokens (ExactSubstr); "
        "affected docs are rebuilt single-space-joined and re-scored, "
        "untouched docs keep their text verbatim",
    )
    p.add_argument(
        "--winsorize",
        type=float,
        nargs=2,
        default=None,
        metavar=("LO", "HI"),
        help="per-lang token-count percentile outlier trim, e.g. 0.05 0.95",
    )
    p.add_argument(
        "--mix-alpha",
        type=float,
        default=None,
        help="temperature-mix exponent over langs (enables the mix gate)",
    )
    p.add_argument(
        "--mix-budget",
        type=float,
        default=0.5,
        help="temperature-mix token budget fraction (default 0.5)",
    )
    p.add_argument(
        "--nb-seeds",
        nargs=2,
        default=None,
        metavar=("POS", "NEG"),
        help="train a hashed-NB quality classifier on these two parquet "
        "seed tables (doc_id, text) and keep only docs it classifies "
        "positive",
    )
    p.add_argument(
        "--split-val-pct",
        type=int,
        default=None,
        metavar="PCT",
        help="add a leakage-safe train/val split column: near-dup "
        "clusters (connected components over verified MinHash pairs) "
        "route wholly to one side; PCT = val percentage. Also writes "
        "train_manifest/val_manifest tables (doc_id, text_sha, "
        "group_key, split, run_id) from the published curated table",
    )
    p.add_argument(
        "--benchmark",
        default=None,
        metavar="PATH",
        help="eval-benchmark parquet (doc_id, text): writes a graded "
        "decontam_report table and drops contaminated docs before the "
        "split",
    )
    p.add_argument(
        "--contam-threshold",
        type=float,
        default=0.1,
        help="contamination_frac at or above which a doc is dropped "
        "(default 0.1)",
    )
    p.set_defaults(fn=cmd_curate)

    p = sub.add_parser("dq")
    common(p)
    p.add_argument("--input", required=True, help="parquet table to audit")
    p.add_argument(
        "--columns", default=None, help="comma list (default: all columns)"
    )
    p.add_argument(
        "--approx-distinct",
        action="store_true",
        help="HLL++ distinct counts (single-pass plan; the 100 TB setting)",
    )
    p.add_argument("--not-null", default=None, help="comma list of columns")
    p.add_argument(
        "--unique-key", default=None, help="comma list forming the key"
    )
    p.add_argument(
        "--check",
        action="append",
        default=None,
        metavar="NAME:EXPR",
        help="named boolean SQL constraint, repeatable "
        "(e.g. price_pos:o_totalprice > 0)",
    )
    p.add_argument(
        "--drift-baseline",
        default=None,
        help="parquet snapshot to compare --drift-col's distribution "
        "against (Population Stability Index; report in dq_drift)",
    )
    p.add_argument(
        "--drift-col", default=None, help="categorical column for PSI drift"
    )
    p.add_argument(
        "--psi-alert",
        type=float,
        default=0.25,
        help="fail the audit when feature-level PSI exceeds this "
        "(0.25 = the standard 'population shifted' bar)",
    )
    p.set_defaults(fn=cmd_dq)

    p = sub.add_parser("stats")
    # no --warehouse: a pure read-side analysis needs only its input
    p.add_argument("--input", required=True, help="parquet table")
    p.add_argument(
        "--metric", required=True,
        choices=[
            "corr", "spearman", "kendall", "gini", "cusum", "km",
            "mann_kendall", "theil_sen", "acf", "seasonal",
            "trimmed_mean", "partial_corr", "uncertainty",
        ],
    )
    p.add_argument(
        "--cols", required=True,
        help="comma list; meaning depends on --metric (see docs)",
    )
    p.add_argument(
        "--group", default=None, help="comma list of grouping columns"
    )
    p.add_argument("--out", default=None, help="write result parquet here")
    p.add_argument(
        "--limit", type=int, default=1000,
        help="max rows printed to stdout (ignored with --out)",
    )
    p.set_defaults(fn=cmd_stats)

    p = sub.add_parser("sql")
    common(p)
    p.add_argument("--query", required=True, help="SQL over warehouse views")
    p.add_argument("--out", default=None, help="write result parquet here")
    p.add_argument(
        "--limit", type=int, default=100,
        help="max rows printed to stdout (ignored with --out)",
    )
    p.set_defaults(fn=cmd_sql)
    return parser


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    spark = get_spark(app_name=f"ldp-{args.command}", master=args.master)
    try:
        return args.fn(spark, args)
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
