"""Structured-Streaming parity readouts (X234–X237, X239–X243).

The streaming surface (streaming/*.py) replaces the reference's cron
re-runs (every reference script is a batch job re-run on a schedule —
e.g. 03_build_market_price_daily.js rebuilds the daily snapshot table
idempotently; SURVEY §2.9) with continuously-maintained tables. Until
round 14 that surface was pytest-only: batch-parity and replay
contracts, but never an independent oracle row in the correctness
gate. The nine parity queries below close that gap (queries.GATE
decides which of them are gated) — each one EXECUTES a genuine Structured
Streaming job (Trigger.AvailableNow, multi-micro-batch via
maxFilesPerTrigger=1, real checkpoint + state store) inside the query
callable, then returns the maintained table for the driver to hash
against a plain batch-SQL oracle.

Determinism contract (what makes a streaming run oracle-pairable):

- input is a STAGED copy of the sf events table split into 2 parquet
  files, so the run genuinely crosses micro-batch boundaries (state
  carried across batches, upsert-by-key re-emission, cross-batch
  dedup state) — the semantics the parity is claiming;
- the watermark delay is set far beyond the fixture's event-time span
  ("3650 days" vs ~1 month of events), so NO row is ever
  watermark-late: late-drop behavior is load-order-dependent and
  therefore not SQL-replayable (the production entry points keep
  their real watermarks; tests/test_streaming.py covers eviction);
- every emitted aggregate is exact (count / sum / max over integer
  cents) — the HLL approx_unique_users column of the production
  rollup is excluded via include_approx_users=False;
- all outputs are aggregation-level, so file/partition assignment of
  the staged copy cannot affect values.

Each callable stages into a fresh mkdtemp (checkpoint, target, input)
— safe under concurrent/replayed driver invocation; the returned
DataFrame reads the written target, so driver-side re-collection is
stable. `_parity_run` scopes the tiny-state shuffle-partition override
(prior value restored in a finally) and removes the staging input and
checkpoint dirs on exit — only the rollup-sized target outlives the
call (r14 advice #2/#3). The staging pass itself reads the corpus
once; the RETURNED frame scans only the target, so the
registration-time scan gate sees 1 parquet scan (declared).

Deployment assumption: the staging root is a driver-side mkdtemp that
the executors write into and read back, so parity runs assume a single
node (local mode, where /dev/shm is shared by driver and executors) or
`$LDP_STREAM_SCRATCH` pointing at storage every node mounts at the same
path. On a multi-node cluster without it, executors would write their
checkpoint and target files to their own local /dev/shm.

100 TB posture: these queries exist to prove the maintenance algebra,
not to model production staging — at scale the stream source is the
landing bucket/Kafka (streaming/kafka.py) and never a re-write of the
corpus. The maintained tables stay rollup-sized; per-batch cost is
O(batch) + one rollup-sized merge (streaming/rollup.py module doc).
"""

from __future__ import annotations

import contextlib
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from legendary_data_pipeline_spark.catalog import load_table
from legendary_data_pipeline_spark.queries import register

#: Staged events carry the engine's normalized integer-nanos ts
#: (catalog.normalize_event_ts), not the on-disk TIMESTAMP — the stream
#: edge re-derives event_time exactly like the batch loaders.
_STAGED_SCHEMA = (
    "event_id long, ts long, user_id long, event_type string, "
    "value double, props string"
)

#: Far beyond the fixture's event-time span — see module doc.
_NEVER_LATE = "3650 days"


def _stage_events(spark: SparkSession, sf_dir: str, root: str, copies: int = 1) -> str:
    """Write the normalized events table into `root`/in as 2 parquet
    files per copy (maxFilesPerTrigger=1 then yields ≥2 micro-batches —
    the cross-batch semantics the parity claims, at the minimum batch
    count so the fixed per-batch cost stays off the bench's back).
    `copies=2` re-delivers the same rows — exact at-least-once
    redelivery, the upstream the dedup operator collapses. The
    redelivered copies are FILESYSTEM copies of the staged files
    (byte-identical payload — the strictest form of exact redelivery),
    not a second Spark write of the corpus: one scan+shuffle job stages
    everything (r15 optimization; the old per-copy `.write` re-ran the
    corpus scan once per copy for files the first write had already
    produced bit-identically, since `repartition(2)` hashes rows the
    same way every run)."""
    import glob
    import os

    staging = f"{root}/in"
    ev = load_table(spark, sf_dir, "events")
    ev.repartition(2).write.parquet(staging)
    if copies > 1:
        parts = sorted(glob.glob(f"{staging}/part-*.parquet"))
        for c in range(1, copies):
            for j, src in enumerate(parts):
                dst = f"{staging}/redelivery-{c}-{j:02d}.parquet"
                shutil.copy(src, dst)
                # strictly later mtimes: the copies list (and therefore
                # stream) after every first-delivery file, like the
                # append writes they replace
                st = os.stat(src)
                os.utime(dst, (st.st_mtime + 100 * c, st.st_mtime + 100 * c))
    return staging


def _read_staged_stream(spark: SparkSession, staging: str) -> DataFrame:
    from legendary_data_pipeline_spark.streaming.snapshots import _read_stream

    return _read_stream(spark, staging, _STAGED_SCHEMA, 1)


def _scratch_base() -> str | None:
    """Directory the parity staging roots are created under:
    `$LDP_STREAM_SCRATCH`, else /dev/shm when writable, else None
    (tempfile's default). See the scratch-placement note in
    `_parity_run`."""
    scratch = os.environ.get("LDP_STREAM_SCRATCH")
    if scratch is None and os.path.isdir("/dev/shm") and os.access(
        "/dev/shm", os.W_OK
    ):
        scratch = "/dev/shm"
    return scratch


@contextlib.contextmanager
def _parity_run(spark: SparkSession, prefix: str, partitions: str = "8"):
    """Scoped staging root + tiny-state conf for one parity run.

    State sizing: the session default shuffle-partition count (2x
    cores, ≥32 — ensure_engine_confs) is right for corpus-scale
    shuffles but makes TINY streaming state expensive: each state
    partition writes a delta file per micro-batch, so 64 partitions x N
    batches of checkpoint I/O dominates a rollup whose whole state is a
    few hundred rows. 8 partitions is plenty for the parity tables;
    production streams take the session conf (streaming/*.py entry
    points set nothing).

    `partitions` lets a parity pick its own tiny-state width — measured
    r15 (serial windows, min-of-2): the applyInPandasWithState parities
    are PYTHON-COMPUTE-bound (per-group update calls), so 8 beats 2 by
    ~2x for them, while the JVM-only stream-stream join is
    state-I/O-bound and runs ~1.5 s faster at 2 (fewer per-batch state
    store instances x 2 join sides). Both are parity-scoped: production
    entry points still take the session conf.

    The prior value is restored in the finally (r14 advice #2) — a
    direct caller's session conf is unchanged after the callable
    returns, instead of depending on the NEXT registered query's
    ensure_engine_confs. The staging input and checkpoint/state dirs
    are removed on exit too (r14 advice #3 — repeated bench/driver
    runs used to accumulate unbounded /tmp); only the written target
    under the root outlives the call, which is all driver-side
    re-collection of the returned frame needs.

    Scratch placement (r16, guide §6): the root prefers a RAM-backed
    filesystem (`$LDP_STREAM_SCRATCH`, else /dev/shm when writable,
    else the tempfile default). Everything under it is ephemeral BY
    CONSTRUCTION — the checkpoint/state dirs are deleted in this same
    call and the target is a rollup-sized table the driver collects
    immediately — so checkpoint durability buys nothing here, while
    the state store's many small write+rename+fsync cycles per
    (partition × micro-batch) are exactly the ext4 cost a parity run
    should not be benchmarking (measured min-of-2 on the streaming-run
    phase: ewma 4.57 → 3.69 s, psi 3.07 → 2.17 s at width 8).
    Production entry points (streaming/*.py) take caller-provided
    checkpoint paths and are untouched — a REAL stream's checkpoint
    must survive restarts and belongs on durable storage.
    """
    root = tempfile.mkdtemp(prefix=prefix, dir=_scratch_base())
    prior = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", partitions)
    try:
        yield root
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prior)
        for sub in ("in", "ckpt", "stage"):
            shutil.rmtree(f"{root}/{sub}", ignore_errors=True)


@register(
    "stream_rollup_parity",
    """
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           event_type,
           COUNT(*) AS events,
           CAST(SUM(CAST(round(CAST(value AS DECIMAL(18,2)) * 100, 0) AS BIGINT)) AS BIGINT)
             AS total_value_cents
    FROM events
    GROUP BY 1, 2
    """,
    doc="X234 streaming daily-rollup parity: a REAL availableNow run of "
    "daily_event_rollup_stream (windowed streaming aggregation, state "
    "carried across micro-batches, update-mode re-emission) through "
    "the foreachBatch keyed-upsert sink (S5 semantics per batch — the "
    "reference's ON CONFLICT rerun, 01_import_pricecharting_csv.js:"
    "171-186, run continuously). The maintained snapshot must equal "
    "the one-shot batch aggregation: decomposable-aggregate algebra + "
    "at-least-once upsert = full recompute."
    " Returned frame reads only the maintained table (scan_budget=1);"
    " the staging pass is a separate job, scoped+cleaned by _parity_run.",
    scan_budget=1,
)
def stream_rollup_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from legendary_data_pipeline_spark.streaming.snapshots import (
        _drain,
        daily_event_rollup_stream,
        upsert_sink,
    )

    with _parity_run(spark, "ldp_stream_daily_") as root:
        staging = _stage_events(spark, sf_dir, root)
        target, ckpt = f"{root}/out", f"{root}/ckpt"
        rolled = daily_event_rollup_stream(
            _read_staged_stream(spark, staging),
            watermark=_NEVER_LATE,
            include_approx_users=False,
        )
        _drain(
            rolled.writeStream.outputMode("update").foreachBatch(
                upsert_sink(target, ["day", "event_type"])
            ),
            ckpt,
        )
    return spark.read.parquet(target).select(
        "day", "event_type", "events", "total_value_cents"
    )


@register(
    "stream_dedup_parity",
    """
    SELECT event_type,
           COUNT(*) AS events,
           COUNT(DISTINCT user_id) AS unique_users,
           CAST(SUM(CAST(round(CAST(value AS DECIMAL(18,2)) * 100, 0) AS BIGINT)) AS BIGINT)
             AS total_value_cents
    FROM events
    GROUP BY 1
    """,
    doc="X235 streaming exact-dedup parity: the staged input is the "
    "events table delivered TWICE (4 files, one per micro-batch) — "
    "exact at-least-once redelivery. dropDuplicatesWithinWatermark on "
    "event_id (state spanning micro-batches) must collapse it to "
    "exactly-once: the per-type rollup of the deduped append-mode sink "
    "equals the batch rollup of the single-delivery table. event_id is "
    "unique in the fixture (asserted in test_new_ops_r14.py), so the "
    "surviving copy is value-identical whichever arrival wins."
    " Returned frame reads only the maintained table (scan_budget=1);"
    " the staging pass is a separate job, scoped+cleaned by _parity_run.",
    scan_budget=1,
)
def stream_dedup_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from legendary_data_pipeline_spark.streaming.snapshots import (
        _drain,
        dedup_events_stream,
    )

    with _parity_run(spark, "ldp_stream_dedup_") as root:
        staging = _stage_events(spark, sf_dir, root, copies=2)
        target, ckpt = f"{root}/out", f"{root}/ckpt"
        deduped = dedup_events_stream(
            _read_staged_stream(spark, staging), watermark=_NEVER_LATE
        )
        _drain(
            deduped.writeStream.outputMode("append")
            .format("parquet")
            .option("path", target),
            ckpt,
        )
    cents = F.round(F.col("value").cast("decimal(18,2)") * 100, 0).cast("long")
    return (
        spark.read.parquet(target)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("events"),
            F.countDistinct("user_id").alias("unique_users"),
            F.sum(cents).alias("total_value_cents"),
        )
    )


@register(
    "stream_maint_parity",
    """
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           event_type,
           COUNT(*) AS events,
           CAST(SUM(CAST(round(CAST(value AS DECIMAL(18,2)) * 100, 0) AS BIGINT)) AS BIGINT)
             AS total_value_cents,
           CAST(MAX(CAST(round(CAST(value AS DECIMAL(18,2)) * 100, 0) AS BIGINT)) AS BIGINT)
             AS max_value_cents
    FROM events
    GROUP BY 1, 2
    """,
    doc="X236 versioned-rollup maintenance parity: "
    "run_rollup_maintenance_once drains one micro-batch per staged file through the "
    "merge_rollup sink — each batch aggregated O(batch) and merged "
    "into the versioned table's next snapshot (stage-then-publish, "
    "batch-id manifests; streaming/rollup.py) — and the LATEST "
    "version must equal the full recompute. This is the 100 TB "
    "maintenance shape: history is never rescanned. The staged input "
    "is pre-projected to (day, event_type, v_cents) so the generic "
    "maintenance entry point runs unmodified."
    " Returned frame reads only the maintained table (scan_budget=1);"
    " the staging pass is a separate job, scoped+cleaned by _parity_run.",
    scan_budget=1,
)
def stream_maint_parity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from legendary_data_pipeline_spark.sources.versioned import read_version
    from legendary_data_pipeline_spark.streaming.rollup import (
        run_rollup_maintenance_once,
    )

    with _parity_run(spark, "ldp_stream_maint_") as root:
        staging = f"{root}/in"
        ev = load_table(spark, sf_dir, "events")
        day = F.date_format(
            F.expr(
                "date_add(DATE '1970-01-01', CAST(ts DIV 86400000000000 AS INT))"
            ),
            "yyyy-MM-dd",
        )
        cents = F.round(
            F.col("value").cast("decimal(18,2)") * 100, 0
        ).cast("long")
        ev.select(
            day.alias("day"), "event_type", cents.alias("v_cents")
        ).repartition(2).write.parquet(staging)

        table, ckpt = f"{root}/rollup", f"{root}/ckpt"
        run_rollup_maintenance_once(
            spark,
            staging,
            "day string, event_type string, v_cents long",
            table,
            keys=["day", "event_type"],
            specs=[
                ("events", "count", None),
                ("total_value_cents", "sum", F.col("v_cents")),
                ("max_value_cents", "max", F.col("v_cents")),
            ],
            kinds={
                "events": "count",
                "total_value_cents": "sum",
                "max_value_cents": "max",
            },
            checkpoint_path=ckpt,
            max_files_per_trigger=1,
        )
    return read_version(spark, table).select(
        "day", "event_type", "events", "total_value_cents", "max_value_cents"
    )


# ---------------------------------------------------------------------------
# X237 — streaming Count-Min maintenance parity
# ---------------------------------------------------------------------------

_CMS_DEPTH = 4
_CMS_WIDTH = 1024
_CMS_TOPN = 20


def _stream_cms_oracle() -> str:
    """Same oracle shape as sk_cms_partkey_freq, over events.user_id —
    the SQL rebuilds the cell table in one shot; the Spark side must
    arrive at the identical cells through per-batch versioned merges."""
    from legendary_data_pipeline_spark.operators.cms import cms_sql_parts

    addrs = cms_sql_parts(
        "CAST(user_id AS VARCHAR)", _CMS_DEPTH, _CMS_WIDTH
    )
    updates = "\n      UNION ALL\n".join(
        f"      SELECT {i} AS row_idx, {a} AS col_idx FROM events"
        for i, a in enumerate(addrs)
    )
    probe_addrs = "\n      UNION ALL\n".join(
        f"      SELECT user_id, exact_cnt, {i} AS row_idx,"
        f" {a} AS col_idx FROM top"
        for i, a in enumerate(addrs)
    )
    return f"""
    WITH u AS (
{updates}),
    cells AS (
      SELECT row_idx, col_idx, CAST(count(*) AS BIGINT) AS cnt
      FROM u GROUP BY 1, 2),
    exact AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS exact_cnt
      FROM events GROUP BY 1),
    top AS (
      SELECT * FROM exact
      ORDER BY exact_cnt DESC, user_id ASC LIMIT {_CMS_TOPN}),
    addr AS (
{probe_addrs}),
    est AS (
      SELECT user_id, exact_cnt,
             min(COALESCE(cnt, 0)) AS cms_est
      FROM addr LEFT JOIN cells USING (row_idx, col_idx)
      GROUP BY 1, 2)
    SELECT user_id, exact_cnt, CAST(cms_est AS BIGINT) AS cms_est,
           CAST(cms_est - exact_cnt AS BIGINT) AS overcount
    FROM est
    """


@register(
    "stream_cms_parity",
    _stream_cms_oracle(),
    doc="X237 streaming Count-Min maintenance parity: "
    "run_cms_maintenance_once sketches each micro-batch and cell-SUMS "
    "it into the versioned sketch table (streaming/rollup.py "
    "cms_maintenance_sink, batch-id replay guards) — state stays "
    "<= depth x width cells forever while absorbing unbounded stream "
    "history. Parity: the MAINTAINED sketch's top-20 user-frequency "
    "estimates (portable md5 affine hash family, bit-deterministic) "
    "must equal the one-shot sketch the SQL oracle rebuilds — the "
    "cell-wise merge telescopes exactly. Completes the streaming "
    "surface's sketch-maintenance story alongside the rollup "
    "(X236) and exact-aggregate (X234) parities.",
    scan_budget=2,
)
def stream_cms_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from legendary_data_pipeline_spark.operators.cms import cms_query
    from legendary_data_pipeline_spark.sources.versioned import read_version
    from legendary_data_pipeline_spark.streaming.rollup import (
        run_cms_maintenance_once,
    )

    with _parity_run(spark, "ldp_stream_cms_") as root:
        staging = _stage_events(spark, sf_dir, root)
        table, ckpt = f"{root}/cms", f"{root}/ckpt"
        run_cms_maintenance_once(
            spark,
            staging,
            _STAGED_SCHEMA,
            table,
            key_col="user_id",
            checkpoint_path=ckpt,
            depth=_CMS_DEPTH,
            width=_CMS_WIDTH,
            max_files_per_trigger=1,
        )
    sketch = read_version(spark, table)
    # probe side: the 20 hottest users by exact count (deterministic
    # count-then-id ordering) — the exact counts ride the output anyway
    exact = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("exact_cnt"))
    )
    top = exact.orderBy(
        F.col("exact_cnt").desc(), F.col("user_id").asc()
    ).limit(_CMS_TOPN)
    est = cms_query(sketch, top, "user_id", _CMS_DEPTH, _CMS_WIDTH)
    return est.select(
        "user_id",
        "exact_cnt",
        "cms_est",
        (F.col("cms_est") - F.col("exact_cnt")).cast("long").alias("overcount"),
    )


# ---------------------------------------------------------------------------
# X239–X243 — round-15 parities for the remaining never-oracled
# streaming runtime surfaces (r14 verdict #6): stateful EWMA anomaly
# scoring, the stream-stream interval join, the continuous quality and
# PSI monitors, and gap-based sessionization. Same recipe as X234–X237:
# the callable EXECUTES the real runtime entry point over a staged
# multi-file input (cross-batch state), then returns the written table
# for the driver to hash against a plain batch-SQL oracle.
#
# New determinism tool: _stage_ordered_files. The X234 parities are
# order-independent (decomposable aggregates / exact dedup), but EWMA,
# sessionization, and per-batch PSI are ORDER- or BATCH-SENSITIVE, so
# their staging splits the input by EVENT TIME into files with strictly
# increasing mtimes — Spark's file stream source lists new files in
# modification-time order, so maxFilesPerTrigger=1 delivers the stream
# in event-time order across micro-batches (empirically pinned in
# tests/test_new_ops_r15.py::test_file_stream_delivers_in_mtime_order).
# In-order delivery makes the stateful operators' emissions equal the
# batch recompute (the documented in-order parity contract of
# streaming/anomaly.py and streaming/sessions.py), and makes the PSI
# monitor's batch_id↔time-half mapping SQL-reconstructable.
# ---------------------------------------------------------------------------

#: Oracle-side integer-cents convention (matches catalog/batch loaders).
_CENTS_SQL = "CAST(round(CAST(value AS DECIMAL(18,2)) * 100, 0) AS BIGINT)"


def _stage_ordered_files(spark: SparkSession, parts, root: str) -> str:
    """Write each frame in `parts` as ONE parquet file under root/in
    with strictly increasing mtimes — micro-batch i is exactly
    parts[i] under maxFilesPerTrigger=1 (mtime-ordered source listing).

    Single Spark job (r15 optimization): the parts are union-tagged and
    written with `partitionBy` from one coalesced task, so a parent
    frame every part filters (the ewma daily aggregate, the sessions
    projection) is computed ONCE — the previous per-part take(1) +
    write pair re-ran the parent 2x per part (4 corpus-scale jobs for
    2 parts; measured 3.6 s of the ewma parity's staging at sf0.1).
    Emptiness is validated from the written layout — a part with no
    rows produces no `__part=i` directory — instead of a per-part
    take(1) job. The coalesce(1) single writer task is the same shape
    the per-part writes already had (each was its own coalesce(1));
    this staging device is parity-only, never a production path
    (module doc: at scale the stream source is the landing bucket).

    Ordering contract (r15 advice): only the PART-to-file mapping is
    guaranteed. The partitionBy write plans a sort on `__part`, which
    is not stable, so WITHIN-part row order may differ from the
    source frame's — fine for the current parities (ewma keys are
    unique per (user, t); sessionization is order-insensitive among
    equal event times), but an order-sensitive parity with ties must
    not rely on arrival order inside a part.
    """
    import glob
    import os

    staging = f"{root}/in"
    os.makedirs(staging, exist_ok=True)
    tmp = f"{root}/stage"
    tagged = parts[0].withColumn("__part", F.lit(0))
    for i, part in enumerate(parts[1:], start=1):
        tagged = tagged.unionByName(part.withColumn("__part", F.lit(i)))
    tagged.coalesce(1).write.partitionBy("__part").parquet(tmp)
    moves: list[tuple[str, str]] = []
    for i in range(len(parts)):
        found = glob.glob(f"{tmp}/__part={i}/part-*.parquet")
        if not found:
            raise ValueError(
                f"_stage_ordered_files: part {i} is an empty split — "
                "an empty micro-batch breaks the batch↔span mapping "
                "(per-batch sinks skip it, renumbering later batches)."
            )
        (src,) = found
        moves.append((src, f"{staging}/batch-{i:03d}.parquet"))
    for i, (src, dst) in enumerate(moves):
        shutil.move(src, dst)
        # fixed, strictly increasing mtimes — deterministic across runs
        os.utime(dst, (1_700_000_000 + 100 * i,) * 2)
    shutil.rmtree(tmp, ignore_errors=True)
    return staging


def _split_days(spark: SparkSession, sf_dir: str):
    """(events_df, midpoint_day) — the event-time halving every
    order-sensitive parity stages by. Mirrored in SQL as
    `(min(d) + max(d) + 1) // 2` over `epoch_us(ts) // 86400000000`."""
    ev = load_table(spark, sf_dir, "events")
    d = F.expr("ts DIV 86400000000000")
    lo, hi = ev.agg(F.min(d), F.max(d)).first()
    return ev, (int(lo) + int(hi) + 1) // 2


_EWMA_K = 8
_EWMA_LAGS = "\n             ".join(
    f"lag(v, {j}) OVER w AS l{j}," for j in range(1, _EWMA_K)
) + f"\n             lag(v, {_EWMA_K}) OVER w AS l{_EWMA_K}"
_EWMA_NUM = " + ".join(
    f"COALESCE(l{j} * {1 << (_EWMA_K - j)}, 0)" for j in range(1, _EWMA_K + 1)
)
_EWMA_DEN = " + ".join(
    f"(CASE WHEN l{j} IS NOT NULL THEN {1 << (_EWMA_K - j)} ELSE 0 END)"
    for j in range(1, _EWMA_K + 1)
)


@register(
    "stream_ewma_parity",
    f"""
    WITH daily AS (
      SELECT user_id, epoch_us(ts) // 86400000000 AS t,
             CAST(SUM({_CENTS_SQL}) AS BIGINT) AS v
      FROM events GROUP BY 1, 2),
    lagged AS (
      SELECT user_id, t, v,
             {_EWMA_LAGS}
      FROM daily
      WINDOW w AS (PARTITION BY user_id ORDER BY t)),
    summed AS (
      SELECT user_id, t, v,
             {_EWMA_NUM} AS num,
             {_EWMA_DEN} AS den
      FROM lagged),
    based AS (
      SELECT user_id, t, v,
             CASE WHEN den > 0
                  THEN CAST(num AS DOUBLE) / CAST(den AS DOUBLE)
             END AS ewma
      FROM summed)
    SELECT user_id, t, v, ewma,
           CAST(v AS DOUBLE) - ewma AS resid
    FROM based
    """,
    doc="X239 stateful-EWMA scoring parity: run_ewma_anomaly_once (the "
    "applyInPandasWithState scorer, streaming/anomaly.py) drains the "
    "per-user daily-cents series staged as TWO event-time-ordered "
    "files — the k-deep lag buffer carries across the micro-batch "
    "boundary — and every emitted (ewma, resid) must equal the batch "
    "halving-weight formula (operators/stats.ewma_anomalies; same "
    "lag-window SQL as ts_ewma_daily_anomalies, per-user grain). "
    "In-order delivery via mtime-staged files is what makes the "
    "stream bit-identical to the batch recompute (module doc). "
    "Never-late watermark: timers never fire; all rows emit in data "
    "batches. Returned frame reads only the scored table "
    "(scan_budget=1); staging is a separate job, cleaned by "
    "_parity_run.",
    scan_budget=1,
)
def stream_ewma_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from legendary_data_pipeline_spark.streaming.anomaly import (
        run_ewma_anomaly_once,
    )

    with _parity_run(spark, "ldp_stream_ewma_") as root:
        ev = load_table(spark, sf_dir, "events")
        cents = F.round(
            F.col("value").cast("decimal(18,2)") * 100, 0
        ).cast("long")
        # Pin the per-user daily aggregate: the min/max day probe and
        # the staging write both consume it, and without the persist
        # each consumer replays the corpus groupBy (r15 optimization —
        # the old shape recomputed `daily` once per take(1)/write pair,
        # 4 corpus aggregations + the _split_days scan; now ONE corpus
        # aggregation populates the cache and everything downstream is
        # aggregate-sized). Released in the finally.
        daily = (
            ev.groupBy(
                "user_id", F.expr("ts DIV 86400000000000").alias("t")
            )
            .agg(F.sum(cents).cast("long").alias("v"))
            .select(
                "user_id",
                (F.col("t") * F.lit(86_400_000_000_000)).cast("long").alias("ts"),
                "t",
                "v",
            )
            .persist()
        )
        try:
            # same midpoint as _split_days: daily's t spans exactly the
            # event-day range (groupBy preserves the key's min/max)
            lo, hi = daily.agg(F.min("t"), F.max("t")).first()
            mid = (int(lo) + int(hi) + 1) // 2
            staging = _stage_ordered_files(
                spark,
                [
                    daily.filter(F.col("t") < mid),
                    daily.filter(F.col("t") >= mid),
                ],
                root,
            )
            target, ckpt = f"{root}/out", f"{root}/ckpt"
            run_ewma_anomaly_once(
                spark, staging, target, ckpt,
                k=_EWMA_K, watermark=_NEVER_LATE, max_files_per_trigger=1,
            )
        finally:
            daily.unpersist()
    return spark.read.parquet(target).select(
        "user_id", "t", "v", "ewma", "resid"
    )


_ATTR_HORIZON_MIN = 60


@register(
    "stream_attribution_parity",
    """
    WITH ev AS (
      SELECT event_id, user_id, event_type, epoch_us(ts) AS t_us
      FROM events),
    c AS (SELECT event_id AS click_event_id, user_id, t_us AS click_us
          FROM ev WHERE event_type = 'click'),
    p AS (SELECT event_id AS purchase_event_id, user_id, t_us AS purchase_us
          FROM ev WHERE event_type = 'purchase')
    SELECT p.purchase_event_id, c.click_event_id, p.user_id,
           p.purchase_us - c.click_us AS lag_us
    FROM p JOIN c ON p.user_id = c.user_id
      AND c.click_us <= p.purchase_us
      AND c.click_us >= p.purchase_us - 3600000000
    """,
    doc="X240 stream-stream interval-join parity: attribute_purchases "
    "(streaming/attribution.py) run as a REAL watermarked stream-stream "
    "inner join over the staged 2-file event stream — click state "
    "buffered across micro-batches, purchases matched against clicks "
    "that arrived in EARLIER batches. With the never-late watermark no "
    "buffered row is evicted, so the emitted pair set must equal the "
    "batch interval join exactly (the t4_click_attribution predicate "
    "without the rank-1 winner — the full pair multiset is the "
    "stronger hash). Returned frame reads only the written pair table "
    "(scan_budget=1); staging cleaned by _parity_run.",
    scan_budget=1,
)
def stream_attribution_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from legendary_data_pipeline_spark.streaming.attribution import (
        attribute_purchases,
        split_clicks_purchases,
    )
    from legendary_data_pipeline_spark.streaming.snapshots import _drain

    # partitions=2: the stream-stream join is JVM state-I/O-bound (two
    # buffered sides x per-batch store commits); 2 tiny-state partitions
    # ran ~1.5 s faster than 8 in the r15 serial probe, same pair set.
    with _parity_run(spark, "ldp_stream_attr_", partitions="2") as root:
        staging = _stage_events(spark, sf_dir, root)
        target, ckpt = f"{root}/out", f"{root}/ckpt"
        clicks, purchases = split_clicks_purchases(
            _read_staged_stream(spark, staging)
        )
        pairs = attribute_purchases(
            clicks, purchases,
            horizon_minutes=_ATTR_HORIZON_MIN, watermark=_NEVER_LATE,
        )
        _drain(
            pairs.writeStream.outputMode("append")
            .format("parquet")
            .option("path", target),
            ckpt,
        )
    return spark.read.parquet(target).select(
        "purchase_event_id", "click_event_id", "user_id", "lag_us"
    )


def _quality_checks():
    return {
        "value_positive": F.col("value") > 0,
        "value_cap_200": F.col("value") <= 200,
        "event_type_known": F.col("event_type").isin(
            "click", "view", "purchase", "signup", "error"
        ),
        "user_id_present": F.col("user_id").isNotNull(),
    }


def _quality_oracle() -> str:
    preds = {
        "value_positive": "value > 0",
        "value_cap_200": "value <= 200",
        "event_type_known":
            "event_type IN ('click','view','purchase','signup','error')",
        "user_id_present": "user_id IS NOT NULL",
    }
    blocks = []
    for name, p in preds.items():
        viol = f"SUM(CASE WHEN COALESCE({p}, FALSE) THEN 0 ELSE 1 END)"
        blocks.append(f"""
    SELECT '{name}' AS check_name, CAST(2 AS BIGINT) AS n_batches,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST({viol} AS BIGINT) AS n_violations,
           {viol} = 0 AS passed
    FROM events""")
    return "\n    UNION ALL".join(blocks)


@register(
    "stream_quality_parity",
    _quality_oracle(),
    doc="X241 continuous-quality-monitor parity: run_quality_monitor_once "
    "(streaming/quality.py) audits each staged micro-batch with "
    "check_constraints inside foreachBatch and appends per-batch "
    "verdict rows to the idempotent batch_id-partitioned report. "
    "Row-level violation counts are SUMMABLE across batches, so the "
    "report aggregated over batch_id must equal the whole-table audit "
    "regardless of how rows split across batches — with n_batches "
    "pinned to the 2 staged files, asserting the run really was "
    "multi-batch. NULL predicate = violation on both sides "
    "(check_constraints' coalesce contract). Returned frame reads only "
    "the report (scan_budget=1); staging cleaned by _parity_run.",
    scan_budget=1,
)
def stream_quality_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from legendary_data_pipeline_spark.streaming.quality import (
        run_quality_monitor_once,
    )

    with _parity_run(spark, "ldp_stream_dq_") as root:
        staging = _stage_events(spark, sf_dir, root)
        report, ckpt = f"{root}/report", f"{root}/ckpt"
        run_quality_monitor_once(
            spark, staging, _STAGED_SCHEMA, report, ckpt,
            _quality_checks(), max_files_per_trigger=1,
        )
    rep = spark.read.parquet(report)
    return (
        rep.groupBy("check_name")
        .agg(
            F.countDistinct("batch_id").cast("long").alias("n_batches"),
            F.sum("n_rows").cast("long").alias("n_rows"),
            F.sum("n_violations").cast("long").alias("n_violations"),
        )
        .withColumn("passed", F.col("n_violations") == 0)
    )


_PSI_SMOOTH = 0.5
_PSI_ALERT_E6 = 250000  # round(0.25 * 1e6) — the sink's scaled_e6 bar


def _psi_half_sql(i: int, cmp: str) -> str:
    """One PSI block: half `i` (days `cmp` mid) vs the full baseline —
    the exact psi_drift scaled_e6 association order (see
    dq_psi_drift_orders_priority's oracle, whose shape this reuses)."""
    return f"""
    h{i} AS (
      SELECT COALESCE(CAST(event_type AS VARCHAR), '<null>') AS value,
             CAST(COUNT(*) AS BIGINT) AS n_current
      FROM ev, bounds WHERE d {cmp} mid GROUP BY 1),
    j{i} AS (
      SELECT COALESCE(b.value, h.value) AS value,
             CAST(COALESCE(n_base, 0) AS BIGINT) AS n_base,
             CAST(COALESCE(n_current, 0) AS BIGINT) AS n_current
      FROM base b FULL OUTER JOIN h{i} h ON b.value = h.value),
    t{i} AS (SELECT CAST(SUM(n_base) AS BIGINT) AS tb,
                    CAST(SUM(n_current) AS BIGINT) AS tc,
                    CAST(COUNT(*) AS BIGINT) AS k FROM j{i}),
    terms{i} AS (
      SELECT value, n_base, n_current,
             (CAST(n_base AS DOUBLE) + {_PSI_SMOOTH})
               / (CAST(tb AS DOUBLE) + {_PSI_SMOOTH} * CAST(k AS DOUBLE)) AS p,
             (CAST(n_current AS DOUBLE) + {_PSI_SMOOTH})
               / (CAST(tc AS DOUBLE) + {_PSI_SMOOTH} * CAST(k AS DOUBLE)) AS q
      FROM j{i}, t{i}),
    rows{i} AS (
      SELECT value, n_base, n_current,
             CAST(round(p * 1e6) AS BIGINT) AS p_base_e6,
             CAST(round(q * 1e6) AS BIGINT) AS p_current_e6,
             CAST(round((p - q) * ln(p / q) * 1e6) AS BIGINT) AS psi_term_e6,
             (p - q) * ln(p / q) AS raw_t
      FROM terms{i}),
    s{i} AS (SELECT CAST(round(SUM(raw_t) * 1e6) AS BIGINT) AS psi_e6
             FROM rows{i}),
    out{i} AS (
      SELECT CAST({i} AS INTEGER) AS batch_id, value, n_base, n_current,
             p_base_e6, p_current_e6, psi_term_e6, psi_e6,
             psi_e6 > {_PSI_ALERT_E6} AS alert
      FROM rows{i}, s{i})"""


@register(
    "stream_psi_parity",
    f"""
    WITH ev AS (
      SELECT event_type, epoch_us(ts) // 86400000000 AS d FROM events),
    bounds AS (SELECT (min(d) + max(d) + 1) // 2 AS mid FROM ev),
    base AS (
      SELECT COALESCE(CAST(event_type AS VARCHAR), '<null>') AS value,
             CAST(COUNT(*) AS BIGINT) AS n_base
      FROM ev GROUP BY 1),{_psi_half_sql(0, "<")},{_psi_half_sql(1, ">=")}
    SELECT * FROM out0 UNION ALL SELECT * FROM out1
    """,
    doc="X242 continuous-PSI-monitor parity: run_psi_monitor_once "
    "(streaming/quality.py) scores each staged micro-batch's "
    "event_type distribution against the STATIC full-corpus baseline "
    "in the scaled_e6 driver-gate form (exact BIGINT micro-units — "
    "the representation-proof convention psi_drift documents). The "
    "batch_id↔time-half mapping is deterministic because the staging "
    "is event-time split with mtime-ordered files (module doc), so "
    "the SQL reconstructs batch 0/1 as days <// >= the (min+max+1)/2 "
    "midpoint and must reproduce every report cell including the "
    "alert flag. Returned frame reads only the report "
    "(scan_budget=1); staging cleaned by _parity_run.",
    scan_budget=1,
)
def stream_psi_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from legendary_data_pipeline_spark.streaming.quality import (
        run_psi_monitor_once,
    )

    # partitions=2: the PSI monitor is foreachBatch over tiny per-batch
    # aggregations (no streaming state), so shuffle width is pure
    # per-batch overhead — r16 A/B (min-of-2, streaming-run phase):
    # 3.07 s at 8 -> 2.17 s at 2 on disk scratch, flat on tmpfs; 2 is
    # never worse.
    with _parity_run(spark, "ldp_stream_psi_", partitions="2") as root:
        # Pin the normalized events frame: it is the split probe, the
        # staging source, AND the static PSI baseline — psi_monitor_sink
        # re-aggregates the baseline once per micro-batch, so without
        # the persist the corpus was rescanned per batch (plus the
        # sink's construction-time emptiness check). One parquet scan
        # populates the cache; the per-batch baseline aggregations are
        # cache-local (r15 optimization). Released in the finally.
        ev = load_table(spark, sf_dir, "events").persist()
        try:
            d = F.expr("ts DIV 86400000000000")
            lo, hi = ev.agg(F.min(d), F.max(d)).first()
            mid = (int(lo) + int(hi) + 1) // 2
            staging = _stage_ordered_files(
                spark, [ev.filter(d < mid), ev.filter(d >= mid)], root
            )
            report, ckpt = f"{root}/report", f"{root}/ckpt"
            run_psi_monitor_once(
                spark, staging, _STAGED_SCHEMA, ev, "event_type",
                report, ckpt, max_files_per_trigger=1,
            )
        finally:
            ev.unpersist()
    return spark.read.parquet(report).select(
        "batch_id", "value", "n_base", "n_current",
        "p_base_e6", "p_current_e6", "psi_term_e6", "psi_e6", "alert",
    )


_SESSION_GAP_S = 21600  # 6 h — multi-event sessions at fixture density


@register(
    "stream_session_parity",
    f"""
    WITH ev AS (
      SELECT user_id, epoch_us(ts) AS t_us, {_CENTS_SQL} AS cents
      FROM events),
    flagged AS (
      SELECT user_id, t_us, cents,
             CASE WHEN lag(t_us) OVER w IS NULL
                    OR t_us - lag(t_us) OVER w > {_SESSION_GAP_S * 1_000_000}
                  THEN 1 ELSE 0 END AS new_s
      FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY t_us)),
    sess AS (
      SELECT user_id, t_us, cents,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY t_us
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged),
    agg AS (
      SELECT user_id, sid,
             CAST(min(t_us) AS BIGINT) AS session_start_us,
             CAST(max(t_us) AS BIGINT) AS session_end_us,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(SUM(cents) AS BIGINT) AS total_cents
      FROM sess GROUP BY 1, 2)
    SELECT user_id, session_start_us, session_end_us, n_events, total_cents
    FROM agg
    QUALIFY sid < max(sid) OVER (PARTITION BY user_id)
    """,
    doc="X243 gap-sessionization parity: run_sessionize_once (the "
    "applyInPandasWithState operator, streaming/sessions.py) over the "
    "event-time-split 2-file stream — session state (start/last/n/"
    "total) carries across the micro-batch boundary; a session whose "
    "events span both files must close as ONE session. With the "
    "never-late watermark timers never fire, so the emitted set is "
    "exactly the DATA-closed sessions = the batch lag/cumsum "
    "sessionization minus each user's final (still-open) session — "
    "the QUALIFY exclusion. Values ride as exact integer cents "
    "(double-exact), timestamps emitted as epoch micros, so every "
    "column hashes bit-identically. Returned frame reads only the "
    "session table (scan_budget=1); staging cleaned by _parity_run.",
    scan_budget=1,
)
def stream_session_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from legendary_data_pipeline_spark.streaming.sessions import (
        run_sessionize_once,
    )

    # partitions=16: sessionization is the Python-compute-bound parity
    # (per-(user,batch) state calls over the full event corpus), so
    # wider state means more concurrent Python workers — r16 A/B
    # (min-of-2, streaming-run phase): 16 beat 8 on both scratch media
    # (4.42 vs 4.71 disk, 4.84 vs 5.00 tmpfs) while 32 regressed ~50%
    # (per-partition state-store lifecycle swamps the extra
    # parallelism at this state size).
    with _parity_run(spark, "ldp_stream_sess_", partitions="16") as root:
        ev = load_table(spark, sf_dir, "events")
        cents = F.round(
            F.col("value").cast("decimal(18,2)") * 100, 0
        ).cast("long")
        d = F.expr("ts DIV 86400000000000")
        # Pin the staged projection: the min/max day probe and the
        # staging write both consume it (r15 optimization — one corpus
        # scan instead of one per consumer). Released in the finally.
        staged = ev.select(
            "event_id",
            F.timestamp_micros(F.expr("ts DIV 1000"))
            .cast("timestamp_ntz")
            .alias("ts"),
            "user_id",
            "event_type",
            cents.cast("double").alias("value"),
            "props",
            d.alias("__d"),
        ).persist()
        try:
            lo, hi = staged.agg(F.min("__d"), F.max("__d")).first()
            mid = (int(lo) + int(hi) + 1) // 2
            parts = [
                staged.filter(F.col("__d") < mid).drop("__d"),
                staged.filter(F.col("__d") >= mid).drop("__d"),
            ]
            staging = _stage_ordered_files(spark, parts, root)
            target, ckpt = f"{root}/out", f"{root}/ckpt"
            run_sessionize_once(
                spark, staging, target, ckpt,
                gap_seconds=_SESSION_GAP_S, watermark=_NEVER_LATE,
                max_files_per_trigger=1,
            )
        finally:
            staged.unpersist()
    return spark.read.parquet(target).select(
        "user_id",
        F.unix_micros("session_start").alias("session_start_us"),
        F.unix_micros("session_end").alias("session_end_us"),
        F.col("n_events").cast("long").alias("n_events"),
        F.col("total_value").cast("long").alias("total_cents"),
    )
