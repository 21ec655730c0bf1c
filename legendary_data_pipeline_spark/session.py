"""SparkSession factory tuned for the engine's workload.

Defaults are chosen for correctness-at-scale, not just local runs:
- AQE on (runtime re-plan, skew-join splitting, partition coalescing)
- shuffle partitions sized by env (local test: 32; a real cluster would
  use ~2-3x total cores — AQE coalesces the excess)
- Arrow on (vectorized Python interchange for the few Pandas-UDF paths)
- session timezone pinned UTC (the reference stores naive UTC dates;
  `01_import_pricecharting_csv.js:104` builds UTC dates client-side)
- `nanosAsLong` on so nanosecond parquet timestamps (the `events` table)
  load as integer nanos; event-time math is then pure integer arithmetic.
- on local masters, Python workers start from `pydaemon`, which spares
  each Python task a re-read of pyspark.zip's directory.
"""

from __future__ import annotations

import glob
import os
import tempfile
import zipfile

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def ship_package(spark: SparkSession) -> None:
    """Distribute this package to executor Python workers via addPyFile.

    Python-UDF closures (mapInPandas, applyInPandasWithState) reference
    engine modules, which cloudpickle serializes BY REFERENCE — workers
    must be able to `import legendary_data_pipeline_spark` themselves.
    When the driver runs from a foreign cwd (the grading driver, a real
    cluster), that import fails unless the package travels with the job.
    Zips the package once per source change (mtime check) and registers
    it with the SparkContext; subsequent calls are no-ops.
    """
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    pkg_name = os.path.basename(pkg_dir)
    sources = sorted(glob.glob(os.path.join(pkg_dir, "**", "*.py"), recursive=True))
    if not sources:
        return
    newest = max(os.path.getmtime(p) for p in sources)
    dest = os.path.join(tempfile.gettempdir(), f"{pkg_name}_pyfiles.zip")
    if not os.path.exists(dest) or os.path.getmtime(dest) < newest:
        tmp = dest + ".tmp"
        with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as zf:
            for src in sources:
                arcname = os.path.join(
                    pkg_name, os.path.relpath(src, pkg_dir)
                )
                zf.write(src, arcname)
        os.replace(tmp, dest)
    sc = spark.sparkContext
    if not getattr(sc, "_ldp_pkg_shipped", False):
        sc.addPyFile(dest)
        sc._ldp_pkg_shipped = True


def get_spark(
    app_name: str = "legendary-data-pipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults."""
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("LDP_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
        )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("LDP_DRIVER_MEM", "8g"))
    )
    if master.startswith("local"):
        # Python workers run on this host: start them through `pydaemon`
        # (re-reads pyspark.zip only when it changes, ~0.2 s per task),
        # with the package's parent on their path so `python -m` finds it
        # from any cwd.
        builder = builder.config(
            "spark.python.daemon.module", "legendary_data_pipeline_spark.pydaemon"
        ).config(
            "spark.executorEnv.PYTHONPATH",
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    return builder.getOrCreate()


def ensure_engine_confs(spark: SparkSession) -> SparkSession:
    """Set runtime-settable engine confs on an externally-created session.

    The correctness driver calls `queries()[name](spark, sf_dir)` with its
    own SparkSession; these confs keep behavior (and plan shape) identical
    there. Only runtime-settable keys belong here — JVM-level settings
    (driver memory, etc.) live in `get_spark`.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    # Pin the broadcast threshold to the engine's get_spark value (r15
    # optimization round): an externally-created (driver) session's
    # 10 MB default planned SortMergeJoins where the engine's own
    # sessions plan broadcasts, so plan shape — and therefore timing
    # behavior — diverged between the bench and the correctness driver
    # for joins whose build side straddles the defaults (the r15
    # semdedup "broadcast-threshold coin flip" was this class). Results
    # are join-strategy-independent; this only makes the plan, and its
    # cost, deterministic across sessions. 64 MB is modest for any real
    # executor (guide §3.1: a few hundred MB is routinely fine).
    # r15 advice: only RAISE the Spark default — an operator that
    # deliberately set a different value (e.g. -1 to disable broadcasts
    # on memory-constrained executors) keeps it; forcing 64 MB past an
    # explicit -1 could OOM such a deployment.
    _cur = str(
        spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    ).strip().lower()
    if _cur in ("10mb", "10m", "10485760", "10485760b"):
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
        )
    try:
        parallelism = spark.sparkContext.defaultParallelism
    except Exception:
        parallelism = DEFAULT_SHUFFLE_PARTITIONS
    # 2x cores, floor 32: enough splits to keep every core busy while AQE
    # coalesces away the excess. Avoids the 200-partition default that
    # shreds small-SF runs into scheduler overhead.
    spark.conf.set(
        "spark.sql.shuffle.partitions",
        str(max(DEFAULT_SHUFFLE_PARTITIONS, 2 * parallelism)),
    )
    ship_package(spark)
    return spark
