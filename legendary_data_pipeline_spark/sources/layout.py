"""Write-side data layout: range-partitioned, sorted parquet.

At 100 TB the fastest scan is the one that never happens: parquet
readers prune row groups/files whose column min/max statistics exclude
the predicate, but statistics only help when the layout CLUSTERS values
— a randomly-laid-out table has every file spanning the full key range
and nothing prunes. `write_range_partitioned` is the engine's layout
primitive: `repartitionByRange` puts disjoint key ranges into separate
files, `sortWithinPartitions` tightens per-row-group stats inside each
file (the poor man's Z-order for a single clustering key).

Verification (test_layout.py) reads the parquet FOOTERS and asserts the
per-file key ranges are pairwise disjoint — the property pruning needs
— and that a point-lookup plan pushes the predicate to the scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_range_partitioned(
    df: DataFrame,
    path: str,
    key: str,
    n_files: int,
) -> None:
    """Write `df` as `n_files` parquet files clustering `key`.

    Range partitioning samples the key distribution (Spark's
    RangePartitioner), so files are balanced by ROW COUNT even for
    skewed keys — unlike hash bucketing, which balances buckets but
    scatters ranges. Sorting within each partition makes every row
    group's min/max tight, so both file-level AND row-group-level
    pruning engage for range or point predicates on `key`.
    """
    (
        df.repartitionByRange(n_files, key)
        .sortWithinPartitions(key)
        .write.mode("overwrite")
        .parquet(path)
    )


_Z_BITS = 16  # bits per column in the Morton key


def z_order_key(df: DataFrame, cols: list[str]):
    """Z-order (Morton) key column for multi-dimension clustering.

    Single-key range layout prunes one predicate column; Z-order
    interleaves the bits of SEVERAL columns so files cluster in every
    interleaved dimension at once — each file's footer range stays
    narrow on each column, and min/max pruning engages for predicates
    on any of them (the Delta OPTIMIZE ZORDER contract).

    Each column is min/max-scaled to 16 bits (one metadata-scale
    aggregate to fetch the bounds), then interleaved with pure
    shift/mask column expressions — whole-stage codegen, no Python.
    Returns (key_column, bounds) so callers can log the bounds.
    """
    from pyspark.sql import functions as F

    k = len(cols)
    if k < 2:
        raise ValueError("z-ordering needs >= 2 columns")
    if _Z_BITS * k > 62:
        raise ValueError(f"bits*cols = {_Z_BITS * k} exceeds a long's capacity")
    bounds = df.agg(
        *[F.min(F.col(c).cast("double")).alias(f"__min_{c}") for c in cols],
        *[F.max(F.col(c).cast("double")).alias(f"__max_{c}") for c in cols],
    ).first()
    max_bucket = (1 << _Z_BITS) - 1
    scaled = []
    for c in cols:
        lo, hi = bounds[f"__min_{c}"], bounds[f"__max_{c}"]
        if lo is None or hi is None:
            # Empty frame or all-NULL column: degrade to bucket 0 for
            # every row (an empty write stays an empty write; NULLs
            # cluster together) instead of a driver TypeError.
            lo, hi = 0.0, 0.0
        span = (hi - lo) or 1.0
        scaled.append(
            F.least(
                F.lit(max_bucket),
                F.floor(
                    (F.col(c).cast("double") - F.lit(lo))
                    / F.lit(span)
                    * max_bucket
                ).cast("long"),
            )
        )
    z = F.lit(0).cast("long")
    for b in range(_Z_BITS):
        for i, s in enumerate(scaled):
            z = z + F.shiftleft(
                F.shiftright(s, b).bitwiseAND(F.lit(1)), b * k + i
            )
    return z, bounds


def write_z_ordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    n_files: int,
) -> None:
    """Write `df` clustered on the Z-order of `cols`: range-partition
    and sort by the Morton key, then drop it — the clustering lives in
    the file layout, not the schema."""
    z, _ = z_order_key(df, cols)
    (
        df.withColumn("__z", z)
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )


def hadoop_fs(spark, path: str):
    """`(FileSystem, Path)` for `path` through the Hadoop FileSystem API,
    so callers list, create and rename on any supported filesystem
    (local, HDFS, S3A) — never `os`, which only sees local paths."""
    sc = spark.sparkContext
    hadoop_path = sc._jvm.org.apache.hadoop.fs.Path(path)
    return hadoop_path.getFileSystem(sc._jsc.hadoopConfiguration()), hadoop_path


def rename(fs, src, dst) -> None:
    """`fs.rename` that raises instead of returning False."""
    if not fs.rename(src, dst):
        raise OSError(f"rename {src.toString()} -> {dst.toString()} failed")


def table_file_stats(spark, path: str) -> "DataFrame":
    """(file, bytes) per data file of a parquet table — the compaction
    planner's input.

    Uses Spark's own catalog listing (`sc.binaryFiles`-free: the
    in-memory file index behind `spark.read`), via the Hadoop
    FileSystem API so it works on any supported filesystem (local,
    HDFS, S3A) — never `os.walk`, which only sees local paths. The
    listing is metadata-scale (one row per file).
    """
    from pyspark.sql import Row

    fs, hadoop_path = hadoop_fs(spark, path)
    it = fs.listFiles(hadoop_path, True)
    rows = []
    while it.hasNext():
        st = it.next()
        name = st.getPath().toString()
        base = st.getPath().getName()
        if base.startswith("_") or base.startswith("."):
            continue  # _SUCCESS, checksums, hidden
        rows.append(Row(file=name, bytes=int(st.getLen())))
    return spark.createDataFrame(
        rows, "file string, bytes long"
    )


def plan_compaction(
    spark, path: str, target_bytes: int = 128 * 1024 * 1024
) -> dict:
    """Decide whether `path` needs compaction and into how many files.

    Small-file proliferation is the operational tax of incremental
    writes (per-batch appends, per-partition upserts): at 100 TB a
    table of 4 MB files pays file-open/footer-read per file, floods the
    driver's file index, and caps scan parallelism at tiny tasks.
    Returns {n_files, total_bytes, n_target, needed} where `n_target`
    = ceil(total/target_bytes) and `needed` flags tables whose average
    file size is below half the target — the standard OPTIMIZE
    trigger.
    """
    import math

    stats = table_file_stats(spark, path).collect()
    n_files = len(stats)
    total = sum(r["bytes"] for r in stats)
    n_target = max(1, math.ceil(total / target_bytes))
    needed = n_files > n_target and (
        n_files == 0 or total / max(n_files, 1) < target_bytes / 2
    )
    return {
        "n_files": n_files,
        "total_bytes": total,
        "n_target": n_target,
        "needed": needed,
    }


def compact_table(
    spark,
    path: str,
    out_path: str,
    target_bytes: int = 128 * 1024 * 1024,
    sort_key: str | None = None,
) -> dict:
    """Rewrite `path` into ~target-sized parquet files at `out_path`.

    Row-identical (the test pins `table_checksum` equality across the
    rewrite), file-count-minimal, and optionally re-clustered on
    `sort_key` while we're paying for the rewrite anyway (compaction is
    the cheapest moment to restore layout). Writes to a separate
    `out_path` — at scale the swap into place is the catalog/manifest
    operation (see sources/versioned.py), never an in-place overwrite
    racing readers.

    `coalesce` (no shuffle) is used when only merging files without a
    sort: each output task reads several input files sequentially.
    With `sort_key`, the rewrite is `repartitionByRange + sort` — one
    shuffle, buying back pruning (see `write_range_partitioned`).
    """
    plan = plan_compaction(spark, path, target_bytes)
    df = spark.read.parquet(path)
    n = plan["n_target"]
    if sort_key is None:
        df.coalesce(n).write.mode("overwrite").parquet(out_path)
    else:
        write_range_partitioned(df, out_path, sort_key, n)
    return plan
