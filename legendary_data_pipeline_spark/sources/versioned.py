"""Versioned parquet tables: snapshots, time travel, rollback.

Delta/Iceberg are not installable in this environment, but their core
read-side contract — "readers always see a complete snapshot; history
stays queryable" — is a directory-layout protocol, not a library:

    <table>/
      _versions/v00000001.json   ← manifest per committed version
      data/v=1/part-*.parquet    ← immutable snapshot data

A writer stages the new snapshot under `data/v=N`, then publishes it by
writing the manifest; readers resolve the LATEST MANIFEST, never the
data directory listing, so a crashed half-written snapshot (data
present, no manifest) is invisible. Manifests are tiny JSON (metadata
scale); snapshots are immutable, so time travel and rollback are
reads + a re-publish, never rewrites.

Caveat (documented, not hidden): publish is one small-file write —
atomic on HDFS/local rename semantics, last-writer-wins on S3 without a
coordination layer. Single-writer pipelines (this engine's CLI jobs)
are the intended user; concurrent writers need a real table format.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession

_VERSIONS = "_versions"


def _manifest_dir(table: str) -> str:
    return os.path.join(table, _VERSIONS)


def versions(table: str) -> list[dict]:
    """All committed manifests, ascending by version.

    A manifest carrying a `group_commit` pointer counts as committed
    only once its group marker file exists — until then (or forever,
    for a crashed group publish) the version is invisible, which is
    what makes `publish_group` atomic across tables.
    """
    d = _manifest_dir(table)
    if not os.path.isdir(d):
        return []
    out = []
    for name in sorted(os.listdir(d)):
        if name.startswith("v") and name.endswith(".json"):
            with open(os.path.join(d, name)) as f:
                m = json.load(f)
            marker = m.get("group_commit")
            if marker is not None and not os.path.exists(marker):
                continue
            out.append(m)
    return out


def latest_version(table: str) -> int | None:
    vs = versions(table)
    return vs[-1]["version"] if vs else None


def _stage_snapshot(df: DataFrame, table: str) -> tuple[int, str, int]:
    """Write `df` fully under the next `data/v=N` staging directory and
    return (version, data_path, rows). Allocation skips past both
    committed versions AND any staged/orphaned directory (including
    manifests of never-committed groups), so crashes never collide."""
    staged = 0
    data_root = os.path.join(table, "data")
    if os.path.isdir(data_root):
        for name in os.listdir(data_root):
            if name.startswith("v="):
                try:
                    staged = max(staged, int(name[2:]))
                except ValueError:
                    pass
    n = max(latest_version(table) or 0, staged) + 1
    data_path = os.path.join(table, "data", f"v={n}")
    # Row count via an Observation riding the write itself — a manifest
    # stat must not cost a second full scan of the snapshot.
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation(f"write_version_{n}")
    df.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode(
        "error"
    ).parquet(data_path)
    return n, data_path, obs.get["rows"]


def _write_manifest(
    table: str, manifest: dict, n: int
) -> None:
    os.makedirs(_manifest_dir(table), exist_ok=True)
    tmp = os.path.join(_manifest_dir(table), f".v{n:08d}.json.tmp")
    final = os.path.join(_manifest_dir(table), f"v{n:08d}.json")
    with open(tmp, "w") as f:
        json.dump(manifest, f)
    os.rename(tmp, final)


def write_version(
    df: DataFrame, table: str, op: str = "overwrite"
) -> int:
    """Commit `df` as the table's next snapshot; returns its version.

    Stage-then-publish: the parquet write fully completes under
    `data/v=N` before the manifest appears, so readers (who resolve via
    manifests only) never observe a partial snapshot. A crashed writer
    leaves an orphaned `data/v=K` with no manifest — version allocation
    skips past any staged directory, so the orphan stays invisible
    forever (garbage for a vacuum job) and never blocks the next
    commit.
    """
    n, data_path, rows = _stage_snapshot(df, table)
    manifest = {
        "version": n,
        "op": op,
        "rows": rows,
        "committed_at": time.time(),
        "data_path": data_path,
    }
    _write_manifest(table, manifest, n)  # the publish point
    return n


def publish_group(
    tables: dict[str, DataFrame],
    group_marker: str,
) -> dict[str, int]:
    """Atomic MULTI-TABLE publish: commit one new snapshot per table
    such that readers see either ALL of them or NONE.

    This is the reference's cross-table transaction (SURVEY §4:
    `02:195-207` writes prices + collection inside one BEGIN/COMMIT),
    rebuilt on the snapshot protocol instead of a database transaction:

    1. Every table's snapshot is STAGED and its manifest written with a
       `group_commit` pointer at `group_marker` — present on disk but
       invisible, because `versions()` ignores manifests whose marker
       file does not exist.
    2. The marker file is written via tmp + rename — ONE atomic
       small-file publish, the same primitive single-table commits
       already rely on. The instant it lands, every table's new version
       becomes visible together.

    A crash anywhere before the rename leaves all tables at their old
    versions; the staged data and pending manifests are inert garbage
    (version allocation skips past them; `vacuum` removes them). The
    same single-writer caveat as `write_version` applies — rename
    atomicity is the commit primitive, so S3 needs a coordination
    layer. `group_marker` must be a fresh path per publish (e.g. a
    run-id-derived file name); reusing a path would retroactively
    commit an older crashed group.
    """
    if os.path.exists(group_marker):
        raise FileExistsError(
            f"group marker {group_marker} already exists — markers are "
            "one-shot; use a fresh path per publish"
        )
    out: dict[str, int] = {}
    for table, df in tables.items():
        n, data_path, rows = _stage_snapshot(df, table)
        manifest = {
            "version": n,
            "op": "group",
            "rows": rows,
            "committed_at": time.time(),
            "data_path": data_path,
            "group_commit": group_marker,
        }
        _write_manifest(table, manifest, n)
        out[table] = n
    os.makedirs(os.path.dirname(group_marker) or ".", exist_ok=True)
    tmp = group_marker + ".tmp"
    with open(tmp, "w") as f:
        json.dump(
            {"tables": out, "committed_at": time.time(), "op": "group"}, f
        )
    os.rename(tmp, group_marker)  # the one publish point for ALL tables
    return out


def read_version(
    spark: SparkSession, table: str, version: int | None = None
) -> DataFrame:
    """Read a snapshot — the latest, or any historical `version`
    (time travel)."""
    vs = versions(table)
    if not vs:
        raise FileNotFoundError(f"no committed versions under {table}")
    by_n = {m["version"]: m for m in vs}
    n = version if version is not None else vs[-1]["version"]
    if n not in by_n:
        raise ValueError(
            f"version {n} not found; have {sorted(by_n)}"
        )
    return spark.read.parquet(by_n[n]["data_path"])


def rollback(spark: SparkSession, table: str, version: int) -> int:
    """Re-publish an old snapshot as the NEW latest version (history is
    preserved — rollback is itself a committed version, audit-friendly)."""
    old = read_version(spark, table, version)
    return write_version(old, table, op=f"rollback_to_{version}")


def upsert_version(
    batch: DataFrame,
    table: str,
    keys: list[str],
    order_within_source=(),
    merge_schema: bool = False,
) -> int:
    """Keyed MERGE as a new snapshot: latest ∪ batch with batch winning
    per key (the engine's S5 upsert semantics, now with history — every
    merge is a queryable, rollback-able version).

    `merge_schema=True` enables additive schema evolution: columns new
    in the batch appear in the snapshot with NULL backfill for old
    rows, and columns missing from the batch survive with NULL for
    batch rows — the Delta `mergeSchema` contract. Left off by default
    so a typo'd column fails loudly instead of forking the schema.
    """
    from pyspark.sql import functions as F

    from legendary_data_pipeline_spark.operators.upsert import upsert

    spark = batch.sparkSession
    if latest_version(table) is None:
        merged = batch
    else:
        current = read_version(spark, table)
        if merge_schema:
            for c, t in batch.dtypes:
                if c not in current.columns:
                    current = current.withColumn(
                        c, F.lit(None).cast(t)
                    )
            for c, t in current.dtypes:
                if c not in batch.columns:
                    batch = batch.withColumn(c, F.lit(None).cast(t))
        merged = upsert(current, batch, keys, order_within_source)
    return write_version(merged, table, op="upsert")


_TARGET_FILE_BYTES = 128 * 1024 * 1024


def compact_version(
    spark: SparkSession,
    table: str,
) -> int:
    """Commit a compacted copy of the latest snapshot as a new version.

    Streaming upserts and small incremental merges accrete small files;
    at 100 TB the file count, not the byte count, is what kills scan
    planning (one task + one open per file). Compaction bin-packs the
    snapshot into ceil(bytes/target) files via `coalesce` — a
    shuffle-free narrow rewrite — and publishes it like any other
    version: readers switch atomically, history keeps the pre-compact
    snapshot, and a mid-compact crash leaves only an invisible orphan.
    """
    vs = versions(table)
    if not vs:
        raise FileNotFoundError(f"no committed versions under {table}")
    data_path = vs[-1]["data_path"]
    total = 0
    for root, _dirs, files in os.walk(data_path):
        for f in files:
            if f.endswith(".parquet"):
                total += os.path.getsize(os.path.join(root, f))
    n_files = max(1, -(-total // _TARGET_FILE_BYTES))
    df = spark.read.parquet(data_path).coalesce(n_files)
    return write_version(df, table, op="compact")


def vacuum(
    table: str,
    keep_versions: int = 2,
    dry_run: bool = False,
) -> list[str]:
    """Delete orphaned staging directories and snapshots older than the
    `keep_versions` most recent ones (their manifests go too, so time
    travel past the horizon fails loudly rather than half-working).
    Returns the deleted (or would-delete, under `dry_run`) paths.

    Mirrors Delta's VACUUM contract: history is an explicit retention
    trade — run it only when readers of old versions are known gone.
    The latest version is never deletable (`keep_versions` ≥ 1).
    """
    import shutil

    if keep_versions < 1:
        raise ValueError("keep_versions must be >= 1")
    vs = versions(table)
    keep = {m["version"] for m in vs[-keep_versions:]}
    committed = {m["version"] for m in vs}
    doomed: list[str] = []
    data_root = os.path.join(table, "data")
    if os.path.isdir(data_root):
        for name in sorted(os.listdir(data_root)):
            if not name.startswith("v="):
                continue
            try:
                n = int(name[2:])
            except ValueError:
                continue
            orphan = n not in committed
            expired = n in committed and n not in keep
            if orphan or expired:
                doomed.append(os.path.join(data_root, name))
    # Pending manifests of never-committed groups (crashed
    # publish_group): their data dirs are already in `doomed` as
    # orphans; take the manifest files with them so nothing points at
    # deleted data. Safe under the module's single-writer contract —
    # vacuum must not run concurrently with a publish.
    dead_group_manifests: list[str] = []
    mdir = _manifest_dir(table)
    if os.path.isdir(mdir):
        for name in sorted(os.listdir(mdir)):
            if not (name.startswith("v") and name.endswith(".json")):
                continue
            path = os.path.join(mdir, name)
            with open(path) as f:
                m = json.load(f)
            marker = m.get("group_commit")
            if marker is not None and not os.path.exists(marker):
                dead_group_manifests.append(path)
    doomed.extend(dead_group_manifests)
    if not dry_run:
        for p in doomed:
            if os.path.isdir(p):
                shutil.rmtree(p)
            else:
                os.remove(p)
        for m in vs:
            if m["version"] not in keep:
                os.remove(
                    os.path.join(
                        _manifest_dir(table), f"v{m['version']:08d}.json"
                    )
                )
    return doomed


def version_diff(
    spark: SparkSession,
    table: str,
    from_version: int,
    to_version: int,
    keys: list[str],
) -> DataFrame:
    """Change-data-feed between two snapshots: per key, one row with
    `change_type` ∈ {insert, update, delete} (unchanged keys are
    omitted). Column values are the TO side for inserts/updates and the
    FROM side for deletes.

    Snapshots are immutable, so CDC needs no write-side logging — it is
    one full-outer join on the key between two reads, computed on
    demand for exactly the version pair a consumer asks about. At scale
    both sides shuffle once on the key (zero times if snapshots are
    written bucketed on it).
    """
    import functools

    from pyspark.sql import functions as F

    old = read_version(spark, table, from_version)
    new = read_version(spark, table, to_version)
    val_cols = [c for c in new.columns if c not in keys]
    o = old.select(
        *[F.col(k).alias(f"__ok_{k}") for k in keys],
        *[F.col(c).alias(f"__o_{c}") for c in old.columns if c not in keys],
    )
    cond = functools.reduce(
        lambda a, b: a & b,
        [F.col(k) == F.col(f"__ok_{k}") for k in keys],
    )
    j = new.join(o, cond, "full_outer")
    has_new = F.col(keys[0]).isNotNull()
    has_old = F.col(f"__ok_{keys[0]}").isNotNull()
    shared = [c for c in val_cols if f"__o_{c}" in j.columns]
    changed = functools.reduce(
        lambda a, b: a | b,
        [~F.col(c).eqNullSafe(F.col(f"__o_{c}")) for c in shared],
        F.lit(False),
    )
    out_keys = [
        F.coalesce(F.col(k), F.col(f"__ok_{k}")).alias(k) for k in keys
    ]
    out_vals = [
        F.when(has_new, F.col(c)).otherwise(F.col(f"__o_{c}")).alias(c)
        if f"__o_{c}" in j.columns
        else F.col(c)
        for c in val_cols
    ]
    change = (
        F.when(~has_old, F.lit("insert"))
        .when(~has_new, F.lit("delete"))
        .otherwise(F.lit("update"))
    )
    # Filter BEFORE projecting — the predicate references join-side
    # columns the projection drops.
    return j.filter(~(has_new & has_old & ~changed)).select(
        *out_keys, *out_vals, change.alias("change_type")
    )
