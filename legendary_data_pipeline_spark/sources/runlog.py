"""Run / lineage log sink (SURVEY.md §2.1 S2/S10).

The reference inserts a run row before a job (game, file name, sha256,
meta) and updates `row_count` at the end
(`scripts/pricing/01_import_pricecharting_csv.js:148-154,244-249`).

Engine shape: an append-only parquet `pipeline_runs` table — two events
per run (`started`, `finished`) keyed by run_id; "current state" is the
latest event per run (last-value-per-group, the same J9 pattern). Append
beats update-in-place on immutable storage and is the idempotency-safe
shape at scale.

Each event is one small parquet file written from the driver: pyarrow
encodes the row against `RUNLOG_SCHEMA` and the bytes are committed
through the Hadoop FileSystem API. A one-row event needs no Spark job —
a job pays scheduling, task launch and the write committer for a few
hundred bytes, about ten times the driver-side write. The file is
created under a hidden `_tmp-` name and then renamed into place, so a
reader (Spark skips `_`/`.` names when listing) never sees a partial
event. The footer carries Spark's row-schema key, so `spark.read`
resolves the same schema from these files as from events written by a
Spark job, and old and new events mix in one log. `event_at` is an
aware UTC datetime: a naive one is read as host-local time on the way
in.
"""

from __future__ import annotations

import functools
import hashlib
import uuid
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType

from legendary_data_pipeline_spark.sources.layout import hadoop_fs, rename

RUNLOG_SCHEMA = (
    "run_id string, job string, status string, file_name string, "
    "file_sha256 string, row_count long, meta string, event_at timestamp"
)


def sha256_file(path: str) -> str:
    """Content hash for ingest lineage (01:119-121)."""
    digest = hashlib.sha256()
    with open(path, "rb") as fh:
        for chunk in iter(lambda: fh.read(1 << 20), b""):
            digest.update(chunk)
    return digest.hexdigest()


@functools.cache
def _arrow_schema() -> pa.Schema:
    """`RUNLOG_SCHEMA` as Arrow (timestamps as UTC microseconds), with
    the Spark schema under the footer key Spark's reader resolves first."""
    struct = DataType.fromDDL(RUNLOG_SCHEMA)
    return to_arrow_schema(struct).with_metadata(
        {"org.apache.spark.sql.parquet.row.metadata": struct.json()}
    )


def _append(spark: SparkSession, log_path: str, row: dict) -> None:
    buf = pa.BufferOutputStream()
    pq.write_table(
        pa.Table.from_pylist([row], schema=_arrow_schema()),
        buf,
        compression="snappy",
    )
    fs, log = hadoop_fs(spark, log_path)
    path = spark.sparkContext._jvm.org.apache.hadoop.fs.Path
    name = f"part-{uuid.uuid4()}.snappy.parquet"
    tmp = path(log, f"_tmp-{name}")
    out = fs.create(tmp, False)
    try:
        out.write(buf.getvalue().to_pybytes())
    finally:
        out.close()
    rename(fs, tmp, path(log, name))


def start_run(
    spark: SparkSession,
    log_path: str,
    job: str,
    file_name: str | None = None,
    file_sha256: str | None = None,
) -> str:
    run_id = str(uuid.uuid4())
    _append(
        spark,
        log_path,
        {
            "run_id": run_id,
            "job": job,
            "status": "started",
            "file_name": file_name,
            "file_sha256": file_sha256,
            "row_count": None,
            "meta": None,
            "event_at": datetime.now(timezone.utc),
        },
    )
    return run_id


def finish_run(
    spark: SparkSession,
    log_path: str,
    run_id: str,
    job: str,
    row_count: int,
    status: str = "finished",
) -> None:
    _append(
        spark,
        log_path,
        {
            "run_id": run_id,
            "job": job,
            "status": status,
            "file_name": None,
            "file_sha256": None,
            "row_count": row_count,
            "meta": None,
            "event_at": datetime.now(timezone.utc),
        },
    )


def current_runs(spark: SparkSession, log_path: str) -> DataFrame:
    """Latest event per run_id (window top-1 over event_at)."""
    log = spark.read.parquet(log_path)
    window = Window.partitionBy("run_id").orderBy(
        F.col("event_at").desc(), F.col("status").asc()
    )
    return (
        log.withColumn("__rn", F.row_number().over(window))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
