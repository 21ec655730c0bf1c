"""JSON-lines source/sink (SURVEY.md §2.1 widening).

The reference's ingest surface is CSV + Postgres; a training-data
pipeline's interchange format is JSONL (one JSON document per line —
the common crawl/dump/annotation format). Spark-first: `spark.read
.json` parses lines natively in parallel with full pushdown of the
declared schema; malformed lines are CAPTURED, not dropped — at 100 TB
a bad shard must surface as quarantine rows, never as silent data loss.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

CORRUPT_COL = "_corrupt_record"


def read_jsonl(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """Schema-declared JSONL read with corrupt-line capture.

    `schema` is the expected data schema (DDL string, WITHOUT the
    corrupt column — it is appended here). PERMISSIVE mode yields, per
    malformed line, a row with every data column NULL and the raw line
    in `CORRUPT_COL` — split the frame with `quarantine` below. The
    declared schema also disables Spark's double-pass inference scan
    (one read of the data, not two: at 100 TB inference IS a job).
    """
    return (
        spark.read.schema(f"{schema}, {CORRUPT_COL} string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .json(path)
    )


def quarantine(df: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(clean, quarantined, pinned): clean rows lose the corrupt
    column; quarantined rows keep only the raw line for triage/replay;
    `pinned` is the cached parse both derive from — callers unpersist
    it when done (cli.cmd_curate does), releasing exactly this frame
    rather than the whole session cache.

    The frame is cached: Spark refuses plans that reference ONLY the
    corrupt column of a raw JSON scan (QUERY_ONLY_CORRUPT_RECORD_COLUMN
    — the raw line isn't reconstructible after pushdown prunes the data
    columns), and caching the parsed frame is the documented contract
    for splitting it. Both halves then come from one parse pass, which
    is what a quarantining ingest does anyway.

    Cache lifetime: the pinned frame lives until the session ends or
    the caller unpersists the returned `pinned` handle at its job
    boundary — a long-lived session must not accumulate one cached
    corpus per ingest.
    """
    df = df.cache()
    clean = df.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
    bad = df.filter(F.col(CORRUPT_COL).isNotNull()).select(
        F.col(CORRUPT_COL).alias("raw_line")
    )
    return clean, bad, df


def write_jsonl(df: DataFrame, path: str) -> None:
    """Write a frame as JSONL part-files (the hand-off format for
    tokenizer/training jobs). Spark's json sink emits one JSON object
    per line per row; partitioning of `df` controls shard count."""
    df.write.mode("overwrite").json(path)
