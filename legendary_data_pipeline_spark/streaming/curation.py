"""Streaming corpus curation: continuous ingest → scrub → score → dedup.

The batch curation surface (operators/curation.py, textstats) is pure
column expressions, so the SAME transformation function runs on a batch
DataFrame and a file-stream DataFrame — batch/stream parity by
construction, verified in tests/test_streaming_curation.py.

Dedup across micro-batches reuses the engine's keyed upsert sink
(streaming/snapshots.upsert_sink): each batch MERGEs into the curated
table keyed by content hash, so re-delivered or duplicate documents
overwrite their prior row instead of duplicating — the reference's
ON CONFLICT rerun semantics (SURVEY §2.1 S5), applied continuously.
At scale this is the standard "curated table with exactly-one-row-per-
content-hash" shape. Within a micro-batch the surviving row per content
hash is the MIN doc_id (`order_within_source` below) — non-content
columns (doc_id, lang, source) can differ across duplicates of the same
text, so the tiebreak keeps reruns byte-identical; across batches the
winner is last-write, as in the reference's ON CONFLICT.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from legendary_data_pipeline_spark.operators.curation import pii_counts, scrub_pii
from legendary_data_pipeline_spark.operators.textstats import quality_score
from legendary_data_pipeline_spark.streaming.snapshots import (
    _drain,
    _read_stream,
    upsert_sink,
)

DOCUMENTS_SCHEMA = (
    "doc_id long, text string, lang string, source string, n_chars long"
)


def curate_documents(docs: DataFrame) -> DataFrame:
    """Stateless curation stage: content hash, quality score, PII scrub.

    Works identically on batch and streaming frames (no aggregation, no
    window — one projection, fully pushdown/codegen friendly).
    """
    scored = quality_score(docs, keep_cols=("text", "lang", "source"))
    counts = pii_counts(F.col("text"))
    return scored.select(
        "doc_id",
        "lang",
        "source",
        F.sha2(F.col("text"), 256).alias("text_sha"),
        "token_count",
        "quality_score",
        "quality_bucket",
        counts["emails"].alias("pii_emails"),
        counts["phones"].alias("pii_phones"),
        counts["ipv4s"].alias("pii_ipv4s"),
        scrub_pii(F.col("text")).alias("clean_text"),
    )


def read_documents_stream(spark: SparkSession, docs_path: str) -> DataFrame:
    return _read_stream(spark, docs_path, DOCUMENTS_SCHEMA, 1)


def run_curation_once(
    spark: SparkSession,
    docs_path: str,
    target_path: str,
    checkpoint_path: str,
) -> None:
    """Drain all available document files once (Trigger.AvailableNow),
    curate, and MERGE into the target keyed by content hash."""
    stream = read_documents_stream(spark, docs_path)
    curated = curate_documents(stream)
    _drain(
        curated.writeStream.outputMode("append").foreachBatch(
            upsert_sink(
                target_path,
                ["text_sha"],
                order_within_source=[F.col("doc_id").asc()],
            )
        ),
        checkpoint_path,
    )


def dedup_against_corpus_stream(
    stream: DataFrame, corpus_index: DataFrame
) -> DataFrame:
    """Continuous incremental exact dedup: classify each streamed doc
    against a PERSISTED corpus hash index (stream-static join) without
    ever rescanning the corpus.

    The batch operator (`operators.dedup.incremental_exact_dedup`) ranks
    within its batch for the new-vs-new decision; a stream has no
    "batch" to rank inside, so the contract here is the streaming
    standard: `corpus_dup` (hash already in the index) vs `new` —
    intra-stream duplicates collapse at the SINK via the keyed upsert
    (text_sha key), exactly as `run_curation_once` dedups re-deliveries.
    Statuses stay per-row so downstream can count drop rates per source.

    Scale: the static side is the 32-bytes-per-distinct-text index,
    pre-bucketed on the hash at 100 TB → the stream side micro-batch
    probes it as a co-located (or broadcast, for small indexes) join;
    the corpus itself is never read. Stream-static joins re-plan the
    static side per micro-batch, picking up index growth between
    triggers.
    """
    hashed = stream.withColumn("text_sha", F.sha2(F.col("text"), 256))
    idx = corpus_index.select("text_sha").distinct().withColumn(
        "__in_corpus", F.lit(True)
    )
    return (
        hashed.join(idx, "text_sha", "left")
        .withColumn(
            "dedup_status",
            F.when(F.col("__in_corpus"), F.lit("corpus_dup")).otherwise(
                F.lit("new")
            ),
        )
        .drop("__in_corpus")
    )


def run_incremental_dedup_once(
    spark: SparkSession,
    docs_path: str,
    corpus_index_path: str,
    target_path: str,
    checkpoint_path: str,
) -> None:
    """Drain available document files once, classify against the corpus
    index, and MERGE only NEW documents into the target (keyed by
    content hash, min-doc_id winner within a batch)."""
    stream = read_documents_stream(spark, docs_path)
    idx = spark.read.parquet(corpus_index_path)
    classified = dedup_against_corpus_stream(stream, idx)
    fresh = classified.filter(F.col("dedup_status") == "new")
    _drain(
        fresh.writeStream.outputMode("append").foreachBatch(
            upsert_sink(
                target_path,
                ["text_sha"],
                order_within_source=[F.col("doc_id").asc()],
            )
        ),
        checkpoint_path,
    )
