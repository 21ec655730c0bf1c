"""DSIR-style data selection: hashed n-gram importance resampling.

After Xie et al. 2023 ("Data Selection for Language Models via
Importance Resampling"): score every raw document by how much more
likely its hashed n-gram profile is under a TARGET distribution (a
small high-quality seed set) than under the RAW corpus distribution,
then sample without replacement with probability ∝ importance — the
principled version of "keep documents that look like the good data".

Engine shape (100 TB):
- Features are hashed n-gram counts in `m` buckets (md5 mod m — the
  same portable hash family as everything else, so DuckDB replays it).
- The two bucket distributions are ONE grouped aggregation per side
  (map-side combinable; the result is m rows — metadata).
- Per-doc log-importance = Σ_b count_b · (ln p_target[b] − ln p_raw[b])
  — a broadcast join of the m-row log-ratio table against the exploded
  doc features, then one groupBy(doc) sum. The corpus shuffles on
  (doc, bucket) keys only.
- Selection is Gumbel-top-k: key = log_w + Gumbel(seeded md5 of the
  id), take the global/stratified top-N — sampling ∝ exp(log_w)
  WITHOUT replacement, deterministic, and engine-replayable (keys are
  rounded before ranking, ids break ties).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from legendary_data_pipeline_spark.functions.hashing import (
    md5_long,
    seeded_md5_long,
)
from legendary_data_pipeline_spark.operators.dedup import shingles_expr


def hashed_ngram_counts(
    df: DataFrame,
    shingle_n: int = 2,
    m: int = 1024,
) -> DataFrame:
    """(id, bucket, cnt): each document's hashed n-gram profile."""
    return (
        df.select(
            F.col("doc_id"),
            F.explode(shingles_expr("text", shingle_n)).alias("__s"),
        )
        .select("doc_id", (md5_long(F.col("__s")) % m).alias("bucket"))
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _bucket_log_probs(counts: DataFrame, m: int, name: str) -> DataFrame:
    """m-row frame of add-one-smoothed ln p[bucket] for one side."""
    total_row = counts.agg(F.sum("cnt")).first()
    total = total_row[0] or 0
    spark = counts.sparkSession
    buckets = spark.range(m).select(F.col("id").alias("bucket"))
    per_bucket = counts.groupBy("bucket").agg(F.sum("cnt").alias("__c"))
    return buckets.join(per_bucket, "bucket", "left").select(
        "bucket",
        F.log(
            (F.coalesce(F.col("__c"), F.lit(0)) + F.lit(1.0))
            / F.lit(float(total + m))
        ).alias(name),
    )


def dsir_importance(
    raw: DataFrame,
    target: DataFrame,
    shingle_n: int = 2,
    m: int = 1024,
) -> DataFrame:
    """(id, log_importance): per raw document, the log likelihood ratio
    of its hashed profile under target vs raw bucket distributions.
    Documents with no n-grams score 0 (indifferent)."""
    raw_counts = hashed_ngram_counts(
        raw, shingle_n=shingle_n, m=m
    ).localCheckpoint(eager=False)  # LM build + scoring (r11 scan audit)
    tgt_counts = hashed_ngram_counts(target, shingle_n=shingle_n, m=m)
    ratio = (
        _bucket_log_probs(tgt_counts, m, "__lp_t")
        .join(_bucket_log_probs(raw_counts, m, "__lp_r"), "bucket")
        .select(
            "bucket", (F.col("__lp_t") - F.col("__lp_r")).alias("__lr")
        )
    )
    scored = (
        raw_counts.join(F.broadcast(ratio), "bucket")
        .groupBy("doc_id")
        .agg(F.round(F.sum(F.col("cnt") * F.col("__lr")), 6).alias(
            "log_importance"
        ))
    )
    ids = raw.select(F.col("doc_id"))
    return ids.join(scored, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("log_importance"), F.lit(0.0)).alias(
            "log_importance"
        ),
    )


def dsir_select(
    raw: DataFrame,
    target: DataFrame,
    n: int,
    shingle_n: int = 2,
    m: int = 1024,
    seed: int = 29,
) -> DataFrame:
    """Importance-resample `n` raw documents toward the target
    distribution: Gumbel-top-n on log_importance — inclusion probability
    ∝ exp(log_importance), without replacement, a pure function of
    (data, seed). Returns (id, log_importance, sample_rank)."""
    imp = dsir_importance(raw, target, shingle_n=shingle_n, m=m)
    u = (
        seeded_md5_long(F.col("doc_id").cast("string"), seed).cast("double")
        + F.lit(1.0)
    ) / F.lit(float(1 << 60))
    gumbel = -F.log(-F.log(u))
    key = F.round(F.col("log_importance") + gumbel, 6)
    # Global top-n via orderBy+limit → TakeOrderedAndProject (bounded
    # per-partition heaps, no data-sized single-partition window); the
    # rank window then runs over ≤ n rows.
    top = (
        imp.withColumn("__key", key)
        .orderBy(F.col("__key").desc(), F.col("doc_id").asc())
        .limit(n)
    )
    w = Window.orderBy(F.col("__key").desc(), F.col("doc_id").asc())
    return (
        top.withColumn("sample_rank", F.row_number().over(w))
        .select("doc_id", "log_importance", "sample_rank")
    )
