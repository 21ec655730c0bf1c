"""Hashed Naive-Bayes quality classifier (fastText-style filter).

The classic web-scale curation move (GPT-3 App. A; CCNet; LLaMA):
train a tiny linear classifier on a "high quality" seed vs a "random
crawl" seed, score every raw document, and keep what classifies as
high-quality. This module implements the multinomial-Naive-Bayes
instance of that recipe over hashed unigram features — NB's train step
is two grouped counts (no iterative optimization), so the whole
pipeline is expressible as exact, engine-portable aggregations.

Engine shape (100 TB):
- Features are hashed tokens in `m` buckets (md5 mod m — the portable
  hash family, so DuckDB replays it bit-for-bit).
- Training is ONE grouped aggregation per class over the (small) seed
  sets; the model is an m-row weight table + a 1-row prior — metadata.
- Per-token weights are **integer-scaled log-odds**:
  w[b] = round((ln p(b|pos) − ln p(b|neg)) · scale) as BIGINT, with
  add-one smoothing. Scoring is then exact integer math —
  score = prior + Σ_b cnt_b · w[b] — identical across engines and
  across partitionings (BIGINT sums commute exactly; double sums
  don't).
- Scoring broadcasts the m-row weight table against the exploded doc
  features and does one groupBy(doc) SUM — the corpus shuffles on
  (doc, bucket) only, map-side combinable.

Relation to `operators.dsir`: DSIR reweights/resamples toward a target
distribution (no negative class, soft selection); this is the hard
two-class decision boundary with a prior. Real pipelines run both.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from legendary_data_pipeline_spark.functions.hashing import md5_long

#: default integer scale for log-odds weights (micro-nats)
LOG_SCALE = 1_000_000


def hashed_token_counts(
    df: DataFrame,
    m: int = 4096,
) -> DataFrame:
    """(id, bucket, cnt): each document's hashed-unigram profile.

    Tokens are whitespace splits of the trimmed text; empty docs yield
    no rows (they score exactly `prior` downstream).
    """
    return (
        df.select(
            F.col("doc_id"),
            F.explode(
                F.split(F.trim(F.col("text")), r"\s+")
            ).alias("__tok"),
        )
        .filter(F.col("__tok") != "")
        .select("doc_id", (md5_long(F.col("__tok")) % m).alias("bucket"))
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def train_nb(
    pos: DataFrame,
    neg: DataFrame,
    m: int = 4096,
    scale: int = LOG_SCALE,
) -> tuple[DataFrame, int]:
    """Train the hashed-NB model from two labeled seed frames.

    Returns `(weights, prior)` where `weights` is an m-row frame
    (bucket BIGINT, w BIGINT) of integer-scaled token log-odds and
    `prior` is the integer-scaled class-prior log-odds
    round((ln n_pos − ln n_neg) · scale) (document counts).

    Each class's token distribution is add-one smoothed over the m
    buckets: p(b|c) = (cnt_c[b] + 1) / (total_c + m). Train cost is one
    grouped agg per seed; both results are m rows — metadata, never
    data-scale. The two driver-side `.first()` calls pull 1-row totals
    only.
    """
    # Pin each class's token profile: the eager total (.first below)
    # and the per-bucket weight aggregation are two consumers that
    # would otherwise each replay the seed scan + tokenize + groupBy.
    pos_counts = hashed_token_counts(pos, m=m).localCheckpoint(eager=False)
    neg_counts = hashed_token_counts(neg, m=m).localCheckpoint(eager=False)

    def per_bucket(counts: DataFrame, name: str) -> DataFrame:
        return counts.groupBy("bucket").agg(F.sum("cnt").alias(name))

    pos_tot = pos_counts.agg(F.sum("cnt")).first()[0] or 0
    neg_tot = neg_counts.agg(F.sum("cnt")).first()[0] or 0
    spark = pos.sparkSession
    buckets = spark.range(m).select(F.col("id").alias("bucket"))
    lp = (
        F.log(
            (F.coalesce(F.col("__cp"), F.lit(0)) + F.lit(1.0))
            / F.lit(float(pos_tot + m))
        )
        - F.log(
            (F.coalesce(F.col("__cn"), F.lit(0)) + F.lit(1.0))
            / F.lit(float(neg_tot + m))
        )
    )
    weights = (
        buckets.join(per_bucket(pos_counts, "__cp"), "bucket", "left")
        .join(per_bucket(neg_counts, "__cn"), "bucket", "left")
        .select(
            "bucket",
            F.round(lp * scale, 0).cast("long").alias("w"),
        )
    )
    import math

    n_pos = pos.count()
    n_neg = neg.count()
    x = (math.log(max(n_pos, 1)) - math.log(max(n_neg, 1))) * scale
    # HALF_UP (away from zero), matching Spark/DuckDB round() — Python's
    # built-in round() is banker's rounding and would disagree on .5.
    prior = int(math.copysign(math.floor(abs(x) + 0.5), x))
    return weights, prior


def score_nb(
    df: DataFrame,
    weights: DataFrame,
    prior: int,
    m: int = 4096,
) -> DataFrame:
    """(id, score, predicted_pos): integer-scaled NB log-odds per doc.

    score = prior + Σ_b cnt_b · w[b] (BIGINT throughout — exact and
    partition-order independent); predicted_pos = score > 0. Docs with
    no tokens score exactly `prior`. The m-row weight table is
    broadcast; the corpus-side shuffle is the (doc, bucket) groupBy in
    `hashed_token_counts` plus the final per-doc sum.
    """
    feats = hashed_token_counts(df, m=m)
    doc_scores = (
        feats.join(F.broadcast(weights), "bucket")
        .groupBy("doc_id")
        .agg(F.sum(F.col("cnt") * F.col("w")).alias("__s"))
    )
    ids = df.select(F.col("doc_id"))
    score = F.coalesce(F.col("__s"), F.lit(0)) + F.lit(prior)
    return ids.join(doc_scores, "doc_id", "left").select(
        "doc_id",
        score.alias("score"),
        (score > 0).alias("predicted_pos"),
    )


def nb_quality_filter(
    raw: DataFrame,
    pos_seed: DataFrame,
    neg_seed: DataFrame,
    m: int = 4096,
) -> DataFrame:
    """Train on the two seeds, score `raw`, return rows of `raw`
    augmented with (score, predicted_pos) — the keep-decision column a
    curation pipeline filters on."""
    weights, prior = train_nb(pos_seed, neg_seed, m=m)
    scored = score_nb(raw, weights, prior, m=m)
    return raw.join(scored, "doc_id")
