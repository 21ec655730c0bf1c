"""Topic clustering + cluster-balanced selection over hashed features.

Cluster-balanced sampling (SemDeDup / cluster-then-quota selection):
embed every document as a hashed-n-gram count vector, k-means it with a
driver-trained codebook, and draw a per-cluster quota — the corpus-mix
move that stops one over-represented topic from dominating a training
sample, without any external embedding model.

Engine shape (100 TB): identical contract to the IVF coarse quantizer
(similarity.py) — the codebook trains on a bounded hash-gated SAMPLE of
dense m-dim feature vectors (driver-side numpy Lloyd, metadata-scale
collect), assignment streams the corpus through one Arrow-batched UDF
(centroids ride the closure, one matmul per batch), and the quota draw
is the existing `stratified_take_n` on the cluster id. Features are L2-
normalized so Euclidean k-means behaves like cosine on count profiles.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from legendary_data_pipeline_spark.operators.dsir import hashed_ngram_counts
from legendary_data_pipeline_spark.operators.similarity import (
    _as_double,
    _fixed_assign,
    _frozen_codebook,
    _trained_codebook,
)

#: Hashed-profile geometry of the topic features: word bigrams into
#: 256 buckets.
_SHINGLE_N, _M = 2, 256
#: Seed of both the topic codebook sample and the balanced draw.
_SEED = 33


def doc_feature_vectors(df: DataFrame) -> DataFrame:
    """(doc_id, buckets, counts): each document's sparse hashed profile,
    bucket-sorted so densification is a deterministic scatter."""
    counts = hashed_ngram_counts(df, shingle_n=_SHINGLE_N, m=_M)
    pairs = F.array_sort(
        F.collect_list(F.struct("bucket", "cnt"))
    )
    return counts.groupBy("doc_id").agg(
        F.transform(pairs, lambda s: s["bucket"]).alias("buckets"),
        F.transform(pairs, lambda s: s["cnt"]).alias("counts"),
    )


def _densify(bk: np.ndarray, ct: np.ndarray, m: int) -> np.ndarray:
    v = np.zeros(m, dtype=np.float64)
    v[bk] = ct
    n = np.linalg.norm(v)
    return v / n if n > 0 else v


def _densify_rows(buckets, counts) -> np.ndarray:
    return np.stack(
        [
            _densify(
                np.asarray(b, dtype=np.int64),
                np.asarray(c, dtype=np.float64),
                _M,
            )
            for b, c in zip(buckets, counts)
        ]
    )


def kmeans_topics(
    df: DataFrame,
    k: int = 8,
    train_fraction: float = 0.2,
) -> DataFrame:
    """(doc_id, cluster): deterministic k-means topic assignment over
    L2-normalized hashed-n-gram profiles."""
    feats = doc_feature_vectors(df)
    codebook = _trained_codebook(
        feats,
        "doc_id",
        k,
        seed=_SEED,
        iters=8,
        train_fraction=train_fraction,
        to_matrix=lambda rows: _densify_rows(
            [r["buckets"] for r in rows], [r["counts"] for r in rows]
        ),
    )
    if codebook is None:
        return df.sparkSession.createDataFrame(
            [], "doc_id long, cluster int"
        )
    _, _, dist = codebook

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("int")
    def assign(bk: pd.Series, ct: pd.Series) -> pd.Series:
        return pd.Series(
            dist(_densify_rows(bk, ct)).argmin(axis=1).astype("int32")
        )

    return feats.select(
        F.col("doc_id"), assign("buckets", "counts").alias("cluster")
    )


def cluster_balanced_take_n(
    df: DataFrame,
    n_per_cluster: int,
    k: int = 8,
) -> DataFrame:
    """Deterministic cluster-balanced selection: assign topics, then
    exactly min(n, |cluster|) docs per cluster by seeded hash order
    (`stratified_take_n` on the cluster id) — topic-diverse by
    construction, reproducible across engines and reruns."""
    from legendary_data_pipeline_spark.operators.curation import (
        stratified_take_n,
    )

    # LEFT join + sentinel cluster −1: documents too short to produce
    # any n-gram feature (fewer than two tokens, empty/NULL text)
    # still participate in the draw as their own stratum instead of
    # silently vanishing from the sample.
    assigned = df.join(
        kmeans_topics(df, k),
        "doc_id",
        "left",
    ).withColumn("cluster", F.coalesce(F.col("cluster"), F.lit(-1)))
    return stratified_take_n(
        assigned,
        n_per_cluster,
        stratum_col="cluster",
        id_col="doc_id",
        seed=_SEED,
    )


def fixed_codebook_assign(
    embeddings: DataFrame,
    n_centroids: int = 16,
) -> DataFrame:
    """(vec_id, cluster) nearest-centroid assignment against a FIXED
    codebook: the corpus vectors with the ``n_centroids`` smallest ids
    (same freeze convention and the same `similarity._fixed_assign`
    kernel as `similarity.ivf_fixed_topk`). Distances are
    sequential-fold arithmetic (the `dot_expr` / `_sq_norm` operation
    order, ties → lower centroid id), so a SQL oracle replays every
    assignment bit-for-bit — the hash-oracle-able twin of the trained
    `kmeans_topics` (whose Lloyd codebook is rows-only checkable).

    Plan shape: the corpus is hashed by id into `defaultParallelism`
    blocks and the ``n_centroids``-row codebook is copied into each;
    one cogrouped pair-kernel pass ranks every vector's centroids — one
    shuffle of the corpus, no nested-loop join and no window.
    """
    base = embeddings.select(
        "vec_id", _as_double(F.col("embedding")).alias("vec")
    )
    return _fixed_assign(base, _frozen_codebook(base, n_centroids), 1).select(
        "vec_id", F.col("cid").alias("cluster")
    )


def cluster_fixed_balanced_take_n(
    embeddings: DataFrame,
    n_per_cluster: int,
    n_centroids: int = 16,
    seed: int = 33,
) -> DataFrame:
    """Cluster-balanced selection with a FIXED codebook: assign every
    vector to its nearest frozen centroid, then draw exactly
    min(n, |cluster|) rows per cluster by seeded hash order. Both
    stages are deterministic declarative expressions, so the whole
    draw replays under a SQL hash oracle — codebook QUALITY stays with
    the trained `cluster_balanced_take_n`; this variant pins the
    selection mechanics (assignment routing, per-cluster quota, hash
    order) exactly.
    """
    from legendary_data_pipeline_spark.operators.curation import (
        stratified_take_n,
    )

    assigned = fixed_codebook_assign(embeddings, n_centroids)
    return stratified_take_n(
        assigned,
        n_per_cluster,
        stratum_col="cluster",
        id_col="vec_id",
        seed=seed,
    )
