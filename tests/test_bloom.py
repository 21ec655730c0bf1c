"""Contracts for the Bloom-filter cross-corpus membership operator:
the one-sided error guarantee (never a false negative), a false-positive
rate envelope, NULL-key semantics, and build determinism across
partitionings.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from legendary_data_pipeline_spark.operators.bloom import (
    build_bloom,
    probe_bloom,
)

_M = 1 << 14  # 16384 bits
_K = 4


def _corpus(spark, n=500):
    return spark.range(n).select(
        F.concat(F.lit("member-"), F.col("id")).alias("key")
    )


def test_no_false_negatives_and_fp_envelope(spark):
    corpus = _corpus(spark)
    bm = build_bloom(corpus, "key", m_bits=_M, k_hashes=_K)

    # Every true member is flagged — the one-sided guarantee.
    members = probe_bloom(corpus, "key", bm, k_hashes=_K)
    assert members.filter(~F.col("maybe_seen")).count() == 0

    # Non-members flag at ~the theoretical rate (1-e^{-kn/m})^k ≈ 0.02%;
    # allow 10x headroom so the test pins magnitude, not luck.
    outside = spark.range(20_000).select(
        F.concat(F.lit("other-"), F.col("id")).alias("key")
    )
    fp = (
        probe_bloom(outside, "key", bm, k_hashes=_K)
        .filter(F.col("maybe_seen"))
        .count()
    )
    n, m, k = 500, _M, _K
    expected = (1 - math.exp(-k * n / m)) ** k
    assert fp / 20_000 <= max(10 * expected, 0.01)


def test_null_keys_build_skipped_probe_false(spark):
    df = spark.createDataFrame(
        [("a",), (None,), ("b",)], "key string"
    )
    bm = build_bloom(df, "key", m_bits=1 << 10, k_hashes=3)
    out = {
        r["key"]: r["maybe_seen"]
        for r in probe_bloom(df, "key", bm, k_hashes=3).collect()
    }
    assert out["a"] and out["b"]
    assert out[None] is False


def test_build_partition_invariant(spark):
    corpus = _corpus(spark, 300)
    a = build_bloom(corpus, "key", m_bits=1 << 12, k_hashes=_K)
    b = build_bloom(
        corpus.repartition(17), "key", m_bits=1 << 12, k_hashes=_K
    )
    assert (a == b).all()


def test_null_key_shares_an_arrow_batch_with_members(spark):
    # One partition: the NULL key and every member cross the Arrow
    # boundary in the same batch, whatever the session's core count. A
    # NULL hash in that batch would turn the hash columns into float64
    # and drop the 60-bit hashes' low bits (false negatives).
    keys = [(f"member-{i}",) for i in range(200)] + [(None,)]
    df = spark.createDataFrame(keys, "key string").coalesce(1)
    bm = build_bloom(df, "key", m_bits=1 << 14, k_hashes=_K)
    out = probe_bloom(df, "key", bm, k_hashes=_K).collect()
    assert [r["key"] for r in out if not r["maybe_seen"]] == [None]
