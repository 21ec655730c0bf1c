"""Bloom-filter cross-corpus membership (dedup against a huge corpus).

The scale problem: dedup a NEW batch against a 100 TB historical corpus.
A join shuffles the historical side every run; an exact hash index is
corpus-sized. The standard answer is a Bloom filter of the corpus keys —
megabytes for billions of keys — built once, broadcast to every
executor, and probed locally: the new batch never shuffles and the
corpus is touched once at build time. False positives only (tunable via
bits-per-key); never false negatives, so "definitely new" is exact —
the safe direction for dedup (a false positive drops a genuinely new
doc; run the exact path on the flagged slice when that matters).

Engine shape:
- Hashing is the portable double-hash family: position_i(x) =
  (md5_60(x) + i · md5_60(seed:x)) mod m for i < k (Kirsch–Mitzenmacher
  double hashing — k probes from 2 hashes). All integer math fits a
  signed 64-bit long (h < 2^60, k ≤ 8 ⇒ h1 + k·h2 < 2^63), and DuckDB
  replays it bit-for-bit — the oracle reproduces the filter's EXACT
  accept set, false positives included.
- Build: one Arrow `mapInPandas` pass computes a per-task partial
  bitmap (numpy, m/8 bytes); the driver ORs the ≤ num_partitions
  partials. Driver/broadcast memory is m/8 bytes — size m for the
  corpus (≈ 10 bits/key → 1.2 GB per 10^9 keys), never data-scale.
- Probe: the bitmap broadcasts (Spark torrent broadcast); membership is
  a vectorized numpy bit test inside a pandas UDF — no join, no
  shuffle on the probe side.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from legendary_data_pipeline_spark.functions.hashing import (
    md5_long,
    seeded_md5_long,
)

#: seed for the second hash of the double-hash family
BLOOM_SEED = 97


def _hash_cols(key: Column) -> tuple[Column, Column]:
    s = key.cast("string")
    return md5_long(s), seeded_md5_long(s, BLOOM_SEED)


def _int_hashes(h1: pd.Series, h2: pd.Series) -> tuple[np.ndarray, np.ndarray]:
    """The hash columns of one Arrow batch as int64. A batch that holds a
    NULL arrives as float64, whose 53-bit mantissa has already dropped
    the hashes' low bits, so that raises instead of casting."""
    for s in (h1, h2):
        if not pd.api.types.is_integer_dtype(s.dtype):
            raise TypeError(f"bloom hashes must arrive as integers, got {s.dtype}")
    return h1.to_numpy(dtype=np.int64), h2.to_numpy(dtype=np.int64)


def build_bloom(
    df: DataFrame,
    key_col: str,
    m_bits: int = 1 << 20,
    k_hashes: int = 4,
) -> np.ndarray:
    """Build the corpus bitmap: one scan, partial bitmaps OR-merged.

    Returns a numpy uint8 array of m_bits/8 bytes. NULL keys are
    skipped (NULL is not a member; probing NULL returns false).
    """
    if m_bits % 8:
        raise ValueError("m_bits must be a multiple of 8")
    if not 1 <= k_hashes <= 8:
        raise ValueError(
            "k_hashes must be in [1, 8]: h1 + 7·h2 < 2^63 is the "
            "signed-64 overflow bound for the 60-bit hash family"
        )
    h1c, h2c = _hash_cols(F.col(key_col))
    hashed = df.filter(F.col(key_col).isNotNull()).select(
        h1c.alias("h1"), h2c.alias("h2")
    )
    n_bytes = m_bits // 8

    def partial(batches):
        bm = np.zeros(n_bytes, dtype=np.uint8)
        for pdf in batches:
            h1, h2 = _int_hashes(pdf["h1"], pdf["h2"])
            for i in range(k_hashes):
                pos = (h1 + i * h2) % m_bits
                np.bitwise_or.at(
                    bm, pos >> 3, (1 << (pos & 7)).astype(np.uint8)
                )
        yield pd.DataFrame({"bm": [bm.tobytes()]})

    parts = hashed.mapInPandas(partial, "bm binary").collect()
    out = np.zeros(n_bytes, dtype=np.uint8)
    for r in parts:
        out |= np.frombuffer(r["bm"], dtype=np.uint8)
    return out


def probe_bloom(
    df: DataFrame,
    key_col: str,
    bitmap: np.ndarray,
    k_hashes: int = 4,
) -> DataFrame:
    """Flag each row of `df` whose key the filter accepts.

    Adds `maybe_seen` (boolean): True ⇒ possibly in the corpus (false
    positives at the configured rate), False ⇒ DEFINITELY not. The
    bitmap rides a Spark broadcast; the test is a vectorized numpy
    bit-lookup per batch — zero shuffles.
    """
    if not 1 <= k_hashes <= 8:
        raise ValueError(
            "k_hashes must be in [1, 8]: h1 + 7·h2 < 2^63 is the "
            "signed-64 overflow bound for the 60-bit hash family"
        )
    m_bits = int(bitmap.size) * 8
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(bitmap.tobytes())

    @F.pandas_udf("boolean")
    def member(h1: pd.Series, h2: pd.Series) -> pd.Series:
        bm = np.frombuffer(bc.value, dtype=np.uint8)
        a, b = _int_hashes(h1, h2)
        ok = np.ones(len(a), dtype=bool)
        for i in range(k_hashes):
            pos = (a + i * b) % m_bits
            ok &= (bm[pos >> 3] & (1 << (pos & 7)).astype(np.uint8)) != 0
        return pd.Series(ok)

    # A NULL key's hashes are NULL; one NULL in an Arrow batch turns the
    # whole column into float64 and the 60-bit hashes lose their low
    # bits. The UDF gets a 0 sentinel instead and the NULL row is
    # answered False outside it.
    h1c, h2c = _hash_cols(F.col(key_col))
    flagged = F.when(
        F.col(key_col).isNull(), F.lit(False)
    ).otherwise(
        member(F.coalesce(h1c, F.lit(0).cast("long")), F.coalesce(h2c, F.lit(0).cast("long")))
    )
    return df.withColumn("maybe_seen", flagged)


def bloom_sql_positions(key_expr: str, i: str, m_bits: int) -> str:
    """DuckDB expression for position i of the double-hash family —
    lets oracles replay the filter's exact accept set."""
    from legendary_data_pipeline_spark.functions.hashing import (
        md5_long_sql,
        seeded_md5_long_sql,
    )

    h1 = md5_long_sql(key_expr)
    h2 = seeded_md5_long_sql(key_expr, BLOOM_SEED)
    return f"(({h1}) + {i} * ({h2})) % {m_bits}"
