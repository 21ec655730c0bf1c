"""Bounded, deterministic driver-side sampling — THE shared contract
behind every sample-trained model in the engine (IVF/IVF-PQ codebooks,
topic k-means, SemDeDup's quantizer, BPE merges, the perplexity LM).

Membership is gated on a seeded hash of the id — NOT `DataFrame.
sample()`, whose Bernoulli draw seeds per-partition and so changes with
the input's file layout — then sorted and limited, making the collected
rows (and everything trained from them) a pure function of
(data, seed). The collect is metadata-scale by construction
(`_MAX_ROWS` caps it regardless of corpus size).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from legendary_data_pipeline_spark.functions.hashing import seeded_md5_long


_MAX_ROWS = 4096


def bounded_hash_sample(
    df: DataFrame,
    id_col: str,
    seed: int,
    fraction: float = 0.2,
    min_rows: int = 1,
) -> list:
    """Collect ≤ `_MAX_ROWS` rows gated on seeded_md5(id) at `fraction`.

    If the gated draw returns fewer than `min_rows` (tiny input), fall
    back to an ungated ordered prefix — small corpora train on
    everything rather than nothing. Pre-select the columns you need
    before calling; the fewer columns, the cheaper the collect.
    """
    gate = (
        seeded_md5_long(F.col(id_col).cast("string"), seed) % 10_000
        < int(round(fraction * 10_000))
    )
    rows = df.filter(gate).orderBy(id_col).limit(_MAX_ROWS).collect()
    if len(rows) < min_rows:
        rows = df.orderBy(id_col).limit(_MAX_ROWS).collect()
    return rows
