"""BPE tokenizer: bounded-sample training + distributed application.

The tokenizer-training step of an LLM data pipeline, in the same shape
as the IVF codebook (similarity.py): TRAIN on a bounded, hash-gated
sample driver-side (tokenizer training is statistics over a corpus
sample — real pipelines train on a few GB, not the full 100 TB), then
APPLY the learned merge table corpus-wide as an Arrow-batched pandas
UDF (the merge table is KiB-scale and ships inside the UDF closure).

Classic word-level BPE (Sennrich et al. 2016): words split to
characters + an end-of-word marker; the most frequent adjacent symbol
pair merges each round (ties broken lexicographically, so training is
deterministic); application replays merges by rank. `textstats.py`'s
regex token count stays the cheap JVM-side estimator; this is the real
subword segmentation when token BUDGETS must match the training
tokenizer.
"""

from __future__ import annotations

from collections import Counter

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

EOW = "</w>"


def train_bpe(
    texts: list[str],
    n_merges: int = 200,
    min_pair_count: int = 2,
) -> list[tuple[str, str]]:
    """Learn a BPE merge table from sample texts (driver-side).

    Deterministic: the most frequent pair wins each round, ties broken
    by lexicographic order; training stops early when no pair reaches
    `min_pair_count`. Cost is O(sample · merges) on unique words —
    independent of corpus size by construction.
    """
    word_freq: Counter[tuple[str, ...]] = Counter()
    for t in texts:
        if not t:
            continue
        for w in t.split():
            word_freq[tuple(w) + (EOW,)] += 1

    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pairs: Counter[tuple[str, str]] = Counter()
        for word, freq in word_freq.items():
            for a, b in zip(word, word[1:]):
                pairs[(a, b)] += freq
        if not pairs:
            break
        # Highest count; ties go to the lexicographically smallest pair.
        best_pair, best_count = min(
            pairs.items(), key=lambda kv: (-kv[1], kv[0])
        )
        if best_count < min_pair_count:
            break
        merges.append(best_pair)
        merged = best_pair[0] + best_pair[1]
        new_freq: Counter[tuple[str, ...]] = Counter()
        for word, freq in word_freq.items():
            out = []
            i = 0
            while i < len(word):
                if (
                    i + 1 < len(word)
                    and word[i] == best_pair[0]
                    and word[i + 1] == best_pair[1]
                ):
                    out.append(merged)
                    i += 2
                else:
                    out.append(word[i])
                    i += 1
            new_freq[tuple(out)] += freq
        word_freq = new_freq
    return merges


def sample_texts(df: DataFrame, seed: int = 17) -> list[str]:
    """Bounded, layout-independent training sample (hash-gated on the
    id, sorted, limited — the same contract as the IVF codebook sample:
    a pure function of the data, metadata-scale collect)."""
    from legendary_data_pipeline_spark.operators.sampling import (
        bounded_hash_sample,
    )

    rows = bounded_hash_sample(
        df.select(F.col("doc_id"), F.col("text")), "doc_id", seed
    )
    return [r[1] for r in rows if r[1]]


def _encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    symbols = list(word) + [EOW]
    while len(symbols) > 1:
        best_rank, best_i = None, None
        for i, pair in enumerate(zip(symbols, symbols[1:])):
            r = ranks.get(pair)
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_i is None:
            break
        symbols[best_i : best_i + 2] = [symbols[best_i] + symbols[best_i + 1]]
    return symbols


def apply_bpe(
    df: DataFrame,
    merges: list[tuple[str, str]],
) -> DataFrame:
    """Segment every document with a learned merge table, corpus-wide.

    Returns (id, n_words, n_bpe_tokens, bpe_per_word) — the budget
    numbers sequence packing and mixture recipes need. Arrow-batched
    pandas UDF; the merge table rides the closure (KiB). A per-batch
    word→encoding memo collapses the Zipf head, so the per-row cost is
    dominated by RARE words only — the property that makes subword
    segmentation affordable at corpus scale.
    """
    from pyspark.sql.functions import pandas_udf

    ranks = {pair: i for i, pair in enumerate(merges)}

    @pandas_udf("struct<n_words:long, n_bpe_tokens:long>")
    def seg(s: pd.Series) -> pd.DataFrame:
        memo: dict[str, int] = {}
        n_words, n_toks = [], []
        for t in s:
            if not t:
                n_words.append(0)
                n_toks.append(0)
                continue
            words = t.split()
            total = 0
            for w in words:
                c = memo.get(w)
                if c is None:
                    c = len(_encode_word(w, ranks))
                    memo[w] = c
                total += c
            n_words.append(len(words))
            n_toks.append(total)
        return pd.DataFrame({"n_words": n_words, "n_bpe_tokens": n_toks})

    out = df.select(F.col("doc_id"), seg(F.col("text")).alias("__s"))
    per_word = F.col("__s.n_bpe_tokens").cast("double") / F.nullif(
        F.col("__s.n_words").cast("double"), F.lit(0.0)
    )
    return out.select(
        "doc_id",
        F.col("__s.n_words").alias("n_words"),
        F.col("__s.n_bpe_tokens").alias("n_bpe_tokens"),
        F.round(per_word, 6).alias("bpe_per_word"),
    )
