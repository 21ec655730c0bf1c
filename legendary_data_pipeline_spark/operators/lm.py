"""Perplexity filtering with a sample-trained n-gram language model.

The CCNet recipe (Wenzek et al. 2020): score every document's
perplexity under a small LM trained on trusted text and gate on it —
fluent in-domain text scores low, boilerplate/garbled/off-domain text
scores high. CCNet uses KenLM; this engine uses the same shape with a
bigram Stupid-Backoff model (Brants et al. 2007) it can train itself:

    P(w | prev) = c(prev, w) / c(prev)        if c(prev, w) > 0
                = 0.4 · P_unigram(w)           otherwise
    P_unigram(w) = (c(w) + 1) / (N + V + 1)    (add-one; unseen → 1/(N+V+1))

Engine shape (100 TB): the model is SAMPLE statistics — counts train
driver-side on the bounded hash-gated sample (the BPE/IVF contract) and
ship inside an Arrow-batched UDF (the count dicts are the "trained
model"; vocabulary of a few thousand types → KiB-MiB). Scoring streams
the corpus through one pandas UDF with a per-batch bigram memo. No
corpus scan ever feeds training.
"""

from __future__ import annotations

import math
from collections import Counter

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

BOS = "<s>"
BACKOFF = 0.4


def train_bigram_lm(
    texts: list[str],
) -> tuple[dict[str, int], dict[tuple[str, str], int], int]:
    """(unigram_counts, bigram_counts, total_tokens) from sample texts.
    Driver-side; cost is O(sample tokens), independent of corpus size."""
    uni: Counter[str] = Counter()
    bi: Counter[tuple[str, str]] = Counter()
    total = 0
    for t in texts:
        if not t:
            continue
        words = t.split()
        prev = BOS
        for w in words:
            uni[w] += 1
            bi[(prev, w)] += 1
            total += 1
            prev = w
    return dict(uni), dict(bi), total


def score_perplexity(
    df: DataFrame,
    model: tuple[dict[str, int], dict[tuple[str, str], int], int],
    max_ppl: float = 1000.0,
) -> DataFrame:
    """(id, n_tokens, ppl, keep): per-document perplexity under the
    trained model, and the CCNet-style gate `keep = ppl <= max_ppl`.
    Empty documents are kept with NULL ppl (no evidence either way —
    route them to the length filters, whose job that is)."""
    uni, bi, total = model
    vocab = len(uni)
    denom = float(total + vocab + 1)
    # BOS "context count" = total document starts in the sample
    # (precomputed once; it is the head mass of BOS bigrams).
    bos_count = sum(c for (p, _), c in bi.items() if p == BOS)

    from pyspark.sql.functions import pandas_udf

    def logp_uni(w: str) -> float:
        return math.log((uni.get(w, 0) + 1) / denom)

    @pandas_udf("struct<n_tokens:long, ppl:double>")
    def score(s: pd.Series) -> pd.DataFrame:
        # prev-conditional context counts: c(prev) as a bigram head.
        memo: dict[tuple[str, str], float] = {}
        n_out, p_out = [], []
        for t in s:
            words = t.split() if t else []
            if not words:
                n_out.append(0)
                p_out.append(None)
                continue
            lp = 0.0
            prev = BOS
            for w in words:
                key = (prev, w)
                v = memo.get(key)
                if v is None:
                    c_bi = bi.get(key, 0)
                    if c_bi > 0:
                        c_prev = bos_count if prev == BOS else uni.get(prev, 0)
                        v = math.log(c_bi / c_prev) if c_prev else (
                            math.log(BACKOFF) + logp_uni(w)
                        )
                    else:
                        v = math.log(BACKOFF) + logp_uni(w)
                    memo[key] = v
                lp += v
                prev = w
            n_out.append(len(words))
            p_out.append(math.exp(-lp / len(words)))
        return pd.DataFrame({"n_tokens": n_out, "ppl": p_out})

    out = df.select(F.col("doc_id"), score(F.col("text")).alias("__s"))
    ppl = F.round(F.col("__s.ppl"), 4)
    return out.select(
        "doc_id",
        F.col("__s.n_tokens").alias("n_tokens"),
        ppl.alias("ppl"),
        (ppl.isNull() | (ppl <= max_ppl)).alias("keep"),
    )


def perplexity_filter(
    df: DataFrame,
    trusted: DataFrame,
    max_ppl: float = 1000.0,
) -> DataFrame:
    """End-to-end CCNet-style gate: train the bigram LM on a bounded
    hash-gated sample of `trusted`, score `df`, keep low-perplexity
    documents. Deterministic from (data, seed)."""
    from legendary_data_pipeline_spark.operators.bpe import sample_texts

    texts = sample_texts(trusted, seed=37)
    if not texts:
        # An empty model scores EVERYTHING at ppl 2.5 and the gate
        # silently keeps the whole corpus — surface the misconfigured
        # trusted slice instead.
        raise ValueError(
            "perplexity_filter: trusted sample is empty (no rows or all "
            "empty texts) — the gate would degenerate to keep-everything"
        )
    model = train_bigram_lm(texts)
    return score_perplexity(df, model, max_ppl=max_ppl)


def unigram_surprisal_gate(
    df: DataFrame,
    trusted: DataFrame,
    max_mean_micro: int,
    scale: int = 1_000_000,
) -> DataFrame:
    """Deterministic DISTRIBUTED unigram surprisal gate — the
    hash-oracle-able twin of `perplexity_filter` (X149-series fixed
    variants: mechanics under a full oracle, model quality stays with
    the trained form).

    Where the CCNet-style filter trains a bigram LM on a driver-side
    sample (floating log/exp in a UDF — rows-only checkable), this gate
    derives EXACT add-one unigram statistics from the WHOLE trusted
    slice with plain aggregations and scores every document with
    integer fixed-point arithmetic:

        w(tok)  = -floor( ln((c(tok)+1)/(T+V)) · scale )   (integer µnats)
        doc     = floor( Σ w(tok) / n_tokens )              (mean µnats)
        kept    = mean ≤ max_mean_micro

    c = trusted count (0 for OOV), T = total trusted tokens, V =
    trusted vocabulary size. One ln and one multiply per DISTINCT
    trusted token (plus the shared OOV weight); everything after is
    exact integer sums — order-independent, replayable in SQL, and the
    per-token weights are what a 100 TB run would persist as its
    "model" table.

    Plan: trusted reduces to a (token, weight) table via one
    map-side-combinable groupBy; scoring explodes doc tokens once and
    token-keyed-joins the weight table (broadcast when the vocabulary
    is small; shuffle join with AQE skew handling otherwise — frequent
    tokens are many-to-one and Spark splits them), then re-aggregates
    per doc. Documents with no tokens return NULL surprisal and
    kept=false (fluency cannot be certified from nothing).

    Returns (id, n_tokens, mean_surprisal_micro, kept).
    """
    toks = F.filter(
        F.split(F.trim(F.col("text")), r"\s+"), lambda t: t != ""
    )
    tr = trusted.select(F.explode(toks).alias("__tok"))
    # Pin the vocab-sized count table: weights and (twice, via the
    # totals 1-row frame) the OOV weight are three consumers that would
    # otherwise each replay the trusted scan + token explode + groupBy.
    counts = tr.groupBy("__tok").agg(
        F.count(F.lit(1)).cast("long").alias("__c")
    ).localCheckpoint(eager=False)
    totals = counts.agg(
        F.sum("__c").cast("long").alias("__t"),
        F.count(F.lit(1)).cast("long").alias("__v"),
    )

    def micro(c_plus_1: F.Column, denom: F.Column) -> F.Column:
        return (
            -F.floor(
                F.log(c_plus_1.cast("double") / denom.cast("double"))
                * F.lit(float(scale))
            )
        ).cast("long")

    denom = F.col("__t") + F.col("__v")
    weights = counts.crossJoin(F.broadcast(totals)).select(
        "__tok", micro(F.col("__c") + F.lit(1), denom).alias("__w")
    )
    oov = totals.select(
        micro(F.lit(1), denom).alias("__w_oov")
    )

    doc_toks = df.select(
        F.col("doc_id"), F.explode_outer(toks).alias("__tok")
    )
    scored = (
        doc_toks.join(weights, "__tok", "left")
        .crossJoin(F.broadcast(oov))
        .groupBy("doc_id")
        .agg(
            F.count(F.col("__tok")).cast("long").alias("n_tokens"),
            F.sum(F.coalesce(F.col("__w"), F.col("__w_oov")))
            .cast("long")
            .alias("__sum_w"),
        )
    )
    mean_micro = F.when(
        F.col("n_tokens") > 0,
        F.floor(
            F.col("__sum_w").cast("double") / F.col("n_tokens").cast("double")
        ).cast("long"),
    )
    out = scored.select(
        "doc_id",
        "n_tokens",
        mean_micro.alias("mean_surprisal_micro"),
        F.coalesce(
            mean_micro <= F.lit(int(max_mean_micro)), F.lit(False)
        ).alias("kept"),
    )
    return out


def bigram_surprisal_gate(
    df: DataFrame,
    trusted: DataFrame,
    max_mean_micro: int,
    scale: int = 1_000_000,
) -> DataFrame:
    """Deterministic DISTRIBUTED bigram surprisal gate — the
    context-aware upgrade of `unigram_surprisal_gate` (X150): word
    order now matters ("the the the" scores fluent under a unigram LM,
    gibberish under a bigram one).

    Add-one bigram statistics come EXACTLY from the whole trusted
    slice:

        P(w2|w1) = (c2(w1,w2) + 1) / (c1(w1) + V)
        weight   = -floor( ln(P) · scale )      (integer µnats)
        doc      = floor( Σ weight / n_bigrams ) (mean µnats)
        kept     = mean ≤ max_mean_micro

    c2 = trusted bigram count, c1(w1) = trusted count of w1 AS CONTEXT
    (= Σ_w2 c2), V = trusted unigram vocabulary. Unseen bigram with a
    seen context falls back to 1/(c1+V); unseen context to 1/V — both
    from the same formula, so the three weight tables share one
    expression. One ln per DISTINCT trusted bigram/context; everything
    document-scale is exact integer sums (order-independent,
    SQL-replayable).

    Bigrams are built per document with a zero-shuffle array zip
    (element_at pairs over the whitespace token array) — no
    posexplode+window. Documents with < 2 tokens have no bigrams:
    NULL surprisal, kept = false.

    Plan/scale: trusted reduces to bigram-vocabulary-sized (w1, w2,
    weight) and context-sized (w1, weight) tables via map-side-
    combinable groupBys (the bigram table is what a 100 TB run
    persists as its model); scoring explodes doc bigrams once and
    joins token-keyed (AQE skew-splits frequent contexts), then
    re-aggregates per doc. No data-sized single-partition stage.

    Returns (id, n_bigrams, mean_surprisal_micro, kept).
    """
    toks = F.filter(
        F.split(F.trim(F.col("text")), r"\s+"), lambda t: t != ""
    )

    def bigrams(arr: F.Column) -> F.Column:
        n = F.size(arr)
        return F.when(
            n >= 2,
            F.transform(
                F.sequence(F.lit(1), n - 1),
                lambda i: F.struct(
                    F.element_at(arr, i).alias("w1"),
                    F.element_at(arr, i + 1).alias("w2"),
                ),
            ),
        ).otherwise(
            F.array().cast("array<struct<w1:string,w2:string>>")
        )

    # Trusted side: one tokenized materialization feeds both the
    # unigram vocabulary count and the bigram counts (round-9
    # multi-consumer rule).
    tr_tok = trusted.select(toks.alias("__ws")).localCheckpoint(
        eager=False
    )
    vocab = tr_tok.select(F.explode("__ws").alias("__tok")).agg(
        F.count_distinct(F.col("__tok")).cast("long").alias("__v")
    )
    c2 = (
        tr_tok.select(F.explode(bigrams(F.col("__ws"))).alias("__bg"))
        .select(F.col("__bg.w1").alias("__w1"), F.col("__bg.w2").alias("__w2"))
        .groupBy("__w1", "__w2")
        .agg(F.count(F.lit(1)).cast("long").alias("__c2"))
        .localCheckpoint(eager=False)
    )
    c1 = c2.groupBy("__w1").agg(
        F.sum("__c2").cast("long").alias("__c1")
    ).localCheckpoint(eager=False)

    def micro(num: F.Column, denom: F.Column) -> F.Column:
        return (
            -F.floor(
                F.log(num.cast("double") / denom.cast("double"))
                * F.lit(float(scale))
            )
        ).cast("long")

    w_bg = (
        c2.join(c1, "__w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "__w1",
            "__w2",
            micro(
                F.col("__c2") + F.lit(1), F.col("__c1") + F.col("__v")
            ).alias("__w"),
        )
    )
    w_ctx = c1.crossJoin(F.broadcast(vocab)).select(
        "__w1",
        micro(F.lit(1), F.col("__c1") + F.col("__v")).alias("__w_ctx"),
    )
    w_glob = vocab.select(micro(F.lit(1), F.col("__v")).alias("__w_glob"))

    doc_bg = df.select(
        F.col("doc_id"), F.explode_outer(bigrams(toks)).alias("__bg")
    ).select(
        "doc_id",
        F.col("__bg.w1").alias("__w1"),
        F.col("__bg.w2").alias("__w2"),
    )
    scored = (
        doc_bg.join(w_bg, ["__w1", "__w2"], "left")
        .join(w_ctx, "__w1", "left")
        .crossJoin(F.broadcast(w_glob))
        .groupBy("doc_id")
        .agg(
            F.count(F.col("__w1")).cast("long").alias("n_bigrams"),
            F.sum(
                F.when(
                    F.col("__w1").isNotNull(),
                    F.coalesce(
                        F.col("__w"), F.col("__w_ctx"), F.col("__w_glob")
                    ),
                )
            )
            .cast("long")
            .alias("__sum_w"),
        )
    )
    mean_micro = F.when(
        F.col("n_bigrams") > 0,
        F.floor(
            F.col("__sum_w").cast("double")
            / F.col("n_bigrams").cast("double")
        ).cast("long"),
    )
    return scored.select(
        "doc_id",
        "n_bigrams",
        mean_micro.alias("mean_surprisal_micro"),
        F.coalesce(
            mean_micro <= F.lit(int(max_mean_micro)), F.lit(False)
        ).alias("kept"),
    )
