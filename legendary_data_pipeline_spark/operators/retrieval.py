"""BM25 lexical retrieval over the document corpus.

Curation pipelines retrieve as much as they filter: finding documents
similar to a quality seed set, near-matches of eval prompts, or
representatives of a topic all start with lexical top-k — and BM25
(Robertson-Spärck Jones) is the standard scorer.

Plan shape (100 TB): term statistics are TWO grouped aggregations over
the exploded corpus (tf per (doc, term), df per term) — both map-side
combinable on uniform term keys. The QUERY side is tiny by contract
(a seed set, not a corpus) and broadcasts into the probe, so the
corpus-sized frames shuffle only on term/doc keys they already
aggregate on; per-query ranking is a WindowGroupLimit top-k. Scores are
rounded before ranking (ties → doc id) so results are engine-stable —
the same contract as the cosine operators, letting DuckDB replay the
whole pipeline for the oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from legendary_data_pipeline_spark.functions.numeric import e6
from legendary_data_pipeline_spark.operators.dedup import tokens_expr
from legendary_data_pipeline_spark.operators.ranking import top_k_per_group


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 5,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id: str = "query_id",
    query_text: str = "query_text",
) -> DataFrame:
    """Top-k documents per query under BM25.

    idf = ln(1 + (N − df + 0.5)/(df + 0.5)) (the standard non-negative
    variant); tf saturates with k1 and normalizes by document length
    against the corpus mean. Duplicate terms within a query count once
    (set semantics — the common choice for short seed queries).
    """
    toks = docs.select(
        F.col(id_col), F.explode(tokens_expr(text_col)).alias("term")
    ).localCheckpoint(eager=False)  # tf + dl + avgdl (r11 scan audit)
    tf = toks.groupBy(id_col, "term").agg(
        F.count(F.lit(1)).alias("tf")
    ).localCheckpoint(eager=False)  # df_ + scored replay otherwise
    dl = toks.groupBy(id_col).agg(F.count(F.lit(1)).alias("dl"))
    n_docs = docs.count()
    avgdl = (
        dl.agg(F.sum("dl")).first()[0] or 0
    ) / float(n_docs or 1)
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))

    q_terms = queries.select(
        F.col(query_id),
        F.explode(
            F.array_distinct(tokens_expr(query_text))
        ).alias("term"),
    )

    idf = F.log(
        F.lit(1.0)
        + (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
    )
    norm_tf = (
        F.col("tf")
        * (F.lit(k1) + 1.0)
        / (
            F.col("tf")
            + F.lit(k1)
            * (
                F.lit(1.0 - b)
                + F.lit(b) * F.col("dl") / F.lit(avgdl or 1.0)
            )
        )
    )
    # Restrict the document-frequency table to query terms BEFORE it
    # broadcasts — query-vocabulary-sized, not corpus-vocabulary-sized.
    df_q = df_.join(
        F.broadcast(q_terms.select("term").distinct()), "term", "left_semi"
    )
    scored = (
        tf.join(F.broadcast(q_terms), "term")
        .join(F.broadcast(df_q), "term")
        .join(dl, id_col)
        .groupBy(query_id, id_col)
        .agg(F.round(F.sum(idf * norm_tf), 6).alias("score"))
    )
    return top_k_per_group(
        scored,
        [query_id],
        [F.col("score").desc(), F.col(id_col).asc()],
        k=k,
        rank_col="rank",
    ).select(query_id, id_col, "rank", "score")


# ---------------------------------------------------------------------------
# late-interaction (multi-vector) retrieval — ColBERT-style MaxSim
# ---------------------------------------------------------------------------


def multivec_from_embedding(
    df: DataFrame,
    n_vecs: int,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    keep_cols: tuple[str, ...] = ("label",),
) -> DataFrame:
    """Deterministically reshape a D-dim embedding into `n_vecs` equal
    token-vectors of D/n_vecs dims — the multi-vector column shape
    (`array<array<double>>`) late-interaction retrieval consumes. In a
    real pipeline the token vectors come from the encoder; this adapter
    exists so the operator is testable on the single-vector
    `embeddings` table."""
    dim_expr = F.size(F.col(emb_col))
    sub = F.col(emb_col).cast("array<double>")
    per = (dim_expr / n_vecs).cast("int")
    vecs = F.transform(
        F.sequence(F.lit(0), F.lit(n_vecs - 1)),
        lambda i: F.slice(sub, i * per + 1, per),
    )
    return df.select(
        F.col(id_col), *[F.col(c) for c in keep_cols], vecs.alias("vecs")
    )


def maxsim_expr(q_col: str, d_col: str) -> Column:
    """ColBERT MaxSim as a pure column expression:
    Σ_{q ∈ Q} max_{d ∈ D} ⟨q, d⟩ — every query token matches its best
    document token; the sum is the relevance score.

    Sequential folds end-to-end (outer sum and inner dot), so the
    float64 result is a deterministic function of operand order — the
    property the DuckDB oracle parity relies on.

    Scale note: interpreted per PAIR (higher-order functions don't
    codegen). Exactly like brute-force cosine, this is the labeled
    exact baseline — at 100 TB, run it only on candidate sets from a
    first-stage retriever (BM25 / single-vector ANN over pooled
    vectors: `ivf_topk` on the mean token vector), where pairs-per-query
    are bounded; the per-pair math then lands on O(Q·k) pairs, not
    O(Q·N). The candidate-set composition mirrors `ivf_pq_topk`'s
    shortlist-then-refine shape.
    """
    dot = lambda q, d: F.aggregate(  # noqa: E731
        F.zip_with(q, d, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return F.aggregate(
        F.col(q_col),
        F.lit(0.0),
        lambda acc, q: acc
        + F.array_max(
            F.transform(F.col(d_col), lambda d: dot(q, d))
        ),
    )


def maxsim_topk(
    multivecs: DataFrame,
    k: int = 3,
    query_filter: Column | None = None,
    block_on_label: bool = True,
    id_col: str = "vec_id",
    label_col: str = "label",
    vecs_col: str = "vecs",
) -> DataFrame:
    """Exact late-interaction top-k: for each query row, the k docs with
    the highest MaxSim score. Scores as `e6` integers (`maxsim_e6`)
    before ranking and ties break on neighbor id, so the selected set is
    stable across engines/retries.
    Label blocking bounds the candidate join exactly as in
    `similarity.cosine_topk`; pass `block_on_label=False` only for the
    labeled exact-baseline mode."""
    from legendary_data_pipeline_spark.operators.ranking import (
        top_k_per_group,
    )

    base = multivecs.select(
        F.col(id_col), F.col(label_col), F.col(vecs_col)
    )
    queries = base if query_filter is None else base.filter(query_filter)
    queries = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(label_col).alias("q_label"),
        F.col(vecs_col).alias("q_vecs"),
    )
    cands = base.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(label_col).alias("c_label"),
        F.col(vecs_col).alias("c_vecs"),
    )
    if block_on_label:
        joined = queries.join(cands, F.col("q_label") == F.col("c_label"))
    else:
        joined = queries.crossJoin(cands)
    joined = joined.filter(F.col("query_id") != F.col("neighbor_id"))
    scored = joined.select(
        "query_id",
        "neighbor_id",
        e6(maxsim_expr("q_vecs", "c_vecs")).alias("maxsim_e6"),
    )
    return top_k_per_group(
        scored,
        ["query_id"],
        [F.col("maxsim_e6").desc(), F.col("neighbor_id").asc()],
        k=k,
        rank_col="rank",
    ).select("query_id", "neighbor_id", "rank", "maxsim_e6")


def rbo_suffix(k: int, p: float):
    """(LCM(1..k), suffix sums) for `rbo_at_k`: suffix[m-1] =
    Σ_{d=m..k} (LCM/d)·(1−p)·p^(d−1) as EXACT Decimals built from
    12-dp-quantized weights — shared verbatim with the DuckDB oracle
    so both engines sum identical literals."""
    from decimal import ROUND_HALF_UP, Decimal
    from math import gcd

    lcm = 1
    for i in range(2, k + 1):
        lcm = lcm * i // gcd(lcm, i)
    q12 = Decimal("0.000000000001")
    coefs = []
    for d in range(1, k + 1):
        w = Decimal(str((1.0 - p) * (p ** (d - 1)))).quantize(
            q12, rounding=ROUND_HALF_UP
        )
        coefs.append(Decimal(lcm // d) * w)
    suffix = []
    acc = Decimal(0)
    for d in range(k, 0, -1):
        acc += coefs[d - 1]
        suffix.append(acc)
    suffix.reverse()  # suffix[m-1] = sum over d >= m
    return lcm, suffix


def rbo_at_k(
    ranked_a: DataFrame,
    ranked_b: DataFrame,
    query_col: str = "query_id",
    item_col: str = "neighbor_id",
    rank_col: str = "rank",
    k: int = 10,
    p: float = 0.9,
) -> DataFrame:
    """Truncated Rank-Biased Overlap (Webber et al. 2010) between two
    rankings of the same queries — "how close is the ANN retriever to
    the exact one?" as a [0, 1] per-query score (1 = identical
    prefixes), top-weighted by persistence ``p``:

        RBO@k = Σ_{d=1..k} (X_d / d) · (1−p) · p^(d−1),
        X_d = |A_{:d} ∩ B_{:d}|

    Exactness: an item appearing at ranks (r_a, r_b) joins every
    prefix depth d ≥ max(r_a, r_b), so its total contribution is the
    SUFFIX SUM Σ_{d≥m} coef_d with coef_d = (LCM(1..k)/d)·(1−p)p^(d−1)
    — the MRR integer-LCM trick fused with NDCG's shared 12-dp decimal
    literals: every coefficient (and suffix) is a Decimal quantized
    once here and injected verbatim into both engines, per-query sums
    accumulate in exact decimal, and RBO is ONE final double division
    by the LCM. No float summation anywhere.

    Inputs: one row per (query, item, 1-based rank), ranks ≤ k used.
    Queries present in ``ranked_a`` with no overlapping item score
    0.0. Output per query: query, n_overlap, rbo.

    Scale: one (query, item)-keyed equi-join of two top-k frames
    (≤ k rows per query each), one per-query aggregation. Nothing is
    data-sized; the rankings are the inputs.
    """
    if not (0.0 < p < 1.0):
        raise ValueError(f"rbo_at_k: p must be in (0, 1), got {p}")
    lcm, suffix = rbo_suffix(k, p)

    a = ranked_a.select(
        F.col(query_col).alias("__q"),
        F.col(item_col).alias("__i"),
        F.col(rank_col).cast("int").alias("__ra"),
    ).where(F.col("__ra") <= k)
    b = ranked_b.select(
        F.col(query_col).alias("__q"),
        F.col(item_col).alias("__i"),
        F.col(rank_col).cast("int").alias("__rb"),
    ).where(F.col("__rb") <= k)
    joined = a.join(b, ["__q", "__i"])
    m = F.greatest(F.col("__ra"), F.col("__rb"))
    contrib = None
    for depth in range(1, k + 1):
        lit = F.lit(str(suffix[depth - 1])).cast("decimal(28,12)")
        contrib = (
            F.when(m == depth, lit)
            if contrib is None
            else contrib.when(m == depth, lit)
        )
    per_q = joined.groupBy("__q").agg(
        F.count(F.lit(1)).cast("long").alias("n_overlap"),
        F.sum(contrib).cast("decimal(38,12)").alias("__s"),
    )
    queries = ranked_a.select(
        F.col(query_col).alias("__q")
    ).distinct()
    out = queries.join(per_q, "__q", "left")
    rbo = F.coalesce(
        F.col("__s").cast("double") / F.lit(float(lcm)), F.lit(0.0)
    )
    return out.select(
        F.col("__q").alias(query_col),
        F.coalesce(F.col("n_overlap"), F.lit(0)).cast("long").alias(
            "n_overlap"
        ),
        rbo.alias("rbo"),
    )
