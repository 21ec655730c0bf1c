"""Distributed classifier/ranker evaluation primitives.

A training-data pipeline that runs quality classifiers (the engine's
NB quality scorer, X95) and samplers needs to EVALUATE them at corpus
scale: ROC-AUC, calibration, precision/recall at operating thresholds,
and leak-free stratified splits. Everything here is exact and
integer-deterministic so every operator is DuckDB-oracle-checkable
(division happens once, at the end, on exact integer counts).

Scale notes (100 TB):

- ``auc_by_group`` never sorts globally: scores are first reduced to
  one row per (group, distinct score) — a normal shuffled aggregation
  with map-side combine — and the rank-statistic cumulative sum runs in
  a window partitioned BY GROUP. The tie-corrected Mann-Whitney
  numerator is kept in integer space (doubled to avoid the n/2 halves).
  For a single gigantic group, pre-bucket scores (the engine's bucketed
  two-phase global-rank pattern, operators/ranking.py) before the sweep.
- ``calibration_bins`` / ``pr_at_thresholds`` are one map-side-combined
  aggregation each; the threshold grid is a broadcast literal relation.
- ``stratified_split_exact`` ranks within each stratum by a seeded md5
  (portable across engines, functions/hashing.py) — exact per-stratum
  proportions. The window partitions by stratum; for strata too large
  to window, the documented scale fallback is the hash-threshold split
  (operators/curation.py stratified sampler) which is proportional in
  expectation without any window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from legendary_data_pipeline_spark.functions.hashing import seeded_md5_long
from legendary_data_pipeline_spark.functions.numeric import e6

__all__ = [
    "auc_by_group",
    "calibration_bins",
    "pr_at_thresholds",
    "stratified_split_exact",
    "mrr_at_k",
    "ndcg_at_k",
    "ndcg_weights",
    "target_encode",
    "woe_iv",
    "two_proportion_test",
    "rrf_fuse",
    "confusion_stats",
    "brier_decomposition",
    "cumulative_gains",
]


def auc_by_group(
    df: DataFrame,
    group_cols: list[str],
    score_col: str,
    label_col: str,
) -> DataFrame:
    """Exact tie-corrected ROC-AUC per group (Mann-Whitney U form).

    ``label_col`` must be 0/1. For each group:

        AUC = [ sum_over_distinct_scores( pos_s * cumneg_below_s )
                + sum( pos_s * neg_s ) / 2 ] / (P * N)

    computed as ``num2 / (2*P*N)`` with ``num2`` fully integer, so the
    only floating-point step is the final division — bit-identical
    across engines. Groups with no positives or no negatives return
    NULL auc (undefined). Rows with a NULL score or label are DROPPED
    up front: a NULL has no rank position, and Spark and DuckDB sort
    NULLs to opposite ends of an ascending window, so keeping them
    would silently diverge between engines.

    Output: group_cols..., n_pos, n_neg, auc_e6.
    """
    df = df.where(
        F.col(score_col).isNotNull() & F.col(label_col).isNotNull()
    )
    lab = F.col(label_col).cast("long")
    per_score = df.groupBy(*group_cols, score_col).agg(
        F.sum(lab).alias("__pos"),
        F.sum(F.lit(1) - lab).alias("__neg"),
    )
    w = (
        Window.partitionBy(*group_cols)
        .orderBy(F.col(score_col).asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cumneg = F.coalesce(F.sum("__neg").over(w), F.lit(0))
    # decimal(38,0) from the first multiply: both the per-score term
    # (2*pos*cumneg can pass 2^63 once a group holds ~2e9 positives and
    # negatives) and the group SUM (~P*N) overflow int64 and wrap
    # silently in non-ANSI mode — real at 100 TB.
    pos_dec = F.col("__pos").cast("decimal(38,0)")
    contrib = per_score.withColumn(
        "__num2",
        (F.lit(2).cast("decimal(38,0)") * pos_dec * cumneg
         + pos_dec * F.col("__neg")).cast("decimal(38,0)"),
    )
    agg = contrib.groupBy(*group_cols).agg(
        F.sum("__pos").cast("long").alias("n_pos"),
        F.sum("__neg").cast("long").alias("n_neg"),
        F.sum("__num2").cast("decimal(38,0)").alias("__num2"),
    )
    # Denominator in decimal(38,0) too: 2*P*N wraps int64 at exactly
    # the same ~2e9-per-class scale the numerator guards against.
    denom = (
        F.lit(2).cast("decimal(38,0)")
        * F.col("n_pos").cast("decimal(38,0)")
        * F.col("n_neg").cast("decimal(38,0)")
    )
    ratio = F.col("__num2").cast("double") / denom.cast("double")
    auc = F.when(denom > 0, e6(ratio))
    return agg.select(*group_cols, "n_pos", "n_neg", auc.alias("auc_e6"))


def calibration_bins(
    df: DataFrame,
    pred_col: str,
    label_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Reliability-diagram counts: equal-width bins over pred in [0, 1].

    bin = min(floor(pred * n_bins), n_bins - 1); output per non-empty
    bin: bin id, bin midpoint, n, n_pos, frac_pos_e6. All counts
    integer; the midpoint and the final ratio are the only floats.
    bin_mid stays a double: it is one shared IEEE expression over small
    integers, bit-stable without any fractional round.
    Rows with a NULL prediction or label are dropped (a NULL would
    otherwise silently form its own NULL bin).
    """
    df = df.where(
        F.col(pred_col).isNotNull() & F.col(label_col).isNotNull()
    )
    lab = F.col(label_col).cast("long")
    bin_id = F.least(
        F.floor(F.col(pred_col) * n_bins).cast("long"), F.lit(n_bins - 1)
    )
    out = (
        df.select(bin_id.alias("bin"), lab.alias("__lab"))
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("__lab").cast("long").alias("n_pos"),
        )
    )
    mid = (F.col("bin").cast("double") + F.lit(0.5)) / F.lit(float(n_bins))
    ratio = F.col("n_pos").cast("double") / F.col("n").cast("double")
    return out.select(
        "bin", mid.alias("bin_mid"), "n", "n_pos",
        e6(ratio).alias("frac_pos_e6"),
    )


def pr_at_thresholds(
    df: DataFrame,
    pred_col: str,
    label_col: str,
    thresholds: list[float],
) -> DataFrame:
    """Precision / recall / F1 at a fixed threshold grid.

    The grid is a broadcast literal relation crossed with the scored
    rows; the groupBy(threshold) aggregation map-side combines to
    ``len(thresholds)`` rows per partition, so the join adds no real
    shuffle volume. TP/FP/FN are exact integers; the three ratios are
    RAW final IEEE divisions (exact-integer ratios are bit-stable
    across engines — the round-9 representation audit removed their
    superfluous fractional rounds). Empty-denominator cells are NULL.
    Rows with a NULL prediction or label are dropped (a NULL
    comparison is neither >= nor < the threshold, so keeping them
    would silently leak rows out of tp+fn = total positives).
    """
    df = df.where(
        F.col(pred_col).isNotNull() & F.col(label_col).isNotNull()
    )
    spark = SparkSession.getActiveSession()
    grid = spark.createDataFrame(
        [(float(t),) for t in sorted(thresholds)], "threshold double"
    )
    lab = F.col(label_col).cast("long")
    pred_pos = (F.col(pred_col) >= F.col("threshold")).cast("long")
    scored = df.select(F.col(pred_col), lab.alias("__lab")).crossJoin(
        F.broadcast(grid)
    )
    agg = scored.groupBy("threshold").agg(
        F.sum(F.col("__lab") * pred_pos).cast("long").alias("tp"),
        F.sum((F.lit(1) - F.col("__lab")) * pred_pos).cast("long").alias("fp"),
        F.sum(F.col("__lab") * (F.lit(1) - pred_pos)).cast("long").alias("fn"),
    )
    prec_den = (F.col("tp") + F.col("fp")).cast("double")
    rec_den = (F.col("tp") + F.col("fn")).cast("double")
    f1_den = (F.lit(2) * F.col("tp") + F.col("fp") + F.col("fn")).cast("double")
    ratio = lambda num, den: F.when(  # noqa: E731
        den > 0, num.cast("double") / den
    )
    return agg.select(
        "threshold",
        "tp",
        "fp",
        "fn",
        ratio(F.col("tp"), prec_den).alias("precision"),
        ratio(F.col("tp"), rec_den).alias("recall"),
        ratio(F.lit(2) * F.col("tp"), f1_den).alias("f1"),
    )


def target_encode(
    df: DataFrame,
    cat_col: str,
    target_col: str,
    m: int = 10,
) -> DataFrame:
    """m-estimate target encoding over an INTEGER target.

    The classic high-cardinality categorical feature: replace the
    category with its smoothed target mean,

        enc = (sum_cat + m · global_mean) / (n_cat + m)

    so rare categories shrink toward the global mean instead of
    memorizing their few labels. ``target_col`` must be integral (the
    engine's money convention: cents, not float currency); the global
    mean and the final encoding are floored integers, which keeps every
    value engine-deterministic (round() ties break differently across
    engines; floor never does).

    Plan: ONE category-keyed aggregation (map-side combinable) plus a
    1-row broadcast global aggregate — category-table-sized output,
    suitable for broadcasting back onto the feature frame.

    Output: (cat_col, n, enc) with enc = floor((sum + m·gmean)/(n+m)).
    """
    tgt = F.col(target_col).cast("long")
    per = df.groupBy(cat_col).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(tgt).cast("long").alias("__sum"),
    )
    g = df.agg(
        F.floor(
            F.sum(tgt).cast("double") / F.count(F.lit(1)).cast("double")
        )
        .cast("long")
        .alias("__gmean")
    )
    enc = F.floor(
        (F.col("__sum") + F.lit(m) * F.col("__gmean")).cast("double")
        / (F.col("n") + F.lit(m)).cast("double")
    ).cast("long")
    return per.crossJoin(F.broadcast(g)).select(
        cat_col, "n", enc.alias("enc")
    )


def woe_iv(
    df: DataFrame,
    cat_col: str,
    label_col: str,
    smoothing: float = 0.5,
) -> DataFrame:
    """Weight of evidence per category + the feature's information
    value — the credit-scoring-standard categorical predictiveness
    measure (and the binning diagnostic behind scorecard features).

        woe_c = ln( ((pos_c + s)·(NEG + s·K)) / ((neg_c + s)·(POS + s·K)) )
        iv    = Σ_c (dp_c − dn_c) · woe_c
        dp_c  = (pos_c + s)/(POS + s·K),  dn_c = (neg_c + s)/(NEG + s·K)

    with Laplace smoothing s per category (K categories), so
    zero-count cells stay finite. ``label_col`` must be 0/1; NULL
    labels are dropped (no class), NULL categories form their own bin
    (GROUP BY semantics). Counts are exact integers; the single ln and
    two divisions are fixed double expressions, `e6` scaling absorbing
    last-ulp libm differences — the engine's mutual-information
    convention.

    Output: (cat_col, n, n_pos, n_neg, woe_e6, iv_e6) — `iv_e6` is the
    same feature-level total on every row.

    Plan: ONE category-keyed aggregation (map-side combinable); the
    marginals and the IV total aggregate the category-sized frame,
    broadcast back. The corpus is scanned once.
    """
    lab = F.col(label_col).cast("long")
    per = (
        df.where(lab.isNotNull())
        .groupBy(cat_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(lab).cast("long").alias("n_pos"),
            F.sum(F.lit(1) - lab).cast("long").alias("n_neg"),
        )
    )
    # Marginals and the feature-level IV attach via UNPARTITIONED
    # windows over the category-cardinality frame — separate agg +
    # crossJoin branches would re-run the corpus aggregation once per
    # branch (plan-shape suite pins the single pass).
    w_all = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    s = F.lit(float(smoothing))
    pos_adj = (
        F.sum("n_pos").over(w_all).cast("double")
        + s * F.count(F.lit(1)).over(w_all).cast("double")
    )
    neg_adj = (
        F.sum("n_neg").over(w_all).cast("double")
        + s * F.count(F.lit(1)).over(w_all).cast("double")
    )
    dp = (F.col("n_pos").cast("double") + s) / pos_adj
    dn = (F.col("n_neg").cast("double") + s) / neg_adj
    woe = F.log(
        (F.col("n_pos").cast("double") + s) * neg_adj
        / ((F.col("n_neg").cast("double") + s) * pos_adj)
    )
    terms = per.select(
        F.col(cat_col),
        "n",
        "n_pos",
        "n_neg",
        e6(woe).alias("woe_e6"),
        ((dp - dn) * woe).alias("__iv_term"),
    )
    iv = e6(F.sum("__iv_term").over(w_all))
    return terms.select(
        cat_col, "n", "n_pos", "n_neg", "woe_e6", iv.alias("iv_e6")
    )


def rrf_fuse(
    rankings: DataFrame,
    query_col: str,
    item_col: str,
    rank_col: str,
    k: int = 60,
    scale: int = 1_000_000,
    top_k: int = 10,
) -> DataFrame:
    """Reciprocal-rank fusion of multiple retriever rankings.

    Input: the UNION of per-retriever ranked lists — one row per
    (query, item, rank) per retriever. Classic RRF sums 1/(k + rank)
    across retrievers (Cormack & Clarke, SIGIR'09); floats make the
    fusion order-sensitive across engines, so this uses the scaled
    integer form ``floor(scale / (k + rank))`` — monotone in rank,
    summed exactly, deterministic everywhere. Ties on the fused score
    break by item id (total order).

    Plan: one (query, item)-keyed aggregation with map-side combine,
    then a per-query top-k window. Output:
    (query, item, fused_score, n_sources, fused_rank), rank 1..top_k.
    """
    w = F.floor(
        F.lit(float(scale)) / (F.col(rank_col) + F.lit(k)).cast("double")
    ).cast("long")
    per = rankings.groupBy(query_col, item_col).agg(
        F.sum(w).cast("long").alias("fused_score"),
        F.count(F.lit(1)).cast("long").alias("n_sources"),
    )
    order = Window.partitionBy(query_col).orderBy(
        F.col("fused_score").desc(), F.col(item_col).asc()
    )
    return (
        per.withColumn("fused_rank", F.row_number().over(order).cast("long"))
        .where(F.col("fused_rank") <= top_k)
    )


def confusion_stats(df: DataFrame, true_col: str, pred_col: str) -> DataFrame:
    """Multiclass confusion matrix with exact Cohen's kappa.

    One (true, pred)-keyed aggregation gives the cells; marginals are
    class-count-sized re-aggregations of those cells (never of the
    data). Chance agreement stays in INTEGER cross-products:

        kappa = (N·trace − Σ_i r_i·c_i) / (N² − Σ_i r_i·c_i)

    so kappa and accuracy are single final divisions (`e6` scaled) —
    engine-deterministic. Every cell row carries the overall stats
    (n_total, n_agree, accuracy_e6, kappa_e6) via a broadcast 1-row
    frame.

    Output: (true_col, pred_col, n, n_total, n_agree, accuracy_e6,
    kappa_e6).
    """
    # Pin the class²-sized cell table: five consumers below (row/col
    # marginals, agreement, total, the per-cell output join) would
    # otherwise each replay the input scan + prediction compute +
    # groupBy (measured: 5 source scans for the langid confusion).
    cells = df.groupBy(true_col, pred_col).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    ).localCheckpoint(eager=False)
    rows = cells.groupBy(true_col).agg(F.sum("n").alias("__r"))
    cols = cells.groupBy(pred_col).agg(F.sum("n").alias("__c"))
    chance = (
        rows.join(cols, rows[true_col] == cols[pred_col])
        .agg(F.coalesce(F.sum(F.col("__r") * F.col("__c")), F.lit(0)).alias("__pe"))
    )
    agree = cells.where(F.col(true_col) == F.col(pred_col)).agg(
        F.coalesce(F.sum("n"), F.lit(0)).alias("__agree")
    )
    total = cells.agg(F.coalesce(F.sum("n"), F.lit(0)).alias("__n"))
    stats = (
        total.crossJoin(F.broadcast(agree))
        .crossJoin(F.broadcast(chance))
        .select(
            F.col("__n").cast("long").alias("n_total"),
            F.col("__agree").cast("long").alias("n_agree"),
            F.when(
                F.col("__n") > 0,
                e6(
                    F.col("__agree").cast("double")
                    / F.col("__n").cast("double")
                ),
            ).alias("accuracy_e6"),
            F.when(
                F.col("__n") * F.col("__n") - F.col("__pe") != 0,
                e6(
                    (F.col("__n") * F.col("__agree") - F.col("__pe")).cast(
                        "double"
                    )
                    / (F.col("__n") * F.col("__n") - F.col("__pe")).cast(
                        "double"
                    )
                ),
            ).alias("kappa_e6"),
        )
    )
    return cells.crossJoin(F.broadcast(stats))


def _lcm_1_to(k: int) -> int:
    from math import gcd

    out = 1
    for i in range(2, k + 1):
        out = out * i // gcd(out, i)
    return out


def mrr_at_k(
    ranked: DataFrame,
    query_col: str,
    rank_col: str,
    rel_col: str,
    k: int = 10,
) -> DataFrame:
    """Exact mean reciprocal rank at k over a ranked retrieval frame.

    Input: one row per (query, retrieved item) with its 1-based rank and
    a 0/1 relevance. The classic float pitfall — averaging 1/r doubles,
    whose sum depends on reduction order — is avoided with an integer
    numerator: each query contributes ``LCM(1..k) / first_rel_rank``
    (an exact integer since first_rel_rank <= k divides the LCM), and

        MRR = sum(contrib) / (LCM * n_queries)

    is ONE final double division (raw — bit-stable over exact
    integers). Output: a single row (n_queries, n_hit, mrr).
    """
    lcm = _lcm_1_to(k)
    # ONE query-keyed aggregation: min rank among relevant-within-k
    # rows (NULL when none) — a separate distinct-queries branch +
    # join-back would replay the whole retrieval lineage twice.
    per_q = ranked.groupBy(query_col).agg(
        F.min(
            F.when((F.col(rank_col) <= k) & (F.col(rel_col) == 1),
                   F.col(rank_col))
        ).alias("__r")
    ).select(
        F.when(
            F.col("__r").isNotNull(), (F.lit(lcm) / F.col("__r")).cast("long")
        )
        .otherwise(F.lit(0))
        .alias("__num")
    )
    agg = per_q.agg(
        F.count(F.lit(1)).cast("long").alias("n_queries"),
        F.coalesce(F.sum((F.col("__num") > 0).cast("long")), F.lit(0))
        .cast("long")
        .alias("n_hit"),
        F.coalesce(F.sum("__num"), F.lit(0)).alias("__num_sum"),
    )
    # Raw final IEEE division of exact integers (round-9 audit).
    mrr = F.when(
        F.col("n_queries") > 0,
        F.col("__num_sum").cast("double")
        / (F.lit(lcm).cast("double") * F.col("n_queries").cast("double")),
    )
    return agg.select("n_queries", "n_hit", mrr.alias("mrr"))


def ndcg_weights(k: int):
    """Positionwise DCG gains 1/log2(i+1), i=1..k, as 12-dp Decimals.

    Quantized once here and injected as IDENTICAL literals into both the
    Spark expression and the DuckDB oracle SQL, so per-query DCG sums
    run in exact decimal arithmetic — order-independent and bit-equal
    across engines (a raw double DCG would depend on reduction order).
    """
    from decimal import ROUND_HALF_UP, Decimal
    from math import log2

    q = Decimal("0.000000000001")
    return [
        Decimal(str(1.0 / log2(i + 1))).quantize(q, rounding=ROUND_HALF_UP)
        for i in range(1, k + 1)
    ]


def ndcg_at_k(
    ranked: DataFrame,
    query_col: str,
    rank_col: str,
    rel_col: str,
    n_rel_col: str,
    k: int = 10,
) -> DataFrame:
    """Per-query binary NDCG@k with exact-decimal DCG/IDCG sums.

    ``n_rel_col`` is the query's TOTAL relevant-item count in the corpus
    (IDCG@k normalizes by the ideal ranking of min(n_rel, k) relevant
    items). Gains are the shared 12-dp decimal literals from
    :func:`ndcg_weights`; DCG and the IDCG prefix sums are decimal —
    exact and order-independent — and the single double division is the
    only float op. Queries with n_rel = 0 return NULL ndcg.

    Output: one row per query (query, n_rel, ndcg — a raw IEEE ratio
    of exact decimal sums, bit-stable).
    """
    w = ndcg_weights(k)
    w_arr = F.array(*[F.lit(x).cast("decimal(18,12)") for x in w])
    prefix = []
    acc = None
    for x in w:
        acc = x if acc is None else acc + x
        prefix.append(acc)
    p_arr = F.array(*[F.lit(x).cast("decimal(18,12)") for x in prefix])

    gain = F.when(
        (F.col(rel_col) == 1) & (F.col(rank_col) <= k),
        F.element_at(w_arr, F.col(rank_col).cast("int")),
    ).otherwise(F.lit(0).cast("decimal(18,12)"))
    per_q = ranked.groupBy(query_col).agg(
        F.sum(gain).alias("__dcg"),
        F.max(F.col(n_rel_col)).cast("long").alias("n_rel"),
    )
    m = F.least(F.col("n_rel"), F.lit(k)).cast("int")
    idcg = F.when(m > 0, F.element_at(p_arr, m))
    ndcg = F.when(
        m > 0,
        F.col("__dcg").cast("double") / idcg.cast("double"),
    )
    return per_q.select(
        F.col(query_col), "n_rel", ndcg.alias("ndcg")
    )


def stratified_split_exact(
    df: DataFrame,
    strata_cols: list[str],
    id_col: str,
    train_pct: int = 80,
    seed: int = 42,
) -> DataFrame:
    """Exact-proportion stratified train/val split.

    Within each stratum, rows are ranked by a seeded md5 of the id
    (portable, engine-independent pseudo-randomness) and the first
    ``floor(n * train_pct / 100)`` become 'train'. Unlike a plain hash
    threshold, every stratum hits its target fraction EXACTLY (off by
    at most the floor), which matters for small or skewed strata.

    Adds a ``split`` column. The window partitions by stratum — fine up
    to strata of ~10^8 rows; beyond that use the hash-threshold
    stratified sampler (operators/curation.py) which needs no window.
    NULL ids are rejected loudly (md5(NULL) is NULL, and Spark and
    DuckDB order NULL keys to opposite window ends — a silent
    cross-engine divergence otherwise); NULL strata form their own
    stratum per SQL GROUP BY semantics. The NULL-id guard is part of
    the PLAN (raise_error inside the rank key), not an eager pre-scan:
    the operator stays lazy like its siblings and the input is read
    exactly once, raising on the first NULL id the executor meets.
    """
    h = F.when(
        F.col(id_col).isNotNull(),
        seeded_md5_long(F.col(id_col).cast("string"), seed),
    ).otherwise(
        F.raise_error(
            F.lit(
                f"stratified_split_exact: NULL {id_col} rows present — "
                "the seeded-md5 rank is undefined for NULL ids; filter "
                "or assign surrogate ids first."
            )
        )
    )
    w = Window.partitionBy(*strata_cols).orderBy(h.asc(), F.col(id_col).asc())
    wn = Window.partitionBy(*strata_cols)
    rn = F.row_number().over(w)
    n = F.count(F.lit(1)).over(wn)
    cut = F.floor(n * train_pct / F.lit(100)).cast("long")
    split = F.when(rn <= cut, F.lit("train")).otherwise(F.lit("val"))
    return df.withColumn("split", split)


def two_proportion_test(
    df: DataFrame,
    group_col: str,
    label_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Two-proportion z-test between two named groups — the A/B
    experiment readout (did variant B's conversion rate move?) and the
    slice-regression check (did quality drop for source X vs source Y?).

        z = (p_a − p_b) / sqrt( p̂(1−p̂)(1/n_a + 1/n_b) ),  p̂ pooled

    ``label_col`` must be 0/1; NULL labels drop; rows outside the two
    named groups are ignored. Counts are exact integers from ONE
    filtered aggregation (no per-group branches); the z expression is
    a fixed IEEE double tree over them, emitted as ``z_e6`` (z², not
    |z|, would lose the direction — sign means A over B). Degenerate
    inputs (an empty group, pooled rate 0 or 1) yield NULL z. p_a, p_b
    and diff are RAW IEEE ratios (exact-integer divisions — bit-stable
    without any round).

    Output (1 row): n_a, pos_a, n_b, pos_b, p_a, p_b, diff, z_e6.
    """
    lab = F.col(label_col).cast("long")
    g = F.col(group_col)
    is_a = g.eqNullSafe(F.lit(group_a))
    is_b = g.eqNullSafe(F.lit(group_b))
    agg = df.where(lab.isNotNull() & (is_a | is_b)).agg(
        F.coalesce(F.sum(is_a.cast("long")), F.lit(0))
        .cast("long").alias("n_a"),
        F.coalesce(F.sum(F.when(is_a, lab)), F.lit(0))
        .cast("long").alias("pos_a"),
        F.coalesce(F.sum(is_b.cast("long")), F.lit(0))
        .cast("long").alias("n_b"),
        F.coalesce(F.sum(F.when(is_b, lab)), F.lit(0))
        .cast("long").alias("pos_b"),
    )
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    pa = F.col("pos_a").cast("double") / na
    pb = F.col("pos_b").cast("double") / nb
    pooled = (F.col("pos_a") + F.col("pos_b")).cast("double") / (na + nb)
    se = F.sqrt(pooled * (F.lit(1.0) - pooled) * (F.lit(1.0) / na + F.lit(1.0) / nb))
    z = F.when(
        (F.col("n_a") > 0) & (F.col("n_b") > 0), (pa - pb) / F.nullif(se, F.lit(0.0))
    )
    return agg.select(
        "n_a", "pos_a", "n_b", "pos_b",
        F.when(F.col("n_a") > 0, pa).alias("p_a"),
        F.when(F.col("n_b") > 0, pb).alias("p_b"),
        F.when(
            (F.col("n_a") > 0) & (F.col("n_b") > 0), pa - pb
        ).alias("diff"),
        e6(z).alias("z_e6"),
    )


def precision_recall_at_k(
    ranked: DataFrame,
    query_col: str,
    rank_col: str,
    rel_col: str,
    k: int,
    total_rel: DataFrame | None = None,
) -> DataFrame:
    """Exact precision@k / recall@k over a ranked retrieval frame —
    the set-overlap companions to MRR (first hit) and NDCG (graded
    positions).

    Input: one row per (query, item) with 1-based rank and 0/1
    relevance; ``total_rel`` optionally supplies (query, n_rel) — the
    TRUE relevant count per query in the corpus — for recall. Both
    emitted metrics are EXACT single divisions of exact integers (the
    MRR lesson: no per-query float averaging):

    - precision_at_k = Σ_q hits_q / (k · n_queries)  (the macro mean —
      exact because every query shares the same denominator k)
    - recall_at_k   = Σ_q hits_q / Σ_q n_rel_q       (the MICRO form —
      the macro mean of hits_q/n_rel_q would be an order-dependent
      float sum; micro is the deterministic aggregate, documented)

    Queries in ``total_rel`` with no ranked rows count as zero-hit
    (full outer semantics); NULL recall when total_rel is absent.
    A RANKED query missing from ``total_rel`` raises in-plan (the
    token_budget_head guard precedent): silently coalescing its n_rel
    to 0 would inflate the micro recall numerator while adding nothing
    to the denominator — recall could exceed 1.

    Output (1 row): n_queries, n_hits, n_rel_total, precision_at_k,
    recall_at_k.
    """
    if k < 1:
        raise ValueError(f"precision_recall_at_k: k must be >= 1, got {k}")
    hits = ranked.groupBy(query_col).agg(
        F.coalesce(
            F.sum(
                F.when(
                    (F.col(rank_col) <= k) & (F.col(rel_col) == 1), 1
                ).otherwise(0)
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("__hits")
    )
    if total_rel is not None:
        tr = total_rel.select(
            F.col(query_col).alias("__tq"),
            F.col("n_rel").cast("long").alias("__nrel"),
        )
        joined = hits.join(
            tr, F.col(query_col).eqNullSafe(F.col("__tq")), "full_outer"
        )
        covered_nrel = F.when(
            F.col("__hits").isNotNull() & F.col("__nrel").isNull(),
            F.raise_error(
                F.lit(
                    "precision_recall_at_k: a ranked query has no "
                    "total_rel row - supply n_rel for every query or "
                    "recall's denominator silently undercounts"
                )
            ).cast("long"),
        ).otherwise(F.coalesce(F.col("__nrel"), F.lit(0)))
        hits = joined.select(
            F.coalesce(F.col("__hits"), F.lit(0)).alias("__hits"),
            covered_nrel.alias("__nrel"),
        )
    else:
        hits = hits.select("__hits", F.lit(None).cast("long").alias("__nrel"))
    agg = hits.agg(
        F.count(F.lit(1)).cast("long").alias("n_queries"),
        F.coalesce(F.sum("__hits"), F.lit(0)).cast("long").alias("n_hits"),
        F.sum("__nrel").cast("long").alias("n_rel_total"),
    )
    prec = F.when(
        F.col("n_queries") > 0,
        F.col("n_hits").cast("double")
        / (F.lit(float(k)) * F.col("n_queries").cast("double")),
    )
    rec = F.when(
        F.col("n_rel_total") > 0,
        F.col("n_hits").cast("double") / F.col("n_rel_total").cast("double"),
    )
    return agg.select(
        "n_queries",
        "n_hits",
        "n_rel_total",
        prec.alias("precision_at_k"),
        rec.alias("recall_at_k"),
    )


def expected_calibration_error(
    df: DataFrame,
    pred_col: str,
    label_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Expected / maximum calibration error — the one-number summaries
    of the reliability diagram (`calibration_bins`):

        ECE = Σ_b (n_b/N)·|acc_b − conf_b|
        MCE = max_b |acc_b − conf_b|

    with acc_b the bin's positive fraction (exact integer ratio) and
    conf_b its MEAN PREDICTION (the standard convention — not the bin
    midpoint; the per-bin prediction sum is the one float accumulation,
    whose sub-1e-10 order noise the *_e6 emission absorbs). Same
    equal-width [0, 1] binning and NULL-drop contract as
    `calibration_bins`.

    Output (1 row): n, n_bins_used, ece_e6, mce_e6.
    """
    if n_bins < 1:
        raise ValueError(
            f"expected_calibration_error: n_bins must be >= 1, got {n_bins}"
        )
    d = df.where(
        F.col(pred_col).isNotNull() & F.col(label_col).isNotNull()
    )
    lab = F.col(label_col).cast("long")
    bin_id = F.least(
        F.floor(F.col(pred_col) * n_bins).cast("long"), F.lit(n_bins - 1)
    )
    bins = (
        d.select(
            bin_id.alias("bin"),
            lab.alias("__lab"),
            F.col(pred_col).cast("double").alias("__p"),
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("__n"),
            F.sum("__lab").cast("long").alias("__pos"),
            F.sum("__p").alias("__psum"),
        )
    )
    acc = F.col("__pos").cast("double") / F.col("__n").cast("double")
    conf = F.col("__psum") / F.col("__n").cast("double")
    gap = F.abs(acc - conf)
    agg = bins.agg(
        F.sum("__n").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("n_bins_used"),
        F.sum(F.col("__n").cast("double") * gap).alias("__wgap"),
        F.max(gap).alias("__mce"),
    )
    ece = F.col("__wgap") / F.col("n").cast("double")
    return agg.select(
        "n",
        "n_bins_used",
        F.when(F.col("n") > 0, e6(ece)).alias("ece_e6"),
        F.when(F.col("n") > 0, e6(F.col("__mce"))).alias("mce_e6"),
    )


def brier_decomposition(
    df: DataFrame,
    pred_col: str,
    label_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Brier score + Murphy (1973) three-way decomposition — the
    proper-scoring-rule companion to `expected_calibration_error`
    (X210): ECE says HOW FAR the reliability diagram sits from the
    diagonal; this says how much of the total squared-error loss that
    miscalibration costs, versus what better discrimination could buy:

        brier       = (1/N) Σ (p_i − y_i)²
        reliability = (1/N) Σ_b n_b·(conf_b − acc_b)²   (calibration)
        resolution  = (1/N) Σ_b n_b·(acc_b − ȳ)²        (discrimination)
        uncertainty = ȳ·(1 − ȳ)                          (irreducible)

    with conf_b the bin's MEAN PREDICTION and acc_b its exact positive
    fraction — brier = reliability − resolution + uncertainty holds
    exactly when predictions are constant within bins; the residual is
    the (reported) within-bin variance wbv = brier − (rel − res + unc),
    so the identity is auditable from the output row.

    Same equal-width [0, 1] binning, NULL-drop and 0/1-label contract
    as `calibration_bins`. Float accumulations (Σp, Σp² per bin) are
    the ECE precedent — magnitude-≤1 summands whose sub-1e-10 order
    noise the e6 emission absorbs; counts/positives are exact longs.

    Scale: one map-side-combined groupBy to the ≤n_bins frame, one
    final reduce — nothing data-sized after the scan.

    Output (1 row): n, n_pos, n_bins_used, brier_e6, reliability_e6,
    resolution_e6, uncertainty_e6, within_bin_var_e6.
    """
    if n_bins < 1:
        raise ValueError(
            f"brier_decomposition: n_bins must be >= 1, got {n_bins}"
        )
    d = df.where(
        F.col(pred_col).isNotNull() & F.col(label_col).isNotNull()
    )
    lab = F.col(label_col).cast("long")
    bin_id = F.least(
        F.floor(F.col(pred_col) * n_bins).cast("long"), F.lit(n_bins - 1)
    )
    p = F.col(pred_col).cast("double")
    bins = (
        d.select(
            bin_id.alias("bin"), lab.alias("__lab"), p.alias("__p")
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("__n"),
            F.sum("__lab").cast("long").alias("__pos"),
            F.sum("__p").alias("__psum"),
            F.sum(F.col("__p") * F.col("__p")).alias("__psq"),
            # Σ p·y is needed for the DIRECT brier term (per-bin it is
            # not recoverable from (n, pos, psum)) — same pass
            F.sum(
                F.col("__p") * F.col("__lab").cast("double")
            ).alias("__py"),
        )
    )
    conf_minus_acc = (
        F.col("__psum") / F.col("__n").cast("double")
        - F.col("__pos").cast("double") / F.col("__n").cast("double")
    )
    agg = bins.agg(
        F.sum("__n").cast("long").alias("n"),
        F.sum("__pos").cast("long").alias("n_pos"),
        F.count(F.lit(1)).cast("long").alias("n_bins_used"),
        F.sum("__psq").alias("__spp"),
        F.sum("__py").alias("__spy"),
        # Σ_b n_b (conf_b − acc_b)²  — reliability numerator
        F.sum(
            F.col("__n").cast("double") * conf_minus_acc * conf_minus_acc
        ).alias("__rel_num"),
        # Σ_b n_b acc_b² = Σ_b pos_b²/n_b — resolution via the
        # shifted form Σ n_b(acc_b − ȳ)²/N = Σ n_b acc_b²/N − ȳ²
        # (Σ n_b acc_b = Σ pos = N·ȳ exactly)
        F.sum(
            (F.col("__pos").cast("double") * F.col("__pos").cast("double"))
            / F.col("__n").cast("double")
        ).alias("__acc2_num"),
    )
    n_d = F.col("n").cast("double")
    ybar = F.col("n_pos").cast("double") / n_d
    brier = (
        F.col("__spp") - 2.0 * F.col("__spy") + F.col("n_pos").cast("double")
    ) / n_d
    rel = F.col("__rel_num") / n_d
    res = (
        F.col("__acc2_num") / n_d - ybar * ybar
    )
    unc = ybar * (F.lit(1.0) - ybar)
    wbv = brier - (rel - res + unc)
    ok = F.col("n") > 0
    return agg.select(
        "n",
        "n_pos",
        "n_bins_used",
        F.when(ok, e6(brier)).alias("brier_e6"),
        F.when(ok, e6(rel)).alias("reliability_e6"),
        F.when(ok, e6(res)).alias("resolution_e6"),
        F.when(ok, e6(unc)).alias("uncertainty_e6"),
        F.when(ok, e6(wbv)).alias("within_bin_var_e6"),
    )


def cumulative_gains(
    df: DataFrame,
    pred_col: str,
    label_col: str,
    n_points: int = 10,
) -> DataFrame:
    """Cumulative gains / lift table — the targeting-eval companion to
    `auc_by_group`: "if we act on the top d/k of rows by score, what
    fraction of all positives do we capture, and at what lift over
    random?" (campaign targeting, review-queue sizing, quality-gate
    budget planning).

    Cut convention (pure multiset function, ties NEVER split): for
    point d the row target is T_d = ⌊n·d/k⌋; the kept set is every row
    whose score strictly exceeds the boundary value whose descending
    rank interval contains T_d, PLUS all ties at that boundary — so
    n_kept is the smallest tie-respecting cut ≥ T_d. Emitting the
    ACTUAL n_kept (which can exceed T_d on heavy ties) keeps every
    output an exact integer instead of pro-rating tied rows'
    positives (a fractional, denominator-mixing sum); gain and lift
    are then single exact IEEE divisions of decimal(38,0) products.

        gain_d = pos_kept / total_pos
        lift_d = (pos_kept · n) / (total_pos · n_kept)

    Scale: one (pred)-distinct groupBy + one distributed below-counts
    pass on the DESCENDING order (negated key; it also yields the
    row and positive totals) + one aggregation with k conditional
    sums — the lorenz_points plan, cut thresholds as BIGINT
    expressions over those totals. NULLs drop;
    ``label_col`` must be 0/1 integer-valued.

    Output per point (k rows; 0 rows on an empty/all-NULL input — the
    oracle convention): point, frac_rows (= point/k, exact ratio),
    target_rows, n_kept, pos_kept, gain, lift (NULL when total_pos or
    n_kept is 0).
    """
    if n_points < 1:
        raise ValueError(
            f"cumulative_gains: n_points must be >= 1, got {n_points}"
        )
    from legendary_data_pipeline_spark.operators.stats import (
        bigint_mul_div,
        distributed_below_counts,
    )

    lab = F.col(label_col).cast("long")
    d = df.select(
        F.col(pred_col).cast("double").alias("__p"), lab.alias("__y")
    ).where(F.col(pred_col).isNotNull() & lab.isNotNull())
    guard = F.when(
        (F.col("__y") < 0) | (F.col("__y") > 1),
        F.raise_error(
            F.lit("cumulative_gains: label_col must be 0/1 integer-valued")
        ).cast("long"),
    ).otherwise(F.col("__y"))
    # descending score order = ascending on the negated key (exact for
    # doubles); per-distinct-score counts + positives
    per_v = (
        d.select((-F.col("__p")).alias("__nv"), guard.alias("__y"))
        .groupBy("__nv")
        .agg(
            F.count(F.lit(1)).cast("long").alias("__c"),
            F.sum("__y").cast("long").alias("__pos"),
        )
    )
    j = distributed_below_counts(
        per_v, "__nv", ["__c", "__pos"], inclusive=False
    ).select(
        "__c",
        "__pos",
        "__c_cum",
        F.col("__c_total").alias("__n"),
        F.col("__pos_total").alias("__tp"),
        *[
            bigint_mul_div("__c_total", p, n_points).alias(f"__t{p}")
            for p in range(1, n_points + 1)
        ],
    )
    agg_cols = [
        F.max("__n").alias("__n"),
        F.max("__tp").alias("__tp"),
    ]
    for p in range(1, n_points + 1):
        keep = F.col("__c_cum") < F.col(f"__t{p}")  # above-count < T_p
        agg_cols.append(F.max(f"__t{p}").alias(f"__tt{p}"))
        agg_cols.append(
            F.sum(F.when(keep, F.col("__c")).otherwise(F.lit(0)))
            .cast("long")
            .alias(f"__k{p}")
        )
        agg_cols.append(
            F.sum(F.when(keep, F.col("__pos")).otherwise(F.lit(0)))
            .cast("long")
            .alias(f"__g{p}")
        )
    # Degenerate-input oracle parity (r11 advice): on an all-NULL/empty
    # input the global agg still yields ONE row (all-NULL counts) and
    # the stack would fan it into k NULL rows where the oracle emits 0
    # rows — gate the stack on a non-degenerate total (__n is NULL iff
    # the input was empty).
    wide = j.groupBy().agg(*agg_cols).where(F.col("__n").isNotNull())
    stack_expr = ", ".join(
        f"{p}L, __tt{p}, __k{p}, __g{p}" for p in range(1, n_points + 1)
    )
    long = wide.select(
        "__n",
        "__tp",
        F.expr(
            f"stack({n_points}, {stack_expr}) "
            "AS (point, target_rows, n_kept, pos_kept)"
        ),
    )
    dec = "decimal(38,0)"
    gain = F.when(
        F.col("__tp") > 0,
        F.col("pos_kept").cast("double") / F.col("__tp").cast("double"),
    )
    lift = F.when(
        (F.col("__tp") > 0) & (F.col("n_kept") > 0),
        (F.col("pos_kept").cast(dec) * F.col("__n").cast(dec))
        .cast("double")
        / (F.col("__tp").cast(dec) * F.col("n_kept").cast(dec))
        .cast("double"),
    )
    return long.select(
        F.col("point").cast("long").alias("point"),
        (
            F.col("point").cast("double") / F.lit(float(n_points))
        ).alias("frac_rows"),
        "target_rows",
        "n_kept",
        "pos_kept",
        gain.alias("gain"),
        lift.alias("lift"),
    )
