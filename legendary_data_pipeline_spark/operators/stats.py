"""Distribution statistics and deterministic weighted sampling.

Three operators a warehouse-scale analytics engine needs around the
reference's rollups (10_rollup_market_values_daily.mjs computes grouped
percentiles; these add the neighboring shapes):

- `histogram_auto`: equi-width value histograms with data-derived
  bounds — two passes (bounds, then counts), all integer math.
- `linear_trend`: per-group least-squares slope/intercept from exact
  decimal moment sums — the "is this series drifting" primitive.
- `systematic_weighted_sample`: deterministic probability-proportional-
  to-size sampling on an integer weight (systematic/grid PPS) — the
  reproducible form of weighted corpus downsampling.

Cross-engine determinism: every aggregation here sums INTEGERS (or
decimals) — order-independent, unlike float sums — and doubles appear
only in fixed post-aggregation expression trees (one division, one
sqrt, …), which IEEE 754 defines exactly. That is what lets each
operator carry a DuckDB oracle.

Scale notes (100 TB):
- `histogram_auto`'s bounds pass is a 1-row global aggregate
  (broadcast back); the counts pass is a plain partial-aggregable
  groupBy on (group, bin) — two scans total, no shuffle wider than the
  bin count.
- `linear_trend` is one partial-aggregable groupBy; moment products
  are decimal(38,0) so petabyte-scale sums cannot overflow (a long
  would, around 9.2e18).
- `systematic_weighted_sample` needs a per-stratum prefix sum — a
  window over (stratum) ordered by a seeded hash. Strata are the
  parallelism unit: keep them bounded (lang, source, shard), or
  pre-shard huge strata with a hash bucket the way
  curation.pack_sequences documents; an unstratified call puts the
  whole table through one partition and is refused.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from legendary_data_pipeline_spark.functions.hashing import seeded_md5_long
from legendary_data_pipeline_spark.functions.numeric import e6


def histogram_auto(
    df: DataFrame,
    value: Column,
    n_bins: int = 10,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Equi-width histogram of an integer-valued expression.

    Bounds come from the data (global min/max so every group shares the
    same grid — cross-group comparable); `width = ceil((max-min+1)/
    n_bins)`, so every value lands in [0, n_bins-1] with no clamping.
    Output: (*group_cols, bin, bin_lo, bin_hi, n_rows) — `bin_hi` is
    exclusive. Empty bins are absent (sparse form; dense-join a
    sequence if you need zeros). NULL values are excluded.
    """
    v = value.cast("long")
    src = df.select(*group_cols, v.alias("__v")).filter(
        F.col("__v").isNotNull()
    )
    bounds = src.agg(
        F.min("__v").alias("__lo"), F.max("__v").alias("__hi")
    )
    width = F.expr(f"(__hi - __lo + {n_bins}) DIV {n_bins}")  # ceil((hi-lo+1)/n)
    binned = src.crossJoin(F.broadcast(bounds)).select(
        *group_cols,
        F.expr(f"(__v - __lo) DIV ((__hi - __lo + {n_bins}) DIV {n_bins})")
        .alias("__bin"),
        F.col("__lo"),
        width.alias("__w"),
    )
    return (
        binned.groupBy(*group_cols, "__bin", "__lo", "__w")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .select(
            *group_cols,
            F.col("__bin").cast("int").alias("bin"),
            (F.col("__lo") + F.col("__bin") * F.col("__w")).alias("bin_lo"),
            (F.col("__lo") + (F.col("__bin") + 1) * F.col("__w")).alias(
                "bin_hi"
            ),
            "n_rows",
        )
    )


def linear_trend(
    df: DataFrame,
    x: Column,
    y: Column,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Per-group least-squares line y = slope·x + intercept.

    `x` and `y` must be integer-valued expressions (epoch days, cents —
    the engine's exact-arithmetic conventions). Moments are summed as
    decimal(38,0) (exact, order-independent, overflow-safe), then the
    slope/intercept come from one fixed double expression. Groups whose
    x-variance is 0 (or with <2 rows) get NULL slope/intercept.

    Output: (*group_cols, n_points, slope, intercept).
    """
    xd = x.cast("long").cast("decimal(18,0)")
    yd = y.cast("long").cast("decimal(18,0)")
    src = df.select(
        *group_cols, xd.alias("__x"), yd.alias("__y")
    ).filter(F.col("__x").isNotNull() & F.col("__y").isNotNull())
    agg = src.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("long").alias("n_points"),
        F.sum("__x").cast("decimal(38,0)").alias("__sx"),
        F.sum("__y").cast("decimal(38,0)").alias("__sy"),
        F.sum(
            (F.col("__x") * F.col("__y")).cast("decimal(38,0)")
        ).cast("decimal(38,0)").alias("__sxy"),
        F.sum(
            (F.col("__x") * F.col("__x")).cast("decimal(38,0)")
        ).cast("decimal(38,0)").alias("__sxx"),
    )
    n = F.col("n_points").cast("double")
    sx = F.col("__sx").cast("double")
    sy = F.col("__sy").cast("double")
    sxy = F.col("__sxy").cast("double")
    sxx = F.col("__sxx").cast("double")
    denom = n * sxx - sx * sx
    slope = F.when(
        (F.col("n_points") >= 2) & (denom != 0.0),
        (n * sxy - sx * sy) / denom,
    )
    intercept = F.when(
        slope.isNotNull(), (sy - slope * sx) / n
    )
    return agg.select(
        *group_cols,
        "n_points",
        slope.alias("slope"),
        intercept.alias("intercept"),
    )


def systematic_weighted_sample(
    df: DataFrame,
    weight_col: str,
    step: int,
    strata: Sequence[str],
    id_col: str,
    seed: int = 41,
) -> DataFrame:
    """Deterministic systematic PPS sample: ~1 row kept per `step`
    units of weight, inclusion probability min(1, w/step) per row.

    Rows are laid on a per-stratum line in seeded-hash order (a
    reproducible shuffle — a pure function of (id, seed), never of file
    layout); a row is kept iff a grid point (`phase + k·step`, with a
    per-stratum hash-derived phase standing in for the classic random
    start) falls inside its weight interval [cum_before, cum_before+w).
    Exact integer arithmetic end to end — rerunning on re-partitioned
    data selects the SAME rows. Rows with NULL or non-positive weight
    are never selected.

    Output: input columns + `inv_prob` = max(1, step/w), the inverse
    inclusion probability (importance weight) for unbiased downstream
    estimates; P(keep) = min(1, w/step).

    `strata` must be non-empty: the prefix sum is a window per stratum,
    and an unstratified call would funnel the table through ONE
    partition — use a hash-bucket stratum for a global sample.
    """
    if not strata:
        raise ValueError(
            "systematic_weighted_sample: empty strata would put the "
            "whole table through one window partition; pass e.g. a "
            "hash-bucket column for a global sample."
        )
    w = F.col(weight_col).cast("long")
    src = df.filter(w.isNotNull() & (w > 0))
    order = Window.partitionBy(*strata).orderBy(
        seeded_md5_long(F.col(id_col).cast("string"), seed).asc(),
        F.col(id_col).asc(),
    )
    cum = F.sum(w).over(
        order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    phase = seeded_md5_long(
        F.concat_ws("|", *[F.col(c).cast("string") for c in strata]),
        seed + 1,
    ) % F.lit(step)
    # a multiple of `step` lies in the phase-shifted interval
    # [before+phase, cum+phase) ⟺ floor((cum+phase-1)/step) ≥
    # ceil((before+phase)/step); all operands non-negative longs, so
    # integer DIV is exact floor and (x+step-1) DIV step is exact ceil.
    kept = (
        src.withColumn("__cum", cum)
        .withColumn("__before", F.col("__cum") - w)
        .withColumn("__phase", phase)
        .filter(
            F.expr(f"(__cum + __phase - 1) DIV {step}")
            >= F.expr(f"(__before + __phase + {step} - 1) DIV {step}")
        )
    )
    inv_prob = F.greatest(
        F.lit(1.0), F.lit(float(step)) / w.cast("double")
    )
    return kept.drop("__cum", "__before", "__phase").withColumn(
        "inv_prob", inv_prob
    )


def cusum_changepoint(
    df: DataFrame,
    x: Column,
    y: Column,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Single changepoint detection per group by the CUSUM statistic.

    For each group's ordered series (x ascending, integer y), the
    centered cumulative sum at position t is prefix_t − (t/n)·total —
    maximized in magnitude at the most likely level-shift point. To
    stay cross-engine exact, the comparison uses the INTEGER-scaled
    form s_t = n·prefix_t − t·total (same argmax, no division), and
    only the final normalized magnitude becomes a double through one
    fixed expression.

    Output per group:
      (*group_cols, n_points, change_x, cusum_peak, mean_before,
       mean_after)
    where change_x is the LAST x of the pre-shift segment (ties on
    |s_t| break to the smallest x — deterministic), `cusum_peak` =
    |s_t*| / n (double), and the two means are exact-sum/count doubles.
    Groups with <2 points return NULL change columns.

    Scale: one window pass per group for the prefix sums (bounded
    per-group state, groups are the parallelism unit — same contract as
    the rolling z-score), one 1-row-per-group reduce. Integer capacity:
    n·prefix products are decimal(38,0), petabyte-safe.
    """
    # NULL x or y rows carry no position in the series and are dropped
    # (the paired oracle filters identically)
    src = df.select(
        *group_cols,
        x.cast("long").alias("__x"),
        # decimal BEFORE the window sum: a long prefix accumulator
        # would overflow first at petabyte-scale cents totals
        y.cast("long").cast("decimal(18,0)").alias("__y"),
    ).filter(F.col("__x").isNotNull() & F.col("__y").isNotNull())
    w = Window.partitionBy(*group_cols).orderBy("__x")
    frame = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    pre = (
        src.withColumn("__t", F.row_number().over(w).cast("decimal(10,0)"))
        .withColumn("__prefix", F.sum("__y").over(frame))
    )
    totals = pre.groupBy(*group_cols).agg(
        F.max("__t").alias("__n"),
        F.sum("__y").cast("decimal(28,0)").alias("__total"),
    )
    keys = list(group_cols)
    joined = pre.join(F.broadcast(totals), keys) if keys else pre.crossJoin(
        F.broadcast(totals)
    )
    s = (
        F.col("__n") * F.col("__prefix") - F.col("__t") * F.col("__total")
    ).cast("decimal(38,0)")
    scored = joined.withColumn("__s", s).withColumn(
        "__abs_s", F.abs(F.col("__s"))
    )
    pick = Window.partitionBy(*keys).orderBy(
        F.col("__abs_s").desc(), F.col("__x").asc()
    ) if keys else Window.partitionBy(F.lit(1)).orderBy(
        F.col("__abs_s").desc(), F.col("__x").asc()
    )
    best = (
        scored.withColumn("__rn", F.row_number().over(pick))
        .filter(F.col("__rn") == 1)
        .select(
            *keys,
            F.col("__x").alias("change_x"),
            F.col("__t").alias("__t_star"),
            F.col("__prefix").alias("__prefix_star"),
            F.col("__abs_s").alias("__abs_s_star"),
            F.col("__n").alias("__n2"),
            F.col("__total").alias("__total2"),
        )
    )
    n_d = F.col("__n2").cast("double")
    t_d = F.col("__t_star").cast("double")
    pre_d = F.col("__prefix_star").cast("double")
    tot_d = F.col("__total2").cast("double")
    two_plus = F.col("__n2") >= 2
    return best.select(
        *keys,
        F.col("__n2").cast("long").alias("n_points"),
        F.when(two_plus, F.col("change_x")).alias("change_x"),
        F.when(
            two_plus, F.col("__abs_s_star").cast("double") / n_d
        ).alias("cusum_peak"),
        F.when(two_plus, pre_d / t_d).alias("mean_before"),
        F.when(
            two_plus & (n_d > t_d), (tot_d - pre_d) / (n_d - t_d)
        ).alias("mean_after"),
    )


def seasonal_profile(
    df: DataFrame,
    x: Column,
    y: Column,
    period: int = 7,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Seasonal profile of an integer series: per-phase means and
    seasonal indices over a fixed `period` (7 = day-of-week on an
    epoch-day axis).

    Output, one row per (group, phase):
      (*group_cols, phase, n_obs, phase_mean, overall_mean,
       seasonal_index)
    phase = x mod period; means are exact-integer-sum / count doubles
    (one division each — engine-exact); seasonal_index = phase_mean /
    overall_mean (NULL when the overall mean is 0). An index of 1.3 on
    phase 5 reads "Saturdays run 30% hot" — the deseasonalization
    factor for forecast baselines and residual-anomaly screens.

    Two partial-aggregable groupBys ((group, phase) then (group)) and a
    broadcast join of the tiny per-group totals — no data-sized second
    scan.
    """
    if period <= 0:
        raise ValueError(
            f"seasonal_profile: period must be positive, got {period} "
            "(x % 0 would NULL every phase and silently empty the "
            "result)"
        )
    src = df.select(
        *group_cols,
        (x.cast("long") % period).alias("__phase"),
        y.cast("long").alias("__y"),
    ).filter(F.col("__phase").isNotNull() & F.col("__y").isNotNull())
    per_phase = src.groupBy(*group_cols, "__phase").agg(
        F.count(F.lit(1)).cast("long").alias("n_obs"),
        F.sum("__y").cast("decimal(38,0)").alias("__sum"),
    )
    per_group = per_phase.groupBy(*group_cols).agg(
        F.sum("n_obs").cast("long").alias("__n_all"),
        F.sum("__sum").cast("decimal(38,0)").alias("__sum_all"),
    )
    keys = list(group_cols)
    joined = (
        per_phase.join(F.broadcast(per_group), keys)
        if keys
        else per_phase.crossJoin(F.broadcast(per_group))
    )
    phase_mean = F.col("__sum").cast("double") / F.col("n_obs").cast(
        "double"
    )
    overall_mean = F.col("__sum_all").cast("double") / F.col(
        "__n_all"
    ).cast("double")
    return joined.select(
        *keys,
        F.col("__phase").cast("int").alias("phase"),
        "n_obs",
        phase_mean.alias("phase_mean"),
        overall_mean.alias("overall_mean"),
        F.when(overall_mean != 0.0, phase_mean / overall_mean).alias(
            "seasonal_index"
        ),
    )


def two_proportion_ztest(
    df: DataFrame,
    variant_col: str,
    success: Column,
    control_label: str,
    treatment_label: str,
) -> DataFrame:
    """Experiment readout: two-proportion z-test between a control and
    a treatment variant.

    `success` is a boolean per row (unit). Output (1 row):
      (n_control, n_treatment, conv_control, conv_treatment, lift,
       zscore)
    with conv_* = successes/units (exact-count division), lift =
    conv_t − conv_c, and z = lift / sqrt(p̂(1−p̂)(1/n_c + 1/n_t)) from
    the pooled proportion p̂. Everything flows from four exact integer
    counts through one fixed double tree — engine-exact, so the readout
    oracles bit-for-bit (|z| > 1.96 ≈ p<0.05 two-sided). Degenerate
    cells (either variant empty, or p̂ ∈ {0,1}) give NULL z.

    One conditional-count aggregation — a single partial-aggregable
    pass whatever the unit count.
    """
    v = F.col(variant_col)
    s = F.coalesce(success, F.lit(False))
    agg = df.filter(v.isin(control_label, treatment_label)).agg(
        F.sum(F.when(v == control_label, 1).otherwise(0))
        .cast("long").alias("n_control"),
        F.sum(F.when(v == treatment_label, 1).otherwise(0))
        .cast("long").alias("n_treatment"),
        F.sum(F.when((v == control_label) & s, 1).otherwise(0))
        .cast("long").alias("__s_c"),
        F.sum(F.when((v == treatment_label) & s, 1).otherwise(0))
        .cast("long").alias("__s_t"),
    )
    nc = F.col("n_control").cast("double")
    nt = F.col("n_treatment").cast("double")
    sc = F.col("__s_c").cast("double")
    st = F.col("__s_t").cast("double")
    both = (F.col("n_control") > 0) & (F.col("n_treatment") > 0)
    conv_c = F.when(F.col("n_control") > 0, sc / nc)
    conv_t = F.when(F.col("n_treatment") > 0, st / nt)
    pooled = (sc + st) / (nc + nt)
    se2 = pooled * (F.lit(1.0) - pooled) * (
        F.lit(1.0) / nc + F.lit(1.0) / nt
    )
    z = F.when(both & (se2 > 0), (conv_t - conv_c) / F.sqrt(se2))
    return agg.select(
        "n_control",
        "n_treatment",
        conv_c.alias("conv_control"),
        conv_t.alias("conv_treatment"),
        F.when(both, conv_t - conv_c).alias("lift"),
        z.alias("zscore"),
    )


def concentration(
    df: DataFrame,
    member_col: str,
    value: Column,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Market/corpus concentration per group: HHI and Gini over member
    value totals (revenue per brand, tokens per source, …).

    Output: (*group_cols, n_members, total_value, hhi, gini).
    HHI = Σ share_i² ∈ (0, 1] (1 = monopoly; ×10000 for the antitrust
    scale); Gini uses the sorted-rank identity
    G = (2·Σ i·x_(i))/(n·Σx) − (n+1)/n with x sorted ascending
    (ties broken by member id — the identity is tie-order-invariant
    since equal x contribute the same regardless of rank order).
    All moments are exact decimal sums (Σx, Σx², Σ i·x_(i)); the two
    statistics are fixed double trees over them — engine-exact.
    Negative values are rejected upstream concerns (shares lose
    meaning); NULL values are excluded.

    Per-member totals are one partial-aggregable groupBy; the rank
    window partitions by group (members per group is the bounded
    dimension — brands, sources); the final reduce is 1 row per group.
    """
    totals = (
        df.select(
            *group_cols,
            F.col(member_col).alias("__m"),
            value.cast("long").alias("__v"),
        )
        .filter(F.col("__v").isNotNull())
        .groupBy(*group_cols, "__m")
        .agg(F.sum("__v").cast("decimal(28,0)").alias("__x"))
    )
    w = Window.partitionBy(*group_cols).orderBy(
        F.col("__x").asc(), F.col("__m").asc()
    )
    ranked = totals.withColumn(
        "__i", F.row_number().over(w).cast("decimal(10,0)")
    )
    agg = ranked.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.sum("__x").cast("decimal(38,0)").alias("__sx"),
        F.sum(
            (F.col("__x") * F.col("__x")).cast("decimal(38,0)")
        ).cast("decimal(38,0)").alias("__sxx"),
        F.sum(
            (F.col("__i") * F.col("__x")).cast("decimal(38,0)")
        ).cast("decimal(38,0)").alias("__six"),
    )
    n = F.col("n_members").cast("double")
    sx = F.col("__sx").cast("double")
    sxx = F.col("__sxx").cast("double")
    six = F.col("__six").cast("double")
    nonzero = F.col("__sx") != 0
    hhi = F.when(nonzero, sxx / (sx * sx))
    gini = F.when(
        nonzero,
        (F.lit(2.0) * six) / (n * sx) - (n + F.lit(1.0)) / n,
    )
    return agg.select(
        *group_cols,
        "n_members",
        F.col("__sx").cast("double").alias("total_value"),
        hhi.alias("hhi"),
        gini.alias("gini"),
    )


def association_rules(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_pair_baskets: int = 2,
    top_k: int = 50,
) -> DataFrame:
    """Market-basket association mining over (basket, item) rows:
    which item pairs co-occur beyond chance, with the classic
    support / confidence / lift readout.

    For each unordered pair {a, b} (a < b) co-occurring in
    ≥ `min_pair_baskets` baskets:
      (item_a, item_b, pair_baskets, a_baskets, b_baskets,
       support, confidence_a_to_b, lift)
    support = pair/N, confidence(a→b) = pair/a, lift = N·pair/(a·b) —
    all single divisions over exact basket counts (duplicate
    (basket,item) rows collapse first), so the statistics oracle
    bit-exactly. Top_k by (lift desc, pair desc, items) — tie-broken.

    Scale shape: item and pair basket-frequency tables are
    vocabulary/pair-cardinality aggregations; the pair table is built
    by a self-join WITHIN baskets (cost Σ|basket|², bounded by basket
    size, not corpus size — prune giant baskets upstream), and the
    frequency joins are broadcast-eligible. Top-k is
    TakeOrderedAndProject.
    """
    base = (
        df.select(
            F.col(basket_col).alias("__b"), F.col(item_col).alias("__i")
        )
        .filter(F.col("__b").isNotNull() & F.col("__i").isNotNull())
        .distinct()
        # basket count + item freq + both pair-join sides (r11 scan
        # audit: 5 source scans unpinned)
        .localCheckpoint(eager=False)
    )
    n_baskets = base.select(F.count_distinct("__b").alias("__n"))
    item_freq = base.groupBy("__i").agg(
        F.count(F.lit(1)).alias("i_baskets")
    )
    a = base.select(F.col("__b"), F.col("__i").alias("item_a"))
    b = base.select(F.col("__b"), F.col("__i").alias("item_b"))
    pairs = (
        a.join(b, "__b")
        .filter(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("pair_baskets"))
        .filter(F.col("pair_baskets") >= min_pair_baskets)
    )
    fa = item_freq.select(
        F.col("__i").alias("item_a"), F.col("i_baskets").alias("a_baskets")
    )
    fb = item_freq.select(
        F.col("__i").alias("item_b"), F.col("i_baskets").alias("b_baskets")
    )
    nn = F.col("__n").cast("double")
    pair_d = F.col("pair_baskets").cast("double")
    support = pair_d / nn
    confidence = pair_d / F.col("a_baskets").cast("double")
    lift = (nn * pair_d) / (
        F.col("a_baskets").cast("double") * F.col("b_baskets").cast("double")
    )
    return (
        pairs.join(fa, "item_a")
        .join(fb, "item_b")
        .crossJoin(F.broadcast(n_baskets))
        .select(
            "item_a", "item_b", "pair_baskets", "a_baskets", "b_baskets",
            support.alias("support"),
            confidence.alias("confidence_a_to_b"),
            lift.alias("lift"),
        )
        .orderBy(
            F.col("lift").desc(),
            F.col("pair_baskets").desc(),
            F.col("item_a").asc(),
            F.col("item_b").asc(),
        )
        .limit(top_k)
    )


def twap(
    df: DataFrame,
    ts: Column,
    value: Column,
    group_cols: Sequence[str] = (),
    id_col: str | None = None,
) -> DataFrame:
    """Time-weighted average of a stepwise series (TWAP): each
    observation's value holds from its timestamp until the next
    observation in the group; the average weights values by that
    holding duration.

    `ts` must be integer time (epoch nanos/micros), `value` integer
    (cents). The final observation has no successor and is excluded
    from the weighted mean (standard open-interval TWAP over the
    observed span). Output per group:
      (*group_cols, n_obs, span, twap)
    span = last−first ts; twap = Σ(value·dur)/Σdur via exact decimal
    sums and ONE double division — engine-exact. Groups with <2
    observations return NULL twap. Ties on ts break by `id_col` (pass
    one whenever timestamps can collide — a total order is what keeps
    lead() deterministic).

    One lead window per group (bounded per-group state) + one
    partial-aggregable reduce.
    """
    order_cols = [ts.cast("long").alias("__ts")]
    sel = [*group_cols, *order_cols, value.cast("long").alias("__v")]
    if id_col is not None:
        sel.append(F.col(id_col).alias("__id"))
    src = df.select(*sel).filter(
        F.col("__ts").isNotNull() & F.col("__v").isNotNull()
    )
    order = [F.col("__ts").asc()] + (
        [F.col("__id").asc()] if id_col is not None else []
    )
    w = Window.partitionBy(*group_cols).orderBy(*order)
    nxt = F.lead("__ts").over(w)
    stepped = src.withColumn("__dur", nxt - F.col("__ts"))
    agg = stepped.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("long").alias("n_obs"),
        (F.max("__ts") - F.min("__ts")).cast("long").alias("span"),
        F.sum(
            (
                F.col("__v").cast("decimal(18,0)")
                * F.col("__dur").cast("decimal(18,0)")
            ).cast("decimal(38,0)")
        ).cast("decimal(38,0)").alias("__wsum"),
        F.sum(F.col("__dur").cast("decimal(18,0)"))
        .cast("decimal(38,0)")
        .alias("__dtot"),
    )
    return agg.select(
        *group_cols,
        "n_obs",
        "span",
        F.when(
            (F.col("n_obs") >= 2) & (F.col("__dtot") != 0),
            F.col("__wsum").cast("double") / F.col("__dtot").cast("double"),
        ).alias("twap"),
    )


# ---------------------------------------------------------------------------
# mergeable quantile sketch (fixed-grid) — the quantile analogue of the
# HLL distinct rollup: per-partition summaries that MERGE exactly
# ---------------------------------------------------------------------------


def quantile_sketch(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    lo: int,
    hi: int,
    n_bins: int = 64,
) -> DataFrame:
    """Fixed-grid quantile sketch per group: (group…, bucket, cnt).

    The sketch is a histogram over a SHARED integer grid ([lo, hi] in
    `n_bins` equal buckets — bounds from a prior 1-row metadata
    aggregate, as in `histogram_auto`). Because the grid is shared and
    counts are exact integers, sketches MERGE exactly by summing bucket
    counts — per-day sketches roll up to monthly/alltime quantiles
    without rescanning the data, the property t-digest/KLL give
    approximately and a fixed grid gives exactly (at grid resolution).
    Values are clamped into the grid (below-lo → bucket 0, above-hi →
    last bucket); NULLs are dropped. Error is bounded by the bucket
    width (hi-lo)/n_bins — size the grid to the tolerance you need.

    One groupBy over (group…, bucket): map-side combinable, sketch rows
    per group ≤ n_bins — metadata-scale whatever the data size.
    """
    v = F.col(value_col).cast("long")
    span = hi - lo
    if span <= 0:
        raise ValueError("hi must exceed lo")
    bucket = F.least(
        F.lit(n_bins - 1),
        F.greatest(
            F.lit(0), F.floor((v - F.lit(lo)) * n_bins / F.lit(span))
        ),
    ).cast("int")
    return (
        df.filter(v.isNotNull())
        .groupBy(*[F.col(c) for c in group_cols], bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def merge_quantile_sketches(
    sketches: DataFrame, group_cols: Sequence[str]
) -> DataFrame:
    """Merge sketches to a coarser grouping: exact integer count sums
    per (coarser group…, bucket). O(groups × bins) rows in and out."""
    return sketches.groupBy(
        *[F.col(c) for c in group_cols], "bucket"
    ).agg(F.sum("cnt").alias("cnt"))


def sketch_quantile(
    sketches: DataFrame,
    group_cols: Sequence[str],
    q_pcts: Sequence[int],
    lo: int,
    hi: int,
    n_bins: int = 64,
) -> DataFrame:
    """Quantile estimates from a sketch: one row per (group…, q_pct).

    Deterministic estimator, exact integer math until one final fixed
    double expression (cross-engine bit-identical): rank = ceil(q·N/100)
    over the cumulative counts; the answering bucket is the first with
    cum ≥ rank; the estimate interpolates linearly inside it —
    lo + width·bucket + width·(rank − cum_before)/cnt.
    """
    from pyspark.sql import Window

    span = hi - lo
    w = (
        Window.partitionBy(*group_cols)
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = (
        sketches.withColumn("cum", F.sum("cnt").over(w).cast("long"))
        .withColumn(
            "total",
            F.sum("cnt")
            .over(Window.partitionBy(*group_cols))
            .cast("long"),
        )
    )
    qs = cum.sparkSession.createDataFrame(
        [(int(p),) for p in q_pcts], "q_pct int"
    )
    # ceil(total·q/100) = floor((total·q + 99)/100). total·q + 99 is an
    # exactly-representable integer double and IEEE division is
    # correctly rounded, so floor() is exact — and mirrors DuckDB's
    # floor() (a bare CAST would round there but truncate here).
    joined = cum.crossJoin(F.broadcast(qs)).withColumn(
        "rank",
        F.floor(
            (F.col("total") * F.col("q_pct") + F.lit(99)) / F.lit(100)
        ).cast("long"),
    )
    hit = joined.filter(F.col("cum") >= F.col("rank"))
    first = hit.groupBy(
        *[F.col(c) for c in group_cols], "q_pct", "rank", "total"
    ).agg(
        F.min("bucket").alias("bucket"),
    )
    back = first.join(
        cum.select(*group_cols, "bucket", "cnt", "cum"),
        [*group_cols, "bucket"],
    )
    width = F.lit(float(span)) / F.lit(float(n_bins))
    est = (
        F.lit(float(lo))
        + width * F.col("bucket").cast("double")
        + width
        * (
            (
                F.col("rank")
                - (F.col("cum") - F.col("cnt"))
            ).cast("double")
            / F.col("cnt").cast("double")
        )
    )
    return back.select(
        *group_cols,
        "q_pct",
        F.col("total").alias("n"),
        est.alias("estimate"),
    )


# ---------------------------------------------------------------------------
# exact-moment association statistics
# ---------------------------------------------------------------------------

def bigint_mul_div(col: str, num: int, den: int, ceil: bool = False) -> Column:
    """⌊col·num/den⌋ (⌈…⌉ with ``ceil``) for a non-negative BIGINT
    column, in BIGINT and exact for every such value: ``col`` is split
    at ``den`` so no product leaves int64 (``num``·``den`` must fit).
    The per-group thresholds over prefix-sum totals (trim counts,
    coverage targets, cut points) use it instead of a per-row decimal
    DIV."""
    rem = f"({col} % {den}) * {num}" + (f" + {den - 1}" if ceil else "")
    return F.expr(f"({col} DIV {den}) * {num} + ({rem}) DIV {den}")


def distributed_below_counts(
    g: DataFrame,
    value_col: str,
    cnt_cols: Sequence[str],
    inclusive: bool = False,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Distributed order-statistics prefix sums over a distinct-value
    frame — the single-partition-free form of the "Spearman
    construction" cumulative window.

    Input ``g``: one row per distinct value (``value_col`` non-NULL)
    with integer count columns ``cnt_cols``. Output: ``g``'s columns
    plus, per count column c, ``{c}_cum`` = Σ c over values strictly
    below this row's value (``inclusive=False``) or ≤ it
    (``inclusive=True``), and ``{c}_total`` = Σ c over the row's whole
    group (over all of ``g`` without ``group_cols``). Both keep c's
    type: BIGINT counts give BIGINT sums, which raise on overflow under
    ANSI rather than wrap. Results are a pure function of the data —
    identical for any partitioning — so oracle exactness is untouched.
    Callers read group totals from ``{c}_total`` instead of
    re-aggregating the output and joining it back.

    Why not ``Window.orderBy(value)`` over the whole frame: that plans
    an Exchange SinglePartition, funnelling the DISTINCT-VALUE frame
    through one task. For categorical/day-granularity values the frame
    is metadata and that is fine; for continuous measures (prices,
    durations) distinct values approach the data size at corpus scale —
    the same failure mode the KM/logrank guards fail loud on (round 8).
    This fixes it structurally instead:

    1. ONE range shuffle (`repartitionByRange` on the value — equal
       values co-located, partition ids monotone in value), pinned with
       a lazy `localCheckpoint` so the two consumers below read the
       SAME materialization (pids stay consistent across branches and
       nothing upstream is replayed — the pagerank lineage-truncation
       precedent).
    2. Per-partition totals → a P-row offsets frame (P = shuffle
       partitions; the only remaining windows — the ordered offsets and
       the group totals — run over those P metadata rows).
    3. Per-PARTITION cumulative windows (bounded by partition size) +
       a broadcast join of the offsets.

    ``group_cols`` generalizes to per-GROUP prefix sums for COARSE
    groupings (the range shuffle keys on (groups…, value); the offsets
    frame grows to ≤ |groups|·P rows and must stay broadcast-sized).
    That is exactly the regime where the helper is needed — a few
    groups over a continuous value, each group's distinct-value frame
    data-sized. For HIGH-cardinality groupings keep the plain
    ``Window.partitionBy(groups).orderBy(value)``: per-group frames are
    naturally bounded there and the offsets broadcast would not be.
    NULL group keys are honored (null-safe join), matching groupBy
    semantics.
    """
    cnts = list(cnt_cols)
    groups = list(group_cols)
    # repartitionByRange executes a boundary-SAMPLING job that would
    # recompute the whole upstream subtree (the corpus scan feeding the
    # distinct-value groupBy) before the real shuffle runs it AGAIN —
    # pin the input first so the corpus is scanned exactly once and
    # both the sampler and the shuffle read the cardinality-sized
    # materialization.
    src = g.localCheckpoint(eager=False)
    ranged = src.repartitionByRange(
        *[F.col(c).asc() for c in groups], F.col(value_col).asc()
    ).localCheckpoint(eager=False)
    ann = ranged.withColumn("__pid", F.spark_partition_id())
    per_p = ann.groupBy(*groups, "__pid").agg(
        *[F.sum(c).alias(f"__t_{c}") for c in cnts]
    )
    off_w = Window.partitionBy(*groups).orderBy(F.col("__pid").asc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    tot_w = Window.partitionBy(*groups)
    offs = per_p.select(
        *[F.col(c).alias(f"__g_{c}") for c in groups],
        F.col("__pid").alias("__opid"),
        *[
            F.coalesce(F.sum(f"__t_{c}").over(off_w), F.lit(0)).alias(
                f"__off_{c}"
            )
            for c in cnts
        ],
        *[F.sum(f"__t_{c}").over(tot_w).alias(f"__tot_{c}") for c in cnts],
    )
    cond = ann["__pid"] == offs["__opid"]
    for c in groups:
        cond = cond & ann[c].eqNullSafe(offs[f"__g_{c}"])
    end = 0 if inclusive else -1
    win = Window.partitionBy(*groups, "__pid").orderBy(
        F.col(value_col).asc()
    ).rowsBetween(Window.unboundedPreceding, end)
    return ann.join(F.broadcast(offs), cond).select(
        *[ann[c] for c in g.columns],
        *[
            (
                F.coalesce(F.sum(c).over(win), F.lit(0))
                + F.col(f"__off_{c}")
            ).alias(f"{c}_cum")
            for c in cnts
        ],
        *[F.col(f"__tot_{c}").alias(f"{c}_total") for c in cnts],
    )


def correlation_matrix(
    df: DataFrame,
    cols: Sequence[str],
    scale: int = 4,
    scaled_e6: bool = False,
    small_int_fastpath: bool = False,
) -> DataFrame:
    """Pairwise Pearson correlation over `cols` from ONE aggregation
    pass of exact decimal moments.

    Every value is fixed to `scale` decimal places (decimal cast —
    exact), and all sums (Σx, Σx², Σxy per pair) accumulate as
    decimals: order-independent, so the moments are bit-identical on
    any engine and any partitioning — unlike a float `corr()`, whose
    accumulation order varies. The correlation itself is one fixed
    double expression over the (already exact) moments, so the result
    is cross-engine deterministic (the engine's linear_trend
    convention).

    Rows with a NULL in ANY profiled column are dropped (listwise
    complete — the n must be shared for the single-pass moments to
    describe the same sample for every pair).

    Output: (col_a, col_b, n, corr) for each unordered pair, col_a <
    col_b in `cols` order. Zero-variance columns yield NULL corr.

    Input bound: values are quantized via decimal(18,scale), so
    |v| must be < 10^(18-scale) (10^14 at the default scale=4);
    larger magnitudes overflow the cast to NULL in non-ANSI mode and
    are then DROPPED by the listwise filter. The 18-digit width is
    deliberate — it keeps every product (x·x, x·y) exactly
    representable in decimal(38,2·scale), which is what makes the
    moments order-independent. For wider-range data, pre-scale the
    column (divide by a power of ten) before calling; Pearson
    correlation is invariant under positive linear rescaling.

    Scale: one partial-aggregable global Aggregate (p + p(p+1)/2
    decimal sums for p columns — all map-side combinable); the reshape
    to pair rows happens on the 1-row result. One scan, no shuffle
    wider than the moment vector.
    """
    if len(cols) < 2:
        raise ValueError("correlation_matrix needs at least two columns")
    if small_int_fastpath:
        # Opt-in integer hot path (the Spearman rank caller): inputs
        # must be integers with |v| <= ~3e9 so every product fits
        # int64 (ANSI throws on overflow — loud, not wrong). Products
        # multiply as LONG (one CPU op) instead of BigDecimal and only
        # the SUM accumulates as decimal(38,0) — exactly the same
        # values, measured ~2x faster on the 600k-row rank frame.
        d = df.select(*[F.col(c).cast("long").alias(c) for c in cols])
    else:
        d = df.select(
            *[F.col(c).cast(f"decimal(18,{scale})").alias(c) for c in cols]
        )
    notnull = F.lit(True)
    for c in cols:
        notnull = notnull & F.col(c).isNotNull()
    d = d.filter(notnull)
    psc = 0 if small_int_fastpath else 2 * scale
    ssc = 0 if small_int_fastpath else scale
    aggs = [F.count(F.lit(1)).cast("long").alias("__n")]
    for c in cols:
        # The first moment must ACCUMULATE as decimal, not merely cast
        # the finished sum: in the int fastpath a long-typed sum would
        # overflow int64 (ANSI error) once n*|v| exceeds ~9.2e18 even
        # though each value fits the documented |v| <= 3e9 bound.
        # (Products are already decimal-accumulated — the cast sits
        # inside their F.sum.)
        first = (
            F.col(c).cast("decimal(38,0)")
            if small_int_fastpath
            else F.col(c)
        )
        aggs.append(F.sum(first).cast(f"decimal(38,{ssc})").alias(f"__s_{c}"))
        aggs.append(
            F.sum(
                (F.col(c) * F.col(c)).cast(f"decimal(38,{psc})")
            ).cast(f"decimal(38,{psc})").alias(f"__ss_{c}")
        )
    pairs = [
        (a, b) for i, a in enumerate(cols) for b in cols[i + 1 :]
    ]
    for a, b in pairs:
        aggs.append(
            F.sum(
                (F.col(a) * F.col(b)).cast(f"decimal(38,{psc})")
            ).cast(f"decimal(38,{psc})").alias(f"__sp_{a}_{b}")
        )
    m = d.agg(*aggs)

    def corr_expr(a: str, b: str) -> Column:
        n = F.col("__n").cast("double")
        sa, sb = F.col(f"__s_{a}").cast("double"), F.col(f"__s_{b}").cast("double")
        ssa, ssb = F.col(f"__ss_{a}").cast("double"), F.col(f"__ss_{b}").cast("double")
        sp = F.col(f"__sp_{a}_{b}").cast("double")
        num = n * sp - sa * sb
        var_a = n * ssa - sa * sa
        var_b = n * ssb - sb * sb
        denom = F.sqrt(var_a) * F.sqrt(var_b)
        ratio = num / F.nullif(denom, F.lit(0.0))
        if scaled_e6:
            return e6(ratio)
        return F.round(ratio, 6)

    out_col = "corr_e6" if scaled_e6 else "corr"
    # ONE branch over the 1-row moment frame: reshape to pair rows via
    # an explode of literal structs — a per-pair SELECT + union would
    # replay the entire upstream (scan + rank joins) once per pair
    # (measured: 3 pairs tripled the Spearman plan's source scans).
    pair_structs = F.array(
        *[
            F.struct(
                F.lit(a).alias("col_a"),
                F.lit(b).alias("col_b"),
                corr_expr(a, b).alias(out_col),
            )
            for a, b in pairs
        ]
    )
    return m.select(
        F.col("__n").alias("n"), F.explode(pair_structs).alias("__p")
    ).select("__p.col_a", "__p.col_b", "n", f"__p.{out_col}")


def gini_concentration(
    df: DataFrame,
    value_col: str,
    group_cols: Sequence[str] = (),
    scaled_e6: bool = False,
    coarse_groups: bool = True,
) -> DataFrame:
    """EXACT Gini concentration coefficient per group — the inequality
    measure behind "is our spend / token budget / traffic concentrated
    in a few keys?" (0 = perfectly even, →1 = one key holds all).

    Uses the sorted-position identity with ties compressed to the
    DISTINCT-VALUE frame (the `spearman_matrix` construction):

        Σ_i i·x_(i) = Σ_v x_v · (below_v·c_v + c_v(c_v+1)/2)
        gini = (2·Σ_i i·x_(i) − (n+1)·Σx) / (n·Σx)

    ``value_col`` must be NON-NEGATIVE integers (the engine's money
    convention: cents) — every term is then exact decimal(38,0) and
    the single final division makes the result bit-identical across
    engines. NULL values are dropped; a group with Σx = 0 returns NULL
    gini (undefined).

    Scale: one map-side-combinable groupBy to (group, value, cnt),
    then below-counts. With ``coarse_groups=True`` (default) they come
    from `distributed_below_counts` — no data-sized window even when
    the distinct-value frame (cents!) approaches the data size; the
    offsets broadcast is ≤ |groups|·P rows, so pass
    ``coarse_groups=False`` for HIGH-cardinality groupings, where the
    plain per-group cumulative window is naturally bounded instead.
    Both paths are bit-identical (exact decimal sums are commutative).
    One per-group aggregation finishes.

    Output: group_cols..., n, total, gini.
    """
    groups = list(group_cols)
    v = F.col(value_col).cast("long")
    d = df.select(*groups, v.alias("__v")).where(v.isNotNull())
    g = d.groupBy(*groups, "__v").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("__c")
    )
    if coarse_groups:
        # Round 9: below-counts via the distributed prefix-sum — no
        # data-sized single-partition (or per-coarse-group) window even
        # when the distinct-value frame approaches the data size
        # (cents!). Exact decimal(38,0) sums are commutative, so the
        # regrouped summation is bit-identical to the sequential window.
        g = distributed_below_counts(
            g, "__v", ["__c"], inclusive=False, group_cols=groups
        )
        below = F.col("__c_cum").cast("decimal(38,0)")
    else:
        w = Window.partitionBy(*groups).orderBy(
            F.col("__v").asc()
        ).rowsBetween(Window.unboundedPreceding, -1)
        below = F.coalesce(
            F.sum("__c").over(w), F.lit(0).cast("decimal(38,0)")
        )
    two = F.lit(2).cast("decimal(38,0)")
    posum = (
        below * F.col("__c")
        + (F.col("__c") * (F.col("__c") + F.lit(1)) / two).cast(
            "decimal(38,0)"
        )
    )
    vd = F.col("__v").cast("decimal(38,0)")
    terms = g.select(
        *groups,
        F.col("__c").alias("__c"),
        (vd * F.col("__c")).alias("__vx"),
        (vd * posum).cast("decimal(38,0)").alias("__wpos"),
    )
    agg = terms.groupBy(*groups).agg(
        F.sum("__c").cast("decimal(38,0)").alias("__n"),
        F.sum("__vx").cast("decimal(38,0)").alias("__s"),
        F.sum("__wpos").cast("decimal(38,0)").alias("__w"),
    )
    num = (two * F.col("__w") - (F.col("__n") + F.lit(1)) * F.col("__s")).cast(
        "double"
    )
    den = (F.col("__n") * F.col("__s")).cast("double")
    ratio = num / F.nullif(den, F.lit(0.0))
    if scaled_e6:
        return agg.select(
            *groups,
            F.col("__n").cast("long").alias("n"),
            F.col("__s").cast("long").alias("total"),
            e6(ratio).alias("gini_e6"),
        )
    gini = F.round(ratio, 6)
    return agg.select(
        *groups,
        F.col("__n").cast("long").alias("n"),
        F.col("__s").cast("long").alias("total"),
        gini.alias("gini"),
    )


def kendall_tau_b(
    df: DataFrame,
    col_a: str,
    col_b: str,
    scaled_e6: bool = False,
) -> DataFrame:
    """EXACT Kendall's tau-b (tie-corrected) for an ordinal column
    pair, computed from the contingency grid instead of the O(n²)
    pair enumeration (or the O(n log n) merge sort neither engine can
    replay deterministically):

        C = Σ n_ij·n_kl over cell pairs with i<k, j<l   (concordant)
        D = Σ n_ij·n_kl over cell pairs with i<k, j>l   (discordant)
        τ_b = (C − D) / sqrt((n0 − n1)(n0 − n2))
        n0 = n(n−1)/2, n1 = Σ rowtot·(rowtot−1)/2, n2 likewise columns

    Everything up to the final sqrt/division is exact decimal(38,0)
    integer arithmetic (cell products reach ~n² — past int64 at a few
    billion rows), so the statistic is bit-identical across engines.
    Rows with a NULL on either side are dropped (no rank position).

    Scale: ONE data-sized groupBy to the (K_a × K_b)-cell grid; the
    concordance step is a self-join of the CELL table (K² pair terms —
    metadata, e.g. 550 cells → 300k products), never the data. Use for
    ordinal/low-cardinality pairs; for continuous columns bin first
    (the X102 fixed-grid convention) or use `spearman_matrix`.

    Output: one row (n, concordant, discordant, tau_b).
    """
    d = df.select(
        F.col(col_a).alias("__a"), F.col(col_b).alias("__b")
    ).where(F.col(col_a).isNotNull() & F.col(col_b).isNotNull())
    # Pin the (K_a × K_b)-cell grid: three consumers (both self-join
    # sides + the annotated marginal pass) would otherwise each replay
    # the data-sized groupBy that builds it.
    cells = d.groupBy("__a", "__b").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("__n")
    ).localCheckpoint(eager=False)
    left = cells.select(
        F.col("__a").alias("__a1"),
        F.col("__b").alias("__b1"),
        F.col("__n").alias("__n1"),
    )
    right = cells.select(
        F.col("__a").alias("__a2"),
        F.col("__b").alias("__b2"),
        F.col("__n").alias("__n2"),
    )
    prods = left.join(right, F.col("__a1") < F.col("__a2")).select(
        "__b1", "__b2", (F.col("__n1") * F.col("__n2")).alias("__p")
    )
    cd = prods.agg(
        F.coalesce(
            F.sum(F.when(F.col("__b1") < F.col("__b2"), F.col("__p"))),
            F.lit(0),
        ).cast("decimal(38,0)").alias("concordant"),
        F.coalesce(
            F.sum(F.when(F.col("__b1") > F.col("__b2"), F.col("__p"))),
            F.lit(0),
        ).cast("decimal(38,0)").alias("discordant"),
    )
    two = F.lit(2).cast("decimal(38,0)")

    def _pairs(tot: Column) -> Column:
        t = tot.cast("decimal(38,0)")
        return (t * (t - F.lit(1)) / two).cast("decimal(38,0)")

    # All marginal statistics (n, n0, tie terms) come from ONE annotated
    # pass over the grid: per-row/column totals via grid-partitioned
    # windows, each total counted once through a row_number==1 guard,
    # then a single aggregation. Separate agg branches would each
    # re-run the data-sized groupBy that builds `cells` (the self-join
    # above is the only other consumer).
    wa = Window.partitionBy("__a")
    wb = Window.partitionBy("__b")
    annotated = cells.select(
        "__n",
        F.sum("__n").over(wa).alias("__rt"),
        F.row_number()
        .over(Window.partitionBy("__a").orderBy("__b"))
        .alias("__rna"),
        F.sum("__n").over(wb).alias("__ct"),
        F.row_number()
        .over(Window.partitionBy("__b").orderBy("__a"))
        .alias("__rnb"),
    )
    stats = annotated.agg(
        F.sum("__n").cast("decimal(38,0)").alias("__nt"),
        F.sum(F.when(F.col("__rna") == 1, _pairs(F.col("__rt"))))
        .cast("decimal(38,0)")
        .alias("n1"),
        F.sum(F.when(F.col("__rnb") == 1, _pairs(F.col("__ct"))))
        .cast("decimal(38,0)")
        .alias("n2"),
    ).select(
        F.col("__nt").alias("n"),
        _pairs(F.col("__nt")).alias("n0"),
        F.coalesce(F.col("n1"), F.lit(0).cast("decimal(38,0)")).alias("n1"),
        F.coalesce(F.col("n2"), F.lit(0).cast("decimal(38,0)")).alias("n2"),
    )
    joined = cd.crossJoin(F.broadcast(stats))
    denom = F.sqrt(
        (F.col("n0") - F.col("n1")).cast("double")
        * (F.col("n0") - F.col("n2")).cast("double")
    )
    ratio = (F.col("concordant") - F.col("discordant")).cast(
        "double"
    ) / F.nullif(denom, F.lit(0.0))
    if scaled_e6:
        # Representation-proof form (round-9): every arithmetic step up
        # to `ratio` is exact (decimal integers, IEEE sqrt/division —
        # bit-identical on any compliant engine), so the ONLY fragile
        # op is the final fractional round: engines disagree on
        # round(DOUBLE, 6) by 1 ulp across versions (the r8 red driver
        # cell — see NOTES.md §Round-9 envprobe). Scaling to an exact
        # BIGINT removes doubles from the output entirely; a 1-ulp
        # input difference cannot move the integer except on exact .5
        # ties, which sqrt-derived values never hit.
        tau = e6(ratio)
        # Round-10: concordant/discordant leave the operator as BIGINT,
        # not decimal(38,0). Every driver hash-red cell in project
        # history (r6 dq_table_checksum, r8/r9 kendall) emitted
        # DecimalType output while no integer/string/double output ever
        # failed — the external harness's DECIMAL canonicalization is
        # the one representation we cannot control. The internal
        # arithmetic stays decimal(38,0) (cell products reach ~n²);
        # only the EMITTED pair counts are bounded by n²/4, int64-safe
        # to n ≈ 6.0e9 rows per tested pair — far past any per-cell
        # test scale (sf0.01 is 6.0e4 rows → ~8e8).
        return joined.select(
            F.col("n").cast("long").alias("n"),
            F.col("concordant").cast("long").alias("concordant"),
            F.col("discordant").cast("long").alias("discordant"),
            tau.alias("tau_b_e6"),
        )
    tau = F.round(ratio, 6)
    return joined.select(
        F.col("n").cast("long").alias("n"),
        "concordant",
        "discordant",
        tau.alias("tau_b"),
    )


#: Rank maps at or under this many distinct values join back to the
#: spine via an explicit broadcast (see the r15 note inside
#: `spearman_matrix`); larger maps keep the shuffle join.
_SPEARMAN_SCALE = 4
_RANKMAP_BROADCAST_MAX_ROWS = 1_000_000


def spearman_matrix(
    df: DataFrame,
    cols: Sequence[str],
    scaled_e6: bool = False,
    int64_values: bool = False,
) -> DataFrame:
    """Pairwise Spearman rank correlation over `cols` — the robust
    (monotone-relationship, outlier-insensitive) companion to the
    Pearson `correlation_matrix`.

    Spearman = Pearson over AVERAGE ranks (the tie-corrected form). The
    average rank of value v is below(v) + (cnt(v)+1)/2, which this
    operator keeps fully INTEGER by doubling: rank2(v) = 2·below(v) +
    cnt(v) + 1. Ranks are built per column from the DISTINCT-VALUE
    frame — a groupBy compresses the data to (value, cnt), a cumulative
    window over that cardinality-sized frame yields below(v), and a
    value-keyed join maps ranks back. The moment pass then reuses the
    exact decimal machinery: Σr, Σr², Σrᵃrᵇ accumulate as decimal(38,0)
    (order-independent; rank2 ≤ 2n so Σr² ≤ 4n³ fits decimal(38,0)
    through n ≈ 10^11), and each correlation is one fixed double
    expression over exact moments — bit-identical across engines.

    Rows with a NULL in ANY profiled column are dropped (listwise
    complete, same contract as `correlation_matrix` — every pair must
    describe the same sample). Values are fixed to 4 decimal
    places before ranking so tie structure is engine-stable.

    Output: (col_a, col_b, n, rho) per unordered pair, `cols` order.

    Scale: per column, one map-side-combinable groupBy(value), then
    below-counts via `distributed_below_counts` (round 9: one range
    shuffle + per-PARTITION cumulative windows + a P-row offsets frame
    — no single-partition stage even when a continuous column's
    distinct-value frame approaches the data size) + one value-keyed
    shuffle join back. Then one global moment aggregation, map-side
    combinable. No data-sized single-partition stage anywhere.

    Eager-job contract (r15): construction runs Spark jobs — the
    per-column rank-map sizing count (p rows collected), which also
    materializes the lazy checkpoints — to decide which rank maps may
    broadcast back to the spine. Callers that only build/explain the
    returned plan still execute that corpus-scale rank pass.
    """
    if len(cols) < 2:
        raise ValueError("spearman_matrix needs at least two columns")
    # decimal(38,scale), not 18: with scale=4 an 18-digit
    # decimal overflows to NULL for |v| >= 10^14 in non-ANSI mode, and
    # the listwise NULL filter below would then silently DROP that row,
    # changing n and rho with no warning. 38 digits admit |v| < 10^(38-
    # scale) — beyond any double that still has integer-scale precision.
    #
    # int64_values (r16 optimization, opt-in): quantize via
    # round(v·10^scale)::long instead — only ORDER and EQUALITY of the
    # quantized values matter for ranks (rho is invariant under the
    # representation), and ranking/joining LONG keys is measurably
    # cheaper than decimal(38,scale) everywhere downstream (groupBy
    # hashing, the range shuffle, the broadcast hash probes; 5.99 →
    # 4.01 s min-of-3 on the 600k-row lineitem profile, values
    # identical). This is also the exact construction the DuckDB
    # parity oracles use (CAST(round(v*10^scale) AS BIGINT)). Caller
    # contract: |v|·10^scale must stay within double's integer-exact
    # range (|v| ≤ ~9e11 at scale=4) — above that, v·10^scale's ulp
    # exceeds 1, adjacent doubles can quantize onto one integer, and
    # tie structure could diverge from the decimal path. The default
    # stays the decimal form (the wide-envelope contract).
    if int64_values:
        base = df.select(
            *[
                F.round(F.col(c) * F.lit(10 ** _SPEARMAN_SCALE))
                .cast("long")
                .alias(c)
                for c in cols
            ]
        )
    else:
        base = df.select(
            *[F.col(c).cast(f"decimal(38,{_SPEARMAN_SCALE})").alias(c) for c in cols]
        )
    notnull = F.lit(True)
    for c in cols:
        notnull = notnull & F.col(c).isNotNull()
    # Pin: p per-column groupBys plus the join spine are p+1 consumers
    # that would otherwise each replay the scan + decimal cast + filter
    # (measured ~1.3 s per replay on the 3-column lineitem profile).
    base = base.filter(notnull).localCheckpoint(eager=False)
    # Every rank map derives from the ORIGINAL filtered base, never from
    # the progressively-joined frame — joining map_k into the frame that
    # map_{k+1} is built from doubles the whole lineage per column
    # (measured: 24 source scans for 3 columns before this fix; 1 + p
    # after, one per map plus the ranked spine).
    #
    # Round 9: ALL p rank maps come from ONE stacked pass — explode each
    # row to (column_idx, value) and run a single grouped
    # `distributed_below_counts` with the column index as the coarse
    # group (offsets frame = p·P rows, broadcast-sized). One groupBy +
    # one range shuffle + one pinned map replace p of each (measured
    # 8.5 s → ~6 s on the 3-column 600k-row lineitem profile).
    stacked = base.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("__i"), F.col(c).alias("__v")
                    )
                    for i, c in enumerate(cols)
                ]
            )
        ).alias("__s")
    ).select(F.col("__s.__i").alias("__i"), F.col("__s.__v").alias("__v"))
    g = stacked.groupBy("__i", "__v").agg(
        F.count(F.lit(1)).cast("long").alias("__cnt")
    )
    # below(v) via the distributed prefix-sum (round 9) — a plain
    # Window.orderBy(value) here would funnel the distinct-value
    # frame through ONE partition, which is data-sized for
    # continuous measures at corpus scale.
    cum = distributed_below_counts(
        g, "__v", ["__cnt"], inclusive=False, group_cols=["__i"]
    )
    rankmap_all = cum.select(
        "__i",
        "__v",
        (
            F.lit(2) * F.col("__cnt_cum") + F.col("__cnt") + F.lit(1)
        ).cast("long").alias("__r2"),
    ).localCheckpoint(eager=False)  # p join consumers (round-9 rule)
    # r15 optimization: each rank-map join back to the spine planned as
    # a SortMergeJoin — the checkpointed rank frame has no stats
    # (ExistingRDD), so neither the static planner nor AQE broadcast
    # even an 11-distinct column's map, and every SMJ re-shuffles the
    # whole spine by the next column (measured: 2 of 3 lineitem-profile
    # joins ran SMJ at runtime, AQE unconverted). The rank maps'
    # per-column sizes ARE knowable at plan-build time — one
    # metadata-scale aggregation over the pinned frame (p rows
    # collected) — so broadcast the maps that are provably small and
    # leave genuinely distinct-heavy columns (a continuous measure at
    # corpus scale) on the shuffle path. 1M rows ≈ tens of MB framed —
    # inside the engine's 64 MB broadcast posture, and scale-adaptive:
    # the count, not the local fixture, decides.
    sizes = {
        int(r["__i"]): int(r["__n"])
        for r in rankmap_all.groupBy("__i")
        .agg(F.count(F.lit(1)).alias("__n"))
        .collect()
    }
    d = base
    for i, c in enumerate(cols):
        rankmap = rankmap_all.where(F.col("__i") == i).select(
            F.col("__v").alias(c), F.col("__r2").alias(f"__r2_{c}")
        )
        if sizes.get(i, 1 << 62) <= _RANKMAP_BROADCAST_MAX_ROWS:
            rankmap = F.broadcast(rankmap)
        d = d.join(rankmap, c)
    ranked = d.select(
        *[F.col(f"__r2_{c}").alias(c) for c in cols]
    )
    # rank2 <= 2n: products fit int64 through n ~ 1.5e9 listwise rows
    # (the fastpath's documented bound); beyond that, coarsen first.
    out = correlation_matrix(ranked, list(cols), scale=0,
                             scaled_e6=scaled_e6,
                             small_int_fastpath=True)
    if scaled_e6:
        return out.withColumnRenamed("corr_e6", "rho_e6")
    return out.withColumnRenamed("corr", "rho")


def contingency_counts(
    df: DataFrame, col_a: str, col_b: str
) -> DataFrame:
    """Exact contingency table for two categorical columns with
    marginals attached: (a, b, obs, row_tot, col_tot, n). NULL is a
    category (GROUP BY semantics — window partitioning groups NULL
    exactly like the null-safe joins this replaced). One groupBy on
    (a, b); marginals attach via GRID-SIZED windows over the cell
    frame, so the corpus is scanned exactly once (the previous
    aggregate-and-join-back form replayed the cell aggregation once
    per marginal branch — four source scans per call)."""
    cells = df.groupBy(
        F.col(col_a).alias("a"), F.col(col_b).alias("b")
    ).agg(F.count(F.lit(1)).cast("long").alias("obs"))
    w_a = Window.partitionBy("a")
    w_b = Window.partitionBy("b")
    w_all = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return cells.select(
        "a",
        "b",
        "obs",
        F.sum("obs").over(w_a).alias("row_tot"),
        F.sum("obs").over(w_b).alias("col_tot"),
        F.sum("obs").over(w_all).alias("n"),
    )


def chi_square_independence(
    df: DataFrame,
    col_a: str,
    col_b: str,
) -> DataFrame:
    """Pearson chi-square test of independence for two categorical
    columns, plus Cramér's V effect size — the DQ primitive behind "is
    this dimension independent of that one" (segment vs outcome,
    source vs verdict).

    Everything flows from EXACT contingency counts: expected cell
    counts `row_tot·col_tot/n` and the χ² sum are fixed double
    expressions over exact integers, and Cramér's V adds one
    IEEE-exact sqrt — deterministic cross-engine, no float
    accumulation anywhere (the per-cell terms that ARE summed in
    double are category-cardinality-many, magnitudes ~1, and the
    results leave as `e6` integers).

    Output (1 row): n, n_rows (distinct a), n_cols (distinct b), dof,
    chi2_e6, cramers_v_e6. Degenerate tables (single row or column) get
    dof=0 and NULL chi2/V.

    Scale: one (a,b) groupBy — category-sized result; marginals
    broadcast (contingency_counts). The corpus shuffles once on the
    pair key.
    """
    # Chi-square needs the COMPLETE grid: an (a,b) combination that
    # never co-occurs still contributes (0 − e)²/e — exactly the signal
    # of dependence. Complete the observed cells against the marginal
    # cross product (category-cardinality-sized → broadcast).
    # Cells are aggregated DIRECTLY (not via contingency_counts, whose
    # attached marginals this function immediately dropped — but whose
    # lineage it kept: each of the four consumers below then replayed
    # contingency_counts' own four branches, 16 source scans in all).
    # Pin the category-sized cell table: four consumers below (row/col
    # marginals, total, grid completion) would otherwise each replay
    # the corpus scan + pair groupBy (measured: 4 source scans).
    obs_cells = df.groupBy(
        F.col(col_a).alias("a"), F.col(col_b).alias("b")
    ).agg(F.count(F.lit(1)).cast("long").alias("obs")).localCheckpoint(
        eager=False
    )
    rows = obs_cells.groupBy("a").agg(F.sum("obs").alias("row_tot"))
    colns = obs_cells.groupBy("b").agg(F.sum("obs").alias("col_tot"))
    tot = obs_cells.agg(F.sum("obs").alias("n"))
    # Distinctly-named grid keys sidestep the self-join lineage
    # ambiguity (grid and obs_cells share an ancestor).
    grid = rows.select(F.col("a").alias("__ga"), "row_tot").crossJoin(
        F.broadcast(colns.select(F.col("b").alias("__gb"), "col_tot"))
    )
    ct = (
        grid.join(
            F.broadcast(obs_cells),
            F.col("__ga").eqNullSafe(F.col("a"))
            & F.col("__gb").eqNullSafe(F.col("b")),
            "left",
        )
        .select(
            F.col("__ga").alias("a"),
            F.col("__gb").alias("b"),
            "row_tot",
            "col_tot",
            F.coalesce(F.col("obs"), F.lit(0)).alias("obs"),
        )
        .crossJoin(F.broadcast(tot))
    )
    expected = (
        F.col("row_tot").cast("double")
        * F.col("col_tot").cast("double")
        / F.col("n").cast("double")
    )
    dev = F.col("obs").cast("double") - expected
    # explicit multiply, not pow(): pow is a libm call with no
    # exactness mandate; x*x is an IEEE-exact op both engines share.
    term = dev * dev / expected
    agg = ct.agg(
        F.max("n").alias("n"),
        F.count_distinct(F.col("a")).cast("long").alias("n_rows"),
        F.count_distinct(F.col("b")).cast("long").alias("n_cols"),
        F.sum(term).alias("__chi2"),
    )
    dof = (F.col("n_rows") - 1) * (F.col("n_cols") - 1)
    min_dim = F.least(F.col("n_rows"), F.col("n_cols")) - 1
    v = F.sqrt(
        F.col("__chi2") / (F.col("n").cast("double") * min_dim.cast("double"))
    )
    return agg.select(
        "n",
        "n_rows",
        "n_cols",
        dof.cast("long").alias("dof"),
        F.when(dof > 0, e6(F.col("__chi2"))).alias("chi2_e6"),
        F.when(dof > 0, e6(v)).alias("cramers_v_e6"),
    )


def mutual_information(
    df: DataFrame,
    col_a: str,
    col_b: str,
) -> DataFrame:
    """Entropy / mutual-information summary for two categorical
    columns (nats): H(a), H(b), I(a;b), and the normalized
    I/sqrt(H(a)·H(b)) — the scale-free "how much does one column tell
    you about the other" measure that chi-square's sample-size
    dependence hides.

    Built on the same exact contingency pass as
    `chi_square_independence`; each cell contributes
    (obs/n)·ln(obs·n / (row_tot·col_tot)) from exact integers. ln is
    the one libm call (not IEEE-exactness-mandated), so results leave
    as `e6` integers — at magnitude ~1 a last-ulp difference cannot
    move the integer except on an exact .5 tie.

    Output (1 row): n, h_a_e6, h_b_e6, mi_e6, nmi_e6 (NULL when either
    marginal entropy is 0).
    """
    ct = contingency_counts(df, col_a, col_b)
    n = F.col("n").cast("double")
    obs = F.col("obs").cast("double")
    mi_term = (obs / n) * F.log(
        obs * n / (F.col("row_tot").cast("double") * F.col("col_tot").cast("double"))
    )
    # Marginal entropies from DISTINCT marginals (each a/b appears once
    # per counterpart value — weight by obs/row_tot to fold correctly
    # in one pass: Σ_cells (obs/n)·ln(n/row_tot) = H(a)).
    h_a_term = (obs / n) * F.log(n / F.col("row_tot").cast("double"))
    h_b_term = (obs / n) * F.log(n / F.col("col_tot").cast("double"))
    agg = ct.agg(
        F.max("n").alias("n"),
        F.sum(h_a_term).alias("__ha"),
        F.sum(h_b_term).alias("__hb"),
        F.sum(mi_term).alias("__mi"),
    )
    denom = F.sqrt(F.col("__ha") * F.col("__hb"))
    return agg.select(
        "n",
        e6(F.col("__ha")).alias("h_a_e6"),
        e6(F.col("__hb")).alias("h_b_e6"),
        e6(F.col("__mi")).alias("mi_e6"),
        e6(F.col("__mi") / F.nullif(denom, F.lit(0.0))).alias("nmi_e6"),
    )


# ---------------------------------------------------------------------------
# time-series gap fill (date spine + forward fill)
# ---------------------------------------------------------------------------

def gap_fill_daily(
    df: DataFrame,
    date_col: str,
    value_cols: Sequence[str],
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Densify a daily series: emit EVERY calendar day between each
    group's first and last observation, carrying the last observed
    value forward across the gaps (the standard spine-and-ffill of
    warehouse time-series prep — a rollup with missing days silently
    lies to window functions, day-over-day deltas, and charting).

    `date_col` must be a DateType column. Output: (*group_cols,
    date_col, *value_cols, observed) where `observed` marks real rows
    — filled rows carry the previous row's values (NULL before the
    first observation, which cannot happen here since each group's
    spine starts at its own min).

    Scale shape: the spine comes from each GROUP's (min, max) — a
    partial-aggregable groupBy followed by one `sequence` explode, so
    spine size is bounded by group_count × span_days, never a global
    calendar cross join. The fill is one window per group ordered by
    date (`last(ignorenulls)` over unbounded-preceding — a running
    state, not a per-row rescan). Groups are the parallelism unit.
    """
    bounds = df.groupBy(*group_cols).agg(
        F.min(date_col).alias("__lo"), F.max(date_col).alias("__hi")
    )
    spine = bounds.select(
        *group_cols,
        F.explode(F.sequence(F.col("__lo"), F.col("__hi"))).alias(date_col),
    )
    joined = spine.join(df, [*group_cols, date_col], "left")
    w = (
        Window.partitionBy(*group_cols)
        .orderBy(date_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    observed = F.col(value_cols[0]).isNotNull()
    return joined.select(
        *group_cols,
        date_col,
        *[
            F.last(F.col(c), ignorenulls=True).over(w).alias(c)
            for c in value_cols
        ],
        observed.alias("observed"),
    )


# ---------------------------------------------------------------------------
# RFM segmentation (broadcast-quantile scoring)
# ---------------------------------------------------------------------------

def rfm_scores(
    df: DataFrame,
    customer_col: str,
    date_col: str,
    amount_cents: Column,
) -> DataFrame:
    """Recency/Frequency/Monetary segmentation, 1–5 per dimension.

    Per customer: recency = days since their last order (relative to
    the corpus max date — self-contained, no wall clock), frequency =
    order count, monetary = exact cents sum. Scores come from the EXACT
    quintile thresholds of each per-customer distribution — computed as
    ONE 1-row aggregate and broadcast, then assigned by comparison:
    `1 + Σ (v > q_k)`. This is the scale-right form: a global
    `ntile(5)` window would funnel every customer through a single
    partition; threshold-compare is a projection.

    Ties sit on the threshold side `>` puts them (deterministic in any
    engine — thresholds are exact interpolated quantiles over
    integer-valued doubles). Recency scores INVERT (smaller = better =
    5). Output: (customer, recency_days, frequency, monetary_cents,
    r_score, f_score, m_score, rfm) with rfm = concat of the three.

    Scale: one groupBy(customer), one 1-row quantile aggregate
    (sort-based exact percentile over the customer-level frame — at
    10^9 customers swap in `percentile_approx`, same plan shape), one
    broadcast, one projection.
    """
    base = df.select(
        F.col(customer_col).alias("customer"),
        F.col(date_col).cast("date").alias("__d"),
        amount_cents.alias("__cents"),
    )
    per_cust = base.groupBy("customer").agg(
        F.max("__d").alias("__last"),
        F.count(F.lit(1)).cast("long").alias("frequency"),
        F.sum("__cents").cast("long").alias("monetary_cents"),
    ).localCheckpoint(eager=False)  # anchor + cust (r11 scan audit)
    # the corpus max date = max over the per-customer maxes — derived
    # from the customer-sized frame instead of a second fact scan
    anchor = per_cust.agg(F.max("__last").alias("__anchor"))
    cust = per_cust.crossJoin(F.broadcast(anchor)).select(
        "customer",
        F.datediff(F.col("__anchor"), F.col("__last"))
        .cast("long")
        .alias("recency_days"),
        "frequency",
        "monetary_cents",
    )
    qs = [0.2, 0.4, 0.6, 0.8]
    thr = cust.agg(
        *[
            F.percentile(F.col(c).cast("double"), F.lit(q)).alias(
                f"__{c}_{int(q * 100)}"
            )
            for c in ("recency_days", "frequency", "monetary_cents")
            for q in qs
        ]
    )
    scored = cust.crossJoin(F.broadcast(thr))

    def asc_score(c: str) -> Column:
        s = F.lit(1)
        for q in qs:
            s = s + (
                F.col(c).cast("double") > F.col(f"__{c}_{int(q * 100)}")
            ).cast("int")
        return s

    def desc_score(c: str) -> Column:
        s = F.lit(1)
        for q in qs:
            s = s + (
                F.col(c).cast("double") < F.col(f"__{c}_{int(q * 100)}")
            ).cast("int")
        return s

    return scored.select(
        "customer",
        "recency_days",
        "frequency",
        "monetary_cents",
        desc_score("recency_days").alias("r_score"),
        asc_score("frequency").alias("f_score"),
        asc_score("monetary_cents").alias("m_score"),
        F.concat(
            desc_score("recency_days").cast("string"),
            asc_score("frequency").cast("string"),
            asc_score("monetary_cents").cast("string"),
        ).alias("rfm"),
    )


# ---------------------------------------------------------------------------
# contribution / share-of-total reporting
# ---------------------------------------------------------------------------

def contribution_topn(
    df: DataFrame,
    category_col: str,
    value_cents: Column,
    n: int = 10,
) -> DataFrame:
    """Share-of-total contribution report: the top-`n` categories by
    exact value with their share, plus ONE '__other__' row folding
    the long tail — the shape every revenue/volume breakdown wants
    ("top 10 sources and everything else").

    Ranking is a total order (value desc, category asc) so the cut is
    engine-deterministic; shares are raw value/total IEEE ratios of
    exact integers (bit-stable — round-9 representation audit)
    (exact integer inputs). NULL categories participate as a category.

    Scale: one category groupBy (map-side combinable), top-n via
    TakeOrderedAndProject (bounded per-partition heaps — no global
    sort), the tail row = 1-row total minus the n-row top sum, both
    broadcast-sized. Output: (category, value_cents, share, rank) with
    rank NULL on the tail row; the tail row is absent when nothing
    falls outside the top n.
    """
    # category publishes as STRING so the tail label unions cleanly
    # (and NULL categories render distinguishably via coalesce).
    per_cat = df.groupBy(
        F.col(category_col).cast("string").alias("category")
    ).agg(F.sum(value_cents).cast("long").alias("value_cents")).localCheckpoint(
        eager=False
    )  # top + total both read it (r11 scan audit: 4 source scans)
    top = per_cat.orderBy(
        F.col("value_cents").desc(), F.col("category").asc_nulls_last()
    ).limit(n).localCheckpoint(eager=False)  # top_sum + ranked
    total = per_cat.agg(
        F.sum("value_cents").cast("long").alias("__total"),
        F.count(F.lit(1)).cast("long").alias("__k"),
    )
    top_sum = top.agg(
        F.sum("value_cents").cast("long").alias("__top_sum"),
        F.count(F.lit(1)).cast("long").alias("__top_k"),
    )
    w = Window.orderBy(
        F.col("value_cents").desc(), F.col("category").asc_nulls_last()
    )
    ranked = (
        top.withColumn("rank", F.row_number().over(w).cast("long"))
        .crossJoin(F.broadcast(total))
        .select(
            "category",
            "value_cents",
            (
                F.col("value_cents").cast("double")
                / F.nullif(F.col("__total").cast("double"), F.lit(0.0))
            ).alias("share"),
            "rank",
        )
    )
    other = (
        total.crossJoin(F.broadcast(top_sum))
        .filter(F.col("__k") > F.col("__top_k"))
        .select(
            F.lit("__other__").alias("category"),
            (F.col("__total") - F.col("__top_sum")).alias("value_cents"),
            (
                (F.col("__total") - F.col("__top_sum")).cast("double")
                / F.nullif(F.col("__total").cast("double"), F.lit(0.0))
            ).alias("share"),
            F.lit(None).cast("long").alias("rank"),
        )
    )
    return ranked.unionByName(other)


# ---------------------------------------------------------------------------
# temporal train/validation split with embargo
# ---------------------------------------------------------------------------

def temporal_embargo_split(
    df: DataFrame,
    time_col: str,
    train_frac: float = 0.8,
    embargo_days: int = 0,
) -> DataFrame:
    """Time-based train/validation split with an embargo gap: rows at
    or before the `train_frac` time quantile are `train`; rows inside
    the following `embargo_days` are `embargo` (excluded — the decay
    window that stops look-ahead leakage through autocorrelated
    features); everything after is `val`. The leakage-safe split for
    TIME series, complementing the near-dup-group split for text.

    The cutoff is the EXACT `train_frac` quantile of the time column
    (dates as epoch days) — one 1-row aggregate, broadcast; assignment
    is a projection. Deterministic: same data → same cutoff → same
    split, independent of partitioning.

    Output: input columns + `split` ∈ {train, embargo, val}.
    """
    d = F.col(time_col).cast("date")
    epoch = F.datediff(d, F.lit("1970-01-01").cast("date"))
    cut = df.agg(
        F.floor(
            F.percentile(epoch.cast("double"), F.lit(train_frac))
        ).cast("long").alias("__cut")
    )
    out = df.crossJoin(F.broadcast(cut))
    split = (
        F.when(epoch <= F.col("__cut"), F.lit("train"))
        .when(epoch <= F.col("__cut") + embargo_days, F.lit("embargo"))
        .otherwise(F.lit("val"))
    )
    return out.select(*df.columns, split.alias("split"))


def kaplan_meier(
    df: DataFrame,
    duration_col: str,
    event_col: str,
    bucket: int | None = None,
    max_distinct_times: int = 200_000,
    scaled_e6: bool = False,
) -> DataFrame:
    """Kaplan–Meier survival curve with right censoring — the
    retention/churn estimator that plain "fraction alive at t" gets
    WRONG whenever observation windows differ (censored subjects leave
    the risk set without counting as churn).

    Input: one row per subject with an integer ``duration_col`` and a
    0/1 ``event_col`` (1 = the event happened at that duration,
    0 = observation ended there, outcome unknown). NULLs drop.

        S(t) = Π_{s ≤ t, d_s > 0} (1 − d_s / n_s)

    with d_s = events at s and n_s = subjects still at risk entering s
    (N minus everyone who exited strictly earlier — exact integers via
    one cumulative window over the DISTINCT-TIME frame). The product
    is evaluated as exp(Σ ln((n_s − d_s)/n_s)) over the time-ordered
    window, so both engines accumulate the identical sequence of libm
    terms in the identical order; round(6) absorbs last-ulp drift. A
    risk set that empties (everyone exits with an event) pins S to
    exactly 0.0 from that time on via an explicit cumulative flag —
    Spark's log() NULLs on 0 where DuckDB's ln() gives −∞, so the
    naive product form silently DROPS the wipe-out term in Spark.

    Output, one row per distinct exit time:
      (t, n_at_risk, n_events, n_censored, survival)

    Plan: one groupBy to the distinct-time frame (map-side combinable),
    cumulative windows over it (cardinality-sized — the spearman
    construction), no joins.

    Guard (round 8): those cumulative windows run through ONE
    partition, which is only safe while the distinct-time frame stays
    cardinality-sized. Day- or hour-granularity durations are fine;
    raw second/nanosecond timestamps make the frame ~the subject
    count. So either pass ``bucket`` (an integer width — durations
    are floored to multiples of it before grouping, e.g. 86400 for
    day buckets over second durations) or accept the in-plan
    cardinality check: if the distinct-time count exceeds
    ``max_distinct_times`` and no bucket was given, the job FAILS
    with a message naming the fix, instead of silently funnelling
    the dataset through one partition. The guard costs one count
    over the already-built frame — no extra scan, no eager job.
    """
    t = F.col(duration_col)
    if bucket is not None:
        if int(bucket) <= 0:
            raise ValueError(f"bucket must be a positive integer, got {bucket}")
        # t - pmod(t, b) == floor(t/b)*b in EXACT integer arithmetic
        # (pmod is nonnegative, so this floors for negatives too).
        # The double-division form rounds above 2^53 — nanosecond
        # epochs, exactly the guard's motivating input.
        tl = t.cast("long")
        t = (tl - F.pmod(tl, F.lit(int(bucket)))).cast("long")
    ev = F.col(event_col).cast("long")
    d = df.select(t.alias("__t"), ev.alias("__e")).where(
        t.isNotNull() & ev.isNotNull()
    )
    per_t = d.groupBy("__t").agg(
        F.sum("__e").cast("long").alias("n_events"),
        F.sum(F.lit(1) - F.col("__e")).cast("long").alias("n_censored"),
    )
    w_all = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    if bucket is None:
        n_times = F.count(F.lit(1)).over(w_all)
        # Guard rides on n_events (already long — schema unchanged),
        # not the time key, so orderings and the output type of `t`
        # are untouched when the guard does not fire.
        per_t = per_t.select(
            "__t",
            F.when(
                n_times > max_distinct_times,
                F.raise_error(F.concat(
                    F.lit("kaplan_meier: "),
                    n_times.cast("string"),
                    F.lit(
                        f" distinct exit times exceeds the "
                        f"{max_distinct_times}-row single-partition window "
                        "budget — pass bucket=<integer duration width> "
                        "(e.g. 86400 for day buckets over second "
                        "durations) or raise max_distinct_times"
                    ),
                )).cast("long"),
            ).otherwise(F.col("n_events")).alias("n_events"),
            "n_censored",
        )
    w_before = Window.orderBy(F.col("__t").asc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    total = F.sum(F.col("n_events") + F.col("n_censored")).over(w_all)
    exited_before = F.coalesce(
        F.sum(F.col("n_events") + F.col("n_censored")).over(w_before),
        F.lit(0),
    )
    at_risk = (total - exited_before).cast("long")
    ann = per_t.select(
        F.col("__t").alias("t"),
        at_risk.alias("n_at_risk"),
        "n_events",
        "n_censored",
    )
    # Spark's log() returns NULL for non-positive input where DuckDB's
    # ln() returns -inf, so the risk-set-empties case (n_events ==
    # n_at_risk) is handled EXPLICITLY: a cumulative wipe flag pins
    # survival to exactly 0.0 from that time on, in both engines.
    ln_term = F.when(
        (F.col("n_events") > 0)
        & (F.col("n_at_risk") > F.col("n_events")),
        F.log(
            (F.col("n_at_risk") - F.col("n_events")).cast("double")
            / F.col("n_at_risk").cast("double")
        ),
    ).otherwise(F.lit(0.0))
    w_upto_t = Window.orderBy(F.col("t").asc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    wiped = F.max(
        (F.col("n_events") == F.col("n_at_risk")).cast("int")
    ).over(w_upto_t)
    if scaled_e6:
        survival = F.when(wiped == 1, F.lit(0).cast("long")).otherwise(
            e6(F.exp(F.sum(ln_term).over(w_upto_t)))
        )
        return ann.select(
            "t", "n_at_risk", "n_events", "n_censored",
            survival.alias("survival_e6"),
        )
    survival = F.when(wiped == 1, F.lit(0.0)).otherwise(
        F.round(F.exp(F.sum(ln_term).over(w_upto_t)), 6)
    )
    return ann.select(
        "t", "n_at_risk", "n_events", "n_censored",
        survival.alias("survival"),
    )


def nelson_aalen(
    df: DataFrame,
    duration_col: str,
    event_col: str,
    bucket: int | None = None,
    max_distinct_times: int = 200_000,
) -> DataFrame:
    """Nelson–Aalen cumulative-hazard estimator — the additive
    companion to `kaplan_meier`'s multiplicative survival curve:

        H(t) = Σ_{s ≤ t} d_s / n_s

    (d_s events at s, n_s at risk entering s). H is the canonical
    input to proportional-hazards diagnostics and gives the
    tied-data-robust survival estimate S̃ = exp(−H) (Fleming–
    Harrington) — for small d/n the two curves agree to O((d/n)²),
    and H is often preferred for plotting hazard RATIOS because sums
    are linear where products are not.

    Same input contract, bucket pre-coarsening, and distinct-time
    single-partition guard as `kaplan_meier` (one integer duration +
    0/1 event per subject; NULLs drop; pass ``bucket`` for fine-grain
    durations). Each d_s/n_s term is one exact IEEE division of exact
    integers; the cumulative sum runs over the time-ordered window so
    both engines accumulate the identical sequence in the identical
    order (the KM exp(Σln) precedent), and `e6` scaling absorbs
    last-ulp drift.

    Output, one row per distinct exit time:
      (t, n_at_risk, n_events, n_censored, cum_hazard_e6)
    """
    t = F.col(duration_col)
    if bucket is not None:
        if int(bucket) <= 0:
            raise ValueError(f"bucket must be a positive integer, got {bucket}")
        tl = t.cast("long")
        t = (tl - F.pmod(tl, F.lit(int(bucket)))).cast("long")
    ev = F.col(event_col).cast("long")
    d = df.select(t.alias("__t"), ev.alias("__e")).where(
        t.isNotNull() & ev.isNotNull()
    )
    per_t = d.groupBy("__t").agg(
        F.sum("__e").cast("long").alias("n_events"),
        F.sum(F.lit(1) - F.col("__e")).cast("long").alias("n_censored"),
    )
    w_all = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    if bucket is None:
        n_times = F.count(F.lit(1)).over(w_all)
        per_t = per_t.select(
            "__t",
            F.when(
                n_times > max_distinct_times,
                F.raise_error(F.concat(
                    F.lit("nelson_aalen: "),
                    n_times.cast("string"),
                    F.lit(
                        f" distinct exit times exceeds the "
                        f"{max_distinct_times}-row single-partition window "
                        "budget — pass bucket=<integer duration width> "
                        "(e.g. 86400 for day buckets over second "
                        "durations) or raise max_distinct_times"
                    ),
                )).cast("long"),
            ).otherwise(F.col("n_events")).alias("n_events"),
            "n_censored",
        )
    w_before = Window.orderBy(F.col("__t").asc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    total = F.sum(F.col("n_events") + F.col("n_censored")).over(w_all)
    exited_before = F.coalesce(
        F.sum(F.col("n_events") + F.col("n_censored")).over(w_before),
        F.lit(0),
    )
    at_risk = (total - exited_before).cast("long")
    ann = per_t.select(
        F.col("__t").alias("t"),
        at_risk.alias("n_at_risk"),
        "n_events",
        "n_censored",
    )
    term = F.when(
        (F.col("n_events") > 0) & (F.col("n_at_risk") > 0),
        F.col("n_events").cast("double")
        / F.col("n_at_risk").cast("double"),
    ).otherwise(F.lit(0.0))
    w_upto_t = Window.orderBy(F.col("t").asc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    hazard = F.sum(term).over(w_upto_t)
    return ann.select(
        "t", "n_at_risk", "n_events", "n_censored",
        e6(hazard).alias("cum_hazard_e6"),
    )


def logrank_test(
    df: DataFrame,
    duration_col: str,
    event_col: str,
    group_col: str,
    group_a,
    group_b,
    bucket: int | None = None,
) -> DataFrame:
    """Two-group log-rank test — "do these retention curves differ?"
    for the Kaplan–Meier setting (censoring-aware, the standard
    survival-comparison test; a naive rate comparison double-counts
    censored subjects as survivors).

    At every pooled event time t with n_gt at risk and d_gt events:

        O_a = Σ d_at          E_a = Σ d_t · n_at / n_t
        V   = Σ d_t (n_at/n_t)(1 − n_at/n_t)(n_t − d_t)/(n_t − 1)
        z = (O_a − E_a)/sqrt(V),   chi2 = z²  (1 dof)

    Exits and risk sets are exact integers built the `kaplan_meier`
    way (one distinct-time frame, cumulative windows per group); the
    E/V terms are double summands of magnitude ≲1, emitted as `e6`
    integers (the mutual-information convention). Times with n_t ≤ 1
    contribute no variance (the hypergeometric is degenerate). Rows
    outside the two named groups, or with NULL duration/event, drop.

    Output (1 row): n_a, n_b, events_a, events_b, exp_a_e6, z_e6,
    chi2_e6 —
    sign of z: positive means group A had MORE events than expected
    (worse survival). NULL z/chi2 when V = 0 (no comparable times).

    Scale (round 9): the per-group risk sets come from
    `distributed_below_counts` — exact integer prefix sums over a
    range-shuffled distinct-time frame, so there is NO data-sized
    single-partition stage even for continuous (second/nanosecond)
    durations; the round-8 ``max_distinct_times`` fail-loud guard is
    gone because the structure it protected against is gone. ``bucket``
    remains as a semantic coarsener (floor durations to a grid). The
    E/V double summands are magnitude-≲1 terms aggregated under the
    e6 convention (order-tolerant by design); the integer
    columns stay exact for any partitioning.
    """
    t = F.col(duration_col)
    if bucket is not None:
        if int(bucket) <= 0:
            raise ValueError(f"bucket must be a positive integer, got {bucket}")
        # Exact integer floor-to-multiple (see kaplan_meier): the
        # double-division form rounds above 2^53.
        tl = t.cast("long")
        t = (tl - F.pmod(tl, F.lit(int(bucket)))).cast("long")
    ev = F.col(event_col).cast("long")
    g = F.col(group_col)
    is_a = g.eqNullSafe(F.lit(group_a))
    d = df.where(
        t.isNotNull() & ev.isNotNull()
        & (is_a | g.eqNullSafe(F.lit(group_b)))
    ).select(
        t.alias("__t"), ev.alias("__e"), is_a.cast("int").alias("__a")
    )
    per_t = d.groupBy("__t").agg(
        F.sum(F.col("__e") * F.col("__a")).cast("long").alias("__d_a"),
        F.sum(F.col("__e") * (F.lit(1) - F.col("__a")))
        .cast("long").alias("__d_b"),
        F.sum(F.col("__a")).cast("long").alias("__x_a"),
        F.sum(F.lit(1) - F.col("__a")).cast("long").alias("__x_b"),
    )
    # Exact integer risk sets with NO data-sized single-partition
    # window (round 9): exited-before counts and totals via the
    # distributed prefix-sum over the range-shuffled distinct-time frame.
    cum = distributed_below_counts(
        per_t, "__t", ["__x_a", "__x_b"], inclusive=False
    )
    ann = cum.select(
        "__t", "__d_a", "__d_b",
        (F.col("__x_a_total") - F.col("__x_a_cum")).alias("__n_a"),
        (F.col("__x_b_total") - F.col("__x_b_cum")).alias("__n_b"),
        F.col("__x_a_total").alias("__tot_a"),
        F.col("__x_b_total").alias("__tot_b"),
    )
    nt = (F.col("__n_a") + F.col("__n_b")).cast("double")
    dt = (F.col("__d_a") + F.col("__d_b")).cast("double")
    na_d = F.col("__n_a").cast("double")
    e_term = F.when(nt > 0, dt * na_d / nt).otherwise(F.lit(0.0))
    v_term = F.when(
        (nt > 1) & (dt > 0),
        dt * (na_d / nt) * (F.lit(1.0) - na_d / nt)
        * (nt - dt) / (nt - F.lit(1.0)),
    ).otherwise(F.lit(0.0))
    agg = ann.agg(
        F.max("__tot_a").alias("n_a"),
        F.max("__tot_b").alias("n_b"),
        F.coalesce(F.sum("__d_a"), F.lit(0)).cast("long").alias("events_a"),
        F.coalesce(F.sum("__d_b"), F.lit(0)).cast("long").alias("events_b"),
        F.sum(e_term).alias("__exp_a"),
        F.sum(v_term).alias("__v"),
    )
    z = (F.col("events_a").cast("double") - F.col("__exp_a")) / F.sqrt(
        F.col("__v")
    )
    return agg.select(
        "n_a", "n_b", "events_a", "events_b",
        e6(F.col("__exp_a")).alias("exp_a_e6"),
        F.when(F.col("__v") > 0, e6(z)).alias("z_e6"),
        F.when(F.col("__v") > 0, e6(z * z)).alias("chi2_e6"),
    )


def cusum_curve(
    df: DataFrame,
    order_col: str,
    value_col: str,
    group_cols: Sequence[str] = (),
    scaled_e6: bool = False,
) -> DataFrame:
    """Full CUSUM CURVE for an ordered series, with the changepoint
    flagged in place — the plottable per-point companion to
    `cusum_changepoint` above (which reduces each group to a 1-row
    summary: change_x, peak, means before/after). Use the summary for
    alerting, this curve for dashboards and post-mortems.

        cusum_k = Σ_{i ≤ k} (x_i − x̄)

    peaks at the most likely single changepoint (largest |cusum|). The
    running sum is kept EXACT by scaling: n·x_i − S is an integer
    (decimal(38,0)) per step, so the argmax — the part that picks the
    changepoint — is bit-deterministic; the reported `cusum` divides by
    n once per row (IEEE-exact same-order division, round(6)).

    ``value_col`` must be integer (cents convention); NULL order/value
    rows drop. Output, one row per (group, order) point:
      (group..., order, value, cusum, is_changepoint)
    `is_changepoint` marks the first row attaining the max |cusum| per
    group (ties → earliest point). A flat series has cusum 0 everywhere
    and flags its first point — interpret alongside the magnitude.

    Plan: two windows over each group's series (bounded partitions; for
    a global series the frame is day-cardinality — metadata) and no
    joins; one scan.
    """
    groups = list(group_cols)
    o, v = F.col(order_col), F.col(value_col).cast("decimal(38,0)")
    d = df.select(*groups, o.alias("__o"), v.alias("__v")).where(
        o.isNotNull() & v.isNotNull()
    )
    w_all = Window.partitionBy(*groups).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    w_upto = Window.partitionBy(*groups).orderBy(F.col("__o").asc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    n = F.count(F.lit(1)).over(w_all).cast("decimal(38,0)")
    s = F.sum("__v").over(w_all).cast("decimal(38,0)")
    term = (n * F.col("__v") - s).cast("decimal(38,0)")
    ann = d.select(
        *groups,
        F.col("__o"),
        F.col("__v"),
        F.sum(term).over(w_upto).cast("decimal(38,0)").alias("__cum"),
        n.alias("__n"),
    )
    ann = ann.withColumn(
        "__maxabs",
        F.max(F.abs(F.col("__cum"))).over(
            Window.partitionBy(*groups).rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ),
    )
    first_at_max = F.row_number().over(
        Window.partitionBy(*groups).orderBy(
            (F.abs(F.col("__cum")) == F.col("__maxabs")).desc(),
            F.col("__o").asc(),
        )
    )
    if scaled_e6:
        cusum = e6(
            F.col("__cum").cast("double") / F.col("__n").cast("double")
        )
        return ann.select(
            *groups,
            F.col("__o").alias(order_col),
            F.col("__v").cast("long").alias(value_col),
            cusum.alias("cusum_e6"),
            (first_at_max == 1).alias("is_changepoint"),
        )
    cusum = F.round(
        F.col("__cum").cast("double") / F.col("__n").cast("double"), 6
    )
    return ann.select(
        *groups,
        F.col("__o").alias(order_col),
        F.col("__v").cast("long").alias(value_col),
        cusum.alias("cusum"),
        (first_at_max == 1).alias("is_changepoint"),
    )


def diff_in_diff(
    df: DataFrame,
    group_col: Column,
    post_col: Column,
    value_col: Column,
) -> DataFrame:
    """Difference-in-differences estimate of a treatment effect:

        did = (ȳ_treat,post − ȳ_treat,pre) − (ȳ_ctrl,post − ȳ_ctrl,pre)

    the before/after comparison that nets out the secular trend the
    control group also experienced — the standard readout for "we
    changed X for segment A on date D; did it move the metric beyond
    what happened anyway?".

    ``group_col`` must be 0/1 (1 = treated), ``post_col`` 0/1 (1 =
    after the intervention), ``value_col`` integer (cents convention).
    Rows with a NULL in any of the three drop. All four cell sums and
    counts are exact integers from ONE aggregation; the four means and
    the estimate are fixed IEEE divisions, left unrounded. Any empty
    cell yields NULL did (the design is incomplete, not zero-effect).

    Output (1 row): n_tp, n_tc, n_cp, n_cc (cell counts:
    treated/control × post/pre), mean_treat_post, mean_treat_pre,
    mean_ctrl_post, mean_ctrl_pre, did.
    """
    g = group_col.cast("long")
    p = post_col.cast("long")
    v = value_col.cast("decimal(38,0)")
    d = df.select(g.alias("__g"), p.alias("__p"), v.alias("__v")).where(
        g.isNotNull() & p.isNotNull() & v.isNotNull()
    )

    def cell(gv: int, pv: int, what: str) -> Column:
        m = (F.col("__g") == gv) & (F.col("__p") == pv)
        if what == "n":
            return F.coalesce(F.sum(m.cast("long")), F.lit(0)).cast("long")
        return F.sum(F.when(m, F.col("__v"))).cast("decimal(38,0)")

    agg = d.agg(
        cell(1, 1, "n").alias("n_tp"),
        cell(1, 0, "n").alias("n_tc"),
        cell(0, 1, "n").alias("n_cp"),
        cell(0, 0, "n").alias("n_cc"),
        cell(1, 1, "s").alias("__s_tp"),
        cell(1, 0, "s").alias("__s_tc"),
        cell(0, 1, "s").alias("__s_cp"),
        cell(0, 0, "s").alias("__s_cc"),
    )

    def mean(s: str, n: str) -> Column:
        return F.when(
            F.col(n) > 0,
            F.col(s).cast("double") / F.col(n).cast("double"),
        )

    m_tp, m_tc = mean("__s_tp", "n_tp"), mean("__s_tc", "n_tc")
    m_cp, m_cc = mean("__s_cp", "n_cp"), mean("__s_cc", "n_cc")
    did = (m_tp - m_tc) - (m_cp - m_cc)
    # Raw IEEE divisions / fixed tree over exact decimal cell sums —
    # bit-stable without a fractional round (round-9 audit).
    return agg.select(
        "n_tp", "n_tc", "n_cp", "n_cc",
        m_tp.alias("mean_treat_post"),
        m_tc.alias("mean_treat_pre"),
        m_cp.alias("mean_ctrl_post"),
        m_cc.alias("mean_ctrl_pre"),
        did.alias("did"),
    )


def theil_sen_trend(
    df: DataFrame,
    t_col: str,
    v_col: str,
    group_cols: Sequence[str] = (),
    max_points: int = 20000,
) -> DataFrame:
    """Theil–Sen robust trend estimate per group: the MEDIAN of all
    pairwise slopes (v_j − v_i)/(t_j − t_i), i < j — the outlier-proof
    companion to `linear_trend` (least squares follows one bad day;
    the median slope needs >50% of PAIRS corrupted before it moves).
    Intercept is the standard median(v) − slope·median(t) variant.

    ``t_col`` / ``v_col`` must be integer-valued with one row per
    (group, t) — aggregate to day/hour grain first (the engine's daily
    cents convention). Slopes are exact IEEE divisions of exact
    integers; medians use `percentile` (bit-matches DuckDB
    quantile_cont — the engine's verified convention), so the whole
    output is cross-engine deterministic with NO rounding step.

    Scale: the pair self-join is O(d²) per group BY DESIGN — Theil–Sen
    is a pairwise estimator. It is meant for COARSENED series (a year
    of days = 66k pairs; the 180-day rollup = 16k), never raw rows: an
    in-plan guard raises above ``max_points`` points per group naming
    the fix (aggregate coarser / raise the cap). The join is
    group-keyed (equi-join, no cartesian across groups).

    Output per group: n_points, n_pairs, slope, intercept (slope/
    intercept NULL when n_points < 2).
    """
    groups = list(group_cols)
    t = F.col(t_col).cast("long")
    v = F.col(v_col).cast("long")
    d = df.select(
        *groups, t.alias("__t"), v.alias("__v")
    ).where(t.isNotNull() & v.isNotNull())
    # Pin: the pair join consumes this frame twice (both sides) and the
    # medians branch a third time (round-9 multi-consumer rule).
    d = d.localCheckpoint(eager=False)
    cnt_w = Window.partitionBy(*groups) if groups else Window.partitionBy()
    guarded = d.withColumn("__np", F.count(F.lit(1)).over(cnt_w))
    guarded = guarded.withColumn(
        "__v",
        F.when(
            F.col("__np") > max_points,
            F.raise_error(
                F.concat(
                    F.lit(
                        "theil_sen_trend: a group exceeds "
                        f"max_points={max_points} points "
                        "(O(n^2) pairs) - aggregate the series to a "
                        "coarser grain first, or raise max_points if "
                        "the pair count is genuinely intended"
                    )
                )
            ).cast("long"),
        ).otherwise(F.col("__v")),
    ).drop("__np")
    left = guarded.select(
        *groups, F.col("__t").alias("__ti"), F.col("__v").alias("__vi")
    )
    right = guarded.select(
        *[F.col(g).alias(f"__r_{g}") for g in groups],
        F.col("__t").alias("__tj"),
        F.col("__v").alias("__vj"),
    )
    if groups:
        # Null-safe: groupBy treats NULL as a group, so the pair join
        # must too (the winsorize_outliers convention).
        cond = [F.col(g).eqNullSafe(F.col(f"__r_{g}")) for g in groups]
        pairs = left.join(right, cond).drop(*[f"__r_{g}" for g in groups])
    else:
        pairs = left.crossJoin(right)
    pairs = pairs.where(F.col("__ti") < F.col("__tj"))
    slope = (F.col("__vj") - F.col("__vi")).cast("double") / (
        F.col("__tj") - F.col("__ti")
    ).cast("double")
    slopes = pairs.groupBy(*groups).agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.percentile(slope, F.lit(0.5)).alias("slope"),
    )
    meds = d.groupBy(*groups).agg(
        F.count(F.lit(1)).cast("long").alias("n_points"),
        F.percentile(F.col("__v").cast("double"), F.lit(0.5)).alias("__mv"),
        F.percentile(F.col("__t").cast("double"), F.lit(0.5)).alias("__mt"),
    )
    if groups:
        sl = slopes.select(
            *[F.col(g).alias(f"__sg_{g}") for g in groups],
            "n_pairs",
            "slope",
        )
        cond = [F.col(g).eqNullSafe(F.col(f"__sg_{g}")) for g in groups]
        joined = meds.join(sl, cond, "left").drop(
            *[f"__sg_{g}" for g in groups]
        )
    else:
        joined = meds.crossJoin(slopes)
    return joined.select(
        *groups,
        "n_points",
        F.coalesce(F.col("n_pairs"), F.lit(0)).alias("n_pairs"),
        F.col("slope"),
        (F.col("__mv") - F.col("slope") * F.col("__mt")).alias("intercept"),
    )


def seasonal_decompose(
    df: DataFrame,
    t_col: str,
    v_col: str,
    group_cols: Sequence[str] = (),
    period: int = 7,
) -> DataFrame:
    """Additive seasonal decomposition of a regularly-indexed integer
    series per group: value = trend + seasonal + remainder, the
    classical moving-average method at a fixed ``period`` (default 7 —
    day-of-week):

    - trend: centered moving average over the period window (NULL at
      the edges / across gaps — the window must hold exactly
      ``period`` points; gaps are honest, nothing is imputed).
    - seasonal: the UNCENTERED phase mean of the detrended series
      (t mod period). Engine-canonical choice: classical decomposition
      re-centers the phase means to sum to zero, but that subtraction
      is a float sum over phases in nondeterministic order — here the
      remainder absorbs the constant instead, and every emitted number
      stays an exact-integer ratio (documented, deterministic).
    - remainder: value − trend − seasonal.

    Exactness: the period-scaled detrended series period·v − Σwindow
    is an EXACT INTEGER, phase sums are exact integers, and
    trend/seasonal/remainder are fixed per-row IEEE trees over exact
    integer ratios — RAW doubles, bit-deterministic (the
    representation rule for exact ratios).

    Scale: one per-group range window (period-bounded frame) + one
    (group, phase)-keyed aggregation joined back — group size is the
    parallelism unit, the phase table is period·groups rows.

    Output per row: group…, t, v, trend, seasonal, remainder.
    """
    if period < 2:
        raise ValueError(
            f"seasonal_decompose: period must be >= 2, got {period}"
        )
    half = (period - 1) // 2
    if 2 * half + 1 != period:
        raise ValueError(
            "seasonal_decompose: period must be odd (centered window); "
            f"got {period}"
        )
    groups = list(group_cols)
    t = F.col(t_col).cast("long")
    v = F.col(v_col).cast("long")
    d = df.select(
        *groups, t.alias("__t"), v.alias("__v")
    ).where(t.isNotNull() & v.isNotNull())
    w = (
        Window.partitionBy(*groups)
        .orderBy("__t")
        .rangeBetween(-half, half)
    )
    ann = d.select(
        *groups,
        "__t",
        "__v",
        F.sum("__v").over(w).cast("long").alias("__wsum"),
        F.count(F.lit(1)).over(w).alias("__wcnt"),
        F.pmod(F.col("__t"), F.lit(period)).alias("__phase"),
    )
    # period-scaled detrended value: period·v − window-sum, exact int,
    # only where the full window exists
    detr = F.when(
        F.col("__wcnt") == period,
        (F.lit(period) * F.col("__v") - F.col("__wsum")).cast("long"),
    )
    ann = ann.withColumn("__detr", detr).localCheckpoint(
        eager=False
    )  # phase means + final join (r9 rule)
    phase = ann.where(F.col("__detr").isNotNull()).groupBy(
        *groups, "__phase"
    ).agg(
        F.sum("__detr").cast("long").alias("__ps"),
        F.count(F.lit(1)).cast("long").alias("__pn"),
    )
    if groups:
        ph = phase.select(
            *[F.col(g).alias(f"__pg_{g}") for g in groups],
            F.col("__phase").alias("__pph"),
            "__ps",
            "__pn",
        )
        cond = [F.col(g).eqNullSafe(F.col(f"__pg_{g}")) for g in groups] + [
            F.col("__phase") == F.col("__pph")
        ]
        j = ann.join(F.broadcast(ph), cond, "left").drop(
            "__pph", *[f"__pg_{g}" for g in groups]
        )
    else:
        j = ann.join(
            F.broadcast(phase), ["__phase"], "left"
        )
    pd_ = F.lit(float(period))
    trend = F.when(
        F.col("__wcnt") == period,
        F.col("__wsum").cast("double") / pd_,
    )
    seasonal = F.col("__ps").cast("double") / (
        pd_ * F.col("__pn").cast("double")
    )
    return j.select(
        *groups,
        F.col("__t").alias(t_col),
        F.col("__v").alias(v_col),
        trend.alias("trend"),
        seasonal.alias("seasonal"),
        (F.col("__v").cast("double") - trend - seasonal).alias(
            "remainder"
        ),
    )


def cross_correlation(
    df: DataFrame,
    t_col: str,
    v_col: str,
    series_col: str,
    series_a,
    series_b,
    max_lag: int = 7,
) -> DataFrame:
    """Lead–lag cross-correlation between two named series: Pearson r
    between (A_t, B_{t+ℓ}) pairs for ℓ = −max_lag..max_lag — "does A
    lead B?" (clicks → purchases, deploys → errors). A peak at
    POSITIVE ℓ means A leads B by ℓ steps.

    Same paired-sample convention, exactness contract (decimal
    moments, r_e6 BIGINT), gap honesty, and coarse-series contract as
    `autocorrelation`; ℓ = 0 is the plain contemporaneous correlation.

    Output per lag: lag, n, r_e6.
    """
    if max_lag < 1:
        raise ValueError(
            f"cross_correlation: max_lag must be >= 1, got {max_lag}"
        )
    if series_a == series_b:
        raise ValueError(
            "cross_correlation: series_a and series_b must differ "
            f"(both = {series_a!r}); use autocorrelation for one series"
        )
    t = F.col(t_col).cast("long")
    v = F.col(v_col).cast("long")
    s = F.col(series_col)
    base = df.select(
        s.alias("__s"), t.alias("__t"), v.alias("__v")
    ).where(t.isNotNull() & v.isNotNull())
    # Pin: both series filters read this frame (r9 multi-consumer
    # rule — without it the source scan replays once per side).
    base = base.localCheckpoint(eager=False)
    a = base.where(F.col("__s").eqNullSafe(F.lit(series_a)))
    b = base.where(F.col("__s").eqNullSafe(F.lit(series_b)))
    lags = F.explode(
        F.sequence(F.lit(-int(max_lag)), F.lit(int(max_lag)))
    ).alias("lag")
    left = a.select("__t", F.col("__v").alias("__x"), lags)
    right = b.select(F.col("__t").alias("__t2"), F.col("__v").alias("__y"))
    pairs = left.join(
        right, F.col("__t") + F.col("lag") == F.col("__t2")
    )
    x = F.col("__x")
    y = F.col("__y")
    m = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(x.cast("decimal(38,0)")).cast("decimal(38,0)").alias("__sx"),
        F.sum(y.cast("decimal(38,0)")).cast("decimal(38,0)").alias("__sy"),
        F.sum((x * y).cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("__sxy"),
        F.sum((x * x).cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("__sxx"),
        F.sum((y * y).cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("__syy"),
    )
    n = F.col("n").cast("double")
    sx = F.col("__sx").cast("double")
    sy = F.col("__sy").cast("double")
    num = n * F.col("__sxy").cast("double") - sx * sy
    var_x = n * F.col("__sxx").cast("double") - sx * sx
    var_y = n * F.col("__syy").cast("double") - sy * sy
    r = num / F.nullif(F.sqrt(var_x) * F.sqrt(var_y), F.lit(0.0))
    return m.select(
        F.col("lag").cast("long").alias("lag"),
        "n",
        F.when(F.col("n") >= 2, e6(r)).alias("r_e6"),
    )


def autocorrelation(
    df: DataFrame,
    t_col: str,
    v_col: str,
    group_cols: Sequence[str] = (),
    max_lag: int = 7,
) -> DataFrame:
    """Autocorrelation function (ACF) of a regularly-indexed series
    per group: Pearson correlation between (v_t, v_{t+ℓ}) pairs for
    each lag ℓ = 1..max_lag — the seasonality/persistence fingerprint
    behind "is this weekly?" and the model-residual whiteness check
    that complements `runs_test`.

    Uses the PAIRED-sample ACF convention (correlation computed over
    the n−ℓ matched pairs, each lag with its own means) — the
    definition that is exactly replayable from joins, unlike the
    fixed-global-mean estimator. Gaps are honest: a missing t+ℓ row
    simply contributes no pair (no imputation).

    ``t_col``/``v_col`` integer-valued, one row per (group, t) — the
    coarse-series contract (theil_sen). Moments over pairs accumulate
    as exact decimal(38,0) (int64 products under the documented
    |v| ≤ 3e9 bound of the correlation fastpath); each r is one fixed
    IEEE tree emitted as r_e6 BIGINT (sqrt involved). n < 2 or zero
    variance on either side → NULL r_e6.

    Scale: the series frame cross-joins the max_lag-row lag literals
    (≤ max_lag× the COARSE frame — bounded by contract) and
    equi-joins back on (group, t+ℓ): one shuffle keyed by the join
    key, partial-aggregable moments, (group × lag)-sized output.

    Output per (group, lag): n, r_e6.
    """
    if max_lag < 1:
        raise ValueError(
            f"autocorrelation: max_lag must be >= 1, got {max_lag}"
        )
    groups = list(group_cols)
    t = F.col(t_col).cast("long")
    v = F.col(v_col).cast("long")
    d = df.select(
        *groups, t.alias("__t"), v.alias("__v")
    ).where(t.isNotNull() & v.isNotNull())
    d = d.localCheckpoint(eager=False)  # both join sides (r9 rule)
    lags = F.explode(
        F.sequence(F.lit(1), F.lit(int(max_lag)))
    ).alias("lag")
    left = d.select(*groups, "__t", F.col("__v").alias("__x"), lags)
    right = d.select(
        *[F.col(g).alias(f"__r_{g}") for g in groups],
        F.col("__t").alias("__t2"),
        F.col("__v").alias("__y"),
    )
    cond = [F.col("__t") + F.col("lag") == F.col("__t2")] + [
        F.col(g).eqNullSafe(F.col(f"__r_{g}")) for g in groups
    ]
    pairs = left.join(right, cond).drop(
        "__t2", *[f"__r_{g}" for g in groups]
    )
    x = F.col("__x")
    y = F.col("__y")
    m = pairs.groupBy(*groups, "lag").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(x.cast("decimal(38,0)")).cast("decimal(38,0)").alias("__sx"),
        F.sum(y.cast("decimal(38,0)")).cast("decimal(38,0)").alias("__sy"),
        F.sum((x * y).cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("__sxy"),
        F.sum((x * x).cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("__sxx"),
        F.sum((y * y).cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("__syy"),
    )
    n = F.col("n").cast("double")
    sx = F.col("__sx").cast("double")
    sy = F.col("__sy").cast("double")
    sxy = F.col("__sxy").cast("double")
    sxx = F.col("__sxx").cast("double")
    syy = F.col("__syy").cast("double")
    num = n * sxy - sx * sy
    var_x = n * sxx - sx * sx
    var_y = n * syy - sy * sy
    denom = F.sqrt(var_x) * F.sqrt(var_y)
    r = num / F.nullif(denom, F.lit(0.0))
    return m.select(
        *groups,
        F.col("lag").cast("long").alias("lag"),
        "n",
        F.when(F.col("n") >= 2, e6(r)).alias("r_e6"),
    )


def mann_kendall(
    df: DataFrame,
    t_col: str,
    v_col: str,
    group_cols: Sequence[str] = (),
    max_points: int = 20000,
) -> DataFrame:
    """Mann–Kendall monotone-trend test per group — the SIGNIFICANCE
    companion to `theil_sen_trend` (the pair ships as the standard
    nonparametric trend kit: Theil–Sen says how steep, Mann–Kendall
    says whether the monotone trend is real):

        S   = Σ_{i<j by time} sign(v_j − v_i)          (exact integer)
        Var = (n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)) / 18   (tie-corrected;
              t = value tie-group sizes)
        z   = (S ∓ 1)/sqrt(Var)  (continuity-corrected; 0 when S = 0)
        τ   = S / (n(n−1)/2)     (Kendall trend strength, exact ratio)

    ``t_col``/``v_col`` must be integer-valued with one row per
    (group, t) — aggregate to day/hour grain first (the theil_sen
    contract). S and the variance terms are exact integer arithmetic;
    τ emits as a RAW double (one exact IEEE division — the
    representation rule for exact ratios); z emits as z_e6 BIGINT
    (sqrt involved). Groups with n < 2 or Var = 0 (all values tied)
    yield NULL z_e6.

    Scale: the pair join is O(d²) per group BY DESIGN (same estimator
    family as theil_sen — meant for COARSENED series), group-keyed,
    with the same in-plan ``max_points`` raise_error guard. Tie terms
    come from a (group, value) groupBy — never the pair frame.

    Output per group: n_points, s, tau, z_e6.
    """
    groups = list(group_cols)
    t = F.col(t_col).cast("long")
    v = F.col(v_col).cast("long")
    d = df.select(
        *groups, t.alias("__t"), v.alias("__v")
    ).where(t.isNotNull() & v.isNotNull())
    # Pin: pair join (both sides) + point stats + tie counts (r9 rule).
    d = d.localCheckpoint(eager=False)
    cnt_w = Window.partitionBy(*groups) if groups else Window.partitionBy()
    guarded = d.withColumn("__np", F.count(F.lit(1)).over(cnt_w))
    guarded = guarded.withColumn(
        "__v",
        F.when(
            F.col("__np") > max_points,
            F.raise_error(
                F.concat(
                    F.lit(
                        "mann_kendall: a group exceeds "
                        f"max_points={max_points} points "
                        "(O(n^2) pairs) - aggregate the series to a "
                        "coarser grain first, or raise max_points if "
                        "the pair count is genuinely intended"
                    )
                )
            ).cast("long"),
        ).otherwise(F.col("__v")),
    ).drop("__np")
    left = guarded.select(
        *groups, F.col("__t").alias("__ti"), F.col("__v").alias("__vi")
    )
    right = guarded.select(
        *[F.col(g).alias(f"__r_{g}") for g in groups],
        F.col("__t").alias("__tj"),
        F.col("__v").alias("__vj"),
    )
    if groups:
        cond = [F.col(g).eqNullSafe(F.col(f"__r_{g}")) for g in groups]
        pairs = left.join(right, cond).drop(*[f"__r_{g}" for g in groups])
    else:
        pairs = left.crossJoin(right)
    pairs = pairs.where(F.col("__ti") < F.col("__tj"))
    s_agg = pairs.groupBy(*groups).agg(
        F.sum(F.signum(F.col("__vj") - F.col("__vi")).cast("long"))
        .cast("long")
        .alias("__s")
    )
    # Tie term Σ t(t−1)(2t+5) from the (group, value) counts — n ≤
    # max_points so every product fits int64 with orders to spare.
    ties = (
        d.groupBy(*groups, "__v")
        .agg(F.count(F.lit(1)).cast("long").alias("__tc"))
        .groupBy(*groups)
        .agg(
            F.sum(
                F.col("__tc")
                * (F.col("__tc") - F.lit(1))
                * (F.lit(2) * F.col("__tc") + F.lit(5))
            )
            .cast("long")
            .alias("__tie"),
            F.sum("__tc").cast("long").alias("n_points"),
        )
    )
    if groups:
        sa = s_agg.select(
            *[F.col(g).alias(f"__sg_{g}") for g in groups], "__s"
        )
        cond = [F.col(g).eqNullSafe(F.col(f"__sg_{g}")) for g in groups]
        joined = ties.join(sa, cond, "left").drop(
            *[f"__sg_{g}" for g in groups]
        )
    else:
        joined = ties.crossJoin(s_agg)
    n = F.col("n_points")
    s = F.coalesce(F.col("__s"), F.lit(0)).cast("long")
    var_num = (
        n * (n - F.lit(1)) * (F.lit(2) * n + F.lit(5)) - F.col("__tie")
    ).cast("double")
    var = var_num / F.lit(18.0)
    # continuity correction toward zero; z undefined when Var = 0
    z = F.when(
        (n >= 2) & (var > 0),
        F.when(s > 0, (s.cast("double") - F.lit(1.0)) / F.sqrt(var))
        .when(s < 0, (s.cast("double") + F.lit(1.0)) / F.sqrt(var))
        .otherwise(F.lit(0.0)),
    )
    n_pairs = (n * (n - F.lit(1)) / F.lit(2)).cast("long")
    tau = F.when(
        n >= 2, s.cast("double") / n_pairs.cast("double")
    )
    return joined.select(
        *groups,
        "n_points",
        s.alias("s"),
        tau.alias("tau"),
        e6(z).alias("z_e6"),
    )


def ewma_anomalies(
    df: DataFrame,
    t_col: str,
    v_col: str,
    group_cols: Sequence[str] = (),
    k: int = 8,
    mad_mult: float = 3.0,
) -> DataFrame:
    """Per-point EWMA baseline + residual anomaly flags over an
    integer series — the exponentially-weighted companion to the
    rolling z-score detector (recent points dominate, so level shifts
    are absorbed in ~k points instead of dragging a long window).

    The baseline for point t is PREDICTIVE (lags 1..k only — the point
    never explains itself): ewma_t = Σ_j w_j·x_{t−j} / Σ_j w_j with
    halving weights w_j = 2^(k−j), both sums INTEGER (missing lags at
    the series head drop out of numerator and denominator together).
    ewma and resid = x − ewma are then exact IEEE expressions;
    `is_anomaly` = |resid| > mad_mult·MAD(resid) with the per-group
    median-absolute-residual from `percentile` (bit-matches DuckDB
    quantile_cont). No fractional rounding anywhere → cross-engine
    deterministic.

    ``v_col`` must be integer-valued with one row per (group, t);
    |v|·2^k must fit int64 (coarsen units above ~3.6e16 at the default
    k=8). Points with no available lag (series head) emit NULL
    ewma/resid/is_anomaly.

    Scale: k lag columns from ONE per-group ordered window (day-grain
    frames — bounded per group), one group-sized MAD aggregation
    joined back. No data-sized single-partition stage; groups are the
    parallelism unit.

    Output: group_cols..., t, v, ewma, resid, is_anomaly.
    """
    if k < 1:
        raise ValueError(f"ewma_anomalies: k must be >= 1, got {k}")
    groups = list(group_cols)
    t = F.col(t_col).cast("long")
    v = F.col(v_col).cast("long")
    d = df.select(
        *groups, t.alias("__t"), v.alias("__v")
    ).where(t.isNotNull() & v.isNotNull())
    w = Window.partitionBy(*groups).orderBy(F.col("__t").asc())
    num = F.lit(0).cast("long")
    den = F.lit(0).cast("long")
    for j in range(1, k + 1):
        lag_j = F.lag("__v", j).over(w)
        weight = 1 << (k - j)
        num = num + F.coalesce(lag_j * F.lit(weight), F.lit(0))
        den = den + F.when(lag_j.isNotNull(), F.lit(weight)).otherwise(
            F.lit(0)
        )
    base = d.select(
        *groups, "__t", "__v", num.alias("__num"), den.alias("__den")
    )
    ewma = F.when(
        F.col("__den") > 0,
        F.col("__num").cast("double") / F.col("__den").cast("double"),
    )
    resid = F.col("__v").cast("double") - ewma
    scored = base.select(
        *groups, "__t", "__v", ewma.alias("__ewma"), resid.alias("__resid")
    )
    # Pin: the MAD aggregation and the final projection both consume
    # the lag-window frame (round-9 multi-consumer rule).
    scored = scored.localCheckpoint(eager=False)
    mad = scored.groupBy(*groups).agg(
        F.percentile(F.abs(F.col("__resid")), F.lit(0.5)).alias("__mad")
    )
    if groups:
        md = mad.select(
            *[F.col(g).alias(f"__mg_{g}") for g in groups], "__mad"
        )
        cond = [F.col(g).eqNullSafe(F.col(f"__mg_{g}")) for g in groups]
        joined = scored.join(md, cond).drop(
            *[f"__mg_{g}" for g in groups]
        )
    else:
        joined = scored.crossJoin(mad)
    return joined.select(
        *groups,
        F.col("__t").alias(t_col),
        F.col("__v").alias(v_col),
        F.col("__ewma").alias("ewma"),
        F.col("__resid").alias("resid"),
        F.when(
            F.col("__resid").isNotNull() & F.col("__mad").isNotNull(),
            F.abs(F.col("__resid")) > F.lit(mad_mult) * F.col("__mad"),
        ).alias("is_anomaly"),
    )


def equal_freq_bins(
    df: DataFrame,
    value_col: str,
    n_bins: int = 10,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Equal-frequency (quantile) binning per group: bin(v) =
    ⌊n_bins · below(v) / n⌋, where below(v) counts rows strictly below
    v — every row of one value lands in one bin (ties never split),
    bins hold ≈ n/n_bins rows each, and the arithmetic is EXACT
    integer division, so bin boundaries are bit-deterministic (no
    float quantile estimation). The feature-engineering /
    stratification primitive behind "decile of spend", "length bucket"
    — the data-derived companion to the fixed-grid X102 convention.

    Emits the BIN TABLE (compact, joinable back by range):
    group_cols..., bin, lo, hi (inclusive observed bounds), n_values
    (distinct values in the bin), n_rows.

    Scale: one map-side-combinable groupBy to the distinct-value
    frame, below-counts and group totals via `distributed_below_counts`
    (group_cols passes through its coarse-group form — offsets must
    stay broadcast-sized, the usual coarse-groups-over-continuous-values
    regime), then a bin-table aggregation. No data-sized
    single-partition stage and no totals join: the group totals ride
    on the offsets frame the core already broadcasts. Counts and their
    prefix sums are BIGINT (exact; an overflow raises under ANSI) and
    only the final bin DIV widens to decimal(38,0).

    Eager-job contract: construction runs only the shuffle stages
    under the core's two lazy pins (the distinct-value aggregation and
    the range shuffle with its boundary sampling); there is no sizing
    job, at any group cardinality.
    """
    if n_bins < 1:
        raise ValueError(f"equal_freq_bins: n_bins must be >= 1, got {n_bins}")
    groups = list(group_cols)
    v = F.col(value_col).cast("long")
    d = df.select(*groups, v.alias("__v")).where(v.isNotNull())
    g = d.groupBy(*groups, "__v").agg(F.count(F.lit(1)).alias("__c"))
    cum = distributed_below_counts(
        g, "__v", ["__c"], inclusive=False, group_cols=groups
    )
    binned = cum.select(
        *groups,
        "__v",
        "__c",
        F.expr(
            f"CAST((CAST({n_bins} AS DECIMAL(38,0)) * "
            "CAST(__c_cum AS DECIMAL(38,0))) DIV __c_total AS BIGINT)"
        ).alias("bin"),
    )
    return binned.groupBy(*groups, "bin").agg(
        F.min("__v").cast("long").alias("lo"),
        F.max("__v").cast("long").alias("hi"),
        F.count(F.lit(1)).cast("long").alias("n_values"),
        F.sum("__c").cast("long").alias("n_rows"),
    )


def partial_correlation(
    df: DataFrame,
    x_col: str,
    y_col: str,
    z_col: str,
) -> DataFrame:
    """First-order partial correlation r_xy·z — the correlation between
    x and y with the control variable z's linear effect removed:

        r_xy·z = (r_xy − r_xz·r_yz) / sqrt((1 − r_xz²)(1 − r_yz²))

    The confounder check behind "is this metric pair really related or
    do both just follow z?" (seasonality, volume, document length).

    All three columns must be integer-valued (cents convention); rows
    with ANY NULL drop (listwise — the correlation_matrix contract).
    ONE aggregation of exact decimal(38,0) moments (3 sums, 3 squares,
    3 cross products); every r and the partial are fixed IEEE trees
    emitted as *_e6 BIGINT (sqrt involved). Zero variance anywhere or
    |r_xz| = 1 / |r_yz| = 1 → NULL partial.

    Output (1 row): n, r_xy_e6, r_xz_e6, r_yz_e6, r_xy_z_e6.
    """
    cols = [x_col, y_col, z_col]
    d = df.select(
        *[F.col(c).cast("long").alias(f"__{i}") for i, c in enumerate(cols)]
    )
    notnull = F.lit(True)
    for i in range(3):
        notnull = notnull & F.col(f"__{i}").isNotNull()
    d = d.where(notnull)
    aggs = [F.count(F.lit(1)).cast("long").alias("n")]
    for i in range(3):
        aggs.append(
            F.sum(F.col(f"__{i}").cast("decimal(38,0)"))
            .cast("decimal(38,0)")
            .alias(f"__s{i}")
        )
    for i in range(3):
        for j in range(i, 3):
            aggs.append(
                F.sum(
                    (F.col(f"__{i}") * F.col(f"__{j}")).cast("decimal(38,0)")
                )
                .cast("decimal(38,0)")
                .alias(f"__p{i}{j}")
            )
    m = d.agg(*aggs)
    n = F.col("n").cast("double")

    def r(i: int, j: int) -> Column:
        si = F.col(f"__s{i}").cast("double")
        sj = F.col(f"__s{j}").cast("double")
        pij = F.col(f"__p{min(i, j)}{max(i, j)}").cast("double")
        pii = F.col(f"__p{i}{i}").cast("double")
        pjj = F.col(f"__p{j}{j}").cast("double")
        num = n * pij - si * sj
        return num / F.nullif(
            F.sqrt(n * pii - si * si) * F.sqrt(n * pjj - sj * sj),
            F.lit(0.0),
        )

    def clamp(c: Column) -> Column:
        """|r| can exceed 1 by an ulp when two columns are identical
        (e.g. 6/5.999999999999999): unclamped, (1−r²) goes NEGATIVE,
        the sqrt returns NaN, and round(NaN).cast(long) ANSI-crashes
        the job (round-10 review, reproduced live). Clamp to [−1, 1]."""
        return F.least(F.greatest(c, F.lit(-1.0)), F.lit(1.0))

    rxy, rxz, ryz = clamp(r(0, 1)), clamp(r(0, 2)), clamp(r(1, 2))
    den2 = (F.lit(1.0) - rxz * rxz) * (F.lit(1.0) - ryz * ryz)
    # den2 > 0 guard (not nullif == 0.0): a control variable perfectly
    # collinear with x or y makes the partial 0/0-undefined — emit
    # NULL, never a confident garbage ratio
    partial = F.when(
        den2 > 0, (rxy - rxz * ryz) / F.sqrt(den2)
    )
    ok = F.col("n") >= 2
    return m.select(
        "n",
        F.when(ok, e6(rxy)).alias("r_xy_e6"),
        F.when(ok, e6(rxz)).alias("r_xz_e6"),
        F.when(ok, e6(ryz)).alias("r_yz_e6"),
        F.when(ok, e6(partial)).alias("r_xy_z_e6"),
    )


def pop_growth(
    df: DataFrame,
    t_col: str,
    v_col: str,
    group_cols: Sequence[str] = (),
    lag: int = 7,
) -> DataFrame:
    """Period-over-period growth of a regularly-indexed integer series
    per group: each point joined with the point exactly ``lag`` steps
    earlier (default 7 — week-over-week on a day grain), emitting the
    exact difference and the growth ratio. The aligned comparison
    behind WoW/MoM dashboards — alignment by VALUE of t, so gaps are
    honest (a missing t−lag row yields NULL prev, not the previous
    ROW, which is what a naive `lag()` window would silently do).

    diff is an exact integer; growth = v/prev is one exact IEEE
    division emitted RAW (NULL when prev is 0 or absent).

    Scale: one group-keyed equi-join on (group, t−lag) — same shuffle
    key both sides; the coarse-series contract applies.

    Output per row: group…, t, v, prev, diff, growth.
    """
    if lag < 1:
        raise ValueError(f"pop_growth: lag must be >= 1, got {lag}")
    groups = list(group_cols)
    t = F.col(t_col).cast("long")
    v = F.col(v_col).cast("long")
    d = df.select(
        *groups, t.alias("__t"), v.alias("__v")
    ).where(t.isNotNull() & v.isNotNull())
    d = d.localCheckpoint(eager=False)  # both join sides (r9 rule)
    prev = d.select(
        *[F.col(g).alias(f"__r_{g}") for g in groups],
        (F.col("__t") + F.lit(int(lag))).alias("__tp"),
        F.col("__v").alias("__prev"),
    )
    cond = [F.col("__t") == F.col("__tp")] + [
        F.col(g).eqNullSafe(F.col(f"__r_{g}")) for g in groups
    ]
    j = d.join(prev, cond, "left").drop(
        "__tp", *[f"__r_{g}" for g in groups]
    )
    growth = F.when(
        F.col("__prev") != 0,
        F.col("__v").cast("double") / F.col("__prev").cast("double"),
    )
    return j.select(
        *groups,
        F.col("__t").alias(t_col),
        F.col("__v").alias(v_col),
        F.col("__prev").alias("prev"),
        (F.col("__v") - F.col("__prev")).cast("long").alias("diff"),
        growth.alias("growth"),
    )


def uncertainty_coefficient(
    df: DataFrame,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Theil's uncertainty coefficient between two categorical columns
    — the DIRECTIONAL dependency-strength measure behind approximate
    functional-dependency discovery: U(y|x) = I(x;y)/H(y) is the
    fraction of y's uncertainty that knowing x removes (1 ⇒ x
    functionally determines y; 0 ⇒ independent), with the reverse
    direction and the symmetric form 2I/(H(x)+H(y)) alongside.
    Directionality is what chi²/Cramér's V/NMI all hide: "zip
    determines city" and "city determines zip" score identically
    there, differently here.

    Same exact contingency pass + µ-nat emission contract as
    `mutual_information` (cell counts exact integers; ln the one libm
    call; cell-count-many float terms, e6 absorbs last-ulp noise).
    Degenerate marginals (H = 0 — a constant column) yield NULL for
    the ratios that divide by them.

    Output (1 row): n, h_x_e6, h_y_e6, mi_e6, u_y_given_x_e6,
    u_x_given_y_e6, u_sym_e6.
    """
    ct = contingency_counts(df, x_col, y_col)
    n = F.col("n").cast("double")
    obs = F.col("obs").cast("double")
    mi_term = (obs / n) * F.log(
        obs
        * n
        / (F.col("row_tot").cast("double") * F.col("col_tot").cast("double"))
    )
    h_x_term = (obs / n) * F.log(n / F.col("row_tot").cast("double"))
    h_y_term = (obs / n) * F.log(n / F.col("col_tot").cast("double"))
    agg = ct.agg(
        F.max("n").alias("n"),
        F.sum(h_x_term).alias("__hx"),
        F.sum(h_y_term).alias("__hy"),
        F.sum(mi_term).alias("__mi"),
    )
    hx = F.col("__hx")
    hy = F.col("__hy")
    mi = F.col("__mi")
    return agg.select(
        F.col("n").cast("long").alias("n"),
        e6(hx).alias("h_x_e6"),
        e6(hy).alias("h_y_e6"),
        e6(mi).alias("mi_e6"),
        F.when(hy > 0, e6(mi / hy)).alias("u_y_given_x_e6"),
        F.when(hx > 0, e6(mi / hx)).alias("u_x_given_y_e6"),
        F.when(
            hx + hy > 0, e6(F.lit(2.0) * mi / (hx + hy))
        ).alias("u_sym_e6"),
    )


def trimmed_mean(
    df: DataFrame,
    value_col: str,
    group_cols: Sequence[str] = (),
    trim_ppm: int = 50_000,
) -> DataFrame:
    """Symmetric trimmed mean per group — the robust location estimate
    between the mean (efficient, outlier-fragile) and the median
    (robust, throws away most of the data): drop the lowest and
    highest ``trim_ppm`` (parts-per-million, default 5%) of ROWS by
    value and average the rest.

    EXACT everywhere — no approximate percentile: with t =
    ⌊n·trim_ppm/1e6⌋ rows trimmed per side, a value v with below(v)
    rows strictly below and c ties contributes
    max(0, min(below+c, n−t) − max(below, t)) kept rows (the overlap
    of its rank interval with [t, n−t)) — integer arithmetic over the
    distinct-value frame via one distributed below-counts pass. Ties
    straddling a cut point are trimmed PARTIALLY by row count, so the
    estimate is a pure function of the multiset (partitioning- and
    engine-independent). The mean is one exact IEEE division of
    decimal(38,0) sums; n − 2t = 0 (tiny groups) → NULL.

    Output per group: n, n_trimmed_per_side, trimmed_mean.
    """
    if not 0 <= trim_ppm < 500_000:
        raise ValueError(
            "trimmed_mean: trim_ppm must be in [0, 500000), got "
            f"{trim_ppm}"
        )
    groups = list(group_cols)
    v = F.col(value_col).cast("long")
    d = df.select(*groups, v.alias("__v")).where(v.isNotNull())
    per_v = d.groupBy(*groups, "__v").agg(
        F.count(F.lit(1)).cast("long").alias("__c")
    )
    cum = distributed_below_counts(
        per_v, "__v", ["__c"], inclusive=False, group_cols=groups
    )
    # trim count per side floor(n·ppm/1e6) is a GROUP CONSTANT kept in
    # BIGINT, never a per-row decimal DIV (the lorenz_points r11 hoist:
    # that DIV was the dominant cost of the final stage on ~all-distinct
    # columns).
    j = cum.select(
        *groups,
        "__v",
        "__c",
        "__c_cum",
        F.col("__c_total").alias("__n"),
        bigint_mul_div("__c_total", int(trim_ppm), 1_000_000).alias("__t"),
    )
    lo = F.greatest(F.col("__c_cum"), F.col("__t"))
    hi = F.least(
        F.col("__c_cum") + F.col("__c"), F.col("__n") - F.col("__t")
    )
    kept = F.greatest(hi - lo, F.lit(0)).cast("long")
    agg = j.groupBy(*groups).agg(
        F.max("__n").alias("n"),
        F.max("__t").alias("n_trimmed_per_side"),
        F.sum(kept.cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("__kept"),
        # kept is a ROW COUNT: multiply as decimal, not long — a
        # >3e9-row tie at a near-bound value would overflow an int64
        # product (round-10 review)
        F.sum(kept.cast("decimal(38,0)") * F.col("__v"))
        .cast("decimal(38,0)")
        .alias("__sum"),
    )
    mean = F.when(
        F.col("__kept") > 0,
        F.col("__sum").cast("double") / F.col("__kept").cast("double"),
    )
    return agg.select(
        *groups, "n", "n_trimmed_per_side", mean.alias("trimmed_mean")
    )


def lorenz_points(
    df: DataFrame,
    value_col: str,
    group_cols: Sequence[str] = (),
    n_points: int = 10,
) -> DataFrame:
    """Lorenz curve points per group — the PLOTTABLE companion to the
    one-number `gini_concentration`: for each decile d (bottom d/k of
    rows by value), the cumulative share of total value those rows
    hold. "The bottom 50% of orders carry 18% of revenue" is this
    curve; the Gini is twice the area above it.

    EXACT everywhere (the trimmed_mean rank-interval machinery): the
    bottom-T_d row set is T_d = ⌊n·d/k⌋ rows by ascending value, a
    value with below(v) rows strictly below and c ties contributes
    min(below+c, T_d) − min(below, T_d) of its rows (ties straddling a
    cut split PARTIALLY by row count — a pure function of the
    multiset), and each share is one exact IEEE division of
    decimal(38,0) sums. Negative values are accepted (shares can dip
    below 0 — the standard Lorenz behavior for signed measures).

    Scale: one distinct-value groupBy + one distributed below-counts
    pass + one aggregation with k conditional sums; output is
    k·groups rows.

    Output per (group, point): point (1..k), frac_rows (= point/k,
    exact ratio), cum_share.
    """
    if n_points < 1:
        raise ValueError(
            f"lorenz_points: n_points must be >= 1, got {n_points}"
        )
    groups = list(group_cols)
    v = F.col(value_col).cast("long")
    d = df.select(*groups, v.alias("__v")).where(v.isNotNull())
    per_v = d.groupBy(*groups, "__v").agg(
        F.count(F.lit(1)).cast("long").alias("__c")
    )
    cum = distributed_below_counts(
        per_v, "__v", ["__c"], inclusive=False, group_cols=groups
    ).localCheckpoint(eager=False)  # totals + per-point sums (r9 rule)
    # The per-point cut thresholds T_p = ⌊n·p/k⌋ are GROUP CONSTANTS:
    # computing them here, on the group-count-sized totals frame, and
    # broadcasting them as plain BIGINTs keeps the big per-row stage
    # below in pure long arithmetic (r11: the original per-row
    # `(CAST(__n AS DECIMAL(38,0))·p) DIV k` did k BigDecimal
    # multiply+divides on EVERY distinct-value row — ~40% of the
    # query's wall time at a 150k-distinct sf0.1 column).
    totals = cum.groupBy(*groups).agg(
        F.sum("__c").cast("long").alias("__n"),
        F.sum(F.col("__c").cast("decimal(38,0)") * F.col("__v"))
        .cast("decimal(38,0)")
        .alias("__tot"),
    )
    totals = totals.select(
        *groups,
        "__n",
        "__tot",
        *[
            F.expr(
                f"CAST((CAST(__n AS DECIMAL(38,0)) * {p}) "
                f"DIV {n_points} AS BIGINT)"
            ).alias(f"__t{p}")
            for p in range(1, n_points + 1)
        ],
    )
    if groups:
        tt = totals.select(
            *[F.col(g).alias(f"__tg_{g}") for g in groups],
            *[c for c in totals.columns if c not in groups],
        )
        cond = [F.col(g).eqNullSafe(F.col(f"__tg_{g}")) for g in groups]
        j = cum.join(F.broadcast(tt), cond).drop(
            *[f"__tg_{g}" for g in groups]
        )
    else:
        j = cum.crossJoin(F.broadcast(totals))
    agg_cols = [
        F.max("__n").alias("__n"),
        F.max("__tot").alias("__tot"),
    ]
    for p in range(1, n_points + 1):
        t_p = F.col(f"__t{p}")
        kept = F.greatest(
            F.least(F.col("__c_cum") + F.col("__c"), t_p)
            - F.least(F.col("__c_cum"), t_p),
            F.lit(0),
        )
        agg_cols.append(
            F.sum(kept.cast("decimal(38,0)") * F.col("__v"))
            .cast("decimal(38,0)")
            .alias(f"__s{p}")
        )
    wide = j.groupBy(*groups).agg(*agg_cols)
    stack_expr = ", ".join(
        f"{p}L, __s{p}" for p in range(1, n_points + 1)
    )
    long = wide.select(
        *groups,
        "__n",
        "__tot",
        F.expr(
            f"stack({n_points}, {stack_expr}) AS (point, __cumv)"
        ),
    )
    share = F.when(
        F.col("__tot") != 0,
        F.col("__cumv").cast("double") / F.col("__tot").cast("double"),
    )
    return long.select(
        *groups,
        F.col("point").cast("long").alias("point"),
        (
            F.col("point").cast("double") / F.lit(float(n_points))
        ).alias("frac_rows"),
        share.alias("cum_share"),
    )
