"""Classical hypothesis tests over warehouse columns — the "did this
slice really move?" family that sits between the engine's drift
detectors (PSI/KS/chi², operators/profiling.py + stats.py) and its
causal readouts (two-proportion z, DiD):

- `mann_whitney_u`: two-sample rank-sum test (tie-corrected normal
  approximation) — the nonparametric "are these two distributions
  shifted?" check that needs no normality assumption. The rank-sum
  U statistic is the unnormalized twin of the engine's exact AUC
  (operators/mleval.py): U / (n_a·n_b) IS the AUC.
- `kruskal_wallis`: k-group rank ANOVA (tie-corrected H) — "does this
  metric differ across sources/segments at all?" before pairwise digs.
- `welch_t_test`: unequal-variance two-sample t with Welch–
  Satterthwaite dof — the parametric companion when means are the
  question and group variances differ (they always do).
- `anova_oneway`: one-way fixed-effects F + eta² effect size across k
  groups — the "which dimension explains this metric" screen.

No reference analogue (the reference computes rollups, not inference);
these extend SURVEY §2.11's statistics family (X118-X120, X152,
X157, X160, X165) with the standard two-sample/k-sample toolkit a
data-quality gate or experiment readout needs.

Cross-engine determinism (the engine's oracle bar):
- Rank statistics use the DOUBLED-rank construction from
  `spearman_matrix` (stats.py): average rank of value v is
  below(v) + (cnt(v)+1)/2, kept integer as r2(v) = 2·below(v) +
  cnt(v) + 1. Rank sums and tie terms Σ(t³−t) accumulate as
  decimal(38,0) — order-independent, bit-identical on any engine and
  partitioning.
- Moment statistics (t/F) accumulate Σx and Σx² as decimal(38,0) over
  INTEGER-valued inputs (the engine's cents convention — cast your
  measure to integer units first).
- The final statistic is one fixed IEEE double expression tree over
  those exact integers. Per-GROUP double terms (Kruskal's Σ R_g²/n_g,
  ANOVA's Σ S_g²/n_g) are group-cardinality-many, magnitudes
  comparable — the chi²/mutual-information precedent — and every
  fractional output leaves as a micro-scaled integer (`*_e6` BIGINT):
  scale-0 rounding is nearest-integer in every engine build, so a
  1-ulp libm/summation difference cannot move the emitted value
  (the round-9 `st_kendall_tau_qty_discount` lesson).

Scale notes (100 TB):
- `mann_whitney_u` / `kruskal_wallis`: ONE map-side-combinable groupBy
  compresses the data to the distinct-value frame; below-counts come
  from `distributed_below_counts` (stats.py — one range shuffle,
  per-partition windows, P-row offsets broadcast), so a continuous
  measure whose distinct frame approaches the data size never funnels
  through a single partition. One final 1-row (or k-row) aggregation.
- `welch_t_test` / `anova_oneway`: one partial-aggregable groupBy to
  k rows of exact moments — no second scan, no shuffle wider than the
  moment vector.
- Variance/H magnitudes: tie sums Σ(t³−t) ≤ n³ and moment products
  n·Σx² stay inside decimal(38,0) through n ≈ 10^9 rows per test cell
  with 9-digit integer measures; beyond that, pre-bucket the measure
  (the X102 fixed-grid convention) — the test is rank/moment-based
  and survives coarsening.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from legendary_data_pipeline_spark.functions.numeric import e6
from legendary_data_pipeline_spark.operators.stats import (
    distributed_below_counts,
)

_DEC = "decimal(38,0)"


def mann_whitney_u(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Two-sample Mann–Whitney U (Wilcoxon rank-sum) test between two
    named groups, tie-corrected normal approximation.

        U_a = #{(x ∈ a, y ∈ b): x > y} + ½·#{x = y}
        z = (U_a − n_a·n_b/2) / sqrt(Var),
        Var = (n_a·n_b/12)·((n+1) − Σ(t³−t)/(n·(n−1)))

    ``value_col`` must be integer-valued (cents convention — cast
    first). Rows outside the two named groups and NULL values drop.

    Everything up to the final z is exact: per-distinct-value group
    counts, strictly-below counts from the distributed prefix sum, and
    the doubled statistic U2 = 2·U_a = Σ_v n_av·(2·below_b(v) + n_bv)
    accumulating as decimal(38,0). u1 = U2/2 is one exact binary
    halving; z is one fixed IEEE tree; z_e6 leaves as BIGINT.

    Degenerate inputs (either group empty, all values tied → Var 0)
    yield NULL z_e6. Output (1 row): n_a, n_b, u1, auc_ab, z_e6 —
    auc_ab = U_a/(n_a·n_b) = P(a > b) + ½P(a = b), the effect size
    (exactly the engine's AUC when a = positives, value = score).
    """
    if group_a == group_b:
        # With equal labels every row lands in BOTH groups (n_a = n_b
        # = N) while the pooled tie count __c counts rows once — the
        # tie-corrected variance then mixes inconsistent n's and emits
        # a silently meaningless z_e6. Fail loudly instead.
        raise ValueError(
            f"mann_whitney_u: group_a and group_b must differ "
            f"(both = {group_a!r})"
        )
    v = F.col(value_col).cast("long")
    g = F.col(group_col)
    is_a = g.eqNullSafe(F.lit(group_a))
    is_b = g.eqNullSafe(F.lit(group_b))
    d = df.select(
        v.alias("__v"),
        is_a.cast("long").alias("__ia"),
        is_b.cast("long").alias("__ib"),
    ).where(v.isNotNull() & (F.col("__ia") + F.col("__ib") > 0))
    per_v = d.groupBy("__v").agg(
        F.sum("__ia").cast(_DEC).alias("__na"),
        F.sum("__ib").cast(_DEC).alias("__nb"),
        F.count(F.lit(1)).cast(_DEC).alias("__c"),
    )
    cum = distributed_below_counts(per_v, "__v", ["__nb"], inclusive=False)
    agg = cum.agg(
        F.sum("__na").cast(_DEC).alias("__n_a"),
        F.sum("__nb").cast(_DEC).alias("__n_b"),
        F.sum(
            (
                F.col("__na")
                * (F.lit(2).cast(_DEC) * F.col("__nb_cum") + F.col("__nb"))
            ).cast(_DEC)
        ).cast(_DEC).alias("__u2"),
        F.sum(
            (F.col("__c") * F.col("__c") * F.col("__c") - F.col("__c")).cast(
                _DEC
            )
        ).cast(_DEC).alias("__tie"),
    )
    nad = F.col("__n_a").cast("double")
    nbd = F.col("__n_b").cast("double")
    nd = nad + nbd
    u2d = F.col("__u2").cast("double")
    tied = F.col("__tie").cast("double")
    var = (nad * nbd / F.lit(12.0)) * (
        (nd + F.lit(1.0)) - tied / (nd * (nd - F.lit(1.0)))
    )
    z = (u2d - nad * nbd) / (F.lit(2.0) * F.sqrt(var))
    return agg.select(
        F.coalesce(F.col("__n_a"), F.lit(0)).cast("long").alias("n_a"),
        F.coalesce(F.col("__n_b"), F.lit(0)).cast("long").alias("n_b"),
        (u2d / F.lit(2.0)).alias("u1"),
        F.when(
            (F.col("__n_a") > 0) & (F.col("__n_b") > 0),
            u2d / (F.lit(2.0) * (nad * nbd)),
        ).alias("auc_ab"),
        F.when(
            (F.col("__n_a") > 0) & (F.col("__n_b") > 0) & (var > 0),
            e6(z),
        ).alias("z_e6"),
    )


def kruskal_wallis(
    df: DataFrame, value_col: str, group_col: str
) -> DataFrame:
    """Kruskal–Wallis rank ANOVA across ALL observed groups —
    tie-corrected H with k−1 dof.

        H = 12/(n(n+1)) · Σ_g R_g²/n_g − 3(n+1)
        H_c = H / (1 − Σ(t³−t)/(n³−n))

    ``value_col`` must be integer-valued. NULL values or group keys
    drop. Rank sums stay exact via doubled average ranks
    (r2(v) = 2·below(v) + cnt(v) + 1, the `spearman_matrix`
    construction): 2·R_g = Σ_v n_gv·r2(v) in decimal(38,0), so
    R_g²/n_g = (2R_g)²/(4·n_g). The per-group double terms sum under
    the chi² precedent; H leaves as h_e6 BIGINT.

    Degenerate inputs (k < 2, or every value identical → tie factor 0)
    yield NULL h_e6. Output (1 row): n, n_groups, dof, h_e6.

    Scale: one (group, value) groupBy + one value groupBy (both
    map-side combinable, distinct-frame-sized), distributed below-
    counts, one value-keyed join, then a k-row aggregation.
    """
    v = F.col(value_col).cast("long")
    g = F.col(group_col)
    d = df.select(g.alias("__g"), v.alias("__v")).where(
        v.isNotNull() & g.isNotNull()
    )
    # Pin: the pooled-value frame and the per-(group, value) frame are
    # two consumers of the same projection — one materialization, not
    # two corpus scans (the round-9 multi-consumer rule).
    d = d.localCheckpoint(eager=False)
    pooled = d.groupBy("__v").agg(F.count(F.lit(1)).cast(_DEC).alias("__c"))
    cum = distributed_below_counts(pooled, "__v", ["__c"], inclusive=False)
    rankmap = cum.select(
        "__v",
        (
            F.lit(2).cast(_DEC) * F.col("__c_cum")
            + F.col("__c")
            + F.lit(1).cast(_DEC)
        ).cast(_DEC).alias("__r2"),
        (
            (F.col("__c") * F.col("__c") * F.col("__c") - F.col("__c")).cast(
                _DEC
            )
        ).alias("__t3"),
    )
    per_gv = d.groupBy("__g", "__v").agg(
        F.count(F.lit(1)).cast(_DEC).alias("__ngv")
    )
    joined = per_gv.join(rankmap, "__v")
    per_g = joined.groupBy("__g").agg(
        F.sum("__ngv").cast(_DEC).alias("__ng"),
        F.sum((F.col("__ngv") * F.col("__r2")).cast(_DEC))
        .cast(_DEC)
        .alias("__r2g"),
    )
    # Σ(t³−t) comes from the pooled frame (each distinct value once —
    # summing __t3 over the joined frame would count a value once per
    # group that observes it).
    tie = rankmap.agg(F.sum("__t3").cast(_DEC).alias("__tie"))
    r2gd = F.col("__r2g").cast("double")
    ngd = F.col("__ng").cast("double")
    stats = per_g.agg(
        F.sum("__ng").cast(_DEC).alias("__n"),
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.sum((r2gd * r2gd) / (F.lit(4.0) * ngd)).alias("__sumrr"),
    ).crossJoin(F.broadcast(tie))
    nd = F.col("__n").cast("double")
    h = (F.lit(12.0) / (nd * (nd + F.lit(1.0)))) * F.col("__sumrr") - F.lit(
        3.0
    ) * (nd + F.lit(1.0))
    tie_factor = F.lit(1.0) - F.col("__tie").cast("double") / (
        nd * nd * nd - nd
    )
    return stats.select(
        F.coalesce(F.col("__n"), F.lit(0)).cast("long").alias("n"),
        "n_groups",
        F.when(
            F.col("n_groups") > 0, F.col("n_groups") - F.lit(1)
        ).cast("long").alias("dof"),
        F.when(
            (F.col("n_groups") >= 2) & (tie_factor > 0),
            e6(h / tie_factor),
        ).alias("h_e6"),
    )


def welch_t_test(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Welch's unequal-variance two-sample t-test between two named
    groups, with Welch–Satterthwaite degrees of freedom.

        t = (m_a − m_b) / sqrt(s_a²/n_a + s_b²/n_b)
        dof = (s_a²/n_a + s_b²/n_b)² /
              ((s_a²/n_a)²/(n_a−1) + (s_b²/n_b)²/(n_b−1))

    ``value_col`` must be integer-valued (cents). ONE filtered
    aggregation yields exact decimal(38,0) n/Σx/Σx² per group; sample
    variance uses the exact-numerator identity
    s² = (n·Σx² − (Σx)²)/(n·(n−1)) so no float accumulates. Means are
    exact IEEE ratios (emitted raw); t and dof leave as *_e6 BIGINT.

    Degenerate inputs (a group with n < 2, both variances 0) yield
    NULL t_e6/dof_e6. Output (1 row): n_a, n_b, mean_a, mean_b, t_e6,
    dof_e6.
    """
    if group_a == group_b:
        # Same failure class as mann_whitney_u: equal labels put every
        # row in both sides and the statistic silently compares a
        # sample with itself.
        raise ValueError(
            f"welch_t_test: group_a and group_b must differ "
            f"(both = {group_a!r})"
        )
    v = F.col(value_col).cast("long")
    g = F.col(group_col)
    is_a = g.eqNullSafe(F.lit(group_a))
    is_b = g.eqNullSafe(F.lit(group_b))
    d = df.select(
        v.cast(_DEC).alias("__v"),
        is_a.alias("__ia"),
        is_b.alias("__ib"),
    ).where(v.isNotNull() & (F.col("__ia") | F.col("__ib")))

    def side(flag: str, suffix: str) -> list[Column]:
        m = F.col(flag)
        return [
            F.coalesce(F.sum(m.cast("long")), F.lit(0))
            .cast(_DEC)
            .alias(f"__n{suffix}"),
            F.coalesce(F.sum(F.when(m, F.col("__v"))), F.lit(0))
            .cast(_DEC)
            .alias(f"__s{suffix}"),
            F.coalesce(
                F.sum(F.when(m, (F.col("__v") * F.col("__v")).cast(_DEC))),
                F.lit(0),
            )
            .cast(_DEC)
            .alias(f"__q{suffix}"),
        ]

    agg = d.agg(*side("__ia", "a"), *side("__ib", "b"))

    def var_d(suffix: str) -> Column:
        n = F.col(f"__n{suffix}")
        s = F.col(f"__s{suffix}")
        q = F.col(f"__q{suffix}")
        num = (n * q - s * s).cast(_DEC).cast("double")
        nd = n.cast("double")
        return num / (nd * (nd - F.lit(1.0)))

    nad = F.col("__na").cast("double")
    nbd = F.col("__nb").cast("double")
    mean_a = F.col("__sa").cast("double") / nad
    mean_b = F.col("__sb").cast("double") / nbd
    wa = var_d("a") / nad
    wb = var_d("b") / nbd
    se2 = wa + wb
    t = (mean_a - mean_b) / F.sqrt(se2)
    dof = (se2 * se2) / (
        (wa * wa) / (nad - F.lit(1.0)) + (wb * wb) / (nbd - F.lit(1.0))
    )
    ok = (F.col("__na") >= 2) & (F.col("__nb") >= 2)
    return agg.select(
        F.col("__na").cast("long").alias("n_a"),
        F.col("__nb").cast("long").alias("n_b"),
        F.when(F.col("__na") > 0, mean_a).alias("mean_a"),
        F.when(F.col("__nb") > 0, mean_b).alias("mean_b"),
        F.when(ok & (se2 > 0), e6(t)).alias("t_e6"),
        F.when(ok & (se2 > 0), e6(dof)).alias("dof_e6"),
    )


def anova_oneway(
    df: DataFrame, value_col: str, group_col: str
) -> DataFrame:
    """One-way fixed-effects ANOVA across ALL observed groups: F
    statistic plus eta² effect size (SSB/SST).

        SSB = Σ_g S_g²/n_g − S²/N      SSW = Q − Σ_g S_g²/n_g
        F = (SSB/(k−1)) / (SSW/(N−k))

    ``value_col`` must be integer-valued. One map-side-combinable
    groupBy yields exact decimal(38,0) (n_g, S_g, Q_g) per group; the
    k per-group S_g²/n_g doubles sum under the chi² precedent; F and
    eta² leave as *_e6 BIGINT.

    Degenerate inputs (k < 2, N ≤ k, SSW = 0) yield NULL f_e6 (eta²
    still emitted when SST > 0). Output (1 row): n, n_groups,
    dof_between, dof_within, f_e6, eta_sq_e6.
    """
    v = F.col(value_col).cast("long")
    g = F.col(group_col)
    d = df.select(g.alias("__g"), v.cast(_DEC).alias("__v")).where(
        v.isNotNull() & g.isNotNull()
    )
    per_g = d.groupBy("__g").agg(
        F.count(F.lit(1)).cast(_DEC).alias("__ng"),
        F.sum("__v").cast(_DEC).alias("__sg"),
        F.sum((F.col("__v") * F.col("__v")).cast(_DEC)).cast(_DEC).alias(
            "__qg"
        ),
    )
    sgd = F.col("__sg").cast("double")
    ngd = F.col("__ng").cast("double")
    agg = per_g.agg(
        F.sum("__ng").cast(_DEC).alias("__n"),
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.sum("__sg").cast(_DEC).alias("__s"),
        F.sum("__qg").cast(_DEC).alias("__q"),
        F.sum((sgd * sgd) / ngd).alias("__sumsq_over_n"),
    )
    nd = F.col("__n").cast("double")
    sd = F.col("__s").cast("double")
    qd = F.col("__q").cast("double")
    kd = F.col("n_groups").cast("double")
    ssb = F.col("__sumsq_over_n") - (sd * sd) / nd
    ssw = qd - F.col("__sumsq_over_n")
    sst = qd - (sd * sd) / nd
    f = (ssb / (kd - F.lit(1.0))) / (ssw / (nd - kd))
    ok = (
        (F.col("n_groups") >= 2)
        & (F.col("__n").cast("long") > F.col("n_groups"))
        & (ssw > 0)
    )
    return agg.select(
        F.coalesce(F.col("__n"), F.lit(0)).cast("long").alias("n"),
        "n_groups",
        F.when(
            F.col("n_groups") > 0, F.col("n_groups") - F.lit(1)
        ).cast("long").alias("dof_between"),
        F.when(
            F.col("n_groups") > 0,
            F.col("__n").cast("long") - F.col("n_groups"),
        ).alias("dof_within"),
        F.when(ok, e6(f)).alias("f_e6"),
        F.when(sst > 0, e6(ssb / sst)).alias("eta_sq_e6"),
    )


def mcnemar_test(
    df: DataFrame,
    flag_a: Column,
    flag_b: Column,
    continuity: bool = True,
) -> DataFrame:
    """McNemar's test for PAIRED binary outcomes — "do these two
    quality gates / classifiers disagree beyond chance on the same
    documents?" The unpaired two-proportion z-test is wrong here (the
    samples are the same rows); McNemar uses only the discordant
    cells:

        chi2 = (|b − c| − 1)² / (b + c)     (continuity-corrected)

    with b = A-yes/B-no and c = A-no/B-yes counts. ``flag_a`` /
    ``flag_b`` are boolean Columns evaluated per row; rows where
    either is NULL drop (no verdict pair). All four concordance cells
    are exact integers from ONE aggregation; chi2 is a raw IEEE ratio
    of exact integers (representation-proof, no rounding). b + c = 0
    (perfect agreement) yields NULL chi2.

    Output (1 row): n, both_yes, both_no, only_a, only_b, chi2.
    """
    a = flag_a.cast("boolean")
    b = flag_b.cast("boolean")
    d = df.select(a.alias("__a"), b.alias("__b")).where(
        a.isNotNull() & b.isNotNull()
    )

    def cell(pa: bool, pb: bool) -> Column:
        m = (F.col("__a") == pa) & (F.col("__b") == pb)
        return F.coalesce(F.sum(m.cast("long")), F.lit(0)).cast("long")

    agg = d.agg(
        cell(True, True).alias("both_yes"),
        cell(False, False).alias("both_no"),
        cell(True, False).alias("only_a"),
        cell(False, True).alias("only_b"),
    )
    bd = F.col("only_a").cast("double")
    cd = F.col("only_b").cast("double")
    diff = F.abs(bd - cd) - (F.lit(1.0) if continuity else F.lit(0.0))
    # the corrected difference floors at 0 (|b-c| <= 1 means no
    # evidence, not negative evidence)
    diff = F.greatest(diff, F.lit(0.0))
    chi2 = F.when(
        (F.col("only_a") + F.col("only_b")) > 0,
        (diff * diff) / (bd + cd),
    )
    n = (
        F.col("both_yes") + F.col("both_no")
        + F.col("only_a") + F.col("only_b")
    ).cast("long")
    return agg.select(
        n.alias("n"), "both_yes", "both_no", "only_a", "only_b",
        chi2.alias("chi2"),
    )


def wilcoxon_signed_rank(
    df: DataFrame,
    value_a_col: str,
    value_b_col: str,
) -> DataFrame:
    """Wilcoxon signed-rank test for PAIRED integer measurements —
    "did this entity's metric move between the two conditions?"
    (pre/post per customer, gate-on vs gate-off per document). The
    paired-values companion to `mcnemar_test` (paired flags) and
    `mann_whitney_u` (independent samples).

        d_i = a_i − b_i (zeros drop, the standard convention)
        W+  = Σ ranks of |d_i| where d_i > 0 (average ranks on ties)
        z   = (W+ − n(n+1)/4)
              / sqrt(n(n+1)(2n+1)/24 − Σ(t³−t)/48)

    Rows with a NULL on either side drop. Exactness: |d| ranks use the
    doubled-rank construction over the distinct-|d| frame
    (distributed below-counts — no single-partition stage even when
    differences are near-unique), 2·W+ and the tie sum accumulate as
    decimal(38,0), and z is one fixed IEEE tree emitted as z_e6
    BIGINT. Degenerate inputs (no nonzero differences, zero variance)
    yield NULL z_e6.

    Output (1 row): n_pairs, n_nonzero, w_plus, z_e6.
    """
    a = F.col(value_a_col).cast("long")
    b = F.col(value_b_col).cast("long")
    d = df.select((a - b).alias("__d")).where(
        a.isNotNull() & b.isNotNull()
    )
    # Pin: the total-pairs aggregate and the nonzero pipeline both
    # consume it (round-9 multi-consumer rule).
    d = d.localCheckpoint(eager=False)
    totals = d.agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    nz = d.where(F.col("__d") != 0).select(
        F.abs(F.col("__d")).alias("__ad"),
        (F.col("__d") > 0).cast("long").alias("__pos"),
    )
    per_v = nz.groupBy("__ad").agg(
        F.sum("__pos").cast(_DEC).alias("__np"),
        F.count(F.lit(1)).cast(_DEC).alias("__c"),
    )
    cum = distributed_below_counts(per_v, "__ad", ["__c"], inclusive=False)
    # doubled average rank of |d| value v: 2·below + c + 1
    r2 = (
        F.lit(2).cast(_DEC) * F.col("__c_cum")
        + F.col("__c")
        + F.lit(1).cast(_DEC)
    )
    agg = cum.agg(
        F.coalesce(F.sum("__c"), F.lit(0)).cast(_DEC).alias("__n"),
        F.coalesce(
            F.sum((F.col("__np") * r2).cast(_DEC)), F.lit(0)
        ).cast(_DEC).alias("__w2"),
        F.coalesce(
            F.sum(
                (
                    F.col("__c") * F.col("__c") * F.col("__c")
                    - F.col("__c")
                ).cast(_DEC)
            ),
            F.lit(0),
        ).cast(_DEC).alias("__tie"),
    ).crossJoin(F.broadcast(totals))
    nd = F.col("__n").cast("double")
    w_plus = F.col("__w2").cast("double") / F.lit(2.0)
    mean = nd * (nd + F.lit(1.0)) / F.lit(4.0)
    var = nd * (nd + F.lit(1.0)) * (F.lit(2.0) * nd + F.lit(1.0)) / F.lit(
        24.0
    ) - F.col("__tie").cast("double") / F.lit(48.0)
    z = (w_plus - mean) / F.sqrt(var)
    return agg.select(
        "n_pairs",
        F.col("__n").cast("long").alias("n_nonzero"),
        w_plus.alias("w_plus"),
        F.when((F.col("__n") > 0) & (var > 0), e6(z)).alias("z_e6"),
    )


def cochrans_q(df: DataFrame, flag_cols: Sequence[str]) -> DataFrame:
    """Cochran's Q test across k ≥ 2 PAIRED binary gates — the k-gate
    generalization of McNemar: "do these quality gates have different
    pass rates on the same documents?"

    With row sums R_i (gates passed per row), column totals C_j, and
    T = ΣC_j:

        Q = (k−1) · Σ_j (k·C_j − T)² / (k · (k·ΣR_i − ΣR_i²))

    (the textbook k(k−1)Σ(C_j − T/k)²/(kΣR − ΣR²) with the fractional
    mean multiplied out — numerator and denominator are EXACT
    decimal(38,0) integers, so Q is one raw IEEE division). Rows where
    any flag is NULL drop (no complete verdict vector). Rows that pass
    all gates or none contribute nothing to the denominator — all-
    concordant input (denominator 0) yields NULL q. dof = k − 1.

    One aggregation (map-side combinable); the per-gate reshape runs
    on the 1-row result. Output: n, k, dof, q.
    """
    k = len(flag_cols)
    if k < 2:
        raise ValueError("cochrans_q needs at least two flag columns")
    flags = [F.col(c).cast("boolean") for c in flag_cols]
    notnull = F.lit(True)
    for f in flags:
        notnull = notnull & f.isNotNull()
    longs = [f.cast("long") for f in flags]
    r = longs[0]
    for x in longs[1:]:
        r = r + x
    d = df.where(notnull).select(
        *[x.alias(f"__f{j}") for j, x in enumerate(longs)],
        r.alias("__r"),
    )
    agg = d.agg(
        F.count(F.lit(1)).cast(_DEC).alias("__n"),
        *[
            F.coalesce(F.sum(f"__f{j}"), F.lit(0)).cast(_DEC).alias(f"__c{j}")
            for j in range(k)
        ],
        F.coalesce(F.sum("__r"), F.lit(0)).cast(_DEC).alias("__sr"),
        F.coalesce(
            F.sum((F.col("__r") * F.col("__r")).cast(_DEC)), F.lit(0)
        ).cast(_DEC).alias("__sr2"),
    )
    kd = F.lit(k).cast(_DEC)
    t = None
    for j in range(k):
        t = F.col(f"__c{j}") if t is None else t + F.col(f"__c{j}")
    num = None
    for j in range(k):
        term = (kd * F.col(f"__c{j}") - t).cast(_DEC)
        sq = (term * term).cast(_DEC)
        num = sq if num is None else (num + sq).cast(_DEC)
    den = (kd * (kd * F.col("__sr") - F.col("__sr2"))).cast(_DEC)
    q = (
        F.lit(float(k - 1)) * num.cast("double") / den.cast("double")
    )
    return agg.select(
        F.col("__n").cast("long").alias("n"),
        F.lit(k).cast("long").alias("k"),
        F.lit(k - 1).cast("long").alias("dof"),
        F.when(den > 0, q).alias("q"),
    )


def brown_forsythe(
    df: DataFrame, value_col: str, group_col: str
) -> DataFrame:
    """Brown–Forsythe test (Levene's test with the group MEDIAN) for
    variance homogeneity across k groups — the pre-flight check on
    `anova_oneway` (the F test assumes equal variances; this tests
    that assumption robustly, since the median center shrugs off the
    heavy tails warehouse measures always have):

        W = ANOVA-F computed over z_ij = |x_ij − median(group_j)|

    Exactness: medians of integers land on halves, so the spreads are
    DOUBLED into exact integers — z2_ij = |2·x_ij − 2·median_j| — and
    fed through the exact-decimal ANOVA machinery (the F statistic is
    scale-invariant, so doubling changes nothing). Group medians come
    from `percentile` (bit-parity with quantile_cont); everything
    after is the X169 moment path; W leaves as w_e6 BIGINT.

    ``value_col`` must be integer-valued. Output (1 row): n, n_groups,
    dof_between, dof_within, w_e6.

    Scale: one per-group exact percentile (groups are the parallelism
    unit — the winsorize contract), a broadcast medians join, then the
    one-pass ANOVA aggregation.
    """
    v = F.col(value_col).cast("long")
    g = F.col(group_col)
    d = df.select(g.alias("__g"), v.alias("__v")).where(
        v.isNotNull() & g.isNotNull()
    ).localCheckpoint(eager=False)  # medians + spreads (r9 rule)
    meds = d.groupBy("__g").agg(
        F.percentile(F.col("__v"), F.lit(0.5)).alias("__med")
    )
    joined = d.join(
        F.broadcast(meds.withColumnRenamed("__g", "__mg")),
        F.col("__g").eqNullSafe(F.col("__mg")),
    )
    # 2·median is integer-valued exactly (median of ints is int or
    # int + 1/2); round() guards the representation, not the value.
    z2 = F.abs(
        F.lit(2) * F.col("__v")
        - F.round(F.col("__med") * F.lit(2.0)).cast("long")
    )
    spreads = joined.select(F.col("__g").alias("g"), z2.alias("z2"))
    out = anova_oneway(spreads, "z2", "g")
    return out.select(
        "n",
        "n_groups",
        "dof_between",
        "dof_within",
        F.col("f_e6").alias("w_e6"),
    )


def cliffs_delta(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Cliff's delta ordinal effect size between two named groups —
    the magnitude companion to `mann_whitney_u`'s significance:

        δ = (#{x ∈ a, y ∈ b: x > y} − #{x < y}) / (n_a · n_b)

    δ ∈ [−1, 1]; |δ| ≥ 0.147/0.33/0.474 are the published
    negligible/small/medium/large cut points (Romano et al. 2006).
    Unlike a standardized mean difference it is rank-based — robust to
    outliers and any monotone rescaling, the right effect size to
    report next to a rank test.

    ``value_col`` must be integer-valued (cents convention). Rows
    outside the two named groups and NULL values drop. The pair counts
    are EXACT decimal(38,0) integers built from per-distinct-value
    group counts and one distributed below-counts pass (never the
    O(n_a·n_b) pair materialization); δ is one exact IEEE division and
    emits RAW (the representation rule for exact ratios). Either group
    empty → NULL delta.

    int64 envelope (the kendall_tau_b / source_cosine_matrix
    convention): gt_pairs/lt_pairs emit as BIGINT and are bounded by
    n_a·n_b, so the ANSI decimal→long cast is exact while
    n_a·n_b < 2^63 ≈ 9.2e18 — i.e. until BOTH groups pass ~3e9 rows,
    beyond any per-key slice this engine feeds it. Past that the cast
    fails loudly (ANSI), never silently wraps; delta itself stays
    well-defined (one IEEE division of the exact decimal counts).

    Output (1 row): n_a, n_b, gt_pairs, lt_pairs, delta.
    """
    if group_a == group_b:
        raise ValueError(
            f"cliffs_delta: group_a and group_b must differ "
            f"(both = {group_a!r})"
        )
    v = F.col(value_col).cast("long")
    g = F.col(group_col)
    is_a = g.eqNullSafe(F.lit(group_a))
    is_b = g.eqNullSafe(F.lit(group_b))
    d = df.select(
        v.alias("__v"),
        is_a.cast("long").alias("__ia"),
        is_b.cast("long").alias("__ib"),
    ).where(v.isNotNull() & (F.col("__ia") + F.col("__ib") > 0))
    per_v = d.groupBy("__v").agg(
        F.sum("__ia").cast(_DEC).alias("__na"),
        F.sum("__ib").cast(_DEC).alias("__nb"),
    )
    cum = distributed_below_counts(per_v, "__v", ["__nb"], inclusive=False)
    agg = cum.agg(
        F.sum("__na").cast(_DEC).alias("__n_a"),
        F.sum("__nb").cast(_DEC).alias("__n_b"),
        # a-rows strictly above b-rows: for each a value v, b values < v
        F.sum((F.col("__na") * F.col("__nb_cum")).cast(_DEC))
        .cast(_DEC)
        .alias("__gt"),
        # a-rows strictly below b-rows: b values > v is the complement
        # of (below + tied); the total n_b term attaches after the agg
        F.sum(
            (F.col("__na") * (F.col("__nb_cum") + F.col("__nb"))).cast(_DEC)
        )
        .cast(_DEC)
        .alias("__le"),
    )
    na = F.col("__n_a")
    nb = F.col("__n_b")
    gt = F.col("__gt")
    lt = (na * nb - F.col("__le")).cast(_DEC)
    delta = F.when(
        (na > 0) & (nb > 0),
        (gt - lt).cast("double") / (na * nb).cast("double"),
    )
    return agg.select(
        F.coalesce(na, F.lit(0)).cast("long").alias("n_a"),
        F.coalesce(nb, F.lit(0)).cast("long").alias("n_b"),
        F.coalesce(gt, F.lit(0)).cast("long").alias("gt_pairs"),
        F.coalesce(lt, F.lit(0)).cast("long").alias("lt_pairs"),
        delta.alias("delta"),
    )


def jonckheere_terpstra(
    df: DataFrame,
    value_col: str,
    group_col: str,
) -> DataFrame:
    """Jonckheere–Terpstra test for an ORDERED alternative across k
    groups — "does this measure increase (or decrease) along the
    group ordering?" (priority levels, severity grades, dose tiers).
    Strictly more powerful than Kruskal–Wallis when the hypothesis is
    monotone in the group order, which is the usual warehouse case.

        J = Σ_{i<j} U_ij,  U_ij = #{x∈Gᵢ < y∈Gⱼ} + ½·#{x = y}
        E[J] = (n² − Σnᵢ²)/4
        Var  = A/72 + B/(36·n(n−1)(n−2)) + C/(8·n(n−1))   (tie-
               corrected; A,B,C from group sizes nᵢ and pooled value
               tie groups t — the SAS PROC FREQ JT formulation)
        z    = (J − E[J]) / sqrt(Var)

    Groups are ordered by the NATURAL ascending order of the group key
    (document your key so the label order IS the hypothesis order,
    e.g. '1-URGENT' < … < '5-LOW'). ``value_col`` must be
    integer-valued; NULL values/groups drop.

    Exactness: the doubled statistic 2J, E[J]'s numerator, and every
    variance term are exact integer/decimal(38,0) arithmetic; z is one
    fixed IEEE tree emitted as z_e6 BIGINT (NULL when k < 2 or
    Var ≤ 0).

    Scale: k must be FEW (ordered categories — the contract; the
    ordered group list is collected to the driver, metadata-scale).
    The plan pivots the k groups into COLUMNS of the pooled
    distinct-value frame (|V| rows — never k×|V|), takes all k
    per-group below-counts in ONE distributed prefix pass over those
    columns, and reduces the cross-group double prefix to in-row
    running sums across the k columns — no pair join, no grid
    completion, no per-value windows, nothing data-sized in one
    partition (round-10 rewrite: 12.5 s → ~4 s at sf0.1 vs the
    completed-grid form).

    Output (1 row): n, k, j (as DOUBLE — half-integer when ties), z_e6.
    """
    v = F.col(value_col).cast("long")
    g = F.col(group_col)
    d = df.select(g.alias("__g"), v.alias("__v")).where(
        v.isNotNull() & g.isNotNull()
    )
    cells = d.groupBy("__g", "__v").agg(
        F.count(F.lit(1)).cast("long").alias("__c")
    ).localCheckpoint(eager=False)  # pivot + group/tie stats (r9 rule)
    # ordered categories are metadata by contract — collect them
    group_keys = sorted(
        r["__g"] for r in cells.select("__g").distinct().collect()
    )
    kk = len(group_keys)
    if kk == 0:
        return df.sparkSession.createDataFrame(
            [(0, 0, None, None)], "n long, k long, j double, z_e6 long"
        )
    cols = [f"__c_{i}" for i in range(kk)]
    pivoted = (
        cells.groupBy("__v")
        .pivot("__g", group_keys)
        .sum("__c")
        .select(
            "__v",
            *[
                F.coalesce(F.col(f"`{gk}`"), F.lit(0)).alias(cols[i])
                for i, gk in enumerate(group_keys)
            ],
        )
    )
    below = distributed_below_counts(
        pivoted, "__v", cols, inclusive=False
    )
    # in-row cross-group prefixes: for group i, p = Σ_{g<i} below_g(v),
    # q = Σ_{g<i} A_gv — fixed-k running sums, all exact decimal
    contrib = F.lit(0).cast(_DEC)
    p_run = F.lit(0).cast(_DEC)
    q_run = F.lit(0).cast(_DEC)
    for i in range(kk):
        a = F.col(cols[i]).cast(_DEC)
        contrib = contrib + a * (F.lit(2).cast(_DEC) * p_run + q_run)
        p_run = p_run + F.col(f"{cols[i]}_cum").cast(_DEC)
        q_run = q_run + a
    j2 = below.agg(
        F.sum(contrib.cast(_DEC)).cast(_DEC).alias("__j2")
    )
    gsz = cells.groupBy("__g").agg(F.sum("__c").cast(_DEC).alias("__ni"))
    gstats = gsz.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("__ni").cast(_DEC).alias("__n"),
        F.sum((F.col("__ni") * F.col("__ni")).cast(_DEC))
        .cast(_DEC)
        .alias("__sn2"),
        F.sum(
            (
                F.col("__ni")
                * (F.col("__ni") - F.lit(1))
                * (F.lit(2).cast(_DEC) * F.col("__ni") + F.lit(5))
            ).cast(_DEC)
        )
        .cast(_DEC)
        .alias("__sn_a"),
        F.sum(
            (
                F.col("__ni")
                * (F.col("__ni") - F.lit(1))
                * (F.col("__ni") - F.lit(2))
            ).cast(_DEC)
        )
        .cast(_DEC)
        .alias("__sn_b"),
        F.sum(
            (F.col("__ni") * (F.col("__ni") - F.lit(1))).cast(_DEC)
        )
        .cast(_DEC)
        .alias("__sn_c"),
    )
    tsz = cells.groupBy("__v").agg(F.sum("__c").cast(_DEC).alias("__tv"))
    tstats = tsz.agg(
        F.sum(
            (
                F.col("__tv")
                * (F.col("__tv") - F.lit(1))
                * (F.lit(2).cast(_DEC) * F.col("__tv") + F.lit(5))
            ).cast(_DEC)
        )
        .cast(_DEC)
        .alias("__st_a"),
        F.sum(
            (
                F.col("__tv")
                * (F.col("__tv") - F.lit(1))
                * (F.col("__tv") - F.lit(2))
            ).cast(_DEC)
        )
        .cast(_DEC)
        .alias("__st_b"),
        F.sum(
            (F.col("__tv") * (F.col("__tv") - F.lit(1))).cast(_DEC)
        )
        .cast(_DEC)
        .alias("__st_c"),
    )
    joined = j2.crossJoin(F.broadcast(gstats)).crossJoin(
        F.broadcast(tstats)
    )
    n = F.col("__n")
    nd = n.cast("double")
    a_term = (
        n * (n - F.lit(1)) * (F.lit(2).cast(_DEC) * n + F.lit(5))
        - F.col("__sn_a")
        - F.col("__st_a")
    ).cast("double")
    b_term = (F.col("__sn_b") * F.col("__st_b")).cast("double")
    c_term = (F.col("__sn_c") * F.col("__st_c")).cast("double")
    var = (
        a_term / F.lit(72.0)
        + b_term
        / (F.lit(36.0) * nd * (nd - F.lit(1.0)) * (nd - F.lit(2.0)))
        + c_term / (F.lit(8.0) * nd * (nd - F.lit(1.0)))
    )
    e_j2 = (n * n - F.col("__sn2")).cast("double") / F.lit(2.0)
    jd = F.col("__j2").cast("double") / F.lit(2.0)
    z = (F.col("__j2").cast("double") - e_j2) / (
        F.lit(2.0) * F.sqrt(var)
    )
    return joined.select(
        n.cast("long").alias("n"),
        "k",
        jd.alias("j"),
        F.when((F.col("k") >= 2) & (var > 0), e6(z)).alias("z_e6"),
    )


def runs_test(
    df: DataFrame,
    t_col: str,
    v_col: str,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Wald–Wolfowitz one-sample runs test for serial randomness per
    group: dichotomize the time-ordered series around its group MEDIAN
    (values equal to the median drop — the standard convention), count
    runs R of consecutive same-side values, and compare with the
    random expectation

        E[R] = 2·n1·n2/n + 1
        Var  = 2·n1·n2·(2·n1·n2 − n) / (n²·(n−1))
        z    = (R − E[R]) / sqrt(Var)

    A trending or mean-shifting series produces too FEW runs (z < 0);
    an oscillating/overdispersed one too many (z > 0) — the quick
    "is this residual stream random?" gate behind CUSUM/EWMA alarms.

    ``v_col`` must be integer-valued; the median uses `percentile`
    (quantile_cont bit-parity convention) and the above/below compare
    doubles both sides so a half-integer median stays exact. R/n1/n2
    are exact integers from one per-group lag window over the
    time-ordered kept rows; z is a fixed IEEE tree emitted as z_e6
    BIGINT (NULL when n1 = 0, n2 = 0, or n < 2).

    Scale: one group-keyed median aggregation (broadcast back), one
    per-group ordered window — group size is the parallelism bound,
    same contract as every per-group series operator here.

    Output per group: n_above, n_below, runs, z_e6.
    """
    groups = list(group_cols)
    t = F.col(t_col).cast("long")
    v = F.col(v_col).cast("long")
    d = df.select(
        *groups, t.alias("__t"), v.alias("__v")
    ).where(t.isNotNull() & v.isNotNull())
    d = d.localCheckpoint(eager=False)  # median + window (r9 rule)
    meds = d.groupBy(*groups).agg(
        F.percentile(F.col("__v"), F.lit(0.5)).alias("__med")
    )
    if groups:
        mm = meds.select(
            *[F.col(g).alias(f"__mg_{g}") for g in groups], "__med"
        )
        cond = [F.col(g).eqNullSafe(F.col(f"__mg_{g}")) for g in groups]
        j = d.join(F.broadcast(mm), cond).drop(
            *[f"__mg_{g}" for g in groups]
        )
    else:
        j = d.crossJoin(F.broadcast(meds))
    # 2v vs 2·median keeps the half-integer median exact in integers
    two_med = F.round(F.col("__med") * F.lit(2.0)).cast("long")
    side = F.when(F.lit(2) * F.col("__v") > two_med, F.lit(1)).when(
        F.lit(2) * F.col("__v") < two_med, F.lit(0)
    )
    kept = j.select(*groups, "__t", side.alias("__s")).where(
        F.col("__s").isNotNull()
    )
    w = Window.partitionBy(*groups).orderBy("__t")
    runs_flag = F.when(
        F.lag("__s").over(w).isNull()
        | (F.col("__s") != F.lag("__s").over(w)),
        F.lit(1),
    ).otherwise(F.lit(0))
    ann = kept.select(*groups, "__s", runs_flag.alias("__new_run"))
    agg = ann.groupBy(*groups).agg(
        F.sum("__s").cast("long").alias("n_above"),
        F.sum(F.lit(1) - F.col("__s")).cast("long").alias("n_below"),
        F.sum("__new_run").cast("long").alias("runs"),
    )
    n1 = F.col("n_above").cast("double")
    n2 = F.col("n_below").cast("double")
    n = n1 + n2
    e_r = F.lit(2.0) * n1 * n2 / n + F.lit(1.0)
    var = (
        F.lit(2.0)
        * n1
        * n2
        * (F.lit(2.0) * n1 * n2 - n)
        / (n * n * (n - F.lit(1.0)))
    )
    z = (F.col("runs").cast("double") - e_r) / F.sqrt(var)
    return agg.select(
        *groups,
        "n_above",
        "n_below",
        "runs",
        F.when(
            (F.col("n_above") > 0) & (F.col("n_below") > 0) & (var > 0),
            e6(z),
        ).alias("z_e6"),
    )


def _complete_block_ranks(
    df: DataFrame,
    block_col: str,
    treatment_col: str,
    value_col: str,
    op_name: str,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Shared prologue of the complete-block rank family (Friedman,
    Page, Kendall's W): NULL-drop, in-plan duplicate-cell guard,
    complete-block filter, tie-safe DOUBLED within-block average
    ranks. Returns (kept, ranked, complete):

      kept     — (__b, __k, __tr, __v) rows of complete blocks
      ranked   — (__b, __tr, __k, __r2) with 2r = 2·rank + ties − 1
      complete — (__b, __k, __ok) one row per block; __ok embeds the
                 duplicate raise so ANY consumer that filters or
                 aggregates over it fires the guard for every block
                 (including dropped ones — the r10 advice fix)
    """
    b = F.col(block_col)
    tr = F.col(treatment_col)
    v = F.col(value_col).cast("long")
    d = df.select(
        b.alias("__b"), tr.alias("__tr"), v.alias("__v")
    ).where(b.isNotNull() & tr.isNotNull() & v.isNotNull())
    d = d.localCheckpoint(eager=False)  # k-count + blocks + ranks
    k_row = d.select(
        F.countDistinct("__tr").cast("long").alias("__k")
    )
    # Block sizes carry the max per-(block, treatment) cell count so the
    # in-plan duplicate guard fires for EVERY block — including blocks
    # the complete-block filter drops (r10 advice: a guard attached to
    # __v is only evaluated for surviving blocks, so a duplicate inside
    # an incomplete block was silently swallowed as a "dropped block").
    # The where(__ok) below must evaluate __ok for every block row, so
    # a duplicate anywhere raises.
    sizes = (
        d.groupBy("__b", "__tr")
        .agg(F.count(F.lit(1)).cast("long").alias("__cn"))
        .groupBy("__b")
        .agg(
            F.sum("__cn").cast("long").alias("__bk"),
            F.max("__cn").alias("__maxcell"),
        )
    )
    complete = sizes.crossJoin(F.broadcast(k_row)).select(
        "__b",
        "__k",
        F.when(
            F.col("__maxcell") > 1,
            F.raise_error(
                F.lit(
                    f"{op_name}: duplicate (block, treatment) rows - "
                    "the design requires one observation per cell; "
                    "aggregate first"
                )
            ).cast("boolean"),
        ).otherwise(F.col("__bk") == F.col("__k")).alias("__ok"),
    )
    kept = d.join(
        complete.where(F.col("__ok")).select("__b", "__k"), "__b"
    )
    # tie-safe doubled average rank from rank(): for value v with c
    # ties starting at position p (rank() = p), avg rank = p + (c−1)/2
    # → 2r = 2p + c − 1. c comes from a count over the value partition.
    rw = Window.partitionBy("__b").orderBy("__v")
    cw = Window.partitionBy("__b", "__v")
    r2 = (
        F.lit(2) * F.rank().over(rw)
        + F.count(F.lit(1)).over(cw)
        - F.lit(1)
    ).cast("long")
    ranked = kept.select("__b", "__tr", "__k", r2.alias("__r2"))
    return kept, ranked, complete


def friedman_test(
    df: DataFrame,
    block_col: str,
    treatment_col: str,
    value_col: str,
) -> DataFrame:
    """Friedman test — the paired k-treatment rank test (repeated
    measures across blocks): "do k pipeline variants rank the same
    across days/segments?", the k-group extension of the Wilcoxon
    signed-rank pairing. Values are ranked WITHIN each block (average
    ranks on ties), rank sums per treatment are compared via the
    tie-corrected statistic (Conover 1999 form):

        T = (k−1) · [Σ_j R_j² − n²·k(k+1)²/4] / (A − C)
        A = Σ_{ij} r_ij²,  C = n·k(k+1)²/4     (χ²_{k−1} under H0)

    Input must have ONE row per (block, treatment); blocks missing any
    treatment are DROPPED (the complete-block design requirement —
    dropped count is emitted so silent attrition is visible).
    Duplicate (block, treatment) rows raise in-plan (the
    token_budget_head guard precedent) — the guard lives in the block
    SIZES aggregation, before/independent of the complete-block
    filter, so a duplicate inside an incomplete block raises too
    instead of being swallowed as a "dropped block" (r10 advice).

    Exactness: ranks double (2r = 2·below + c + 1 within the k-sized
    block) so every term is an exact integer; the doubled factors
    cancel in T's ratio, leaving ONE IEEE division of exact integers —
    T emits RAW (the exact-ratio representation rule). All values tied
    in every block → denominator 0 → NULL t.

    Scale: blocks are the parallelism unit; within-block ranking is a
    k-sized window. One (block)-keyed shuffle end to end.

    Output (1 row): n_blocks, n_dropped_blocks, k, t.
    """
    kept, ranked, complete = _complete_block_ranks(
        df, block_col, treatment_col, value_col, "friedman_test"
    )
    per_tr = ranked.groupBy("__tr").agg(
        F.sum("__r2").cast(_DEC).alias("__s2"),
        F.sum(
            (F.col("__r2") * F.col("__r2")).cast(_DEC)
        ).cast(_DEC).alias("__q2"),
        F.count(F.lit(1)).cast("long").alias("__nb"),
    )
    # Degenerate-input oracle parity (r11 advice): when EVERY block is
    # incomplete, per_tr is empty and the old per_tr-crossJoin-agg shape
    # emitted n_blocks=NULL/k=NULL where the DuckDB oracle's scalar
    # subqueries emit n_blocks=0 and the INPUT-level k. The 1-row frames
    # are built independently and crossJoined so they survive an empty
    # per_tr: n_blocks from a global agg over ranked (countDistinct over
    # empty = 0), k from the `complete` frame (one row per block,
    # pre-filter — max(__k) is the input-level distinct-treatment count,
    # coalesced to 0 for a fully empty input, exactly the oracle's kk).
    n_blocks_row = ranked.groupBy().agg(
        F.countDistinct("__b").cast("long").alias("n_blocks"),
    )
    sums = per_tr.agg(
        F.sum((F.col("__s2") * F.col("__s2")).cast(_DEC))
        .cast(_DEC)
        .alias("__sum_s2sq"),
        F.sum("__q2").cast(_DEC).alias("__a2"),
    )
    stat = n_blocks_row.crossJoin(F.broadcast(sums))
    n = F.col("n_blocks").cast(_DEC)
    kk = F.col("k").cast(_DEC)
    # doubled units: Σ(2R_j)² = 4ΣR_j²; n²k(k+1)² = 4·(n²k(k+1)²/4);
    # Σ(2r)² = 4A; nk(k+1)² = 4C — the 4s cancel in the ratio.
    num = (
        F.col("__sum_s2sq")
        - (n * n * kk * (kk + F.lit(1)) * (kk + F.lit(1))).cast(_DEC)
    ).cast("double")
    den = (
        F.col("__a2")
        - (n * kk * (kk + F.lit(1)) * (kk + F.lit(1))).cast(_DEC)
    ).cast("double")
    t_stat = F.when(
        (F.col("n_blocks") >= 1) & (F.col("k") >= 2) & (den > 0),
        (F.col("k") - F.lit(1)).cast("double") * num / den,
    )
    dropped = complete.agg(
        F.sum(F.when(~F.col("__ok"), 1).otherwise(0))
        .cast("long")
        .alias("n_dropped_blocks"),
        F.coalesce(F.max("__k"), F.lit(0)).cast("long").alias("k"),
    )
    return stat.crossJoin(F.broadcast(dropped)).select(
        "n_blocks",
        "n_dropped_blocks",
        "k",
        t_stat.alias("t"),
    )


def cohens_d(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Cohen's d standardized mean difference between two named groups
    + the Hedges' g small-sample correction — the parametric effect
    size to report next to `welch_t_test` (as `cliffs_delta` is to
    `mann_whitney_u`):

        d = (m_a − m_b) / s_p,
        s_p = sqrt(((n_a−1)s_a² + (n_b−1)s_b²) / (n_a + n_b − 2))
        g = d · (1 − 3/(4·(n_a+n_b) − 9))      (Hedges' J correction)

    |d| ≈ 0.2/0.5/0.8 are the conventional small/medium/large marks.
    ``value_col`` must be integer-valued (cents convention).

    Exactness: one filtered aggregation of exact decimal(38,0)
    n/Σx/Σx² per group (the welch_t_test frame); means emit RAW (exact
    ratios); d/g emit e6 BIGINT (sqrt involved). Either group with
    n < 2, or s_p = 0 → NULL d/g.

    Output (1 row): n_a, n_b, mean_a, mean_b, d_e6, g_e6.
    """
    if group_a == group_b:
        raise ValueError(
            f"cohens_d: group_a and group_b must differ "
            f"(both = {group_a!r})"
        )
    v = F.col(value_col).cast("long")
    g = F.col(group_col)
    is_a = g.eqNullSafe(F.lit(group_a))
    is_b = g.eqNullSafe(F.lit(group_b))
    d = df.select(
        v.cast(_DEC).alias("__v"),
        is_a.alias("__ia"),
        is_b.alias("__ib"),
    ).where(v.isNotNull() & (F.col("__ia") | F.col("__ib")))

    def side(flag: str, suffix: str) -> list[Column]:
        m = F.col(flag)
        return [
            F.coalesce(F.sum(m.cast("long")), F.lit(0))
            .cast(_DEC)
            .alias(f"__n{suffix}"),
            F.coalesce(F.sum(F.when(m, F.col("__v"))), F.lit(0))
            .cast(_DEC)
            .alias(f"__s{suffix}"),
            F.coalesce(
                F.sum(F.when(m, (F.col("__v") * F.col("__v")).cast(_DEC))),
                F.lit(0),
            )
            .cast(_DEC)
            .alias(f"__q{suffix}"),
        ]

    agg = d.agg(*side("__ia", "a"), *side("__ib", "b"))
    na = F.col("__na").cast("double")
    nb = F.col("__nb").cast("double")
    sa = F.col("__sa").cast("double")
    sb = F.col("__sb").cast("double")
    qa = F.col("__qa").cast("double")
    qb = F.col("__qb").cast("double")
    mean_a = F.when(F.col("__na") > 0, sa / na)
    mean_b = F.when(F.col("__nb") > 0, sb / nb)
    # (n−1)·s² = Σx² − (Σx)²/n via the exact-numerator identity,
    # assembled as (n·Σx² − (Σx)²)/n to keep one fixed tree
    ss_a = (na * qa - sa * sa) / na
    ss_b = (nb * qb - sb * sb) / nb
    n_tot = na + nb
    sp = F.sqrt((ss_a + ss_b) / (n_tot - F.lit(2.0)))
    d_stat = (mean_a - mean_b) / F.nullif(sp, F.lit(0.0))
    j_corr = F.lit(1.0) - F.lit(3.0) / (F.lit(4.0) * n_tot - F.lit(9.0))
    ok = (F.col("__na") >= 2) & (F.col("__nb") >= 2)
    return agg.select(
        F.col("__na").cast("long").alias("n_a"),
        F.col("__nb").cast("long").alias("n_b"),
        mean_a.alias("mean_a"),
        mean_b.alias("mean_b"),
        F.when(ok, e6(d_stat)).alias("d_e6"),
        F.when(ok, e6(d_stat * j_corr)).alias("g_e6"),
    )


def _pooled_two_median(d: DataFrame) -> DataFrame:
    """2× the pooled quantile_cont(0.5) median of ``__v`` (long) as an
    exact BIGINT 1-row frame (column ``__two_med``), computed
    distributedly: distinct-value counts → ONE range-shuffle
    below-counts pass (`distributed_below_counts`) → the two middle
    order statistics by threshold pick, summed. For integer values
    this equals round(percentile(v, 0.5) * 2) exactly (the median is
    either an order statistic or the exact half-sum of the two middle
    ones), so callers keep quantile_cont bit-parity — but WITHOUT the
    `percentile` ImperativeAggregate, which collects every value into
    one aggregation buffer (the r15 early probe read 4.9× at 10× rows
    on exactly that buffer; this form's heaviest step is the
    distinct-value range shuffle)."""
    per_v = d.groupBy("__v").agg(
        F.count(F.lit(1)).cast("long").alias("__c")
    )
    j = distributed_below_counts(per_v, "__v", ["__c"], inclusive=False)
    # 1-indexed lower/upper middle ranks: k1 = (n+1)//2, k2 = (n+2)//2
    k1 = F.shiftright(F.col("__c_total") + F.lit(1), 1)
    k2 = F.shiftright(F.col("__c_total") + F.lit(2), 1)
    covers = F.col("__c_cum") + F.col("__c")  # top rank this value covers
    return j.agg(
        F.min(F.when(covers >= k1, F.col("__v"))).alias("__v1"),
        F.min(F.when(covers >= k2, F.col("__v"))).alias("__v2"),
    ).select(
        (F.col("__v1") + F.col("__v2")).cast("long").alias("__two_med")
    )


def moods_median_test(
    df: DataFrame, value_col: str, group_col: str
) -> DataFrame:
    """Mood's median test across ALL observed groups: classify every
    value against the POOLED median and chi-square the resulting
    2×k table — the most assumption-free k-sample location test
    (only medians matter; heavy tails, outliers, and wild variance
    differences cannot move it). The coarse, robust cousin of
    Kruskal–Wallis: less power, more robustness.

    Ties at the median count BELOW (the scipy/SAS ``ties='below'``
    convention). The pooled doubled-median comes from
    `_pooled_two_median` (distributed order statistics — exact
    quantile_cont bit-parity, no single-buffer percentile aggregate)
    and the compare doubles the value side so a half-integer median
    stays exact. Cell counts and margins are exact integers;
    χ² = Σ(o−e)²/e is a fixed IEEE tree over 2k cells emitted as
    chi2_e6 BIGINT (NULL when k < 2 or either margin is empty —
    all values on one side of the median).

    Scale: one distinct-value range-shuffle pass for the pooled
    median (broadcast back), one (group)-keyed count aggregation to
    2k cells. Nothing data-sized past the first shuffle.

    Output (1 row): n, k, dof, n_above, n_below, chi2_e6.
    """
    v = F.col(value_col).cast("long")
    g = F.col(group_col)
    d = df.select(g.alias("__g"), v.alias("__v")).where(
        v.isNotNull() & g.isNotNull()
    ).localCheckpoint(eager=False)  # median + cells (r9 rule)
    med = _pooled_two_median(d)
    two_med = F.col("__two_med")
    j = d.crossJoin(F.broadcast(med))
    cells = j.groupBy("__g").agg(
        F.sum(
            F.when(F.lit(2) * F.col("__v") > two_med, 1).otherwise(0)
        )
        .cast(_DEC)
        .alias("__a"),
        F.sum(
            F.when(F.lit(2) * F.col("__v") <= two_med, 1).otherwise(0)
        )
        .cast(_DEC)
        .alias("__b"),
    ).localCheckpoint(eager=False)  # margins + per-group terms (r9 rule)
    agg = cells.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum((F.col("__a") + F.col("__b")).cast(_DEC))
        .cast(_DEC)
        .alias("__n"),
        F.sum("__a").cast(_DEC).alias("__ta"),
        F.sum("__b").cast(_DEC).alias("__tb"),
    )
    # per-group chi² terms need the margins; broadcast them back
    withm = cells.crossJoin(
        F.broadcast(
            agg.select(
                "k",
                "__n",
                "__ta",
                "__tb",
            )
        )
    )
    ng = (F.col("__a") + F.col("__b")).cast("double")
    nd = F.col("__n").cast("double")
    ea = F.col("__ta").cast("double") * ng / nd
    eb = F.col("__tb").cast("double") * ng / nd
    da = F.col("__a").cast("double") - ea
    db = F.col("__b").cast("double") - eb
    # nullif guards the ANSI divide when a margin is EMPTY (all values
    # on one side of the median) — the output is NULL then anyway
    term = da * da / F.nullif(ea, F.lit(0.0)) + db * db / F.nullif(
        eb, F.lit(0.0)
    )
    out = withm.groupBy().agg(
        F.max("k").alias("k"),
        F.max("__n").cast("long").alias("n"),
        F.max("__ta").cast("long").alias("n_above"),
        F.max("__tb").cast("long").alias("n_below"),
        F.sum(term).alias("__chi2"),
    )
    ok = (
        (F.col("k") >= 2)
        & (F.col("n_above") > 0)
        & (F.col("n_below") > 0)
    )
    return out.select(
        "n",
        "k",
        (F.col("k") - F.lit(1)).cast("long").alias("dof"),
        "n_above",
        "n_below",
        F.when(ok, e6(F.col("__chi2"))).alias("chi2_e6"),
    )


def cochran_armitage_trend(
    df: DataFrame,
    group_col: str,
    success_col: str,
) -> DataFrame:
    """Cochran–Armitage trend test for a BINARY outcome across ordered
    groups — "does the success rate increase (or decrease) along the
    group ordering?" (priority tiers, dose levels, severity grades).
    The proportions companion to `jonckheere_terpstra`'s ordered-values
    test: chi² independence asks "any association"; this asks
    specifically for a monotone trend in p_i and is far more powerful
    against that alternative.

    With integer scores s_i = 0..k−1 in the NATURAL ascending order of
    the group key (document your key so label order IS the hypothesis
    order — the jonckheere convention), group sizes n_i, successes
    r_i, N = Σn_i, R = Σr_i:

        T   = Σ s_i·r_i − (R/N)·Σ s_i·n_i
        Var = (R/N)(1 − R/N)·[Σ s_i²·n_i − (Σ s_i·n_i)²/N]
        z   = T / sqrt(Var)

    Exactness: the numerator and the variance CORE are multiplied out
    to exact decimal(38,0) integers — A = N·Σs_i r_i − R·Σs_i n_i
    (= N·T) and C = N·Σs_i²n_i − (Σs_i n_i)² (= N²·[Σs²n − (Σsn)²/N]);
    then z = A / sqrt(R·(N−R)·C/N) combines the exact FACTORS in one
    fixed IEEE tree (multiplying R(N−R)·C out as decimal would
    overflow 38 digits near N ≈ 2×10⁹ — N⁴k²; the factored form holds
    to N ≈ 10¹⁸/k). Emitted as z_e6 BIGINT (NULL when k < 2, R = 0,
    R = N, or C ≤ 0 — degenerate inputs).

    Scale: one (group)-keyed aggregation to the k-row frame; the score
    index is a window over those k rows (k is FEW by contract — the
    jonckheere convention). NULL groups/outcomes drop; ``success_col``
    must be 0/1 integer-valued.

    Output (1 row): n, k, n_success, z_e6.
    """
    g = F.col(group_col)
    s = F.col(success_col).cast("long")
    d = df.select(g.alias("__g"), s.alias("__s")).where(
        g.isNotNull() & s.isNotNull()
    )
    guard = F.when(
        (F.col("__s") < 0) | (F.col("__s") > 1),
        F.raise_error(
            F.lit(
                "cochran_armitage_trend: success_col must be 0/1 "
                "integer-valued"
            )
        ).cast("long"),
    ).otherwise(F.col("__s"))
    per_g = d.select("__g", guard.alias("__s")).groupBy("__g").agg(
        F.count(F.lit(1)).cast("long").alias("__ni"),
        F.sum("__s").cast("long").alias("__ri"),
    )
    # 0-based score in ascending group order: a k-row window (k FEW by
    # contract — same single-partition budget as the jonckheere pivot)
    sw = Window.orderBy(F.col("__g").asc())
    scored = per_g.select(
        (F.row_number().over(sw) - F.lit(1)).cast("long").alias("__si"),
        "__ni",
        "__ri",
    )
    agg = scored.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("__ni").cast("long").alias("n"),
        F.sum("__ri").cast("long").alias("n_success"),
        F.sum((F.col("__si") * F.col("__ri")).cast(_DEC))
        .cast(_DEC)
        .alias("__sr"),
        F.sum((F.col("__si") * F.col("__ni")).cast(_DEC))
        .cast(_DEC)
        .alias("__sn"),
        F.sum(
            (F.col("__si") * F.col("__si") * F.col("__ni")).cast(_DEC)
        )
        .cast(_DEC)
        .alias("__ssn"),
    )
    nn = F.col("n").cast(_DEC)
    rr = F.col("n_success").cast(_DEC)
    a_num = (nn * F.col("__sr") - rr * F.col("__sn")).cast(_DEC)
    c_core = (
        nn * F.col("__ssn") - F.col("__sn") * F.col("__sn")
    ).cast(_DEC)
    n_d = F.col("n").cast("double")
    r_d = F.col("n_success").cast("double")
    z = a_num.cast("double") / F.sqrt(
        r_d * (n_d - r_d) * c_core.cast("double") / n_d
    )
    ok = (
        (F.col("k") >= 2)
        & (F.col("n_success") > 0)
        & (F.col("n_success") < F.col("n"))
        & (c_core > 0)
    )
    return agg.select(
        "n",
        "k",
        "n_success",
        F.when(ok, e6(z)).alias("z_e6"),
    )


def page_trend_test(
    df: DataFrame,
    block_col: str,
    treatment_col: str,
    value_col: str,
) -> DataFrame:
    """Page's L test for an ORDERED alternative across k paired
    treatments — the blocked companion to `jonckheere_terpstra`
    exactly as `friedman_test` is to `kruskal_wallis`: Friedman asks
    "do the treatments differ at all?"; Page asks "do they increase
    along the hypothesized order?" and is strictly more powerful
    against that monotone alternative (pipeline-version curricula,
    dose tiers, priority ladders measured across days/segments).

        L = Σ_j s_j·R_j     (s_j = 1..k in ascending treatment order,
                             R_j the within-block rank sums)
        E[L]   = n·k(k+1)²/4
        Var[L] = n·k²(k+1)(k²−1)/144
        z = (L − E[L]) / sqrt(Var[L])

    Same complete-block contract as `friedman_test` (blocks missing a
    treatment drop and are counted; duplicate cells raise in-plan,
    incomplete blocks included). Exactness: doubled ranks make
    2L = Σ s_j·(2R_j) exact decimal(38,0), and z evaluates in the
    QUADRUPLED frame where the expectation needs no division —
    z = (2·(2L) − n·k(k+1)²) / sqrt(n·k²(k+1)(k²−1)/9), exact integer
    numerator, variance from exact integer factors in one IEEE tree.
    The variance is the PUBLISHED untied form (Page 1963) — ties make
    the test conservative, documented rather than silently corrected
    (no tie-corrected Var[L] is in standard use). z emits as z_e6;
    the doubled statistic l2 = 2L emits as BIGINT (L itself can end
    in .5 under tied averages).

    Scale: the friedman plan — one (block)-keyed shuffle, k-sized
    windows, k-row score window.

    Output (1 row): n_blocks, n_dropped_blocks, k, l2, z_e6.
    """
    kept, ranked, complete = _complete_block_ranks(
        df, block_col, treatment_col, value_col, "page_trend_test"
    )
    per_tr = ranked.groupBy("__tr").agg(
        F.sum("__r2").cast(_DEC).alias("__s2"),
    )
    # score 1..k in ascending treatment order: k-row window (k FEW)
    sw = Window.orderBy(F.col("__tr").asc())
    scored = per_tr.select(
        F.row_number().over(sw).cast("long").alias("__sj"),
        "__s2",
    )
    # Degenerate-input oracle parity (r11 advice, the friedman_test
    # restructure): an all-incomplete input empties `scored`, and the
    # old scored-crossJoin-agg emitted n_blocks=NULL/k=NULL where the
    # oracle's scalar subqueries emit 0 / the input-level k. n_blocks
    # and the L sum are built as independent 1-row frames; k rides the
    # `complete`-frame aggregation below.
    n_blocks_row = ranked.groupBy().agg(
        F.countDistinct("__b").cast("long").alias("n_blocks"),
    )
    l2_row = scored.agg(
        F.sum((F.col("__sj").cast(_DEC) * F.col("__s2")).cast(_DEC))
        .cast(_DEC)
        .alias("__l2"),
    )
    stat = n_blocks_row.crossJoin(F.broadcast(l2_row))
    # doubled ONCE more so E stays an exact integer (n·k(k+1)² needs
    # no /2): z = (2·L2 − n·k(k+1)²) / sqrt(n·k²(k+1)(k²−1)/9)
    n = F.col("n_blocks").cast(_DEC)
    kk = F.col("k").cast(_DEC)
    e4 = (n * kk * (kk + 1) * (kk + 1)).cast(_DEC)
    n_d = F.col("n_blocks").cast("double")
    k_d = F.col("k").cast("double")
    var4 = (
        n_d * k_d * k_d * (k_d + 1.0) * (k_d * k_d - 1.0) / F.lit(9.0)
    )
    z = (
        F.lit(2).cast(_DEC) * F.col("__l2") - e4
    ).cast("double") / F.sqrt(var4)
    dropped = complete.agg(
        F.sum(F.when(~F.col("__ok"), 1).otherwise(0))
        .cast("long")
        .alias("n_dropped_blocks"),
        F.coalesce(F.max("__k"), F.lit(0)).cast("long").alias("k"),
    )
    return stat.crossJoin(F.broadcast(dropped)).select(
        "n_blocks",
        "n_dropped_blocks",
        "k",
        F.col("__l2").cast("long").alias("l2"),
        F.when(
            (F.col("n_blocks") >= 1) & (F.col("k") >= 2), e6(z)
        ).alias("z_e6"),
    )


def kendalls_w(
    df: DataFrame,
    block_col: str,
    treatment_col: str,
    value_col: str,
) -> DataFrame:
    """Kendall's W coefficient of concordance — the EFFECT-SIZE
    companion to `friedman_test`'s significance (as `cliffs_delta` is
    to `mann_whitney_u`): how strongly do the blocks (days, raters,
    segments) agree on the treatment ranking? W ∈ [0, 1]; 0 = no
    agreement, 1 = every block ranks identically. Friedman's χ² =
    n(k−1)·W, so this is the number to REPORT when n makes any
    agreement "significant".

    Tie-corrected form (Kendall & Babington Smith):

        W = 12·S / (n²(k³−k) − n·ΣT),   S = Σ_j (R_j − n(k+1)/2)²
        ΣT = Σ_blocks Σ_tie-groups (t³ − t)

    Same complete-block contract as `friedman_test` (drops counted,
    duplicate cells raise in-plan). Exactness: with doubled ranks
    S2 = Σ(2R_j − n(k+1))² = 4S and 12S = 3·S2, so W = 3·S2 /
    (n²(k³−k) − n·ΣT) is ONE exact IEEE division of decimal(38,0)
    integers — W emits RAW (the exact-ratio representation rule).
    All values tied in every block → denominator 0 → NULL w.

    Scale: the friedman plan plus one (block, value)-keyed tie count
    over the kept frame — same single (block)-keyed shuffle.

    Output (1 row): n_blocks, n_dropped_blocks, k, w.
    """
    kept, ranked, complete = _complete_block_ranks(
        df, block_col, treatment_col, value_col, "kendalls_w"
    )
    per_tr = ranked.groupBy("__tr").agg(
        F.sum("__r2").cast(_DEC).alias("__s2"),
    )
    # two consumers below (dev's per-row mean2, stat's n_blocks) — the
    # 1-row agg is cheap but the pin keeps the ranked lineage from
    # replaying (the r11 scan-multiplicity rule)
    n_blocks_row = ranked.groupBy().agg(
        F.countDistinct("__b").cast("long").alias("__n"),
        F.max("__k").alias("__kk"),
    ).localCheckpoint(eager=False)
    # tie term from the KEPT frame: Σ over (block, value) groups of
    # (t³ − t); t ≤ k so t³ fits long, the sum accumulates as decimal —
    # coalesced to 0 on an empty kept frame (the oracle's COALESCE)
    ties = kept.groupBy("__b", "__v").agg(
        F.count(F.lit(1)).cast("long").alias("__t")
    ).agg(
        F.coalesce(
            F.sum(
                (
                    F.col("__t") * F.col("__t") * F.col("__t")
                    - F.col("__t")
                ).cast(_DEC)
            ).cast(_DEC),
            F.lit(0).cast(_DEC),
        ).alias("__tt")
    )
    dev = per_tr.crossJoin(F.broadcast(n_blocks_row))
    mean2 = (
        F.col("__n").cast(_DEC)
        * (F.col("__kk").cast(_DEC) + F.lit(1).cast(_DEC))
    ).cast(_DEC)  # n(k+1) = mean of the DOUBLED rank sums
    # Degenerate-input oracle parity (r11 advice, the friedman_test
    # restructure): an empty per_tr empties dev, so n_blocks/k must NOT
    # be aggregated out of it — n_blocks comes straight from the 1-row
    # global agg (0 on empty), k from the `complete` aggregation below.
    s2sq_row = dev.agg(
        F.sum(
            (
                (F.col("__s2") - mean2) * (F.col("__s2") - mean2)
            ).cast(_DEC)
        )
        .cast(_DEC)
        .alias("__s2sq"),
    )
    stat = n_blocks_row.select(
        F.col("__n").alias("n_blocks")
    ).crossJoin(F.broadcast(s2sq_row))
    n = F.col("n_blocks").cast(_DEC)
    kk = F.col("k").cast(_DEC)
    denom = (
        n * n * (kk * kk * kk - kk) - n * F.col("__tt")
    ).cast(_DEC)
    w = F.when(
        denom > 0,
        (F.lit(3).cast(_DEC) * F.col("__s2sq")).cast("double")
        / denom.cast("double"),
    )
    dropped = complete.agg(
        F.sum(F.when(~F.col("__ok"), 1).otherwise(0))
        .cast("long")
        .alias("n_dropped_blocks"),
        F.coalesce(F.max("__k"), F.lit(0)).cast("long").alias("k"),
    )
    return (
        stat.crossJoin(F.broadcast(ties))
        .crossJoin(F.broadcast(dropped))
        .select("n_blocks", "n_dropped_blocks", "k", w.alias("w"))
    )
