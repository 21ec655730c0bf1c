"""Data-quality profiling and constraint validation (deequ-style).

The reference validates rows imperatively while looping CSV records
(01_import_pricecharting_csv.js:60-88: game whitelist, money-format
guard, row-validity skips) — per-row checks that become a full-table
quality REPORT in a declarative engine. These operators provide that
report Spark-first:

- `profile_columns`: one row of summary statistics per profiled column
  (row/null/distinct counts, numeric min/max/mean, string min/max).
- `check_constraints`: named boolean row-level constraints evaluated
  corpus-wide — violation counts, not per-row flags.
- `check_unique`: multi-column key-uniqueness check (needs a distinct
  aggregation, so it is its own pass).

Scale notes (100 TB): everything here is ONE scan. `profile_columns`
computes every column's aggregates in a single Aggregate node (the
deequ design: N columns → one pass, not N passes) and reshapes the
1-row wide result into the long report with a stack — the reshape is
driver-trivial because the aggregated frame is one row. Exact distinct
counts force Spark's Expand (one shuffle replica per distinct column);
`exact_distinct=False` swaps in HLL++ `approx_count_distinct`, which
keeps the plan a plain partial-aggregable single pass — the right
setting at 100 TB where a ±2% distinct estimate is what you want from
a profiler anyway. `check_constraints` folds every check into one
conditional-sum aggregate: adding a check adds a column, never a scan.
`mean` is a plain `avg` over doubles — accumulation-order-dependent,
so treat it as approximate across engines and repartitions (it is
tolerance-tested, never oracle-paired); min/max/counts are exact.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from legendary_data_pipeline_spark.functions.numeric import e6

_NUMERIC = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.DecimalType,
)


def profile_columns(
    df: DataFrame,
    cols: Sequence[str] | None = None,
    exact_distinct: bool = True,
) -> DataFrame:
    """Per-column summary statistics in a single scan.

    Output (one row per profiled column, ordered by caller's list):
      column, n_rows, n_null, n_distinct, min_num, max_num, mean,
      min_str, max_str — numeric stats NULL for non-numeric columns
      and vice versa. `n_distinct` excludes NULLs (SQL COUNT DISTINCT
      semantics). `mean` is a double (see module scale notes).
    """
    cols = list(cols) if cols is not None else df.columns
    dtypes = {f.name: f.dataType for f in df.schema.fields}
    aggs: list[Column] = [F.count(F.lit(1)).alias("__n_rows")]
    for c in cols:
        is_num = isinstance(dtypes[c], _NUMERIC)
        col = F.col(c)
        aggs.append(
            F.sum(F.when(col.isNull(), 1).otherwise(0))
            .cast("long").alias(f"__null__{c}")
        )
        if exact_distinct:
            aggs.append(
                F.count_distinct(col).cast("long").alias(f"__dist__{c}")
            )
        else:
            aggs.append(
                F.approx_count_distinct(col).cast("long").alias(f"__dist__{c}")
            )
        if is_num:
            aggs.append(F.min(col).cast("double").alias(f"__minn__{c}"))
            aggs.append(F.max(col).cast("double").alias(f"__maxn__{c}"))
            aggs.append(F.avg(col).cast("double").alias(f"__mean__{c}"))
        if isinstance(dtypes[c], T.StringType):
            aggs.append(F.min(col).alias(f"__mins__{c}"))
            aggs.append(F.max(col).alias(f"__maxs__{c}"))
    wide = df.agg(*aggs)

    def _maybe(prefix: str, c: str, cast: str | None = None) -> Column:
        name = f"__{prefix}__{c}"
        if name not in wide.columns:
            return F.lit(None).cast(cast or "double")
        return F.col(name)

    per_col = [
        F.struct(
            F.lit(c).alias("column"),
            F.col("__n_rows").alias("n_rows"),
            F.col(f"__null__{c}").alias("n_null"),
            F.col(f"__dist__{c}").alias("n_distinct"),
            _maybe("minn", c).alias("min_num"),
            _maybe("maxn", c).alias("max_num"),
            _maybe("mean", c).alias("mean"),
            _maybe("mins", c, "string").alias("min_str"),
            _maybe("maxs", c, "string").alias("max_str"),
        )
        for c in cols
    ]
    return wide.select(
        F.explode(F.array(*per_col)).alias("p")
    ).select("p.*")


def check_constraints(
    df: DataFrame, checks: Mapping[str, Column]
) -> DataFrame:
    """Evaluate named row-level constraints in one scan.

    `checks` maps check name → boolean Column that should hold for
    every row (NULL counts as a violation — an unknown is not a pass).
    Output: (check_name, n_rows, n_violations, passed), one row per
    check, all from a single Aggregate.
    """
    names = list(checks)
    aggs = [F.count(F.lit(1)).alias("__n_rows")] + [
        F.sum(
            F.when(F.coalesce(checks[name], F.lit(False)), 0).otherwise(1)
        ).cast("long").alias(f"__viol__{i}")
        for i, name in enumerate(names)
    ]
    wide = df.agg(*aggs)
    per_check = [
        F.struct(
            F.lit(name).alias("check_name"),
            F.col("__n_rows").alias("n_rows"),
            F.col(f"__viol__{i}").alias("n_violations"),
            (F.col(f"__viol__{i}") == 0).alias("passed"),
        )
        for i, name in enumerate(names)
    ]
    return wide.select(
        F.explode(F.array(*per_check)).alias("c")
    ).select("c.*")


def check_unique(df: DataFrame, key_cols: Sequence[str]) -> DataFrame:
    """Key-uniqueness check: (check_name, n_rows, n_violations, passed)
    where a violation is any row beyond the first for its key (so a key
    appearing k times contributes k-1). Rows with a NULL in any key
    column are violations too — a NULL key cannot guarantee uniqueness.
    One groupBy + one global agg (both partial-aggregable).
    """
    keys = [F.col(c) for c in key_cols]
    null_key = F.greatest(*[k.isNull() for k in keys]) if len(keys) > 1 else keys[0].isNull()
    per_key = (
        df.select(*key_cols)
        .withColumn("__nullkey", null_key)
        .groupBy(*key_cols, "__nullkey")
        .agg(F.count(F.lit(1)).alias("__cnt"))
    )
    return per_key.agg(
        F.lit("unique(" + ", ".join(key_cols) + ")").alias("check_name"),
        F.sum("__cnt").cast("long").alias("n_rows"),
        F.sum(
            F.when(F.col("__nullkey"), F.col("__cnt")).otherwise(
                F.col("__cnt") - 1
            )
        ).cast("long").alias("n_violations"),
    ).withColumn("passed", F.col("n_violations") == 0)


def categorical_drift(
    base: DataFrame,
    current: DataFrame,
    col: str,
    require_nonempty: bool = True,
) -> DataFrame:
    """Distribution drift of a categorical column between two table
    snapshots — the chi-square homogeneity decomposition, per value.

    Output, one row per distinct value across both frames:
      (value, n_base, n_current, p_base, p_current, chisq_contrib)
    where p_* are within-frame shares and `chisq_contrib` is the
    value's (observed−expected)²/expected summed over both frames
    (expected from the pooled distribution). Σ chisq_contrib is the
    two-sample chi-square statistic with (k−1) dof; compare it to a
    critical value, or rank values by contribution to see WHERE the
    distribution moved. NULLs are a category (`<null>`).

    Chi-square instead of PSI/KL deliberately: it needs only
    +,−,×,÷ on exact integer counts — deterministic across engines
    (oracle-able) — where log-based divergences inherit libm rounding.
    Both inputs aggregate to value-cardinality count tables before the
    full outer join, so the join is metadata-sized at any corpus scale.

    An EMPTY side would divide by a zero total and silently NULL every
    statistic — a vanished upstream partition is precisely what this
    monitor exists to catch, so `require_nonempty` (default) raises
    instead; pass False only if the caller handles the all-NULL frame.
    """
    if require_nonempty:
        for name, side in (("base", base), ("current", current)):
            if side.limit(1).count() == 0:
                raise ValueError(
                    f"categorical_drift: {name} snapshot is empty — "
                    "its category totals would be 0 and every "
                    "statistic NULL. A missing snapshot usually means "
                    "a vanished upstream feed; fail here, don't "
                    "silently suppress the alert."
                )
    v = F.coalesce(F.col(col).cast("string"), F.lit("<null>"))

    def counts(df: DataFrame, alias: str) -> DataFrame:
        return df.select(v.alias("value")).groupBy("value").agg(
            F.count(F.lit(1)).alias(alias)
        )

    b = counts(base, "n_base")
    c = counts(current, "n_current")
    joined = (
        b.join(c, "value", "full_outer")
        .select(
            "value",
            F.coalesce("n_base", F.lit(0)).alias("n_base"),
            F.coalesce("n_current", F.lit(0)).alias("n_current"),
        )
    )
    # Totals attach via an unpartitioned window over the category-
    # cardinality frame — the aggregate-and-crossJoin form replayed
    # both snapshot scans once per branch (numeric_drift's binned
    # sides paid it doubly: 12 source scans before this fix).
    w_all = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    j = joined.select(
        "value",
        "n_base",
        "n_current",
        F.sum("n_base").over(w_all).alias("__tb"),
        F.sum("n_current").over(w_all).alias("__tc"),
    )
    nb = F.col("n_base").cast("double")
    nc = F.col("n_current").cast("double")
    tb = F.col("__tb").cast("double")
    tc = F.col("__tc").cast("double")

    def sdiv(a: Column, b: Column) -> Column:
        # NULL (not an ANSI DIVIDE_BY_ZERO error) on a zero-total side
        # — only reachable on the require_nonempty=False path
        return F.when(b != 0.0, a / b)

    pooled = sdiv(nb + nc, tb + tc)
    eb = tb * pooled
    ec = tc * pooled
    contrib = sdiv((nb - eb) * (nb - eb), eb) + sdiv(
        (nc - ec) * (nc - ec), ec
    )
    return j.select(
        "value",
        "n_base",
        "n_current",
        sdiv(nb, tb).alias("p_base"),
        sdiv(nc, tc).alias("p_current"),
        contrib.alias("chisq_contrib"),
    )


def calendar_gaps(
    df: DataFrame,
    day_col: Column,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Data-completeness check for daily feeds: which calendar days are
    MISSING between each group's first and last observed day.

    `day_col` must be an integer epoch-day expression (the engine's
    exact time convention). Output: (*group_cols, missing_day) — empty
    when every day in every group's active range is present.

    Per group this is distinct-days → min/max (one partial-aggregable
    pass), then `sequence(min, max)` exploded to the expected calendar
    and anti-joined against the observed days. The explode is bounded
    by the date RANGE (days, not rows) — a 30-year daily feed is ~11k
    rows per group — so the expected-calendar side is metadata-scale
    regardless of corpus size.
    """
    days = (
        df.select(*group_cols, day_col.cast("long").alias("__day"))
        .filter(F.col("__day").isNotNull())
        .distinct()
    )
    spans = days.groupBy(*group_cols).agg(
        F.min("__day").alias("__lo"), F.max("__day").alias("__hi")
    )
    expected = spans.select(
        *group_cols,
        F.explode(F.sequence(F.col("__lo"), F.col("__hi"))).alias("__day"),
    )
    return expected.join(
        days, [*group_cols, "__day"], "left_anti"
    ).select(*group_cols, F.col("__day").alias("missing_day"))


# First-digit proportions under Benford's law, log10(1 + 1/d). Shared
# literal constants on both the Spark and oracle sides — never computed
# with engine log functions, so cross-engine results stay bit-identical.
BENFORD_P = {
    1: 0.3010299956639812, 2: 0.17609125905568124, 3: 0.12493873660829993,
    4: 0.09691001300805642, 5: 0.07918124604762482, 6: 0.06694678963061322,
    7: 0.05799194697768673, 8: 0.05115252244738129, 9: 0.04575749056067514,
}


def benford_audit(df: DataFrame, value: Column) -> DataFrame:
    """First-digit frequency audit against Benford's law — the classic
    fabricated-data screen for naturally-occurring positive amounts
    (prices, populations, transaction totals).

    Output, one row per digit 1-9:
      (digit, n, p_observed, p_expected, chisq_contrib)
    with chisq_contrib = (n − N·p)²/(N·p); Σ over digits ~ χ²(8) under
    Benford. Zero/negative/NULL values are excluded (no first digit).
    One groupBy on a 9-value key — trivially partial-aggregable.
    """
    # first SIGNIFICANT digit: first [1-9] character of the decimal
    # string form (handles 0 < v < 1 correctly, where the first char
    # is '0'). Pure string math — no log10, no libm divergence.
    raw = F.regexp_extract(
        F.abs(F.col("__v")).cast("decimal(38,10)").cast("string"),
        "[1-9]",
        0,
    )
    # no-match yields '' — nullify before the int cast (ANSI would
    # otherwise raise CAST_INVALID_INPUT on e.g. 1e-11 → 0E-10)
    digit = F.nullif(raw, F.lit("")).cast("int")
    counts = (
        df.select(value.alias("__v"))
        .filter(F.col("__v").isNotNull() & (F.col("__v") > 0))
        .select(digit.alias("digit"))
        # positive values with no extractable digit (rounded to zero at
        # scale 10, or decimal(38,10) overflow → NULL) have no first
        # significant digit: excluded, as in the oracle's inner join
        .filter(F.col("digit").isNotNull())
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    expected = F.create_map(
        *[x for d, p in BENFORD_P.items() for x in (F.lit(d), F.lit(p))]
    )
    total = counts.agg(F.sum("n").alias("__total"))
    nn = F.col("n").cast("double")
    tt = F.col("__total").cast("double")
    pe = expected[F.col("digit")]
    e = tt * pe
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            "digit",
            "n",
            (nn / tt).alias("p_observed"),
            pe.alias("p_expected"),
            ((nn - e) * (nn - e) / e).alias("chisq_contrib"),
        )
    )


def table_checksum(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Order-independent content checksum of a table — the tool that
    validates a migration ("does the Spark copy hold exactly the rows
    the old system held?") without shipping either side's data.

    Each row is canonicalized as the unit-separator-joined string form
    of the selected columns (NULL → the literal 'NULL' token —
    distinguishable because the unit separator never appears in data), hashed with
    the engine's md5_long convention, and the hashes are SUMMED as
    decimal(38,0): addition commutes, so the checksum is independent of
    row order, partitioning, and engine — two sides agree iff their
    multisets of canonical rows agree (up to md5 collisions, ~2^-60 per
    pair). Output: one row (n_rows, checksum) with `checksum` emitted
    as its decimal STRING — a 70+-bit integer survives every engine's
    result serialization verbatim, where a decimal(38,0) cell is at the
    mercy of each harness's decimal canonicalization (float64 round
    trips erase the low ~25 bits at this magnitude).

    Canonicalization is the caller's contract: pass columns whose
    STRING form is engine-stable (strings, integers, exact decimals —
    e.g. money as cents). Raw doubles and timestamps format differently
    across engines; convert them first (cents, epoch integers).

    One scan, fully partial-aggregable: each executor sums its own
    hashes and the driver adds ~n_partitions partials — the 100 TB
    shape. The matching DuckDB/SQL expression for each side of a
    migration is `SUM(md5_long(concat_ws(...)))` — see the
    `dq_table_checksum` oracle for the exact form.
    """
    from legendary_data_pipeline_spark.functions.hashing import md5_long

    canon = F.concat_ws(
        "\x1f",
        *[F.coalesce(F.col(c).cast("string"), F.lit("NULL")) for c in cols],
    )
    return df.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(md5_long(canon).cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .cast("string")
        .alias("checksum"),
    )


def functional_dependency(
    df: DataFrame,
    lhs: Sequence[str],
    rhs: str,
) -> DataFrame:
    """Does `lhs` functionally determine `rhs`? The schema-discovery
    probe behind candidate-key detection and normalization decisions
    (e.g. "is market_item_id → canonical_source actually reliable?").

    Output: one row
      (lhs, rhs, n_groups, n_violating_groups, max_rhs_per_group, holds)
    where a violating group is an lhs-value with >1 distinct rhs value
    (NULL counts as a value — a key that sometimes maps to NULL and
    sometimes to 'x' does NOT determine it). Rows with NULL in any lhs
    column are excluded (SQL keys don't match on NULL).

    One groupBy on lhs (partial-aggregable count-distinct per group),
    then a 1-row summary — no data-sized second pass.
    """
    lhs = list(lhs)
    src = df.select(*lhs, rhs).na.drop(subset=lhs)
    rhs_token = F.coalesce(F.col(rhs).cast("string"), F.lit("\x00NULL"))
    per_group = src.groupBy(*lhs).agg(
        F.count_distinct(rhs_token).alias("__n_rhs")
    )
    return per_group.agg(
        F.lit(", ".join(lhs)).alias("lhs"),
        F.lit(rhs).alias("rhs"),
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        # coalesce: over zero groups SUM/MAX are NULL, but a vacuous
        # dependency HOLDS (holds must be a real boolean for DQ gates)
        F.coalesce(
            F.sum(F.when(F.col("__n_rhs") > 1, 1).otherwise(0)), F.lit(0)
        ).cast("long").alias("n_violating_groups"),
        F.coalesce(F.max("__n_rhs"), F.lit(0))
        .cast("long")
        .alias("max_rhs_per_group"),
    ).withColumn("holds", F.col("n_violating_groups") == 0)


def psi_drift(
    base: DataFrame,
    current: DataFrame,
    col: str,
    smoothing: float = 0.5,
    require_nonempty: bool = True,
    scaled_e6: bool = False,
) -> DataFrame:
    """Population Stability Index between two snapshots of a
    categorical column — the model-monitoring-standard drift score
    (rule of thumb: <0.1 stable, 0.1–0.25 shifting, >0.25 shifted),
    complementing `categorical_drift`'s chi-square decomposition with
    the magnitude-of-shift measure risk teams actually threshold on.

        psi = Σ_c (p_c − q_c) · ln(p_c / q_c)
        p_c = (n_base_c + s)/(N_base + s·K),  q_c likewise for current

    with Laplace smoothing s over the K union categories so a category
    present on only one side contributes a finite term instead of ±∞.
    NULLs are a category (`<null>`). Counts are exact integers; the
    ln and divisions are fixed double expressions with round(6)
    absorbing last-ulp libm drift — the mutual-information convention
    (the module's chi-square-first note predates that convention
    proving out; both monitors now coexist).

    Output, one row per union category:
      (value, n_base, n_current, p_base, p_current, psi_term, psi)
    with `psi` the same feature-level total on every row. With
    `scaled_e6` the four fractional columns leave as `e6` integers
    instead (`p_base_e6`, `p_current_e6`, `psi_term_e6`, `psi_e6`).

    Plan: both sides reduce to value-cardinality count tables before
    the full outer join, so everything after the two scans is
    metadata-sized at any corpus scale. `require_nonempty` mirrors
    `categorical_drift` (an empty snapshot IS the alert).
    """
    if require_nonempty:
        for name, side in (("base", base), ("current", current)):
            if side.limit(1).count() == 0:
                raise ValueError(
                    f"psi_drift: {name} snapshot is empty — a missing "
                    "snapshot usually means a vanished upstream feed; "
                    "fail here, don't silently suppress the alert."
                )
    v = F.coalesce(F.col(col).cast("string"), F.lit("<null>"))

    def counts(df: DataFrame, alias: str) -> DataFrame:
        return df.select(v.alias("value")).groupBy("value").agg(
            F.count(F.lit(1)).alias(alias)
        )

    joined = (
        counts(base, "n_base")
        .join(counts(current, "n_current"), "value", "full_outer")
        .select(
            "value",
            F.coalesce("n_base", F.lit(0)).cast("long").alias("n_base"),
            F.coalesce("n_current", F.lit(0)).cast("long").alias("n_current"),
        )
    )
    # Totals and the feature-level PSI attach via UNPARTITIONED windows
    # over the category-cardinality frame (one SinglePartition exchange
    # over metadata rows) instead of separate agg + crossJoin branches:
    # each branch would RE-AGGREGATE both corpus scans — 3 data passes
    # where one suffices (the plan-shape suite pins the single pass).
    w_all = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    s = F.lit(float(smoothing))
    tb = F.sum("n_base").over(w_all).cast("double")
    tc = F.sum("n_current").over(w_all).cast("double")
    k = F.count(F.lit(1)).over(w_all).cast("double")
    p = (F.col("n_base").cast("double") + s) / (tb + s * k)
    q = (F.col("n_current").cast("double") + s) / (tc + s * k)
    term = (p - q) * F.log(p / q)
    if scaled_e6:
        terms = joined.select(
            "value",
            "n_base",
            "n_current",
            e6(p).alias("p_base_e6"),
            e6(q).alias("p_current_e6"),
            e6(term).alias("psi_term_e6"),
            term.alias("__t"),
        )
        psi = e6(F.sum("__t").over(w_all))
        return terms.select(
            "value", "n_base", "n_current", "p_base_e6", "p_current_e6",
            "psi_term_e6", psi.alias("psi_e6"),
        )
    terms = joined.select(
        "value",
        "n_base",
        "n_current",
        F.round(p, 6).alias("p_base"),
        F.round(q, 6).alias("p_current"),
        F.round(term, 6).alias("psi_term"),
        term.alias("__t"),
    )
    psi = F.round(F.sum("__t").over(w_all), 6)
    return terms.select(
        "value", "n_base", "n_current", "p_base", "p_current",
        "psi_term", psi.alias("psi"),
    )


def ks_two_sample(
    base: DataFrame,
    current: DataFrame,
    value: Column,
) -> DataFrame:
    """EXACT two-sample Kolmogorov–Smirnov statistic for a numeric
    column between two snapshots — the unbinned companion to
    `numeric_drift` (equi-width chi-square) and `psi_drift`
    (categorical): D = sup_v |F_base(v) − F_current(v)| over the EXACT
    empirical CDFs, so no binning choice can hide a shift.

    `value` must be engine-exact (integers/cents — the money
    convention); NULLs are dropped on both sides. Output (1 row):

        (n_base, n_current, d_stat_e6, at_value, sqrt_scaled_e6)

    `at_value` = the smallest value attaining the supremum (the WHERE
    of the shift); `sqrt_scaled_e6` = D·sqrt(n·m/(n+m)), the quantity
    compared against Kolmogorov critical values (1.358 ≈ α 0.05).

    Exactness: per-value counts are integers; each CDF difference is
    |c1·n2 − c2·n1| held as a decimal(38,0) cross-product (no float
    CDFs), so the argmax and the supremum are bit-deterministic — the
    one division and sqrt happen after the integer max. Plan: each
    side reduces to a per-value count table (map-side combinable), one
    full-outer merge on value, a cumulative window over the
    DISTINCT-VALUE frame (cardinality-sized, the spearman_matrix
    construction), one 1-row aggregation.
    """
    for name, side in (("base", base), ("current", current)):
        if side.limit(1).count() == 0:
            raise ValueError(
                f"ks_two_sample: {name} snapshot is empty — its "
                "empirical CDF is undefined. A missing snapshot "
                "usually means a vanished upstream feed."
            )

    def counts(df: DataFrame, alias: str) -> DataFrame:
        return (
            df.select(value.alias("__v"))
            .where(F.col("__v").isNotNull())
            .groupBy("__v")
            .agg(F.count(F.lit(1)).cast("long").alias(alias))
        )

    merged = (
        counts(base, "__cb")
        .join(counts(current, "__cc"), "__v", "full_outer")
        .select(
            "__v",
            F.coalesce("__cb", F.lit(0)).alias("__cb"),
            F.coalesce("__cc", F.lit(0)).alias("__cc"),
        )
    )
    # Inclusive running counts and both sides' totals via the
    # distributed prefix-sum (round 9): a Window.orderBy(value) here
    # would funnel the distinct-value frame through ONE partition —
    # data-sized for continuous measures (cents!) at corpus scale.
    from legendary_data_pipeline_spark.operators.stats import (
        distributed_below_counts,
    )

    cum = distributed_below_counts(
        merged, "__v", ["__cb", "__cc"], inclusive=True
    )
    cb = F.col("__cb_cum").cast("decimal(38,0)")
    cc = F.col("__cc_cum").cast("decimal(38,0)")
    nb = F.col("__cb_total").cast("decimal(38,0)")
    nc = F.col("__cc_total").cast("decimal(38,0)")
    # |F1 - F2| scaled by n_base*n_current: exact integer cross-product
    per_v = cum.select(
        "__v",
        F.abs(cb * nc - cc * nb).cast("decimal(38,0)").alias("__d"),
        nb.alias("__nb"),
        nc.alias("__nc"),
    )
    # Supremum + earliest attaining value via two metadata-sized
    # aggregations instead of a global ORDER BY window (the previous
    # row_number ranking was the third single-partition stage here).
    dmax = per_v.groupBy().agg(F.max("__d").alias("__dmax"))
    top = (
        per_v.crossJoin(F.broadcast(dmax))
        .where(F.col("__d") == F.col("__dmax"))
        .groupBy("__nb", "__nc", "__d")
        .agg(F.min("__v").alias("__v"))
    )
    n_d = F.col("__nb").cast("double")
    m_d = F.col("__nc").cast("double")
    d_stat = F.col("__d").cast("double") / (n_d * m_d)
    return top.select(
        F.col("__nb").cast("long").alias("n_base"),
        F.col("__nc").cast("long").alias("n_current"),
        e6(d_stat).alias("d_stat_e6"),
        F.col("__v").alias("at_value"),
        e6(d_stat * F.sqrt(n_d * m_d / (n_d + m_d))).alias(
            "sqrt_scaled_e6"
        ),
    )


def cramer_von_mises(
    base: DataFrame,
    current: DataFrame,
    value: Column,
) -> DataFrame:
    """EXACT two-sample Cramér–von Mises statistic — the whole-curve
    companion to `ks_two_sample`'s single-supremum D: KS sees only the
    worst POINT of CDF separation and is famously blind to tail-heavy
    or oscillating shifts whose per-point gap stays small; CvM
    integrates the squared gap over every pooled observation,

        T = n·m/N² · Σ_pooled (F_n(x) − G_m(x))²
          = Σ_v w_v·(cb_v·m − cc_v·n)² / (n·m·N²)

    with w_v the POOLED count at distinct value v and cb_v/cc_v the
    inclusive per-side running counts (the anderson-darling family's
    tie-handling: each tied observation contributes the post-tie CDF
    gap once). T ≥ 0.461 rejects at α ≈ 0.05 (large-sample).

    Exactness: the cross-product D_v = cb_v·m − cc_v·n and the sum
    Σ w·D² are exact decimal(38,0) integers; T is one IEEE division
    tree emitted as t_e6 BIGINT. Decimal envelope (CORRECTED r12 —
    the r11 docstring's per-TERM bound w·D² ≤ N·n²·m² missed that the
    SUM is what must fit 38 digits): under H0 the sum grows like
    n·m·N²/6 (~n⁵·8/3 at n = m), and under real drift |D| stays ~n·m
    over an O(n) run of values so Σ w·D² ~ n⁵·const — either way the
    38-digit ceiling is crossed around n ≈ m ≈ 3–5×10⁷ PER SIDE, i.e.
    tens of millions of NON-NULL DISTINCT-WEIGHTED observations, not
    the ~2×10⁹ previously claimed. Failure is loud (ANSI decimal
    overflow), never a silent wrap; above the envelope pre-aggregate
    (bucket values — CvM on the bucketed CDF) or sample. The exact
    decimal sum is kept rather than switching the D² accumulation to
    double because a distributed double sum is order-nondeterministic
    and would break t_e6 bit-parity with the DuckDB oracle.

    `value` must be engine-exact (integers/cents); NULLs drop. Plan:
    the ks_two_sample plan — two per-value count tables, one
    full-outer merge, one distributed inclusive prefix pass, one 1-row
    aggregation.

    Output (1 row): n_base, n_current, t_e6.
    """
    for name, side in (("base", base), ("current", current)):
        if side.limit(1).count() == 0:
            raise ValueError(
                f"cramer_von_mises: {name} snapshot is empty — its "
                "empirical CDF is undefined. A missing snapshot "
                "usually means a vanished upstream feed."
            )

    def counts(df: DataFrame, alias: str) -> DataFrame:
        return (
            df.select(value.alias("__v"))
            .where(F.col("__v").isNotNull())
            .groupBy("__v")
            .agg(F.count(F.lit(1)).cast("long").alias(alias))
        )

    merged = (
        counts(base, "__cb")
        .join(counts(current, "__cc"), "__v", "full_outer")
        .select(
            "__v",
            F.coalesce("__cb", F.lit(0)).alias("__cb"),
            F.coalesce("__cc", F.lit(0)).alias("__cc"),
        )
    )
    from legendary_data_pipeline_spark.operators.stats import (
        distributed_below_counts,
    )

    cum = distributed_below_counts(
        merged, "__v", ["__cb", "__cc"], inclusive=True
    ).select(
        "__cb",
        "__cc",
        "__cb_cum",
        "__cc_cum",
        F.col("__cb_total").cast("decimal(38,0)").alias("__nb"),
        F.col("__cc_total").cast("decimal(38,0)").alias("__nc"),
    )
    cb = F.col("__cb_cum").cast("decimal(38,0)")
    cc = F.col("__cc_cum").cast("decimal(38,0)")
    w = (F.col("__cb") + F.col("__cc")).cast("decimal(38,0)")
    dterm = (cb * F.col("__nc") - cc * F.col("__nb")).cast("decimal(38,0)")
    agg = cum.groupBy("__nb", "__nc").agg(
        F.sum((w * dterm * dterm).cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("__num"),
    )
    n_d = F.col("__nb").cast("double")
    m_d = F.col("__nc").cast("double")
    nn_d = n_d + m_d
    t = F.col("__num").cast("double") / (n_d * m_d * nn_d * nn_d)
    return agg.select(
        F.col("__nb").cast("long").alias("n_base"),
        F.col("__nc").cast("long").alias("n_current"),
        F.when(
            (F.col("__nb") > 0) & (F.col("__nc") > 0),
            e6(t),
        ).alias("t_e6"),
    )


def numeric_drift(
    base: DataFrame,
    current: DataFrame,
    value: Column,
    n_bins: int = 10,
) -> DataFrame:
    """`categorical_drift` for numeric columns: both snapshots are
    binned on ONE pooled equi-width grid (bounds from the union, so the
    bins align by construction), then the chi-square homogeneity
    decomposition runs over the bin labels.

    `value` must be an integer-valued expression (cents, epoch days —
    the engine's exact conventions). Bin labels are '<lo>..<hi>'
    strings (hi exclusive) — deterministic integer formatting, so the
    operator oracles exactly like its categorical sibling. Output =
    categorical_drift's columns with `value` holding the bin label.

    The bounds pass is a 1-row aggregate over the union (one scan of
    each side); binning is arithmetic in the same scan as the count
    aggregation — two scans per side total, metadata-sized joins only.
    """
    vb = base.select(value.cast("long").alias("__v")).filter(
        F.col("__v").isNotNull()
    )
    vc = current.select(value.cast("long").alias("__v")).filter(
        F.col("__v").isNotNull()
    )
    # probe the RAW sides here: probing after binning would force
    # the pooled-bounds aggregation once per probe (two extra full
    # scans of both inputs)
    for name, side in (("base", vb), ("current", vc)):
        if side.limit(1).count() == 0:
            raise ValueError(
                f"numeric_drift: {name} snapshot is empty — see "
                "categorical_drift's require_nonempty contract."
            )
    # pinned AFTER the cheap limit(1) probes (pinning first would turn
    # each probe into a full materialization): each side feeds the
    # pooled-bounds union AND its own binned counts — the r11 scan
    # audit measured 6 source scans unpinned
    vb = vb.localCheckpoint(eager=False)
    vc = vc.localCheckpoint(eager=False)
    bounds = vb.unionByName(vc).agg(
        F.min("__v").alias("__lo"), F.max("__v").alias("__hi")
    )
    width_sql = f"(__hi - __lo + {n_bins}) DIV {n_bins}"
    bin_sql = f"(__v - __lo) DIV ({width_sql})"
    label = F.concat(
        (F.expr(f"__lo + ({bin_sql}) * ({width_sql})")).cast("string"),
        F.lit(".."),
        (F.expr(f"__lo + (({bin_sql}) + 1) * ({width_sql})")).cast("string"),
    )

    def binned(side: DataFrame) -> DataFrame:
        return side.crossJoin(F.broadcast(bounds)).select(
            label.alias("bin_label")
        )

    return categorical_drift(
        binned(vb),
        binned(vc),
        "bin_label",
        require_nonempty=False,  # already probed on the raw sides above
    )


# ---------------------------------------------------------------------------
# k-anonymity / l-diversity privacy audit
# ---------------------------------------------------------------------------


def k_anonymity_report(
    df: DataFrame,
    quasi_cols: Sequence[str],
    k: int,
    sensitive_col: str | None = None,
) -> DataFrame:
    """Per-equivalence-class privacy audit over the quasi-identifier
    combination.

    k-anonymity: every combination of quasi-identifier values (the
    equivalence class) must be shared by ≥ k rows, else those rows are
    re-identifiable by linking on the quasi-identifiers. Output is one
    row per class: the quasi values, `class_size`, and `at_risk`
    (class_size < k). With `sensitive_col`, adds `l_diversity` — the
    class's distinct sensitive-value count (a k-anonymous class with one
    sensitive value still leaks it; Machanavajjhala et al. 2007).

    Scale: ONE groupBy on the quasi columns (map-side combinable
    counts; the exact distinct for l-diversity makes it a two-phase agg
    on the same keys — still a single shuffle). The report is
    class-count-sized, not data-sized. NULL quasi values form their own
    class (SQL GROUP BY semantics), matching the linking attack: NULL
    is a visible, linkable value in a published table.
    """
    aggs = [F.count(F.lit(1)).alias("class_size")]
    if sensitive_col is not None:
        aggs.append(
            F.countDistinct(F.col(sensitive_col)).alias("l_diversity")
        )
    out = df.groupBy(*[F.col(c) for c in quasi_cols]).agg(*aggs)
    return out.select(
        *quasi_cols,
        "class_size",
        (F.col("class_size") < k).alias("at_risk"),
        *(["l_diversity"] if sensitive_col is not None else []),
    )


def suppress_below_k(
    df: DataFrame, quasi_cols: Sequence[str], k: int
) -> DataFrame:
    """Enforce k-anonymity by suppression: drop every row whose
    quasi-identifier equivalence class has fewer than k members.

    The standard first remedy (before generalization hierarchies):
    publishing only classes of size ≥ k makes the linking attack return
    ≥ k candidates. Implemented as the class-size aggregate semi-joined
    back on the quasi keys — the small at-risk class list broadcasts;
    at 100 TB pre-aggregate size is bounded by class cardinality, and
    the corpus shuffles once on the quasi keys (or not at all if the
    class table is small enough to broadcast, which AQE decides).

    The semi join is NULL-SAFE (`<=>` on every quasi key) so it agrees
    with `k_anonymity_report`: NULL quasi values form their own
    equivalence class there (GROUP BY semantics), and a NULL class of
    size ≥ k must therefore survive suppression too. A plain equality
    semi join would silently drop every NULL-keyed row.
    """
    sizes = (
        df.groupBy(*[F.col(c) for c in quasi_cols])
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") >= k)
        .select(*[F.col(c).alias(f"__keep_{c}") for c in quasi_cols])
    )
    cond = F.lit(True)
    for c in quasi_cols:
        cond = cond & df[c].eqNullSafe(sizes[f"__keep_{c}"])
    return df.join(sizes, cond, "left_semi").select(df.columns)


# ---------------------------------------------------------------------------
# write-time expectations (DLT-style: pass rows in, fail rows quarantined)
# ---------------------------------------------------------------------------


def enforce_expectations(
    df: DataFrame, constraints: Mapping[str, Column]
) -> tuple[DataFrame, DataFrame]:
    """Split `df` by named row-level expectations.

    Returns (passed, failed): `passed` has exactly `df`'s columns;
    `failed` adds `failed_checks` (array of the names that did not
    hold). SQL three-valued logic is resolved the strict way — a NULL
    check result FAILS the row (`coalesce(check, false)`), matching
    `check_constraints`' violation accounting, so the report and the
    split always agree.

    One flag column per constraint, all evaluated in a single projection
    — adding an expectation never adds a scan.
    """
    flags = {
        name: F.coalesce(c.cast("boolean"), F.lit(False))
        for name, c in constraints.items()
    }
    flagged = df.select(
        "*", *[c.alias(f"__ok_{n}") for n, c in flags.items()]
    )
    all_ok = F.lit(True)
    for n in constraints:
        all_ok = all_ok & F.col(f"__ok_{n}")
    failed_list = F.filter(
        F.array(
            *[
                F.when(~F.col(f"__ok_{n}"), F.lit(n))
                for n in constraints
            ]
        ),
        lambda x: x.isNotNull(),
    )
    passed = flagged.filter(all_ok).select(df.columns)
    failed = (
        flagged.filter(~all_ok)
        .withColumn("failed_checks", failed_list)
        .select(*df.columns, "failed_checks")
    )
    return passed, failed


def write_with_expectations(
    df: DataFrame,
    constraints: Mapping[str, Column],
    path: str,
    quarantine_path: str,
) -> DataFrame:
    """Expectations-gated parquet sink: rows meeting every constraint
    land at `path`, the rest at `quarantine_path` with their
    `failed_checks`, and the returned frame is the audit report
    (check_name, n_rows, n_violations, passed) from ONE extra
    aggregate.

    The split frame is cached for the two writes + report so the source
    is scanned once (at 100 TB the cache becomes a staging table, but
    the two-sink shape is the same); it is unpersisted before return.
    Both writes overwrite, which keeps reruns idempotent, and the
    quarantine is always (re)written, even empty, so a fixed rerun never
    leaves stale failures behind.
    """
    flagged = df.cache()
    try:
        passed, failed = enforce_expectations(flagged, constraints)
        passed.write.mode("overwrite").parquet(path)
        failed.write.mode("overwrite").parquet(quarantine_path)
        return check_constraints(flagged, constraints)
    finally:
        flagged.unpersist()


# ---------------------------------------------------------------------------
# schema drift (data-contract check between table snapshots)
# ---------------------------------------------------------------------------


def schema_drift(old: DataFrame, new: DataFrame) -> DataFrame:
    """Column-level schema diff between two snapshots of a table.

    One row per column seen on either side:
      (column, status, old_type, new_type) with status ∈
      'added' | 'removed' | 'type_changed' | 'unchanged'.
    Pure METADATA — no data scan on either side — so it runs in
    milliseconds against 100 TB tables and belongs at the front of any
    ingestion job: a producer silently widening a column or dropping a
    field is the classic upstream break that's cheapest to catch before
    the scan, not in it. Nullability changes are deliberately ignored
    (parquet writers flip it spuriously); type comparison is on the
    full DDL string, so decimal precision and nested struct changes
    count. Breaking = any 'removed' or 'type_changed' row; 'added' is
    the backward-compatible case mergeSchema readers absorb.
    """
    spark = old.sparkSession
    o = {f.name: f.dataType.simpleString() for f in old.schema.fields}
    n = {f.name: f.dataType.simpleString() for f in new.schema.fields}
    rows = []
    for c in list(o) + [c for c in n if c not in o]:
        ot, nt = o.get(c), n.get(c)
        if ot is None:
            status = "added"
        elif nt is None:
            status = "removed"
        elif ot != nt:
            status = "type_changed"
        else:
            status = "unchanged"
        rows.append((c, status, ot, nt))
    return spark.createDataFrame(
        rows, "column string, status string, old_type string, new_type string"
    )


def table_diff(
    left: DataFrame,
    right: DataFrame,
    key_cols: Sequence[str],
    compare_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Row-level reconciliation of two tables sharing a key: the
    anti-entropy primitive behind "did the revalue job change what it
    should have" (reference: cronRevalueAll recomputes a table the
    pipeline also builds — diffing the two IS the audit).

    Full-outer join on `key_cols`; every row is classified:
    `only_left`, `only_right`, `changed` (key matched, some compared
    column differs — NULL-safely), `same`. `changed_cols` lists the
    differing column names (sorted; NULL for presence-only rows, empty
    for `same`). Left values are published as `l_<col>`, right as
    `r_<col>` for the changed columns' inspection.

    Scale: ONE full-outer shuffle on the key; the per-column compare is
    a projection. For 100 TB periodic reconciliation prefer diffing
    `table_checksum` per partition FIRST and full-outer only the
    partitions whose checksums disagree — this operator is the inner
    loop of that scheme.
    """
    if compare_cols is None:
        compare_cols = [
            c
            for c in left.columns
            if c in set(right.columns) and c not in set(key_cols)
        ]
    lsel = left.select(
        *[F.col(k).alias(f"__lk_{k}") for k in key_cols],
        *[F.col(c).alias(f"l_{c}") for c in compare_cols],
        F.lit(True).alias("__l"),
    )
    rsel = right.select(
        *[F.col(k).alias(f"__rk_{k}") for k in key_cols],
        *[F.col(c).alias(f"r_{c}") for c in compare_cols],
        F.lit(True).alias("__r"),
    )
    cond = F.lit(True)
    for k in key_cols:
        cond = cond & F.col(f"__lk_{k}").eqNullSafe(F.col(f"__rk_{k}"))
    j = lsel.join(rsel, cond, "full_outer")
    diffs = F.filter(
        F.array(
            *[
                F.when(
                    ~F.col(f"l_{c}").eqNullSafe(F.col(f"r_{c}")), F.lit(c)
                )
                for c in compare_cols
            ]
        ),
        lambda x: x.isNotNull(),
    )
    status = (
        F.when(F.col("__r").isNull(), F.lit("only_left"))
        .when(F.col("__l").isNull(), F.lit("only_right"))
        .when(F.size(diffs) > 0, F.lit("changed"))
        .otherwise(F.lit("same"))
    )
    return j.select(
        *[
            F.coalesce(F.col(f"__lk_{k}"), F.col(f"__rk_{k}")).alias(k)
            for k in key_cols
        ],
        status.alias("status"),
        F.when(
            F.col("__l").isNotNull() & F.col("__r").isNotNull(),
            F.array_sort(diffs),
        ).alias("changed_cols"),
        *[F.col(f"l_{c}") for c in compare_cols],
        *[F.col(f"r_{c}") for c in compare_cols],
    )


def js_divergence_pairs(
    df: DataFrame,
    group_col: str,
    item_col: str,
) -> DataFrame:
    """Pairwise Jensen–Shannon divergence between the ITEM
    distributions of every group pair — the symmetric, bounded
    (0 ≤ JSD ≤ ln 2 nats) corpus-comparison measure behind "how
    different are these two sources' vocabularies?" in mixture design
    (KL is asymmetric and infinite on disjoint support; JSD is
    neither).

        JSD(p, q) = ½·Σ p·ln(p/m) + ½·Σ q·ln(q/m),   m = (p+q)/2

    Counts and totals are exact integers; p/q/m are exact IEEE ratios;
    ln is the one libm call and the vocabulary-sized term sum is
    absorbed by the e6 integer emission (the chi²/MI precedent).
    Items absent from a group contribute through the other side's
    term only (0·ln 0 = 0). NULL group keys or items drop.

    Scale: one (group, item) groupBy (map-side combinable), a
    group-cardinality totals broadcast, a vocab × groups dense grid
    (regularizes the pair join — groups are FEW by contract: sources,
    langs, snapshots), and one item-keyed pair join summing to the
    pair matrix. The corpus shuffles once on the item key; everything
    after is vocab-scale.

    Output per unordered pair: group_a, group_b, n_items (shared
    vocabulary size of the union), jsd_e6 (nats), jsd_norm_e6
    (jsd/ln 2 — 0 = identical, 1e6 = disjoint).
    """
    g = F.col(group_col)
    w = F.col(item_col)
    d = df.select(g.alias("__g"), w.alias("__w")).where(
        g.isNotNull() & w.isNotNull()
    )
    counts = d.groupBy("__g", "__w").agg(
        F.count(F.lit(1)).cast("long").alias("__c")
    ).localCheckpoint(eager=False)  # grid + vocab consumers (r9 rule)
    totals = counts.groupBy("__g").agg(
        F.sum("__c").cast("long").alias("__t")
    )
    vocab = counts.select("__w").distinct()
    grid = (
        totals.crossJoin(vocab)
        .join(counts, ["__g", "__w"], "left")
        .select(
            "__g",
            "__w",
            "__t",
            F.coalesce(F.col("__c"), F.lit(0)).cast("long").alias("__c"),
        )
    )
    a = grid.select(
        F.col("__g").alias("__ga"),
        "__w",
        F.col("__c").alias("__ca"),
        F.col("__t").alias("__ta"),
    )
    b = grid.select(
        F.col("__g").alias("__gb"),
        F.col("__w").alias("__wb"),
        F.col("__c").alias("__cb"),
        F.col("__t").alias("__tb"),
    )
    pairs = a.join(
        b, (F.col("__w") == F.col("__wb")) & (F.col("__ga") < F.col("__gb"))
    )
    p = F.col("__ca").cast("double") / F.col("__ta").cast("double")
    q = F.col("__cb").cast("double") / F.col("__tb").cast("double")
    m = (p + q) / F.lit(2.0)
    term = F.when(
        F.col("__ca") > 0, F.lit(0.5) * (p * F.log(p / m))
    ).otherwise(F.lit(0.0)) + F.when(
        F.col("__cb") > 0, F.lit(0.5) * (q * F.log(q / m))
    ).otherwise(F.lit(0.0))
    out = pairs.groupBy(
        F.col("__ga").alias("group_a"), F.col("__gb").alias("group_b")
    ).agg(
        F.sum(
            ((F.col("__ca") > 0) | (F.col("__cb") > 0)).cast("long")
        ).alias("n_items"),
        F.sum(term).alias("__jsd"),
    )
    ln2 = 0.6931471805599453
    return out.select(
        "group_a",
        "group_b",
        "n_items",
        e6(F.col("__jsd")).alias("jsd_e6"),
        e6(F.col("__jsd") / F.lit(ln2)).alias("jsd_norm_e6"),
    )


def fk_orphan_report(
    child: DataFrame,
    parents: "Sequence[tuple[str, DataFrame, str, str]]",
) -> DataFrame:
    """Referential-integrity audit: for each declared foreign key,
    count child rows whose key value has NO matching parent row — the
    single most common silent-corruption mode a landing zone sees
    (late parent loads, partial backfills, truncated dimensions).

    ``parents``: (fk_name, parent_df, child_col, parent_col) tuples.
    Per FK: n_child counts NON-NULL child keys (NULL FK is the
    nullability check's job, not referential integrity's), n_orphans
    counts those with no parent via LEFT ANTI join on DISTINCT parent
    keys, orphan_rate = one exact IEEE division emitted RAW.

    Scale: ONE left join + ONE aggregation per FK (a separate
    n_child aggregate plus an anti-join would scan the child twice
    per FK — the round-10 review finding), each keyed on its own
    column (AQE handles skewed keys; the parent side reduces to its
    distinct key column first — never the parent's full width). The
    report is len(parents) rows.

    Output per FK: fk_name, n_child, n_orphans, orphan_rate.
    """
    if not parents:
        raise ValueError("fk_orphan_report: at least one FK required")
    reports = []
    for fk_name, parent_df, child_col, parent_col in parents:
        keys = child.select(F.col(child_col).alias("__k")).where(
            F.col(child_col).isNotNull()
        )
        pkeys = parent_df.select(
            F.col(parent_col).alias("__k"), F.lit(1).alias("__hit")
        ).distinct()
        rep = (
            keys.join(pkeys, "__k", "left")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_child"),
                F.sum(
                    F.when(F.col("__hit").isNull(), 1).otherwise(0)
                )
                .cast("long")
                .alias("n_orphans"),
            )
            .select(
                F.lit(fk_name).alias("fk_name"),
                F.coalesce(F.col("n_child"), F.lit(0)).alias("n_child"),
                F.coalesce(F.col("n_orphans"), F.lit(0)).alias(
                    "n_orphans"
                ),
                F.when(
                    F.col("n_child") > 0,
                    F.col("n_orphans").cast("double")
                    / F.col("n_child").cast("double"),
                ).alias("orphan_rate"),
            )
        )
        reports.append(rep)
    out = reports[0]
    for rep in reports[1:]:
        out = out.unionByName(rep)
    return out
