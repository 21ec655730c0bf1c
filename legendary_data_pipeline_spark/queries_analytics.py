"""Analytics / data-quality extension queries (round 5 surface).

Entity resolution (blocked fuzzy matching), deequ-style profiling and
constraint reports, mergeable-sketch distinct rollups, skew
diagnostics, and rolling z-score anomaly detection. Every entry carries
a full DuckDB oracle run by tests/test_queries_oracle.py; queries.GATE
decides which ones are in the correctness gate.

Cross-engine determinism notes specific to this module:
- `levenshtein` is the classic unit-cost edit distance in both engines;
  Spark's 3-arg bounded form returns the exact distance when it is
  within the bound (we filter to that region, so results agree).
- Rolling anomaly stats are computed over EXACT integer cents
  (order-independent window sums), then converted to doubles through
  one fixed expression tree — both engines evaluate the same IEEE ops
  on the same exact inputs, so the doubles match bit-for-bit. Never
  oracle-pair a windowed SUM over raw doubles: accumulation order
  differs between engines.
- The HLL rollup is oracle-paired against EXACT COUNT(DISTINCT):
  Datasketches HLL is exact below its sparse→dense promotion
  threshold, which covers the test-scale cardinalities; the pytest
  envelope in tests/test_sketch_rollup.py documents the approximate
  contract that takes over at real scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from legendary_data_pipeline_spark.catalog import (
    load_distributed,
    load_table,
)
from legendary_data_pipeline_spark.functions.hashing import (
    md5_long_sql,
    seeded_md5_long_sql,
)
from legendary_data_pipeline_spark.operators.entity import (
    fuzzy_best_match,
    fuzzy_pairs_blocked,
)
from legendary_data_pipeline_spark.operators.profiling import (
    check_constraints,
    check_unique,
    profile_columns,
)
from legendary_data_pipeline_spark.queries import (
    _cents,
    _cents_sql,
    register,
)

# ---------------------------------------------------------------------------
# entity resolution: blocked fuzzy matching on part names
# ---------------------------------------------------------------------------

_ER_MAX_DIST = 3
_ER_BLOCK_SQL = "string_split(p_name, ' ')[-1]"


@register(
    "er_fuzzy_pairs_part_names",
    f"""
    WITH names AS (
      SELECT DISTINCT p_name FROM part WHERE p_name IS NOT NULL),
    b AS (SELECT p_name, {_ER_BLOCK_SQL} AS blk FROM names)
    SELECT a.p_name AS name_a, c.p_name AS name_b,
           CAST(levenshtein(a.p_name, c.p_name) AS INT) AS edit_dist
    FROM b a JOIN b c USING (blk)
    WHERE a.p_name < c.p_name
      AND levenshtein(a.p_name, c.p_name) <= {_ER_MAX_DIST}
    """,
    doc="Entity resolution step 1 — near-duplicate product names: "
    "distinct names blocked on their last token (the product noun), "
    "pairs within Levenshtein 3. Blocking makes the candidate set "
    "per-block quadratic, and the distance is JVM codegen with an "
    "early-exit bound — the Fellegi-Sunter blocking shape at any scale.",
)
def er_fuzzy_pairs_part_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    names = (
        load_table(spark, sf_dir, "part")
        .select("p_name")
        .filter(F.col("p_name").isNotNull())
        .distinct()
    )
    pairs = fuzzy_pairs_blocked(
        names,
        name_col="p_name",
        id_col="p_name",
        block_exprs=[F.element_at(F.split(F.col("p_name"), " "), -1)],
        max_dist=_ER_MAX_DIST,
    )
    return pairs.select("name_a", "name_b", "edit_dist")


@register(
    "er_best_match_part_names",
    f"""
    WITH names AS (
      SELECT DISTINCT p_name FROM part WHERE p_name IS NOT NULL),
    canon AS (
      SELECT p_name AS canonical_name, MIN(p_partkey) AS canonical_id
      FROM part WHERE p_name IS NOT NULL GROUP BY p_name),
    lb AS (SELECT p_name, {_ER_BLOCK_SQL} AS blk FROM names),
    rb AS (SELECT canonical_name, canonical_id,
                  string_split(canonical_name, ' ')[-1] AS blk FROM canon),
    cand AS (
      SELECT l.p_name, r.canonical_id, r.canonical_name,
             CAST(levenshtein(l.p_name, r.canonical_name) AS INT) AS edit_dist
      FROM lb l JOIN rb r USING (blk)
      WHERE l.p_name <> r.canonical_name
        AND levenshtein(l.p_name, r.canonical_name) <= {_ER_MAX_DIST}),
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY p_name ORDER BY edit_dist, canonical_id) AS rn
      FROM cand)
    SELECT p_name, canonical_id, canonical_name, edit_dist
    FROM ranked WHERE rn = 1
    """,
    doc="Entity resolution step 2 — record linkage: each distinct name "
    "linked to its nearest OTHER canonical catalog entry (min-partkey "
    "owner of the name) within the block, min edit distance with a "
    "deterministic id tie-break. The merge-candidate suggestion list a "
    "catalog steward reviews.",
)
def er_best_match_part_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").isNotNull()
    )
    names = part.select("p_name").distinct()
    canon = part.groupBy(F.col("p_name").alias("canonical_name")).agg(
        F.min("p_partkey").alias("canonical_id")
    )
    block = lambda c: F.element_at(F.split(F.col(c), " "), -1)  # noqa: E731
    out = fuzzy_best_match(
        names,
        canon,
        left_name="p_name",
        right_name="canonical_name",
        left_id="p_name",
        right_id="canonical_id",
        left_block=[block("p_name")],
        right_block=[block("canonical_name")],
        max_dist=_ER_MAX_DIST,
        exclude_equal=True,
    )
    return out.select("p_name", "canonical_id", "canonical_name", "edit_dist")


# ---------------------------------------------------------------------------
# data-quality: column profile + constraint report
# ---------------------------------------------------------------------------

_PROFILE_COLS = [
    "l_orderkey",
    "l_quantity",
    "l_extendedprice",
    "l_discount",
    "l_returnflag",
    "l_shipdate",
]


def _profile_oracle() -> str:
    parts = []
    numeric = {"l_orderkey", "l_quantity", "l_extendedprice", "l_discount"}
    strings = {"l_returnflag"}
    for c in _PROFILE_COLS:
        min_num = (
            f"CAST(MIN({c}) AS DOUBLE)" if c in numeric else "CAST(NULL AS DOUBLE)"
        )
        max_num = (
            f"CAST(MAX({c}) AS DOUBLE)" if c in numeric else "CAST(NULL AS DOUBLE)"
        )
        min_str = f"MIN({c})" if c in strings else "CAST(NULL AS VARCHAR)"
        max_str = f"MAX({c})" if c in strings else "CAST(NULL AS VARCHAR)"
        parts.append(
            f"""
      SELECT '{c}' AS "column",
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_null,
             CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
             {min_num} AS min_num, {max_num} AS max_num,
             {min_str} AS min_str, {max_str} AS max_str
      FROM lineitem"""
        )
    return " UNION ALL ".join(parts)


@register(
    "dq_profile_lineitem",
    _profile_oracle(),
    doc="deequ-style column profile of lineitem: row/null/distinct "
    "counts plus numeric and string min/max, ALL columns in ONE "
    "Aggregate pass (N columns never means N scans). The floating "
    "`mean` the operator also computes is excluded here because "
    "cross-engine FP accumulation order differs — it is contract-tested "
    "with a tolerance in tests/test_profiling.py instead.",
)
def dq_profile_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    # load_distributed: six exact count_distincts in one Aggregate plan
    # as an Expand (6x row multiplication BEFORE the partial agg) — on
    # the single-row-group local fixture the whole expand would run on
    # ONE scan task (10.8 s at sf0.1; measured FASTER at the multi-row-
    # group sf1 replica, the classic under-split signature). A real
    # 100 TB table arrives pre-split; see catalog.load_distributed.
    li = load_distributed(spark, sf_dir, "lineitem")
    return profile_columns(li, _PROFILE_COLS).drop("mean")


@register(
    "dq_constraint_report_orders",
    """
    SELECT 'o_orderkey_not_null' AS check_name,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_violations,
           SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) = 0 AS passed
    FROM orders
    UNION ALL
    SELECT 'o_totalprice_positive',
           CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN NOT COALESCE(o_totalprice > 0, FALSE)
                    THEN 1 ELSE 0 END) AS BIGINT),
           SUM(CASE WHEN NOT COALESCE(o_totalprice > 0, FALSE)
               THEN 1 ELSE 0 END) = 0
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus_valid',
           CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN NOT COALESCE(o_orderstatus IN ('P','O','F'),
                                           FALSE)
                    THEN 1 ELSE 0 END) AS BIGINT),
           SUM(CASE WHEN NOT COALESCE(o_orderstatus IN ('P','O','F'), FALSE)
               THEN 1 ELSE 0 END) = 0
    FROM orders
    UNION ALL
    SELECT 'unique(o_orderkey)',
           CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT),
           COUNT(*) - COUNT(DISTINCT o_orderkey) = 0
    FROM orders
    """,
    doc="Constraint validation report over orders: three row-level "
    "checks folded into ONE conditional-sum Aggregate (adding a check "
    "adds a column, never a scan) plus the key-uniqueness check (its "
    "own distinct pass), unioned into the audit report the reference's "
    "per-row import guards (01:60-88) become in a declarative engine.",
)
def dq_constraint_report_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    report = check_constraints(
        orders,
        {
            "o_orderkey_not_null": F.col("o_orderkey").isNotNull(),
            "o_totalprice_positive": F.col("o_totalprice") > 0,
            "o_orderstatus_valid": F.col("o_orderstatus").isin(
                "P", "O", "F"
            ),
        },
    )
    uniq = check_unique(orders, ["o_orderkey"])
    return report.unionByName(uniq)


# ---------------------------------------------------------------------------
# mergeable distinct sketches (HLL rollup)
# ---------------------------------------------------------------------------


@register(
    "sk_hll_distinct_users",
    """
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users_est
    FROM events
    GROUP BY event_type
    """,
    doc="Mergeable-sketch distinct rollup: per (event_type, day) HLL "
    "sketches (Datasketches, hll_sketch_agg) unioned per event_type and "
    "estimated — the two-level shape that lets a 100 TB pipeline keep "
    "tiny per-partition sketches and answer distinct-users over ANY "
    "day range by unioning them, never rescanning raw events. Oracle = "
    "exact COUNT(DISTINCT): HLL is exact below its sparse-mode "
    "threshold, which covers this scale; the approximate large-scale "
    "contract is envelope-tested in tests/test_sketch_rollup.py.",
)
def sk_hll_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # per-(event_type, epoch-day) sketches; `ts` is integer epoch nanos
    day = F.expr("ts DIV 86400000000000").cast("long")
    daily = ev.groupBy(
        "event_type", day.alias("d")
    ).agg(F.hll_sketch_agg("user_id").alias("sk"))
    return daily.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk"))
        .cast("long")
        .alias("n_users_est")
    )


# ---------------------------------------------------------------------------
# skew diagnostics: heavy hitters
# ---------------------------------------------------------------------------

_HH_K = 10


@register(
    "skew_heavy_hitters_users",
    f"""
    WITH counts AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events GROUP BY user_id),
    tot AS (SELECT CAST(SUM(n_events) AS BIGINT) AS total FROM counts)
    SELECT user_id, n_events,
           n_events / CAST(total AS DOUBLE) AS share
    FROM counts, tot
    ORDER BY n_events DESC, user_id ASC
    LIMIT {_HH_K}
    """,
    doc="Skew diagnostics: the top-10 heaviest event keys with their "
    "share of all rows — the profile you run BEFORE choosing salting / "
    "AQE-skew settings for a join on user_id. Exact groupBy counts "
    "(partial-aggregable) + TakeOrderedAndProject top-k: no global "
    "sort, no single-partition window, same plan at 100 TB.",
)
def skew_heavy_hitters_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    total = counts.agg(F.sum("n_events").alias("__total"))
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            "user_id",
            "n_events",
            (F.col("n_events") / F.col("__total").cast("double")).alias(
                "share"
            ),
        )
        .orderBy(F.col("n_events").desc(), F.col("user_id").asc())
        .limit(_HH_K)
    )


# ---------------------------------------------------------------------------
# rolling z-score anomaly detection
# ---------------------------------------------------------------------------

_Z_WINDOW = 30  # days of history in the rolling frame (including current)
_Z_MIN_N = 10  # minimum frame rows before a z-score is emitted
_Z_THRESH = 2.0


@register(
    "ts_zscore_anomalies",
    f"""
    WITH daily AS (
      SELECT event_type,
             CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
             CAST(SUM({_cents_sql("value")}) AS BIGINT) AS value_cents
      FROM events GROUP BY 1, 2),
    win AS (
      SELECT event_type, day, value_cents,
             CAST(SUM(value_cents) OVER w AS BIGINT) AS s,
             CAST(SUM(value_cents * value_cents) OVER w AS BIGINT) AS sq,
             CAST(COUNT(*) OVER w AS BIGINT) AS n
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN {_Z_WINDOW - 1} PRECEDING AND CURRENT ROW)),
    z AS (
      SELECT event_type, day, value_cents,
             CASE WHEN n >= {_Z_MIN_N}
                  AND (CAST(sq AS DOUBLE)
                       - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                         / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE) > 0
             THEN (CAST(value_cents AS DOUBLE)
                   - CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                  / sqrt((CAST(sq AS DOUBLE)
                          - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                            / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE))
             END AS zscore
      FROM win)
    SELECT event_type, day, value_cents, zscore,
           COALESCE(abs(zscore) > {_Z_THRESH}, FALSE) AS is_anomaly
    FROM z
    """,
    doc="Rolling z-score anomaly detection on the daily event-value "
    "series: 30-day rolling mean/std per event_type, |z| > 2 flags. "
    "All rolling sums are EXACT integer cents (order-independent), and "
    "mean/std/z come from one fixed double expression tree over those "
    "exact sums — bit-identical across engines, unlike windowed SUMs "
    "over raw doubles. Bounded ROWS frame = bounded per-row state at "
    "any scale; partitions are (event_type), days within them sort "
    "locally.",
)
def ts_zscore_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    # `ts` is integer epoch nanos (catalog.normalize_event_ts); the day
    # bucket is exact integer division, identical in both engines.
    day = F.expr("ts DIV 86400000000000").cast("long")
    cents = _cents("value")
    daily = ev.groupBy(
        "event_type", day.alias("day")
    ).agg(F.sum(cents).cast("long").alias("value_cents"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-(_Z_WINDOW - 1), Window.currentRow)
    )
    s = F.sum("value_cents").over(w).cast("long")
    sq = (
        F.sum(F.col("value_cents") * F.col("value_cents")).over(w).cast("long")
    )
    n = F.count(F.lit(1)).over(w).cast("long")
    win = daily.select("event_type", "day", "value_cents",
                       s.alias("s"), sq.alias("sq"), n.alias("n"))
    var = (
        F.col("sq").cast("double")
        - F.col("s").cast("double") * F.col("s").cast("double")
        / F.col("n").cast("double")
    ) / F.col("n").cast("double")
    mean = F.col("s").cast("double") / F.col("n").cast("double")
    zscore = F.when(
        (F.col("n") >= _Z_MIN_N) & (var > 0),
        (F.col("value_cents").cast("double") - mean) / F.sqrt(var),
    )
    return win.select(
        "event_type",
        "day",
        "value_cents",
        zscore.alias("zscore"),
        F.coalesce(F.abs(zscore) > _Z_THRESH, F.lit(False)).alias(
            "is_anomaly"
        ),
    )


# ---------------------------------------------------------------------------
# distribution stats: histogram, linear trend, weighted sample
# ---------------------------------------------------------------------------

_HIST_BINS = 12


@register(
    "st_hist_order_totalprice",
    f"""
    WITH v AS (
      SELECT o_orderpriority,
             {_cents_sql("o_totalprice")} AS v
      FROM orders WHERE o_totalprice IS NOT NULL),
    b AS (SELECT MIN(v) AS lo, MAX(v) AS hi FROM v),
    w AS (SELECT lo, (hi - lo + {_HIST_BINS}) // {_HIST_BINS} AS wd FROM b)
    SELECT o_orderpriority,
           CAST((v - lo) // wd AS INT) AS bin,
           CAST(lo + ((v - lo) // wd) * wd AS BIGINT) AS bin_lo,
           CAST(lo + ((v - lo) // wd + 1) * wd AS BIGINT) AS bin_hi,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM v, w
    GROUP BY 1, 2, 3, 4
    """,
    doc="Equi-width histogram of order totals (integer cents) per "
    "priority on a GLOBAL grid, so bins are comparable across groups. "
    "Two passes: a 1-row bounds aggregate broadcast back, then one "
    "partial-aggregable groupBy on (group, bin) — no shuffle wider "
    "than the bin count at any scale.",
)
def st_hist_order_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    from legendary_data_pipeline_spark.operators.stats import histogram_auto

    orders = load_table(spark, sf_dir, "orders")
    cents = _cents("o_totalprice")
    return histogram_auto(
        orders, cents, n_bins=_HIST_BINS, group_cols=["o_orderpriority"]
    )


@register(
    "st_trend_event_value_daily",
    f"""
    WITH daily AS (
      SELECT event_type,
             CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
             CAST(SUM({_cents_sql("value")}) AS BIGINT) AS y
      FROM events GROUP BY 1, 2),
    m AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n_points,
             CAST(SUM(day) AS DOUBLE) AS sx,
             CAST(SUM(y) AS DOUBLE) AS sy,
             CAST(SUM(day * y) AS DOUBLE) AS sxy,
             CAST(SUM(day * day) AS DOUBLE) AS sxx
      FROM daily GROUP BY 1)
    SELECT event_type, n_points,
           CASE WHEN n_points >= 2
                 AND n_points * sxx - sx * sx <> 0
                THEN (n_points * sxy - sx * sy)
                     / (n_points * sxx - sx * sx) END AS slope,
           CASE WHEN n_points >= 2
                 AND n_points * sxx - sx * sx <> 0
                THEN (sy - (n_points * sxy - sx * sy)
                           / (n_points * sxx - sx * sx) * sx)
                     / n_points END AS intercept
    FROM m
    """,
    doc="Per-event-type least-squares trend of the daily value series "
    "(is this metric drifting?): moments summed as exact decimals "
    "(order-independent, overflow-safe at petabyte row counts), "
    "slope/intercept from one fixed double expression tree — "
    "bit-identical across engines. One partial-aggregable groupBy.",
)
def st_trend_event_value_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    from legendary_data_pipeline_spark.operators.stats import linear_trend

    ev = load_table(spark, sf_dir, "events")
    day = F.expr("ts DIV 86400000000000").cast("long")
    cents = _cents("value")
    daily = ev.groupBy(
        "event_type", day.alias("day")
    ).agg(F.sum(cents).cast("long").alias("y"))
    return linear_trend(
        daily, F.col("day"), F.col("y"), group_cols=["event_type"]
    )


_SAMP_STEP = 3000  # ~10% of docs at avg n_chars ≈ 300
_SAMP_SEED = 41


@register(
    "st_systematic_weighted_sample",
    f"""
    WITH src AS (
      SELECT doc_id, lang, n_chars FROM documents
      WHERE n_chars IS NOT NULL AND n_chars > 0),
    h AS (
      SELECT *, {seeded_md5_long_sql("CAST(doc_id AS VARCHAR)", _SAMP_SEED)}
               AS hk
      FROM src),
    c AS (
      SELECT *, SUM(n_chars) OVER (
          PARTITION BY lang ORDER BY hk, doc_id
          ROWS UNBOUNDED PRECEDING) AS cum
      FROM h),
    p AS (
      SELECT *, {seeded_md5_long_sql("lang", _SAMP_SEED + 1)} % {_SAMP_STEP}
               AS phase
      FROM c)
    SELECT doc_id, lang, n_chars,
           GREATEST(1.0, {_SAMP_STEP} / CAST(n_chars AS DOUBLE)) AS inv_prob
    FROM p
    WHERE (cum + phase - 1) // {_SAMP_STEP}
          >= (cum - n_chars + phase + {_SAMP_STEP} - 1) // {_SAMP_STEP}
    """,
    doc="Deterministic systematic PPS sample of the corpus, stratified "
    "by lang, weight = n_chars: ~1 row kept per 3000 chars, inclusion "
    "probability min(1, w/step), importance weight emitted. The rows "
    "selected are a pure function of (data, seed) — exact integer grid "
    "arithmetic over a seeded-hash ordering, independent of file "
    "layout, so reruns and engines agree row-for-row.",
)
def st_systematic_weighted_sample(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from legendary_data_pipeline_spark.operators.stats import (
        systematic_weighted_sample,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    return systematic_weighted_sample(
        docs,
        weight_col="n_chars",
        step=_SAMP_STEP,
        strata=["lang"],
        id_col="doc_id",
        seed=_SAMP_SEED,
    )


# ---------------------------------------------------------------------------
# sorted-neighborhood ER, drift detection, join-skew forecast
# ---------------------------------------------------------------------------

_SNM_WINDOW = 2


@register(
    "er_sorted_neighborhood",
    f"""
    WITH names AS (
      SELECT DISTINCT p_name FROM part WHERE p_name IS NOT NULL),
    ranked AS (
      SELECT p_name,
             substr(p_name, 1, 1) AS bkt,
             row_number() OVER (
               PARTITION BY substr(p_name, 1, 1)
               ORDER BY p_name, p_name) AS rn
      FROM names),
    probes AS (
      SELECT p_name AS id_a, bkt, rn + g.gap AS rn2, CAST(g.gap AS INT) AS gap
      FROM ranked,
           (SELECT unnest(range(1, {_SNM_WINDOW + 1})) AS gap) g)
    SELECT p.id_a, t.p_name AS id_b, p.gap
    FROM probes p JOIN ranked t
      ON p.bkt = t.bkt AND p.rn2 = t.rn
    """,
    doc="Sorted-neighborhood ER blocking: distinct names ranked within "
    "a first-character bucket, candidate pairs within 2 rank positions "
    "— catches near-dups whose blocking tokens disagree. The pairing "
    "is an equi-join on (bucket, rank) after a bounded explode, never "
    "a range join, and ranks are per-bucket windows, never a global "
    "single-partition sort.",
)
def er_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    from legendary_data_pipeline_spark.operators.entity import (
        sorted_neighborhood_pairs,
    )

    names = (
        load_table(spark, sf_dir, "part")
        .select("p_name")
        .filter(F.col("p_name").isNotNull())
        .distinct()
    )
    return sorted_neighborhood_pairs(
        names,
        sort_expr=F.col("p_name"),
        id_col="p_name",
        window=_SNM_WINDOW,
    )


@register(
    "dq_drift_orders_priority",
    """
    WITH b AS (
      SELECT COALESCE(CAST(o_orderpriority AS VARCHAR), '<null>') AS value,
             CAST(COUNT(*) AS BIGINT) AS n_base
      FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'
      GROUP BY 1),
    c AS (
      SELECT COALESCE(CAST(o_orderpriority AS VARCHAR), '<null>') AS value,
             CAST(COUNT(*) AS BIGINT) AS n_current
      FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01'
      GROUP BY 1),
    j AS (
      SELECT COALESCE(b.value, c.value) AS value,
             CAST(COALESCE(n_base, 0) AS BIGINT) AS n_base,
             CAST(COALESCE(n_current, 0) AS BIGINT) AS n_current
      FROM b FULL OUTER JOIN c ON b.value = c.value),
    t AS (SELECT CAST(SUM(n_base) AS DOUBLE) AS tb,
                 CAST(SUM(n_current) AS DOUBLE) AS tc FROM j),
    -- expected counts with the SAME association order as the Spark
    -- expression tree (t * (pooled)), so doubles match bit-for-bit
    calc AS (
      SELECT value, n_base, n_current,
             CAST(n_base AS DOUBLE) AS nb, CAST(n_current AS DOUBLE) AS nc,
             tb, tc,
             tb * ((CAST(n_base AS DOUBLE) + CAST(n_current AS DOUBLE))
                   / (tb + tc)) AS eb,
             tc * ((CAST(n_base AS DOUBLE) + CAST(n_current AS DOUBLE))
                   / (tb + tc)) AS ec
      FROM j, t)
    SELECT value, n_base, n_current,
           nb / tb AS p_base,
           nc / tc AS p_current,
           (nb - eb) * (nb - eb) / eb
             + (nc - ec) * (nc - ec) / ec AS chisq_contrib
    FROM calc
    """,
    doc="Snapshot drift detection: chi-square homogeneity decomposition "
    "of order priority between pre-/post-1998 snapshots, per value — "
    "the monitor that catches a silently shifted upstream feed. "
    "Chi-square over exact counts (never PSI/KL) so every double comes "
    "from one fixed +,-,×,÷ tree — bit-identical across engines. Both "
    "sides reduce to value-cardinality count tables before joining.",
)
def dq_drift_orders_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    from legendary_data_pipeline_spark.operators.profiling import (
        categorical_drift,
    )

    orders = load_table(spark, sf_dir, "orders")
    cut = F.lit("1998-01-01").cast("timestamp")
    return categorical_drift(
        orders.filter(F.col("o_orderdate") < cut),
        orders.filter(F.col("o_orderdate") >= cut),
        "o_orderpriority",
    )


_PSI_S = 0.5


@register(
    "dq_psi_drift_orders_priority",
    f"""
    WITH b AS (
      SELECT COALESCE(CAST(o_orderpriority AS VARCHAR), '<null>') AS value,
             CAST(COUNT(*) AS BIGINT) AS n_base
      FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'
      GROUP BY 1),
    c AS (
      SELECT COALESCE(CAST(o_orderpriority AS VARCHAR), '<null>') AS value,
             CAST(COUNT(*) AS BIGINT) AS n_current
      FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01'
      GROUP BY 1),
    j AS (
      SELECT COALESCE(b.value, c.value) AS value,
             CAST(COALESCE(n_base, 0) AS BIGINT) AS n_base,
             CAST(COALESCE(n_current, 0) AS BIGINT) AS n_current
      FROM b FULL OUTER JOIN c ON b.value = c.value),
    t AS (SELECT CAST(SUM(n_base) AS BIGINT) AS tb,
                 CAST(SUM(n_current) AS BIGINT) AS tc,
                 CAST(COUNT(*) AS BIGINT) AS k FROM j),
    -- p/q mirror the Spark association order exactly:
    -- (n + s) / (tot + s * k)
    terms AS (
      SELECT value, n_base, n_current,
             (CAST(n_base AS DOUBLE) + {_PSI_S})
               / (CAST(tb AS DOUBLE) + {_PSI_S} * CAST(k AS DOUBLE)) AS p,
             (CAST(n_current AS DOUBLE) + {_PSI_S})
               / (CAST(tc AS DOUBLE) + {_PSI_S} * CAST(k AS DOUBLE)) AS q
      FROM j, t),
    rows_ AS (
      SELECT value, n_base, n_current,
             CAST(round(p * 1e6) AS BIGINT) AS p_base_e6,
             CAST(round(q * 1e6) AS BIGINT) AS p_current_e6,
             CAST(round((p - q) * ln(p / q) * 1e6) AS BIGINT) AS psi_term_e6,
             (p - q) * ln(p / q) AS t
      FROM terms),
    s AS (SELECT CAST(round(SUM(t) * 1e6) AS BIGINT) AS psi_e6 FROM rows_)
    SELECT value, n_base, n_current, p_base_e6, p_current_e6,
           psi_term_e6, psi_e6
    FROM rows_, s
    """,
    doc="Population Stability Index of order priority between pre-/"
    "post-1998 snapshots — the model-monitoring drift score risk teams "
    "threshold on (<0.1 stable, >0.25 shifted), complementing the "
    "chi-square decomposition with a magnitude measure. Laplace-"
    "smoothed union categories keep one-sided values finite; exact "
    "integer counts, ln + fixed IEEE divisions emitted as integer "
    "micro-units (round-9 e6 gate convention; NOTES.md §Round-9). Both "
    "snapshots reduce to value-cardinality count tables before the "
    "metadata-sized join. X147.",
)
def dq_psi_drift_orders_priority(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from legendary_data_pipeline_spark.operators.profiling import psi_drift

    orders = load_table(spark, sf_dir, "orders")
    cut = F.lit("1998-01-01").cast("timestamp")
    return psi_drift(
        orders.filter(F.col("o_orderdate") < cut),
        orders.filter(F.col("o_orderdate") >= cut),
        "o_orderpriority",
        smoothing=_PSI_S,
        scaled_e6=True,
    )


_FORECAST_K = 15


@register(
    "skew_join_forecast_order_pairs",
    f"""
    WITH counts AS (
      SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n
      FROM orders WHERE o_custkey IS NOT NULL GROUP BY 1)
    SELECT o_custkey, n AS n_left, n AS n_right,
           CAST(n * n AS BIGINT) AS n_out
    FROM counts
    ORDER BY n_out DESC, o_custkey ASC
    LIMIT {_FORECAST_K}
    """,
    doc="Join-skew forecast: before self-joining orders on customer "
    "(order-pair analysis), rank the keys by how many output rows they "
    "will emit (n_left x n_right). Only per-key count tables join — "
    "metadata-scale — then TakeOrderedAndProject top-k; the data-sized "
    "join this report de-risks is never executed here.",
)
def skew_join_forecast_order_pairs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from legendary_data_pipeline_spark.operators.skew import (
        join_skew_forecast,
    )

    orders = load_table(spark, sf_dir, "orders")
    return join_skew_forecast(
        orders, orders, on=["o_custkey"], top_k=_FORECAST_K
    )


# ---------------------------------------------------------------------------
# window-analytics and set-operation wideners (SURVEY §2.5 / §2.7)
# ---------------------------------------------------------------------------


@register(
    "w6_percent_rank_cume_dist",
    f"""
    WITH v AS (
      SELECT p_brand, p_partkey,
             {_cents_sql("p_retailprice")} AS cents
      FROM part)
    SELECT p_brand, p_partkey, cents,
           percent_rank() OVER w AS pct_rank,
           cume_dist() OVER w AS cume,
           CAST(nth_value(cents, 2) OVER (
             PARTITION BY p_brand ORDER BY cents, p_partkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS second_lowest_cents
    FROM v
    WINDOW w AS (PARTITION BY p_brand ORDER BY cents, p_partkey)
    """,
    doc="Distribution-position analytics per brand: percent_rank / "
    "cume_dist / nth_value over a fully-tie-broken ordering (cents, "
    "partkey), so ranks — and therefore the rational rank fractions — "
    "are unique and deterministic. Partitioned by brand: bounded "
    "per-partition state, never a global window.",
)
def w6_percent_rank_cume_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    part = load_table(spark, sf_dir, "part")
    cents = _cents("p_retailprice")
    v = part.select("p_brand", "p_partkey", cents.alias("cents"))
    w = Window.partitionBy("p_brand").orderBy("cents", "p_partkey")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return v.select(
        "p_brand",
        "p_partkey",
        "cents",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        F.nth_value("cents", 2).over(wf).cast("long").alias(
            "second_lowest_cents"
        ),
    )


@register(
    "u4_intersect_except_cohorts",
    """
    WITH before AS (
      SELECT DISTINCT o_custkey FROM orders
      WHERE o_orderdate < TIMESTAMP '1998-01-01'),
    after AS (
      SELECT DISTINCT o_custkey FROM orders
      WHERE o_orderdate >= TIMESTAMP '1998-01-01')
    SELECT o_custkey, 'retained' AS cohort
    FROM (SELECT o_custkey FROM before INTERSECT SELECT o_custkey FROM after)
    UNION ALL
    SELECT o_custkey, 'churned' AS cohort
    FROM (SELECT o_custkey FROM before EXCEPT SELECT o_custkey FROM after)
    UNION ALL
    SELECT o_custkey, 'new' AS cohort
    FROM (SELECT o_custkey FROM after EXCEPT SELECT o_custkey FROM before)
    """,
    doc="INTERSECT / EXCEPT customer cohorts across a date boundary "
    "(retained / churned / new) — the set-operation surface the "
    "reference never needed (SURVEY §2.7) expressed as Spark "
    "intersect/subtract, which Catalyst plans as hash semi/anti joins "
    "over the deduplicated keys — partial-aggregable and "
    "broadcast-eligible at scale.",
)
def u4_intersect_except_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cut = F.lit("1998-01-01").cast("timestamp")
    # each side feeds one intersect + one subtract — pinned so the
    # final plan scans orders twice (one per filter), not six times
    # (r11 shadow scan audit). The intersect/subtract FORM stays: the
    # set-operation surface is what this query demonstrates (a single
    # groupBy with has_before/has_after flags would be one scan, but
    # then the query no longer exercises the operators it documents).
    before = (
        orders.filter(F.col("o_orderdate") < cut).select("o_custkey")
        .distinct().localCheckpoint(eager=False)
    )
    after = (
        orders.filter(F.col("o_orderdate") >= cut)
        .select("o_custkey")
        .distinct()
        .localCheckpoint(eager=False)
    )
    tag = lambda df, c: df.select(  # noqa: E731
        "o_custkey", F.lit(c).alias("cohort")
    )
    return (
        tag(before.intersect(after), "retained")
        .unionByName(tag(before.subtract(after), "churned"))
        .unionByName(tag(after.subtract(before), "new"))
    )


# ---------------------------------------------------------------------------
# corpus collocations, calendar gaps, Benford audit
# ---------------------------------------------------------------------------

_COLL_TOP_K = 30
_COLL_MIN_DOCS = 2


@register(
    "txt_collocations",
    f"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
      FROM documents),
    base AS (SELECT doc_id, t FROM toks WHERE len(t) >= 2),
    n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS n_docs FROM base),
    uni AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS w_docs FROM (
        SELECT DISTINCT doc_id, unnest(t) AS w FROM base)
      GROUP BY w),
    pairs AS (
      SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS pair_docs FROM (
        SELECT DISTINCT doc_id, t[__j] AS w1, t[__j + 1] AS w2
        FROM base, unnest(range(1, len(t))) AS r(__j))
      GROUP BY w1, w2
      HAVING COUNT(*) >= {_COLL_MIN_DOCS})
    SELECT p.w1, p.w2, p.pair_docs,
           u1.w_docs AS w1_docs, u2.w_docs AS w2_docs,
           (n.n_docs * CAST(p.pair_docs AS DOUBLE))
             / (CAST(u1.w_docs AS DOUBLE) * CAST(u2.w_docs AS DOUBLE))
             AS lift
    FROM pairs p
    JOIN uni u1 ON p.w1 = u1.w
    JOIN uni u2 ON p.w2 = u2.w
    CROSS JOIN n
    ORDER BY lift DESC, p.pair_docs DESC, p.w1 ASC, p.w2 ASC
    LIMIT {_COLL_TOP_K}
    """,
    doc="Collocation mining over the corpus: adjacent word pairs ranked "
    "by document-frequency LIFT (n·df12/(df1·df2)) — the PMI ordering "
    "without the log, so exact integer counts flow through one "
    "multiply/divide and oracle bit-exactly. Vocabulary-sized aggs, "
    "broadcastable unigram joins, TakeOrderedAndProject top-k.",
)
def txt_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from legendary_data_pipeline_spark.operators.textstats import (
        collocations,
    )

    docs = load_table(spark, sf_dir, "documents")
    return collocations(
        docs, min_pair_docs=_COLL_MIN_DOCS, top_k=_COLL_TOP_K
    )


@register(
    "dq_event_calendar_gaps",
    """
    WITH days AS (
      SELECT DISTINCT event_type,
             CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day
      FROM events),
    spans AS (
      SELECT event_type, MIN(day) AS lo, MAX(day) AS hi
      FROM days GROUP BY event_type),
    expected AS (
      SELECT event_type, CAST(unnest(range(lo, hi + 1)) AS BIGINT) AS day
      FROM spans)
    SELECT e.event_type, e.day AS missing_day
    FROM expected e LEFT JOIN days d
      ON e.event_type = d.event_type AND e.day = d.day
    WHERE d.day IS NULL
    """,
    doc="Feed-completeness audit: calendar days missing inside each "
    "event type's active range (first..last observed epoch-day). The "
    "expected calendar is generated from the per-group span — bounded "
    "by the date RANGE, not the row count — and anti-joined against "
    "observed days. Empty result = complete feed.",
)
def dq_event_calendar_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    from legendary_data_pipeline_spark.operators.profiling import (
        calendar_gaps,
    )

    ev = load_table(spark, sf_dir, "events")
    return calendar_gaps(
        ev, F.expr("ts DIV 86400000000000"), group_cols=["event_type"]
    )


def _benford_oracle() -> str:
    from legendary_data_pipeline_spark.operators.profiling import BENFORD_P

    # CAST('…' AS DOUBLE): strtod is correctly rounded, giving the same
    # double as the Python literal — a DECIMAL literal would round-trip
    # through >2^53 integer mantissas and drift an ulp.
    pairs = ", ".join(
        f"({d}, CAST('{p!r}' AS DOUBLE))" for d, p in BENFORD_P.items()
    )
    return f"""
    WITH src AS (
      SELECT CAST(regexp_extract(
               CAST(CAST(abs(o_totalprice) AS DECIMAL(38,10)) AS VARCHAR),
               '[1-9]') AS INT) AS digit
      FROM orders
      WHERE o_totalprice IS NOT NULL AND o_totalprice > 0),
    counts AS (
      SELECT digit, CAST(COUNT(*) AS BIGINT) AS n
      FROM src GROUP BY digit),
    t AS (SELECT CAST(SUM(n) AS DOUBLE) AS total FROM counts),
    exp AS (SELECT digit, CAST(p_expected AS DOUBLE) AS p_expected
            FROM (VALUES {pairs}) AS v(digit, p_expected))
    SELECT c.digit, c.n,
           CAST(c.n AS DOUBLE) / t.total AS p_observed,
           e.p_expected,
           (CAST(c.n AS DOUBLE) - t.total * e.p_expected)
             * (CAST(c.n AS DOUBLE) - t.total * e.p_expected)
             / (t.total * e.p_expected) AS chisq_contrib
    FROM counts c JOIN exp e ON c.digit = e.digit
    CROSS JOIN t
    """


@register(
    "dq_benford_order_totals",
    _benford_oracle(),
    doc="Benford first-significant-digit audit of order totals — the "
    "classic fabricated-amounts screen. Digit extraction is pure "
    "string math (first [1-9] of the decimal form; no log10) and the "
    "expected proportions are shared literal constants, so the "
    "chi-square contributions oracle bit-exactly. One 9-key groupBy.",
)
def dq_benford_order_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from legendary_data_pipeline_spark.operators.profiling import (
        benford_audit,
    )

    orders = load_table(spark, sf_dir, "orders")
    return benford_audit(orders, F.col("o_totalprice"))


# ---------------------------------------------------------------------------
# migration checksum + functional-dependency discovery
# ---------------------------------------------------------------------------

_CK_SEP_SQL = "chr(31)"  # unit separator, mirrors the operator default


@register(
    "dq_table_checksum",
    f"""
    WITH canon AS (
      SELECT concat_ws({_CK_SEP_SQL},
               COALESCE(CAST(o_orderkey AS VARCHAR), 'NULL'),
               COALESCE(CAST(o_custkey AS VARCHAR), 'NULL'),
               COALESCE(CAST(o_orderstatus AS VARCHAR), 'NULL'),
               COALESCE(CAST({_cents_sql("o_totalprice")} AS VARCHAR),
                        'NULL'),
               COALESCE(CAST(o_orderpriority AS VARCHAR), 'NULL')
             ) AS row_str
      FROM orders)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(CAST(SUM(CAST({md5_long_sql("row_str")} AS DECIMAL(38,0)))
                AS DECIMAL(38,0)) AS VARCHAR) AS checksum
    FROM canon
    """,
    doc="Order-independent table checksum for migration validation: "
    "md5-hash each canonicalized row (ints/strings/cents — forms that "
    "are engine-stable), SUM the hashes as decimal(38,0). Addition "
    "commutes, so the checksum is identical across row order, "
    "partitioning, and engines — this oracle pair IS the cross-engine "
    "validation it exists to perform. One partial-aggregable scan. The "
    "checksum crosses the result boundary as its decimal STRING: the "
    "~73-bit sum exceeds float64 precision, and r6 showed a "
    "decimal(38,0) cell is representation-fragile across harness "
    "canonicalizers even when bit-identical in both engines.",
)
def dq_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    from legendary_data_pipeline_spark.operators.profiling import (
        table_checksum,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        _cents("o_totalprice").alias("total_cents"),
        "o_orderpriority",
    )
    return table_checksum(
        orders,
        ["o_orderkey", "o_custkey", "o_orderstatus", "total_cents",
         "o_orderpriority"],
    )


_FD_NULL_TOKEN_SQL = "chr(0) || 'NULL'"


@register(
    "dq_functional_dependencies",
    f"""
    WITH g1 AS (
      SELECT o_orderkey,
             COUNT(DISTINCT COALESCE(CAST(o_orderstatus AS VARCHAR),
                                     {_FD_NULL_TOKEN_SQL})) AS nr
      FROM orders WHERE o_orderkey IS NOT NULL GROUP BY o_orderkey),
    g2 AS (
      SELECT o_custkey,
             COUNT(DISTINCT COALESCE(CAST(o_orderpriority AS VARCHAR),
                                     {_FD_NULL_TOKEN_SQL})) AS nr
      FROM orders WHERE o_custkey IS NOT NULL GROUP BY o_custkey)
    SELECT 'o_orderkey' AS lhs, 'o_orderstatus' AS rhs,
           CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(SUM(CASE WHEN nr > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_violating_groups,
           CAST(MAX(nr) AS BIGINT) AS max_rhs_per_group,
           SUM(CASE WHEN nr > 1 THEN 1 ELSE 0 END) = 0 AS holds
    FROM g1
    UNION ALL
    SELECT 'o_custkey', 'o_orderpriority',
           CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN nr > 1 THEN 1 ELSE 0 END) AS BIGINT),
           CAST(MAX(nr) AS BIGINT),
           SUM(CASE WHEN nr > 1 THEN 1 ELSE 0 END) = 0
    FROM g2
    """,
    doc="Functional-dependency discovery: does o_orderkey determine "
    "o_orderstatus (a key property), and does o_custkey determine "
    "o_orderpriority (it should NOT — customers place orders at many "
    "priorities)? One count-distinct groupBy per probe plus a 1-row "
    "summary — the schema-inference probe behind candidate-key "
    "detection, at any scale.",
)
def dq_functional_dependencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    from legendary_data_pipeline_spark.operators.profiling import (
        functional_dependency,
    )

    orders = load_table(spark, sf_dir, "orders")
    return functional_dependency(
        orders, ["o_orderkey"], "o_orderstatus"
    ).unionByName(
        functional_dependency(orders, ["o_custkey"], "o_orderpriority")
    )


# ---------------------------------------------------------------------------
# entity resolution step 3: fuzzy pairs closed into entity clusters
# ---------------------------------------------------------------------------


@register(
    "er_name_clusters",
    f"""
    WITH RECURSIVE names AS (
      SELECT DISTINCT p_name FROM part WHERE p_name IS NOT NULL),
    b AS (SELECT p_name, {_ER_BLOCK_SQL} AS blk FROM names),
    dup AS (
      SELECT a.p_name AS id_a, c.p_name AS id_b
      FROM b a JOIN b c USING (blk)
      WHERE a.p_name < c.p_name
        AND levenshtein(a.p_name, c.p_name) <= {_ER_MAX_DIST}),
    e2 AS (
      SELECT id_a AS s, id_b AS d FROM dup
      UNION
      SELECT id_b, id_a FROM dup),
    reach AS (
      SELECT s AS node, s AS r FROM e2
      UNION
      SELECT e.s, r.r FROM e2 e JOIN reach r ON e.d = r.node)
    SELECT node AS p_name, MIN(r) AS entity
    FROM reach GROUP BY node
    """,
    doc="Entity resolution step 3 — entity formation: the blocked fuzzy "
    "pairs closed into connected components (entity = min reachable "
    "name), turning pairwise match hits into merge groups. Reuses the "
    "engine's dedup closure operator over STRING node ids; the oracle "
    "replays the closure with a recursive reachability CTE, so the "
    "graph algorithm itself is hash-checked.",
)
def er_name_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from legendary_data_pipeline_spark.operators.graph import (
        connected_components,
    )

    names = (
        load_table(spark, sf_dir, "part")
        .select("p_name")
        .filter(F.col("p_name").isNotNull())
        .distinct()
    )
    pairs = fuzzy_pairs_blocked(
        names,
        name_col="p_name",
        id_col="p_name",
        block_exprs=[F.element_at(F.split(F.col("p_name"), " "), -1)],
        max_dist=_ER_MAX_DIST,
    )
    comp = connected_components(pairs.select("id_a", "id_b"))
    return comp.select(
        F.col("node").alias("p_name"), F.col("component").alias("entity")
    )


@register(
    "dq_numeric_drift_order_totals",
    f"""
    WITH v AS (
      SELECT CASE WHEN o_orderdate < TIMESTAMP '1998-01-01'
                  THEN 'b' ELSE 'c' END AS side,
             {_cents_sql("o_totalprice")} AS val
      FROM orders WHERE o_totalprice IS NOT NULL),
    bounds AS (SELECT MIN(val) AS lo, MAX(val) AS hi FROM v),
    g AS (SELECT lo, (hi - lo + 10) // 10 AS wd FROM bounds),
    lab AS (
      SELECT side,
             CAST(lo + ((val - lo) // wd) * wd AS VARCHAR) || '..' ||
             CAST(lo + ((val - lo) // wd + 1) * wd AS VARCHAR) AS value
      FROM v, g),
    b AS (SELECT value, CAST(COUNT(*) AS BIGINT) AS n_base
          FROM lab WHERE side = 'b' GROUP BY value),
    c AS (SELECT value, CAST(COUNT(*) AS BIGINT) AS n_current
          FROM lab WHERE side = 'c' GROUP BY value),
    j AS (
      SELECT COALESCE(b.value, c.value) AS value,
             CAST(COALESCE(n_base, 0) AS BIGINT) AS n_base,
             CAST(COALESCE(n_current, 0) AS BIGINT) AS n_current
      FROM b FULL OUTER JOIN c ON b.value = c.value),
    t AS (SELECT CAST(SUM(n_base) AS DOUBLE) AS tb,
                 CAST(SUM(n_current) AS DOUBLE) AS tc FROM j),
    calc AS (
      SELECT value, n_base, n_current,
             CAST(n_base AS DOUBLE) AS nb, CAST(n_current AS DOUBLE) AS nc,
             tb, tc,
             tb * ((CAST(n_base AS DOUBLE) + CAST(n_current AS DOUBLE))
                   / (tb + tc)) AS eb,
             tc * ((CAST(n_base AS DOUBLE) + CAST(n_current AS DOUBLE))
                   / (tb + tc)) AS ec
      FROM j, t)
    SELECT value, n_base, n_current,
           nb / tb AS p_base,
           nc / tc AS p_current,
           (nb - eb) * (nb - eb) / eb
             + (nc - ec) * (nc - ec) / ec AS chisq_contrib
    FROM calc
    """,
    doc="Numeric drift of order totals across the 1998 boundary: both "
    "snapshots binned on ONE pooled integer-cents grid (bins align by "
    "construction), chi-square homogeneity per bin — the numeric "
    "sibling of dq_drift_orders_priority. Deterministic '<lo>..<hi>' "
    "labels keep the whole pipeline oracle-exact.",
)
def dq_numeric_drift_order_totals(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from legendary_data_pipeline_spark.operators.profiling import (
        numeric_drift,
    )

    orders = load_table(spark, sf_dir, "orders")
    cut = F.lit("1998-01-01").cast("timestamp")
    return numeric_drift(
        orders.filter(F.col("o_orderdate") < cut),
        orders.filter(F.col("o_orderdate") >= cut),
        _cents("o_totalprice"),
        n_bins=10,
    )


# ---------------------------------------------------------------------------
# CUSUM changepoint detection on the daily value series
# ---------------------------------------------------------------------------


@register(
    "ts_cusum_changepoint",
    f"""
    WITH daily AS (
      SELECT event_type,
             CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
             CAST(SUM({_cents_sql("value")}) AS BIGINT) AS y
      FROM events GROUP BY 1, 2),
    pre AS (
      SELECT event_type, day, y,
             row_number() OVER w AS t,
             SUM(y) OVER (PARTITION BY event_type ORDER BY day
                          ROWS UNBOUNDED PRECEDING) AS prefix
      -- NULL-y days (all-NULL value groups) carry no series position:
      -- mirrors the operator's NULL filter exactly
      FROM daily WHERE y IS NOT NULL
      WINDOW w AS (PARTITION BY event_type ORDER BY day)),
    tot AS (
      SELECT event_type, MAX(t) AS n, SUM(y) AS total
      FROM pre GROUP BY event_type),
    s AS (
      SELECT p.event_type, p.day, p.t, p.prefix, t2.n, t2.total,
             abs(t2.n * p.prefix - p.t * t2.total) AS abs_s
      FROM pre p JOIN tot t2 USING (event_type)),
    best AS (
      SELECT *, row_number() OVER (
        PARTITION BY event_type ORDER BY abs_s DESC, day ASC) AS rn
      FROM s)
    SELECT event_type,
           CAST(n AS BIGINT) AS n_points,
           CASE WHEN n >= 2 THEN day END AS change_x,
           CASE WHEN n >= 2
                THEN CAST(abs_s AS DOUBLE) / CAST(n AS DOUBLE) END
             AS cusum_peak,
           CASE WHEN n >= 2
                THEN CAST(prefix AS DOUBLE) / CAST(t AS DOUBLE) END
             AS mean_before,
           CASE WHEN n >= 2 AND n > t
                THEN (CAST(total AS DOUBLE) - CAST(prefix AS DOUBLE))
                     / (CAST(n AS DOUBLE) - CAST(t AS DOUBLE)) END
             AS mean_after
    FROM best WHERE rn = 1
    """,
    doc="CUSUM changepoint detection per event type: the most likely "
    "level-shift day in the daily value series, with pre/post means. "
    "The statistic is kept INTEGER-scaled (s_t = n·prefix_t − t·total, "
    "exact decimals — same argmax as the classic centered CUSUM, no "
    "division until the final fixed double expressions), so even the "
    "argmax tie-break is oracle-exact. One window pass per group + a "
    "1-row-per-group reduce.",
)
def ts_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from legendary_data_pipeline_spark.operators.stats import (
        cusum_changepoint,
    )

    ev = load_table(spark, sf_dir, "events")
    day = F.expr("ts DIV 86400000000000").cast("long")
    daily = ev.groupBy(
        "event_type", day.alias("day")
    ).agg(F.sum(_cents("value")).cast("long").alias("y"))
    return cusum_changepoint(
        daily, F.col("day"), F.col("y"), group_cols=["event_type"]
    )


# ---------------------------------------------------------------------------
# seasonal profile + inter-arrival gap distribution
# ---------------------------------------------------------------------------


@register(
    "ts_seasonal_profile",
    f"""
    WITH daily AS (
      SELECT event_type,
             CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
             CAST(SUM({_cents_sql("value")}) AS BIGINT) AS y
      FROM events GROUP BY 1, 2),
    pp AS (
      SELECT event_type, CAST(day % 7 AS INT) AS phase,
             CAST(COUNT(*) AS BIGINT) AS n_obs,
             SUM(y) AS s
      FROM daily WHERE y IS NOT NULL AND day IS NOT NULL
      GROUP BY 1, 2),
    pg AS (
      SELECT event_type, CAST(SUM(n_obs) AS BIGINT) AS n_all,
             SUM(s) AS s_all
      FROM pp GROUP BY 1)
    SELECT pp.event_type, pp.phase, pp.n_obs,
           CAST(pp.s AS DOUBLE) / CAST(pp.n_obs AS DOUBLE) AS phase_mean,
           CAST(pg.s_all AS DOUBLE) / CAST(pg.n_all AS DOUBLE)
             AS overall_mean,
           CASE WHEN CAST(pg.s_all AS DOUBLE) / CAST(pg.n_all AS DOUBLE)
                     <> 0
                THEN (CAST(pp.s AS DOUBLE) / CAST(pp.n_obs AS DOUBLE))
                     / (CAST(pg.s_all AS DOUBLE) / CAST(pg.n_all AS DOUBLE))
           END AS seasonal_index
    FROM pp JOIN pg USING (event_type)
    """,
    doc="Day-of-week seasonal profile of the daily value series: "
    "per-phase means and seasonal indices (phase_mean / overall_mean) "
    "— the deseasonalization factors a forecast baseline or residual "
    "anomaly screen divides by. Exact integer sums; one double "
    "division per statistic keeps the oracle bit-exact. Two tiny "
    "partial-aggregable groupBys.",
)
def ts_seasonal_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from legendary_data_pipeline_spark.operators.stats import (
        seasonal_profile,
    )

    ev = load_table(spark, sf_dir, "events")
    day = F.expr("ts DIV 86400000000000").cast("long")
    daily = ev.groupBy(
        "event_type", day.alias("day")
    ).agg(F.sum(_cents("value")).cast("long").alias("y"))
    return seasonal_profile(
        daily, F.col("day"), F.col("y"), period=7,
        group_cols=["event_type"],
    )


@register(
    "ts_interarrival_gaps",
    """
    WITH ordered AS (
      SELECT event_type, ts,
             lag(ts) OVER (PARTITION BY event_type
                           ORDER BY ts, event_id) AS prev_ts
      FROM events WHERE ts IS NOT NULL),
    gaps AS (
      -- per-timestamp micro truncation BEFORE differencing (identical
      -- to the Spark side's per-ts DIV 1000)
      SELECT event_type,
             CAST(epoch_us(ts) - epoch_us(prev_ts) AS BIGINT) AS gap_us
      FROM ordered WHERE prev_ts IS NOT NULL)
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_gaps,
           quantile_cont(gap_us, 0.5) AS p50_us,
           quantile_cont(gap_us, 0.95) AS p95_us,
           CAST(MAX(gap_us) AS BIGINT) AS max_gap_us
    FROM gaps GROUP BY event_type
    """,
    doc="Inter-arrival gap distribution per event type (median / p95 / "
    "max gap in exact integer micros) — the burst-and-outage profile "
    "behind stream-watermark and session-timeout tuning. Gaps come "
    "from one lag window over (ts, event_id) — a total order, so "
    "simultaneous events cannot flip the lag across engines — and the "
    "exact percentiles interpolate over integers identically in both "
    "engines (the a1 rollup convention).",
)
def ts_interarrival_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    # ts is integer epoch nanos; gaps reported in micros (exact DIV)
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    gaps = (
        ev.filter(F.col("ts").isNotNull())
        .select(
            "event_type",
            F.col("ts").alias("__ts"),
            F.lag("ts").over(w).alias("__prev"),
        )
        .filter(F.col("__prev").isNotNull())
        .select(
            "event_type",
            # truncate EACH timestamp to micros before differencing —
            # differencing first then truncating would drift 1us from
            # the oracle's epoch_us(a) - epoch_us(b) on nanos data
            F.expr("(__ts DIV 1000) - (__prev DIV 1000)").alias("gap_us"),
        )
    )
    return gaps.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_gaps"),
        F.expr("percentile(gap_us, 0.5)").alias("p50_us"),
        F.expr("percentile(gap_us, 0.95)").alias("p95_us"),
        F.max("gap_us").cast("long").alias("max_gap_us"),
    )


# ---------------------------------------------------------------------------
# incremental rollup maintenance (merge vs full-recompute oracle)
# ---------------------------------------------------------------------------


@register(
    "e_incremental_daily_rollup",
    f"""
    SELECT event_type,
           CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
           CAST(COUNT(*) AS BIGINT) AS events,
           CAST(SUM({_cents_sql("value")}) AS BIGINT) AS total_cents,
           CAST(MAX({_cents_sql("value")}) AS BIGINT) AS max_cents
    FROM events
    WHERE ts IS NOT NULL
    GROUP BY 1, 2
    """,
    doc="Incremental materialized-rollup maintenance: history (all days "
    "but the last) is pre-aggregated as the 'existing' rollup, the "
    "last day arrives as a raw batch, and merge_rollup combines the "
    "batch's partial aggregates into the rollup via a full-outer merge "
    "of decomposable aggregates (count/sum/max). The oracle is the "
    "FULL recompute over all events — equality proves the incremental "
    "path reproduces it, at O(batch + rollup) cost instead of a corpus "
    "rescan: the defining 100 TB maintenance pattern.",
)
def e_incremental_daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from legendary_data_pipeline_spark.operators.rollup import (
        aggregate_batch,
        merge_rollup,
    )

    ev = load_table(spark, sf_dir, "events")
    day = F.expr("ts DIV 86400000000000").cast("long")
    # NULL-ts events have no day: excluded on BOTH sides (a NULL day
    # would land in neither split predicate and silently vanish)
    with_day = ev.select(
        "event_type", day.alias("day"), _cents("value").alias("cents")
    ).filter(F.col("day").isNotNull()).localCheckpoint(
        eager=False
    )  # last_day + hist/batch splits (r11 scan audit: 4 scans)
    last_day = with_day.agg(F.max("day").alias("__last"))
    joined = with_day.join(F.broadcast(last_day))
    hist = joined.filter(F.col("day") < F.col("__last"))
    batch = joined.filter(F.col("day") >= F.col("__last"))
    specs = [
        ("events", "count", None),
        ("total_cents", "sum", F.col("cents")),
        ("max_cents", "max", F.col("cents")),
    ]
    keys = ["event_type", "day"]
    existing = aggregate_batch(hist, keys, specs)
    batch_agg = aggregate_batch(batch, keys, specs)
    merged = merge_rollup(
        existing,
        batch_agg,
        keys,
        {"events": "count", "total_cents": "sum", "max_cents": "max"},
    )
    return merged.select(
        "event_type",
        "day",
        F.col("events").cast("long").alias("events"),
        F.col("total_cents").cast("long").alias("total_cents"),
        F.col("max_cents").cast("long").alias("max_cents"),
    )


# ---------------------------------------------------------------------------
# experiment readout + concentration metrics
# ---------------------------------------------------------------------------


@register(
    "ab_purchase_conversion_ztest",
    """
    WITH units AS (
      SELECT user_id,
             CASE WHEN user_id % 2 = 0 THEN 'control'
                  ELSE 'treatment' END AS variant,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) = 1
               AS converted
      FROM events GROUP BY user_id),
    agg AS (
      SELECT
        CAST(SUM(CASE WHEN variant = 'control' THEN 1 ELSE 0 END)
             AS BIGINT) AS n_control,
        CAST(SUM(CASE WHEN variant = 'treatment' THEN 1 ELSE 0 END)
             AS BIGINT) AS n_treatment,
        CAST(SUM(CASE WHEN variant = 'control' AND converted
                 THEN 1 ELSE 0 END) AS DOUBLE) AS sc,
        CAST(SUM(CASE WHEN variant = 'treatment' AND converted
                 THEN 1 ELSE 0 END) AS DOUBLE) AS st
      FROM units),
    calc AS (
      SELECT *,
             CAST(n_control AS DOUBLE) AS nc,
             CAST(n_treatment AS DOUBLE) AS nt,
             sc / CAST(n_control AS DOUBLE) AS conv_control,
             st / CAST(n_treatment AS DOUBLE) AS conv_treatment,
             (sc + st) / (CAST(n_control AS DOUBLE)
                          + CAST(n_treatment AS DOUBLE)) AS pooled
      FROM agg)
    SELECT n_control, n_treatment, conv_control, conv_treatment,
           conv_treatment - conv_control AS lift,
           CASE WHEN n_control > 0 AND n_treatment > 0
                 AND pooled * (1.0 - pooled) * (1.0 / nc + 1.0 / nt) > 0
                THEN (conv_treatment - conv_control)
                     / sqrt(pooled * (1.0 - pooled)
                            * (1.0 / nc + 1.0 / nt)) END AS zscore
    FROM calc
    """,
    doc="Experiment readout: two-proportion z-test of purchase "
    "conversion between hash-split user variants. Four exact unit "
    "counts flow through ONE fixed double tree (conversions, lift, "
    "pooled-SE z) — bit-identical across engines, so even the "
    "significance readout is oracle-checked. One conditional-count "
    "aggregation per readout.",
)
def ab_purchase_conversion_ztest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from legendary_data_pipeline_spark.operators.stats import (
        two_proportion_ztest,
    )

    ev = load_table(spark, sf_dir, "events")
    units = ev.groupBy("user_id").agg(
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("__conv")
    ).select(
        F.when(F.col("user_id") % 2 == 0, "control")
        .otherwise("treatment")
        .alias("variant"),
        (F.col("__conv") == 1).alias("converted"),
    )
    return two_proportion_ztest(
        units,
        variant_col="variant",
        success=F.col("converted"),
        control_label="control",
        treatment_label="treatment",
    )


@register(
    "st_brand_revenue_concentration",
    f"""
    WITH member AS (
      SELECT p.p_brand,
             l.l_partkey AS m,
             SUM({_cents_sql("l.l_extendedprice")}) AS x
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      WHERE l.l_extendedprice IS NOT NULL
      GROUP BY 1, 2),
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY p_brand ORDER BY x ASC, m ASC) AS i
      FROM member),
    agg AS (
      SELECT p_brand,
             CAST(COUNT(*) AS BIGINT) AS n_members,
             SUM(x) AS sx, SUM(x * x) AS sxx, SUM(i * x) AS six
      FROM ranked GROUP BY p_brand)
    SELECT p_brand, n_members,
           CAST(sx AS DOUBLE) AS total_value,
           CASE WHEN sx <> 0
                THEN CAST(sxx AS DOUBLE)
                     / (CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) END
             AS hhi,
           CASE WHEN sx <> 0
                THEN (2.0 * CAST(six AS DOUBLE))
                     / (CAST(n_members AS DOUBLE) * CAST(sx AS DOUBLE))
                     - (CAST(n_members AS DOUBLE) + 1.0)
                       / CAST(n_members AS DOUBLE) END AS gini
    FROM agg
    """,
    doc="Revenue concentration per brand: HHI and Gini over per-part "
    "revenue totals — does one SKU dominate a brand's sales? Exact "
    "decimal moments (Σx, Σx², Σ i·x sorted) with the two indices as "
    "fixed double trees, so the inequality statistics themselves "
    "oracle bit-exactly. Rank windows partition per brand (bounded "
    "members), reduce is 1 row per brand.",
)
def st_brand_revenue_concentration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from legendary_data_pipeline_spark.operators.stats import concentration

    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_extendedprice").isNotNull()
    )
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand"
    )
    joined = li.join(
        F.broadcast(part), li.l_partkey == part.p_partkey
    ).select("p_brand", "l_partkey", _cents("l_extendedprice").alias("cents"))
    return concentration(
        joined,
        member_col="l_partkey",
        value=F.col("cents"),
        group_cols=["p_brand"],
    )


# ---------------------------------------------------------------------------
# market-basket association rules + TWAP
# ---------------------------------------------------------------------------

_AR_MIN_PAIRS = 3
_AR_TOP_K = 40


@register(
    "mb_association_rules",
    f"""
    WITH base AS (
      SELECT DISTINCT l_orderkey AS b, l_partkey AS i
      FROM lineitem
      WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
    n AS (SELECT CAST(COUNT(DISTINCT b) AS DOUBLE) AS nb FROM base),
    freq AS (
      SELECT i, CAST(COUNT(*) AS BIGINT) AS i_baskets
      FROM base GROUP BY i),
    pairs AS (
      SELECT a.i AS item_a, c.i AS item_b,
             CAST(COUNT(*) AS BIGINT) AS pair_baskets
      FROM base a JOIN base c USING (b)
      WHERE a.i < c.i
      GROUP BY 1, 2
      HAVING COUNT(*) >= {_AR_MIN_PAIRS})
    SELECT p.item_a, p.item_b, p.pair_baskets,
           fa.i_baskets AS a_baskets, fb.i_baskets AS b_baskets,
           CAST(p.pair_baskets AS DOUBLE) / n.nb AS support,
           CAST(p.pair_baskets AS DOUBLE) / CAST(fa.i_baskets AS DOUBLE)
             AS confidence_a_to_b,
           (n.nb * CAST(p.pair_baskets AS DOUBLE))
             / (CAST(fa.i_baskets AS DOUBLE) * CAST(fb.i_baskets AS DOUBLE))
             AS lift
    FROM pairs p
    JOIN freq fa ON p.item_a = fa.i
    JOIN freq fb ON p.item_b = fb.i
    CROSS JOIN n
    ORDER BY lift DESC, p.pair_baskets DESC, p.item_a ASC, p.item_b ASC
    LIMIT {_AR_TOP_K}
    """,
    doc="Market-basket association rules over order baskets: part pairs "
    "co-purchased beyond chance with support / confidence / lift from "
    "exact basket counts (single divisions — oracle-exact). The pair "
    "join runs WITHIN baskets (cost bounded by basket size, not corpus "
    "size); frequency joins are broadcast-eligible; top-k is "
    "TakeOrderedAndProject.",
)
def mb_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    from legendary_data_pipeline_spark.operators.stats import (
        association_rules,
    )

    li = load_table(spark, sf_dir, "lineitem")
    return association_rules(
        li,
        basket_col="l_orderkey",
        item_col="l_partkey",
        min_pair_baskets=_AR_MIN_PAIRS,
        top_k=_AR_TOP_K,
    )


@register(
    "ts_twap_event_values",
    """
    WITH src AS (
      SELECT event_type, event_id,
             CAST(epoch_us(ts) AS BIGINT) * 1000 AS tsn,
             CAST(round(CAST(value AS DECIMAL(18,2)) * 100, 0) AS BIGINT)
               AS cents
      FROM events
      WHERE ts IS NOT NULL AND value IS NOT NULL),
    stepped AS (
      SELECT event_type, tsn, cents,
             lead(tsn) OVER (PARTITION BY event_type
                             ORDER BY tsn, event_id) - tsn AS dur
      FROM src)
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_obs,
           CAST(MAX(tsn) - MIN(tsn) AS BIGINT) AS span,
           CASE WHEN COUNT(*) >= 2 AND SUM(dur) <> 0
                THEN CAST(SUM(cents * dur) AS DOUBLE)
                     / CAST(SUM(dur) AS DOUBLE) END AS twap
    FROM stepped GROUP BY event_type
    """,
    doc="Time-weighted average value per event type (TWAP): each "
    "observation holds until the next (lead over a (ts, event_id) "
    "total order), the mean weights by holding duration — the "
    "financial-style summary a last-price average gets wrong under "
    "irregular sampling. Exact decimal Σ(value·dur)/Σdur with one "
    "double division. NOTE: epoch_us loses the sub-micro part of the "
    "nanos axis, so durations are micro-quantized ×1000 on both sides "
    "— identical in both engines.",
)
def ts_twap_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    from legendary_data_pipeline_spark.operators.stats import twap

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("value").isNotNull()
    )
    # quantize nanos to micros ×1000 to mirror DuckDB's epoch_us axis
    src = ev.select(
        "event_type",
        "event_id",
        F.expr("(ts DIV 1000) * 1000").alias("tsn"),
        _cents("value").alias("cents"),
    )
    return twap(
        src,
        ts=F.col("tsn"),
        value=F.col("cents"),
        group_cols=["event_type"],
        id_col="event_id",
    )


# ---------------------------------------------------------------------------
# k-anonymity / l-diversity privacy audit
# ---------------------------------------------------------------------------

_KANON_K = 10


@register(
    "dq_k_anonymity_customers",
    f"""
    SELECT c_nationkey, c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS class_size,
           COUNT(*) < {_KANON_K} AS at_risk,
           CAST(COUNT(DISTINCT c_acctbal) AS BIGINT) AS l_diversity
    FROM customer
    GROUP BY c_nationkey, c_mktsegment
    """,
    doc="k-anonymity/l-diversity privacy audit: one row per "
    "quasi-identifier equivalence class (nation × market segment) with "
    "its size, the at-risk flag (size < k ⇒ linkable), and the "
    "distinct-sensitive-value count (l-diversity over acctbal — a "
    "k-anonymous class with one sensitive value still leaks it). ONE "
    "groupBy on the quasi keys; the report is class-count-sized. The "
    "suppression remedy (`suppress_below_k`) is contract-tested in "
    "test_profiling.py.",
)
def dq_k_anonymity_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from legendary_data_pipeline_spark.operators.profiling import (
        k_anonymity_report,
    )

    cust = load_table(spark, sf_dir, "customer")
    return k_anonymity_report(
        cust,
        ["c_nationkey", "c_mktsegment"],
        k=_KANON_K,
        sensitive_col="c_acctbal",
    )


# ---------------------------------------------------------------------------
# mergeable quantile-sketch rollup (daily sketches → per-type quantiles)
# ---------------------------------------------------------------------------

_QS_BINS = 64
_QS_PCTS = [50, 90, 99]


@register(
    "sk_quantile_rollup",
    f"""
    WITH vals AS (
      SELECT event_type,
             CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
             {_cents_sql("value")} AS cents
      FROM events WHERE value IS NOT NULL),
    b AS (SELECT MIN(cents) AS lo, MAX(cents) AS hi FROM vals),
    sk AS (
      SELECT event_type, day,
             CAST(LEAST({_QS_BINS} - 1, GREATEST(0,
               floor((cents - b.lo) * {_QS_BINS} / (b.hi - b.lo))))
               AS INT) AS bucket,
             COUNT(*) AS cnt
      FROM vals CROSS JOIN b GROUP BY 1, 2, 3),
    merged AS (
      SELECT event_type, bucket, CAST(SUM(cnt) AS BIGINT) AS cnt
      FROM sk GROUP BY 1, 2),
    cum AS (
      SELECT event_type, bucket, cnt,
             CAST(SUM(cnt) OVER (PARTITION BY event_type
                                 ORDER BY bucket) AS BIGINT) AS cum,
             CAST(SUM(cnt) OVER (PARTITION BY event_type) AS BIGINT)
               AS total
      FROM merged),
    qs AS (SELECT unnest([{", ".join(str(p) for p in _QS_PCTS)}]) AS q_pct),
    r AS (
      SELECT c.*, q.q_pct,
             CAST(floor((total * q_pct + 99) / 100) AS BIGINT) AS rank
      FROM cum c CROSS JOIN qs q),
    firstb AS (
      SELECT event_type, q_pct, rank, total, MIN(bucket) AS bucket
      FROM r WHERE cum >= rank GROUP BY 1, 2, 3, 4)
    SELECT f.event_type, CAST(f.q_pct AS INT) AS q_pct, f.total AS n,
           CAST(b.lo AS DOUBLE)
             + (CAST(b.hi - b.lo AS DOUBLE) / {_QS_BINS})
               * CAST(f.bucket AS DOUBLE)
             + (CAST(b.hi - b.lo AS DOUBLE) / {_QS_BINS})
               * (CAST(f.rank - (c.cum - c.cnt) AS DOUBLE)
                  / CAST(c.cnt AS DOUBLE)) AS estimate
    FROM firstb f
    JOIN cum c ON c.event_type = f.event_type AND c.bucket = f.bucket
    CROSS JOIN b
    """,
    doc="Mergeable quantile rollup (the quantile analogue of the HLL "
    "distinct rollup): per-(event_type, day) fixed-grid sketches over "
    "integer cents merge EXACTLY by bucket-count sums into per-type "
    "quantile estimates (p50/p90/p99) — no rescan of the raw data. "
    "Estimator is integer math to the last step; the one fixed double "
    "expression mirrors the oracle bit-for-bit. Error ≤ one grid "
    "bucket, pinned against exact percentiles in test_stats.py.",
)
def sk_quantile_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from legendary_data_pipeline_spark.operators.stats import (
        merge_quantile_sketches,
        quantile_sketch,
        sketch_quantile,
    )

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    day = F.expr("ts DIV 86400000000000").cast("long")
    vals = ev.select(
        "event_type", day.alias("day"), _cents("value").alias("cents")
    )
    b = vals.agg(
        F.min("cents").alias("lo"), F.max("cents").alias("hi")
    ).first()
    lo, hi = int(b["lo"]), int(b["hi"])
    daily = quantile_sketch(
        vals, ["event_type", "day"], "cents", lo, hi, _QS_BINS
    )
    merged = merge_quantile_sketches(daily, ["event_type"])
    out = sketch_quantile(
        merged, ["event_type"], _QS_PCTS, lo, hi, _QS_BINS
    )
    return out.select("event_type", "q_pct", "n", "estimate")


# ---------------------------------------------------------------------------
# gaps-and-islands: longest consecutive-day activity streak per user
# ---------------------------------------------------------------------------


@register(
    "ts_user_streaks",
    """
    WITH days AS (
      SELECT DISTINCT user_id,
             CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day
      FROM events),
    isl AS (
      SELECT user_id, day,
             day - ROW_NUMBER() OVER (PARTITION BY user_id
                                      ORDER BY day) AS grp
      FROM days),
    streaks AS (
      SELECT user_id, grp, CAST(COUNT(*) AS BIGINT) AS len
      FROM isl GROUP BY user_id, grp)
    SELECT user_id,
           CAST(MAX(len) AS BIGINT) AS longest_streak,
           CAST(SUM(len) AS BIGINT) AS n_active_days,
           CAST(COUNT(*) AS BIGINT) AS n_streaks
    FROM streaks GROUP BY user_id
    """,
    doc="Gaps-and-islands streak analysis: longest run of consecutive "
    "active days per user via the classic day − row_number() island "
    "key — pure integer math on the engine's nanosecond-integer event "
    "time. One distinct, one per-user window (day ordering is local to "
    "the user partition), two partial-aggregable groupBys; no "
    "self-joins, no data-sized global sort.",
)
def ts_user_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    days = ev.select(
        "user_id", F.expr("ts DIV 86400000000000").cast("long").alias("day")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    isl = days.withColumn(
        "grp", F.col("day") - F.row_number().over(w)
    )
    streaks = isl.groupBy("user_id", "grp").agg(
        F.count(F.lit(1)).alias("len")
    )
    return streaks.groupBy("user_id").agg(
        F.max("len").alias("longest_streak"),
        F.sum("len").alias("n_active_days"),
        F.count(F.lit(1)).alias("n_streaks"),
    )


# ---------------------------------------------------------------------------
# robust outliers: median absolute deviation on the daily value series
# ---------------------------------------------------------------------------

# 3 sigma-equivalents under normality: 3 × 1.4826, written as ONE
# literal so both engines multiply identically.
_MAD_K = "4.4478"


@register(
    "st_mad_outliers",
    f"""
    WITH daily AS (
      SELECT event_type,
             CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
             CAST(SUM({_cents_sql("value")}) AS BIGINT) AS value_cents
      FROM events GROUP BY 1, 2),
    med AS (
      SELECT event_type,
             quantile_cont(value_cents, 0.5) AS med
      FROM daily GROUP BY event_type),
    dev AS (
      SELECT d.event_type, d.day, d.value_cents, m.med,
             abs(CAST(d.value_cents AS DOUBLE) - m.med) AS abs_dev
      FROM daily d JOIN med m USING (event_type)),
    mad AS (
      SELECT event_type, quantile_cont(abs_dev, 0.5) AS mad
      FROM dev GROUP BY event_type)
    SELECT v.event_type, v.day, v.value_cents, v.med, a.mad,
           CASE WHEN a.mad > 0
                THEN v.abs_dev > {_MAD_K} * a.mad
                ELSE v.abs_dev > 0 END AS is_outlier
    FROM dev v JOIN mad a USING (event_type)
    """,
    doc="Robust outlier detection: median absolute deviation on the "
    "daily per-type value series — unlike the rolling z-score "
    "(ts_zscore_anomalies), the median/MAD estimators don't let the "
    "outliers they hunt inflate the threshold (50% breakdown point vs "
    "0%). Exact integer cents in; percentile() matches quantile_cont "
    "bit-for-bit; the 3σ-equivalent gate is one shared literal. "
    "Degenerate mad = 0 (over half the days identical) falls back to "
    "'any deviation flags'. Two grouped exact percentiles + broadcast "
    "joins of per-type 1-row stats.",
)
def st_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    day = F.expr("ts DIV 86400000000000").cast("long")
    # Pin the day-grain aggregate and the deviation frame: median +
    # deviation and MAD + final flag are each two consumers, and
    # without the pins the raw events scan replayed four times.
    daily = ev.groupBy(
        "event_type", day.alias("day")
    ).agg(F.sum(_cents("value")).cast("long").alias("value_cents")).localCheckpoint(
        eager=False
    )
    med = daily.groupBy("event_type").agg(
        F.expr("percentile(value_cents, 0.5)").alias("med")
    )
    dev = daily.join(F.broadcast(med), "event_type").withColumn(
        "abs_dev",
        F.abs(F.col("value_cents").cast("double") - F.col("med")),
    ).localCheckpoint(eager=False)
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile(abs_dev, 0.5)").alias("mad")
    )
    out = dev.join(F.broadcast(mad), "event_type")
    flag = F.when(
        F.col("mad") > 0,
        F.col("abs_dev") > F.expr(_MAD_K) * F.col("mad"),
    ).otherwise(F.col("abs_dev") > 0)
    return out.select(
        "event_type", "day", "value_cents", "med", "mad",
        flag.alias("is_outlier"),
    )


# ---------------------------------------------------------------------------
# rolling 7-day distinct users via mergeable HLL sketches in a window
# ---------------------------------------------------------------------------


@register(
    "sk_rolling_distinct_users",
    """
    WITH du AS (
      SELECT DISTINCT event_type,
             CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
             user_id
      FROM events),
    days AS (SELECT DISTINCT event_type, day FROM du)
    SELECT d.event_type, d.day,
           CAST(COUNT(DISTINCT u.user_id) AS BIGINT) AS users_7d
    FROM days d
    JOIN du u ON u.event_type = d.event_type
             AND u.day BETWEEN d.day - 6 AND d.day
    GROUP BY d.event_type, d.day
    """,
    doc="Rolling 7-day distinct users per event type WITHOUT the "
    "rolling-distinct anti-pattern: one Datasketches HLL sketch per "
    "(type, day) — map-side combinable — then hll_union_agg over a "
    "RANGE day frame merges 7 fixed-size sketches per output row. "
    "Exact rolling distinct would re-shuffle raw (type, day, user) "
    "rows once per frame; sketches make the window state "
    "O(days × sketch). Oracle-exact at test scale because Datasketches "
    "HLL is exact below its sparse threshold (the X65 contract); at "
    "real cardinalities it degrades to ±2% — what a dashboard wants.",
)
def sk_rolling_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    day = F.expr("ts DIV 86400000000000").cast("long")
    daily = ev.groupBy(
        "event_type", day.alias("day")
    ).agg(F.hll_sketch_agg("user_id").alias("sk"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rangeBetween(-6, 0)
    )
    return daily.select(
        "event_type",
        "day",
        F.hll_sketch_estimate(F.hll_union_agg("sk").over(w)).alias(
            "users_7d"
        ),
    )


# ---------------------------------------------------------------------------
# audience overlap via Theta sketch set algebra
# ---------------------------------------------------------------------------


@register(
    "sk_theta_audience_overlap",
    """
    WITH du AS (SELECT DISTINCT event_type, user_id FROM events),
    t AS (SELECT DISTINCT event_type FROM du)
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           (SELECT COUNT(*) FROM du WHERE event_type = a.event_type)
             AS users_a,
           (SELECT COUNT(*) FROM du WHERE event_type = b.event_type)
             AS users_b,
           CAST((SELECT COUNT(*) FROM du x JOIN du y
                 ON x.user_id = y.user_id
                 WHERE x.event_type = a.event_type
                   AND y.event_type = b.event_type) AS BIGINT) AS overlap,
           CAST((SELECT COUNT(DISTINCT user_id) FROM du
                 WHERE event_type IN (a.event_type, b.event_type))
                 AS BIGINT) AS union_users,
           CAST((SELECT COUNT(*) FROM du x
                 WHERE x.event_type = a.event_type
                   AND NOT EXISTS (SELECT 1 FROM du y
                                   WHERE y.event_type = b.event_type
                                     AND y.user_id = x.user_id))
                 AS BIGINT) AS only_a
    FROM t a JOIN t b ON a.event_type < b.event_type
    """,
    doc="Audience overlap between event types via Theta sketch set "
    "algebra: ONE sketch per type (map-side combinable over the "
    "corpus), then intersection/union are sketch-local scalar ops on "
    "the k-row-per-type result — the segment-overlap matrix costs no "
    "corpus self-join, ever. Distinct-intersection is the operation "
    "HLL cannot do (union-only) — this is why Theta exists. Exact in "
    "exact mode (< k=4096 distincts — the test scale), ±2%% beyond; "
    "the oracle computes the true set algebra, A-minus-B included.",
)
def sk_theta_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    sk = ev.groupBy("event_type").agg(
        F.theta_sketch_agg("user_id").alias("sk")
    )
    a = sk.select(
        F.col("event_type").alias("type_a"), F.col("sk").alias("ska")
    )
    b = sk.select(
        F.col("event_type").alias("type_b"), F.col("sk").alias("skb")
    )
    pairs = a.join(b, F.col("type_a") < F.col("type_b"))
    return pairs.select(
        "type_a",
        "type_b",
        F.theta_sketch_estimate("ska").alias("users_a"),
        F.theta_sketch_estimate("skb").alias("users_b"),
        F.theta_sketch_estimate(
            F.theta_intersection("ska", "skb")
        ).alias("overlap"),
        F.theta_sketch_estimate(F.theta_union("ska", "skb")).alias(
            "union_users"
        ),
        F.theta_sketch_estimate(
            F.theta_difference("ska", "skb")
        ).alias("only_a"),
    )


# ---------------------------------------------------------------------------
# KLL quantile rollup (bounds-free sibling of sk_quantile_rollup)
# ---------------------------------------------------------------------------


def sk_kll_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable KLL quantile rollup: per-(type, day)
    kll_sketch_agg_bigint over integer cents, kll_merge_agg rollup to
    per-type sketches, p50/p90/p99 reads. The bounds-free sibling of
    the fixed-grid sketch (X102 `sk_quantile_rollup`): no prior min/max
    pass, guaranteed rank error (~1.65% at the default k=200) instead
    of value-grid error — but RANDOMIZED (compaction coin flips), so it
    cannot carry a hash oracle. Round 7 retired its rows-only registry
    row: the mergeable-quantile-rollup surface is oracle-paired through
    X102, and this form stays pinned by the measured rank-error
    envelope in tests/test_sketch_rollup.py."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    day = F.expr("ts DIV 86400000000000").cast("long")
    daily = ev.groupBy("event_type", day.alias("day")).agg(
        F.kll_sketch_agg_bigint(_cents("value")).alias("sk")
    )
    merged = daily.groupBy("event_type").agg(
        F.kll_merge_agg_bigint("sk").alias("sk")
    )
    return merged.select(
        "event_type",
        F.kll_sketch_get_n_bigint("sk").alias("n"),
        F.expr("kll_sketch_get_quantile_bigint(sk, 0.5)").alias("p50_cents"),
        F.expr("kll_sketch_get_quantile_bigint(sk, 0.9)").alias("p90_cents"),
        F.expr("kll_sketch_get_quantile_bigint(sk, 0.99)").alias("p99_cents"),
    )


@register(
    "sk_theta_core_audience",
    """
    WITH du AS (SELECT DISTINCT event_type, user_id FROM events),
    n AS (SELECT COUNT(DISTINCT event_type) AS k FROM du),
    core AS (
      SELECT user_id FROM du GROUP BY user_id
      HAVING COUNT(DISTINCT event_type) = (SELECT k FROM n))
    SELECT (SELECT CAST(k AS BIGINT) FROM n) AS n_segments,
           CAST((SELECT COUNT(*) FROM core) AS BIGINT) AS core_users
    """,
    doc="Core audience: users active in EVERY event type, via "
    "theta_intersection_agg over the per-type sketches — the N-way "
    "set intersection as ONE tiny aggregation over k sketch rows "
    "(the pairwise query's agg-form sibling). Exact in exact mode; "
    "the oracle computes the true N-way intersection.",
)
def sk_theta_core_audience(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    sk = ev.groupBy("event_type").agg(
        F.theta_sketch_agg("user_id").alias("sk")
    )
    return sk.agg(
        F.count(F.lit(1)).alias("n_segments"),
        F.theta_sketch_estimate(
            F.theta_intersection_agg("sk")
        ).alias("core_users"),
    )


# ---------------------------------------------------------------------------
# exact-moment association statistics (operators/stats.py)
# ---------------------------------------------------------------------------


@register(
    "st_correlation_matrix",
    """
    WITH d AS (
      SELECT CAST(round(l_quantity * 10000) AS HUGEINT) AS q,
             CAST(round(l_extendedprice * 10000) AS HUGEINT) AS p,
             CAST(round(l_discount * 10000) AS HUGEINT) AS di
      FROM lineitem
      WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
        AND l_discount IS NOT NULL),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             SUM(q) AS sq, SUM(p) AS sp_, SUM(di) AS sd,
             SUM(q*q) AS sqq, SUM(p*p) AS spp, SUM(di*di) AS sdd,
             SUM(q*p) AS sqp, SUM(q*di) AS sqd, SUM(p*di) AS spd
      FROM d)
    SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b, n,
           CAST(round(((CAST(n AS DOUBLE)*CAST(sqp AS DOUBLE)
                  - CAST(sq AS DOUBLE)*CAST(sp_ AS DOUBLE))
             / nullif(sqrt(CAST(n AS DOUBLE)*CAST(sqq AS DOUBLE)
                           - CAST(sq AS DOUBLE)*CAST(sq AS DOUBLE))
                    * sqrt(CAST(n AS DOUBLE)*CAST(spp AS DOUBLE)
                           - CAST(sp_ AS DOUBLE)*CAST(sp_ AS DOUBLE)),
                    0.0)) * 1e6) AS BIGINT) AS corr_e6
    FROM m
    UNION ALL
    SELECT 'l_quantity', 'l_discount', n,
           CAST(round(((CAST(n AS DOUBLE)*CAST(sqd AS DOUBLE)
                  - CAST(sq AS DOUBLE)*CAST(sd AS DOUBLE))
             / nullif(sqrt(CAST(n AS DOUBLE)*CAST(sqq AS DOUBLE)
                           - CAST(sq AS DOUBLE)*CAST(sq AS DOUBLE))
                    * sqrt(CAST(n AS DOUBLE)*CAST(sdd AS DOUBLE)
                           - CAST(sd AS DOUBLE)*CAST(sd AS DOUBLE)),
                    0.0)) * 1e6) AS BIGINT)
    FROM m
    UNION ALL
    SELECT 'l_extendedprice', 'l_discount', n,
           CAST(round(((CAST(n AS DOUBLE)*CAST(spd AS DOUBLE)
                  - CAST(sp_ AS DOUBLE)*CAST(sd AS DOUBLE))
             / nullif(sqrt(CAST(n AS DOUBLE)*CAST(spp AS DOUBLE)
                           - CAST(sp_ AS DOUBLE)*CAST(sp_ AS DOUBLE))
                    * sqrt(CAST(n AS DOUBLE)*CAST(sdd AS DOUBLE)
                           - CAST(sd AS DOUBLE)*CAST(sd AS DOUBLE)),
                    0.0)) * 1e6) AS BIGINT)
    FROM m
    """,
    doc="Pairwise Pearson correlation over three lineitem measures "
    "from ONE aggregation pass of exact moments — order-independent "
    "integer/decimal sums make the result engine- and partitioning-"
    "deterministic, unlike float corr(). Correlation is scale-"
    "invariant, so the oracle's 10^4-scaled HUGEINT moments and the "
    "engine's decimal(·,4) moments agree to well inside round(6). One "
    "scan, map-side combinable, reshape on the 1-row result.",
)
def st_correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from legendary_data_pipeline_spark.operators.stats import (
        correlation_matrix,
    )

    li = load_table(spark, sf_dir, "lineitem")
    return correlation_matrix(
        li, ["l_quantity", "l_extendedprice", "l_discount"], scaled_e6=True
    )


@register(
    "dq_ks_order_totals_drift",
    f"""
    WITH b AS (
      SELECT {_cents_sql("o_totalprice")} AS v,
             CAST(COUNT(*) AS BIGINT) AS cb
      FROM orders
      WHERE o_orderdate < TIMESTAMP '1998-01-01'
        AND o_totalprice IS NOT NULL
      GROUP BY 1),
    c AS (
      SELECT {_cents_sql("o_totalprice")} AS v,
             CAST(COUNT(*) AS BIGINT) AS cc
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1998-01-01'
        AND o_totalprice IS NOT NULL
      GROUP BY 1),
    m AS (
      SELECT COALESCE(b.v, c.v) AS v,
             COALESCE(cb, 0) AS cb, COALESCE(cc, 0) AS cc
      FROM b FULL OUTER JOIN c ON b.v = c.v),
    cum AS (
      SELECT v,
             CAST(SUM(cb) OVER (ORDER BY v
               ROWS UNBOUNDED PRECEDING) AS HUGEINT) AS rb,
             CAST(SUM(cc) OVER (ORDER BY v
               ROWS UNBOUNDED PRECEDING) AS HUGEINT) AS rc,
             CAST(SUM(cb) OVER () AS HUGEINT) AS nb,
             CAST(SUM(cc) OVER () AS HUGEINT) AS nc
      FROM m),
    d AS (
      SELECT v, abs(rb * nc - rc * nb) AS dd, nb, nc FROM cum),
    top AS (
      SELECT * FROM d ORDER BY dd DESC, v ASC LIMIT 1)
    SELECT CAST(nb AS BIGINT) AS n_base, CAST(nc AS BIGINT) AS n_current,
           CAST(round(CAST(dd AS DOUBLE)
                 / (CAST(nb AS DOUBLE) * CAST(nc AS DOUBLE)) * 1e6)
             AS BIGINT) AS d_stat_e6,
           v AS at_value,
           CAST(round((CAST(dd AS DOUBLE)
                  / (CAST(nb AS DOUBLE) * CAST(nc AS DOUBLE)))
                 * sqrt(CAST(nb AS DOUBLE) * CAST(nc AS DOUBLE)
                        / (CAST(nb AS DOUBLE) + CAST(nc AS DOUBLE)))
                 * 1e6) AS BIGINT) AS sqrt_scaled_e6
    FROM top
    """,
    doc="EXACT two-sample Kolmogorov-Smirnov drift of order totals "
    "(cents) between pre-/post-1998 snapshots — the unbinned numeric "
    "companion to PSI and the chi-square monitors: D = sup over the "
    "exact empirical CDFs, so no binning choice can hide a shift. "
    "Every CDF difference is an integer cross-product |c1*n2 - c2*n1| "
    "in decimal(38,0); argmax and supremum are bit-deterministic with "
    "division/sqrt only in the final 1-row projection. Count tables + "
    "one distinct-value cumulative window (the Spearman construction). "
    "X157.",
)
def dq_ks_order_totals_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from legendary_data_pipeline_spark.operators.profiling import (
        ks_two_sample,
    )

    orders = load_table(spark, sf_dir, "orders")
    cut = F.lit("1998-01-01").cast("timestamp")
    return ks_two_sample(
        orders.filter(F.col("o_orderdate") < cut),
        orders.filter(F.col("o_orderdate") >= cut),
        _cents("o_totalprice"),
    )


@register(
    "st_gini_order_value",
    f"""
    WITH d AS (
      SELECT o_orderpriority AS pri, {_cents_sql("o_totalprice")} AS v
      FROM orders WHERE o_totalprice IS NOT NULL),
    g AS (
      SELECT pri, v, CAST(COUNT(*) AS HUGEINT) AS c FROM d GROUP BY 1, 2),
    cum AS (
      SELECT pri, v, c,
             COALESCE(SUM(c) OVER (PARTITION BY pri ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) AS below
      FROM g),
    t AS (
      SELECT pri,
             CAST(SUM(c) AS HUGEINT) AS n,
             CAST(SUM(CAST(v AS HUGEINT) * c) AS HUGEINT) AS s,
             CAST(SUM(CAST(v AS HUGEINT)
                      * (below * c + c * (c + 1) / 2)) AS HUGEINT) AS w
      FROM cum GROUP BY 1)
    SELECT pri AS o_orderpriority, CAST(n AS BIGINT) AS n,
           CAST(s AS BIGINT) AS total,
           CAST(round((CAST(2 * w - (n + 1) * s AS DOUBLE)
                 / nullif(CAST(n * s AS DOUBLE), 0.0)) * 1e6)
             AS BIGINT) AS gini_e6
    FROM t
    """,
    doc="EXACT Gini concentration of order value (cents) per priority "
    "band — the inequality measure behind 'is spend concentrated in a "
    "few orders?'. Sorted-position identity with ties compressed to "
    "the distinct-value frame (the Spearman construction); every term "
    "exact decimal(38,0) to the single final division. One groupBy + "
    "a cardinality-sized cumulative window per group. X153.",
)
def st_gini_order_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    from legendary_data_pipeline_spark.operators.stats import (
        gini_concentration,
    )

    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice").isNotNull()
    )
    d = orders.select(
        "o_orderpriority", _cents("o_totalprice").alias("__cents")
    )
    return gini_concentration(
        d, "__cents", group_cols=["o_orderpriority"], scaled_e6=True
    )


@register(
    "st_kendall_tau_qty_discount",
    """
    WITH d AS (
      SELECT CAST(l_quantity AS BIGINT) AS a,
             CAST(round(l_discount * 100) AS BIGINT) AS b
      FROM lineitem
      WHERE l_quantity IS NOT NULL AND l_discount IS NOT NULL),
    cells AS (
      SELECT a, b, CAST(COUNT(*) AS HUGEINT) AS n
      FROM d GROUP BY 1, 2),
    cd AS (
      SELECT
        CAST(COALESCE(SUM(CASE WHEN l.b < r.b THEN l.n * r.n END), 0)
             AS DECIMAL(38,0)) AS concordant,
        CAST(COALESCE(SUM(CASE WHEN l.b > r.b THEN l.n * r.n END), 0)
             AS DECIMAL(38,0)) AS discordant
      FROM cells l JOIN cells r ON l.a < r.a),
    nt AS (
      SELECT CAST(SUM(n) AS HUGEINT) AS ntot,
             CAST(SUM(n) * (SUM(n) - 1) / 2 AS HUGEINT) AS n0
      FROM cells),
    t1 AS (
      SELECT CAST(SUM(rt * (rt - 1) / 2) AS HUGEINT) AS n1
      FROM (SELECT CAST(SUM(n) AS HUGEINT) AS rt FROM cells GROUP BY a)),
    t2 AS (
      SELECT CAST(SUM(ct * (ct - 1) / 2) AS HUGEINT) AS n2
      FROM (SELECT CAST(SUM(n) AS HUGEINT) AS ct FROM cells GROUP BY b))
    SELECT CAST(ntot AS BIGINT) AS n,
           CAST(concordant AS BIGINT) AS concordant,
           CAST(discordant AS BIGINT) AS discordant,
           CAST(round((CAST(concordant - discordant AS DOUBLE)
                 / nullif(sqrt(CAST(n0 - n1 AS DOUBLE)
                               * CAST(n0 - n2 AS DOUBLE)), 0.0)) * 1e6)
             AS BIGINT) AS tau_b_e6
    FROM cd, nt, t1, t2
    """,
    doc="EXACT tie-corrected Kendall tau-b for quantity x discount "
    "from the contingency grid: concordant/discordant pair counts as "
    "decimal(38,0) cell-product sums over a CELL-table self-join "
    "(K^2 metadata terms, never the data), tie terms from marginals, "
    "one final sqrt/division. The ordinal-association companion to "
    "Spearman (X152). One data-sized groupBy; everything after is "
    "grid-sized. Round-9: tau is emitted as the integer-scaled "
    "tau_b_e6 BIGINT (round(tau*1e6)) instead of round(tau, 6) DOUBLE "
    "— the r8 red driver cell proved round(DOUBLE, 6) is not "
    "engine-version-canonical while every upstream step here is exact. "
    "Round-10: concordant/discordant are emitted as BIGINT, not "
    "decimal(38,0) — the r9 cell stayed red with an integer tau, and "
    "every driver hash-red in project history had DecimalType output "
    "columns (harness DECIMAL canonicalization). Pair counts are "
    "bounded by n^2/4: int64-safe to n ~ 6e9 rows per tested pair.",
)
def st_kendall_tau_qty_discount(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from legendary_data_pipeline_spark.operators.stats import kendall_tau_b

    li = load_table(spark, sf_dir, "lineitem")
    d = li.select(
        F.col("l_quantity").cast("long").alias("qty"),
        F.round(F.col("l_discount") * 100).cast("long").alias("disc_pct"),
    )
    return kendall_tau_b(d, "qty", "disc_pct", scaled_e6=True)


_SPEAR_CORR = """
           CAST(round(((CAST(n AS DOUBLE)*CAST({sp} AS DOUBLE)
                  - CAST({sa} AS DOUBLE)*CAST({sb} AS DOUBLE))
             / nullif(sqrt(CAST(n AS DOUBLE)*CAST({ssa} AS DOUBLE)
                           - CAST({sa} AS DOUBLE)*CAST({sa} AS DOUBLE))
                    * sqrt(CAST(n AS DOUBLE)*CAST({ssb} AS DOUBLE)
                           - CAST({sb} AS DOUBLE)*CAST({sb} AS DOUBLE)),
                    0.0)) * 1e6) AS BIGINT) AS rho_e6
"""


def _rank2_cte(name: str, col: str) -> str:
    """DuckDB CTEs mapping a value column to doubled average ranks
    (2·below + cnt + 1 — mirrors operators/stats.spearman_matrix)."""
    return f"""
    {name}c AS (
      SELECT {col} AS v, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM d GROUP BY 1),
    {name} AS (
      SELECT v,
             2 * COALESCE(SUM(cnt) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + cnt + 1 AS r
      FROM {name}c)"""


@register(
    "st_spearman_matrix",
    f"""
    WITH d AS (
      SELECT CAST(round(l_quantity * 10000) AS BIGINT) AS q,
             CAST(round(l_extendedprice * 10000) AS BIGINT) AS p,
             CAST(round(l_discount * 10000) AS BIGINT) AS di
      FROM lineitem
      WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
        AND l_discount IS NOT NULL),
    {_rank2_cte("rq", "q")},
    {_rank2_cte("rp", "p")},
    {_rank2_cte("rd", "di")},
    rk AS (
      SELECT rq.r AS q, rp.r AS p, rd.r AS di
      FROM d JOIN rq ON d.q = rq.v
             JOIN rp ON d.p = rp.v
             JOIN rd ON d.di = rd.v),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CAST(q AS HUGEINT)) AS sq, SUM(CAST(p AS HUGEINT)) AS sp_,
             SUM(CAST(di AS HUGEINT)) AS sd,
             SUM(CAST(q AS HUGEINT)*q) AS sqq,
             SUM(CAST(p AS HUGEINT)*p) AS spp,
             SUM(CAST(di AS HUGEINT)*di) AS sdd,
             SUM(CAST(q AS HUGEINT)*p) AS sqp,
             SUM(CAST(q AS HUGEINT)*di) AS sqd,
             SUM(CAST(p AS HUGEINT)*di) AS spd
      FROM rk)
    SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b, n,
           {_SPEAR_CORR.format(sp="sqp", sa="sq", sb="sp_", ssa="sqq", ssb="spp")}
    FROM m
    UNION ALL
    SELECT 'l_quantity', 'l_discount', n,
           {_SPEAR_CORR.format(sp="sqd", sa="sq", sb="sd", ssa="sqq", ssb="sdd")}
    FROM m
    UNION ALL
    SELECT 'l_extendedprice', 'l_discount', n,
           {_SPEAR_CORR.format(sp="spd", sa="sp_", sb="sd", ssa="spp", ssb="sdd")}
    FROM m
    """,
    doc="Pairwise Spearman rank correlation (tie-corrected, via "
    "doubled average ranks kept fully integer: 2*below + cnt + 1) over "
    "the same three lineitem measures as the Pearson matrix — the "
    "robust monotone-relationship companion. Ranks build from "
    "DISTINCT-VALUE count frames (cardinality-sized windows, value-"
    "keyed joins back), then the exact decimal moment pass; the rank "
    "construction and final fixed double expression replay in DuckDB "
    "bit-for-bit. X146.",
)
def st_spearman_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from legendary_data_pipeline_spark.operators.stats import (
        spearman_matrix,
    )

    li = load_table(spark, sf_dir, "lineitem")
    # int64_values: lineitem measures are < 10^6, far inside the
    # fastpath's |v| <= ~9e11 envelope at scale=4; the quantization is
    # the oracle's own round(v*10000)::BIGINT construction (identical
    # ranks, ~33% faster rank build — r16 A/B, values bit-identical).
    return spearman_matrix(
        li,
        ["l_quantity", "l_extendedprice", "l_discount"],
        scaled_e6=True,
        int64_values=True,
    )


_CONTINGENCY_SQL = """
    cells AS (
      SELECT l_returnflag AS a, l_linestatus AS b,
             CAST(COUNT(*) AS BIGINT) AS obs
      FROM lineitem GROUP BY l_returnflag, l_linestatus),
    marg AS (
      SELECT a, b, obs,
             SUM(obs) OVER (PARTITION BY a) AS row_tot,
             SUM(obs) OVER (PARTITION BY b) AS col_tot,
             SUM(obs) OVER () AS n
      FROM cells)
"""


@register(
    "st_chi_square_independence",
    f"""
    WITH {_CONTINGENCY_SQL},
    grid AS (
      SELECT rt.a, rt.row_tot, ct.b, ct.col_tot
      FROM (SELECT a, SUM(obs) AS row_tot FROM cells GROUP BY a) rt,
           (SELECT b, SUM(obs) AS col_tot FROM cells GROUP BY b) ct),
    fullgrid AS (
      SELECT g.a, g.b, g.row_tot, g.col_tot,
             COALESCE(c.obs, 0) AS obs,
             (SELECT SUM(obs) FROM cells) AS n
      FROM grid g LEFT JOIN cells c
        ON g.a IS NOT DISTINCT FROM c.a AND g.b IS NOT DISTINCT FROM c.b),
    terms AS (
      SELECT n, a, b,
             (CAST(obs AS DOUBLE)
              - CAST(row_tot AS DOUBLE) * CAST(col_tot AS DOUBLE)
                / CAST(n AS DOUBLE))
             * (CAST(obs AS DOUBLE)
                - CAST(row_tot AS DOUBLE) * CAST(col_tot AS DOUBLE)
                  / CAST(n AS DOUBLE))
             / (CAST(row_tot AS DOUBLE) * CAST(col_tot AS DOUBLE)
                / CAST(n AS DOUBLE)) AS term
      FROM fullgrid)
    SELECT CAST(max(n) AS BIGINT) AS n,
           CAST(COUNT(DISTINCT a) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT b) AS BIGINT) AS n_cols,
           CAST((COUNT(DISTINCT a) - 1) * (COUNT(DISTINCT b) - 1) AS BIGINT)
             AS dof,
           CASE WHEN (COUNT(DISTINCT a) - 1) * (COUNT(DISTINCT b) - 1) > 0
                THEN CAST(round(SUM(term) * 1e6) AS BIGINT)
           END AS chi2_e6,
           CASE WHEN (COUNT(DISTINCT a) - 1) * (COUNT(DISTINCT b) - 1) > 0
                THEN CAST(round(sqrt(SUM(term)
                     / (CAST(max(n) AS DOUBLE)
                        * (least(COUNT(DISTINCT a), COUNT(DISTINCT b)) - 1)))
                     * 1e6) AS BIGINT)
           END AS cramers_v_e6
    FROM terms
    """,
    doc="Pearson chi-square independence test + Cramér's V for "
    "returnflag × linestatus: everything flows from exact contingency "
    "counts (one pair-key groupBy, broadcast marginals); the statistic "
    "is a fixed double expression over exact integers — deterministic "
    "cross-engine (explicit multiply, no pow()).",
)
def st_chi_square_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    from legendary_data_pipeline_spark.operators.stats import (
        chi_square_independence,
    )

    li = load_table(spark, sf_dir, "lineitem")
    return chi_square_independence(li, "l_returnflag", "l_linestatus")


@register(
    "st_mutual_information",
    f"""
    WITH {_CONTINGENCY_SQL},
    terms AS (
      SELECT n,
             (CAST(obs AS DOUBLE) / CAST(n AS DOUBLE))
               * ln(CAST(obs AS DOUBLE) * CAST(n AS DOUBLE)
                    / (CAST(row_tot AS DOUBLE) * CAST(col_tot AS DOUBLE)))
               AS mi_term,
             (CAST(obs AS DOUBLE) / CAST(n AS DOUBLE))
               * ln(CAST(n AS DOUBLE) / CAST(row_tot AS DOUBLE)) AS ha_term,
             (CAST(obs AS DOUBLE) / CAST(n AS DOUBLE))
               * ln(CAST(n AS DOUBLE) / CAST(col_tot AS DOUBLE)) AS hb_term
      FROM marg)
    SELECT CAST(max(n) AS BIGINT) AS n,
           CAST(round(SUM(ha_term) * 1e6) AS BIGINT) AS h_a_e6,
           CAST(round(SUM(hb_term) * 1e6) AS BIGINT) AS h_b_e6,
           CAST(round(SUM(mi_term) * 1e6) AS BIGINT) AS mi_e6,
           CAST(round((SUM(mi_term)
                 / nullif(sqrt(SUM(ha_term) * SUM(hb_term)), 0.0)) * 1e6)
                AS BIGINT) AS nmi_e6
    FROM terms
    """,
    doc="Entropy / mutual information (nats) for returnflag × "
    "linestatus from the same exact contingency pass: H(a), H(b), "
    "I(a;b), and NMI = I/sqrt(H·H). ln is the one libm call — e6 "
    "integer emission absorbs any last-ulp engine difference "
    "(round-9 representation convention).",
)
def st_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    from legendary_data_pipeline_spark.operators.stats import (
        mutual_information,
    )

    li = load_table(spark, sf_dir, "lineitem")
    return mutual_information(li, "l_returnflag", "l_linestatus")


# ---------------------------------------------------------------------------
# time-series gap fill (operators/stats.py gap_fill_daily)
# ---------------------------------------------------------------------------


@register(
    "ts_gap_fill_daily",
    """
    WITH daily AS (
      SELECT event_type,
             CAST(date_trunc('day', ts) AS DATE) AS d,
             CAST(COUNT(*) AS BIGINT) AS events,
             CAST(SUM(CAST(round(CAST(value AS DECIMAL(18,2)) * 100, 0)
                           AS BIGINT)) AS BIGINT) AS total_value_cents
      FROM events GROUP BY 1, 2),
    sparse AS (
      SELECT * FROM daily
      WHERE date_diff('day', DATE '1970-01-01', d) % 3 <> 0),
    bounds AS (
      SELECT event_type, min(d) AS lo, max(d) AS hi
      FROM sparse GROUP BY event_type),
    spine AS (
      SELECT event_type,
             CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE)
               AS d
      FROM bounds),
    joined AS (
      SELECT s.event_type, s.d, q.events, q.total_value_cents
      FROM spine s LEFT JOIN sparse q USING (event_type, d))
    SELECT event_type, strftime(d, '%Y-%m-%d') AS day,
           last_value(events IGNORE NULLS) OVER w AS events,
           last_value(total_value_cents IGNORE NULLS) OVER w
             AS total_value_cents,
           events IS NOT NULL AS observed
    FROM joined
    WINDOW w AS (PARTITION BY event_type ORDER BY d
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
    doc="Daily-series densification: per event_type, every calendar "
    "day between first and last observation with last-observation-"
    "carried-forward values and an `observed` flag (the fixture drops "
    "every 3rd epoch day to create real gaps). Spine = per-GROUP "
    "min/max + one sequence explode — group-bounded, never a global "
    "calendar cross join; fill = one running window per group.",
)
def ts_gap_fill_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    from legendary_data_pipeline_spark.operators.stats import gap_fill_daily

    ev = load_table(spark, sf_dir, "events")
    d = F.expr(
        "date_add(DATE '1970-01-01', CAST(ts DIV 86400000000000 AS INT))"
    )
    cents = F.round(F.col("value").cast("decimal(18,2)") * 100, 0).cast("long")
    daily = ev.groupBy("event_type", d.alias("d")).agg(
        F.count(F.lit(1)).alias("events"),
        F.sum(cents).alias("total_value_cents"),
    )
    sparse = daily.filter(
        F.datediff(F.col("d"), F.lit("1970-01-01").cast("date")) % 3 != 0
    )
    filled = gap_fill_daily(
        sparse, "d", ["events", "total_value_cents"], ["event_type"]
    )
    return filled.select(
        "event_type",
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        "events",
        "total_value_cents",
        "observed",
    )


# ---------------------------------------------------------------------------
# co-purchase graph triangles (operators/graph.py triangle_count)
# ---------------------------------------------------------------------------


@register(
    "gr_copurchase_triangles",
    """
    WITH e AS (
      SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey)
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM e) AS n_edges,
           (SELECT CAST(COUNT(*) AS BIGINT)
            FROM e e1 JOIN e e2 ON e1.b = e2.a
                      JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b)
             AS n_triangles
    """,
    doc="Triangle count of the part co-purchase graph (parts sharing "
    "an order are connected): canonical a<b edge dedup, then the "
    "ordered closure e(a,b)⋈e(b,c)⋈e(a,c) — two equi-joins, each "
    "triangle counted exactly once, no cartesian. The clustering-"
    "density primitive for dup-cluster cohesion and co-occurrence "
    "analysis.",
)
def gr_copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from legendary_data_pipeline_spark.operators.graph import triangle_count

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    a = li.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("id_a"))
    b = li.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("id_b"))
    edges = a.join(b, "k").filter(F.col("id_a") < F.col("id_b")).select(
        "id_a", "id_b"
    )
    # edge-iterator form: ~2x faster than the wedge join on this 1.2M-
    # edge graph (the sum-of-wedges work runs inside array_intersect
    # instead of shuffling a wedge-sized join); identical count.
    # orient="degree" (r11 verdict #4): this gate query is the pattern
    # users copy, and real co-purchase graphs are power-law — the
    # degree orientation bounds per-node adjacency lists by O(sqrt(m))
    # where the id orientation can hand a hub its full degree. The
    # count is orientation-invariant (property-tested equivalence in
    # tests/test_graph.py).
    return triangle_count(edges, method="adjacency", orient="degree")


# ---------------------------------------------------------------------------
# RFM segmentation (operators/stats.py rfm_scores)
# ---------------------------------------------------------------------------


@register(
    "an_rfm_segmentation",
    """
    WITH base AS (
      SELECT o_custkey AS customer,
             CAST(o_orderdate AS DATE) AS d,
             CAST(round(CAST(o_totalprice AS DECIMAL(18,2)) * 100, 0)
                  AS BIGINT) AS cents
      FROM orders),
    per_cust AS (
      SELECT customer, max(d) AS last_d,
             CAST(COUNT(*) AS BIGINT) AS frequency,
             CAST(SUM(cents) AS BIGINT) AS monetary_cents
      FROM base GROUP BY customer),
    anch AS (SELECT max(d) AS anchor FROM base),
    cust AS (
      SELECT customer,
             CAST(date_diff('day', last_d, anchor) AS BIGINT)
               AS recency_days,
             frequency, monetary_cents
      FROM per_cust, anch),
    thr AS (
      SELECT
        quantile_cont(CAST(recency_days AS DOUBLE), 0.2) AS r20,
        quantile_cont(CAST(recency_days AS DOUBLE), 0.4) AS r40,
        quantile_cont(CAST(recency_days AS DOUBLE), 0.6) AS r60,
        quantile_cont(CAST(recency_days AS DOUBLE), 0.8) AS r80,
        quantile_cont(CAST(frequency AS DOUBLE), 0.2) AS f20,
        quantile_cont(CAST(frequency AS DOUBLE), 0.4) AS f40,
        quantile_cont(CAST(frequency AS DOUBLE), 0.6) AS f60,
        quantile_cont(CAST(frequency AS DOUBLE), 0.8) AS f80,
        quantile_cont(CAST(monetary_cents AS DOUBLE), 0.2) AS m20,
        quantile_cont(CAST(monetary_cents AS DOUBLE), 0.4) AS m40,
        quantile_cont(CAST(monetary_cents AS DOUBLE), 0.6) AS m60,
        quantile_cont(CAST(monetary_cents AS DOUBLE), 0.8) AS m80
      FROM cust),
    scored AS (
      SELECT c.*,
        1 + CAST(CAST(recency_days AS DOUBLE) < r80 AS INT)
          + CAST(CAST(recency_days AS DOUBLE) < r60 AS INT)
          + CAST(CAST(recency_days AS DOUBLE) < r40 AS INT)
          + CAST(CAST(recency_days AS DOUBLE) < r20 AS INT) AS r_score,
        1 + CAST(CAST(frequency AS DOUBLE) > f20 AS INT)
          + CAST(CAST(frequency AS DOUBLE) > f40 AS INT)
          + CAST(CAST(frequency AS DOUBLE) > f60 AS INT)
          + CAST(CAST(frequency AS DOUBLE) > f80 AS INT) AS f_score,
        1 + CAST(CAST(monetary_cents AS DOUBLE) > m20 AS INT)
          + CAST(CAST(monetary_cents AS DOUBLE) > m40 AS INT)
          + CAST(CAST(monetary_cents AS DOUBLE) > m60 AS INT)
          + CAST(CAST(monetary_cents AS DOUBLE) > m80 AS INT) AS m_score
      FROM cust c, thr)
    SELECT customer, recency_days, frequency, monetary_cents,
           r_score, f_score, m_score,
           CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR)
             || CAST(m_score AS VARCHAR) AS rfm
    FROM scored
    """,
    doc="RFM customer segmentation, 1-5 per dimension, via broadcast "
    "EXACT-quintile thresholds + comparison scoring — the scale-right "
    "form (a global ntile(5) window would single-partition every "
    "customer; threshold-compare is a projection). Recency inverts "
    "(recent = 5). One customer groupBy, one 1-row quantile agg.",
)
def an_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from legendary_data_pipeline_spark.operators.stats import rfm_scores

    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(
        F.col("o_totalprice").cast("decimal(18,2)") * 100, 0
    ).cast("long")
    return rfm_scores(orders, "o_custkey", "o_orderdate", cents)


# ---------------------------------------------------------------------------
# table reconciliation (operators/profiling.py table_diff)
# ---------------------------------------------------------------------------
# The right side derives deterministically from orders in BOTH engines:
# keys %97 dropped (only_left), %89 get +100 cents (changed), %113 get
# a synthetic priority (changed), %101 reappear key-shifted
# (only_right).


@register(
    "dq_table_diff",
    """
    WITH base AS (
      SELECT o_orderkey, o_orderstatus,
             CAST(round(CAST(o_totalprice AS DECIMAL(18,2)) * 100, 0)
                  AS BIGINT) AS cents,
             o_orderpriority
      FROM orders),
    right_t AS (
      SELECT o_orderkey, o_orderstatus,
             CASE WHEN o_orderkey % 89 = 0 THEN cents + 100
                  ELSE cents END AS cents,
             CASE WHEN o_orderkey % 113 = 0 THEN '9-SYNTH'
                  ELSE o_orderpriority END AS o_orderpriority
      FROM base WHERE o_orderkey % 97 <> 0
      UNION ALL
      SELECT o_orderkey + 100000000, o_orderstatus, cents, o_orderpriority
      FROM base WHERE o_orderkey % 101 = 0),
    j AS (
      SELECT COALESCE(l.o_orderkey, r.o_orderkey) AS o_orderkey,
             l.o_orderkey IS NOT NULL AS has_l,
             r.o_orderkey IS NOT NULL AS has_r,
             l.o_orderstatus AS l_o_orderstatus,
             l.cents AS l_cents,
             l.o_orderpriority AS l_o_orderpriority,
             r.o_orderstatus AS r_o_orderstatus,
             r.cents AS r_cents,
             r.o_orderpriority AS r_o_orderpriority
      FROM base l FULL OUTER JOIN right_t r
        ON l.o_orderkey IS NOT DISTINCT FROM r.o_orderkey)
    SELECT o_orderkey,
           CASE WHEN NOT has_r THEN 'only_left'
                WHEN NOT has_l THEN 'only_right'
                WHEN len(list_filter([
                       CASE WHEN l_o_orderstatus IS DISTINCT FROM r_o_orderstatus THEN 'o_orderstatus' END,
                       CASE WHEN l_cents IS DISTINCT FROM r_cents THEN 'cents' END,
                       CASE WHEN l_o_orderpriority IS DISTINCT FROM r_o_orderpriority THEN 'o_orderpriority' END
                     ], __x -> __x IS NOT NULL)) > 0 THEN 'changed'
                ELSE 'same' END AS status,
           CASE WHEN has_l AND has_r THEN
             COALESCE(array_to_string(list_sort(list_filter([
               CASE WHEN l_o_orderstatus IS DISTINCT FROM r_o_orderstatus THEN 'o_orderstatus' END,
               CASE WHEN l_cents IS DISTINCT FROM r_cents THEN 'cents' END,
               CASE WHEN l_o_orderpriority IS DISTINCT FROM r_o_orderpriority THEN 'o_orderpriority' END
             ], __x -> __x IS NOT NULL)), ','), '') END AS changed_cols,
           l_o_orderstatus, l_cents, l_o_orderpriority,
           r_o_orderstatus, r_cents, r_o_orderpriority
    FROM j
    """,
    doc="Row-level table reconciliation (anti-entropy): full-outer on "
    "the key, per-row status only_left/only_right/changed/same with "
    "the NULL-safe changed-column list — the audit the reference's "
    "revalue job implies (it recomputes a table the pipeline also "
    "builds). ONE key shuffle; per-column compare is a projection. At "
    "100 TB diff per-partition checksums first and full-outer only "
    "disagreeing partitions. Budget 3 by contract (r13 sweep): the "
    "FIXTURE synthesizes left, the changed slice, and the inserted "
    "slice from the same table (3 pruned 4-column reads); production "
    "use diffs two distinct tables — 2 scans.",
    scan_budget=3,
)
def dq_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from legendary_data_pipeline_spark.operators.profiling import table_diff

    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(
        F.col("o_totalprice").cast("decimal(18,2)") * 100, 0
    ).cast("long")
    base = orders.select(
        "o_orderkey", "o_orderstatus", cents.alias("cents"), "o_orderpriority"
    )
    right = base.filter(F.col("o_orderkey") % 97 != 0).select(
        "o_orderkey",
        "o_orderstatus",
        F.when(F.col("o_orderkey") % 89 == 0, F.col("cents") + 100)
        .otherwise(F.col("cents"))
        .alias("cents"),
        F.when(F.col("o_orderkey") % 113 == 0, F.lit("9-SYNTH"))
        .otherwise(F.col("o_orderpriority"))
        .alias("o_orderpriority"),
    ).unionByName(
        base.filter(F.col("o_orderkey") % 101 == 0).select(
            (F.col("o_orderkey") + 100000000).alias("o_orderkey"),
            "o_orderstatus",
            "cents",
            "o_orderpriority",
        )
    )
    out = table_diff(
        base, right, ["o_orderkey"],
        ["o_orderstatus", "cents", "o_orderpriority"],
    )
    # Driver-hash convention: arrays → joined string for the compare.
    return out.withColumn(
        "changed_cols", F.array_join(F.col("changed_cols"), ",")
    )


# ---------------------------------------------------------------------------
# contribution report + temporal embargo split (operators/stats.py)
# ---------------------------------------------------------------------------


@register(
    "an_contribution_topn",
    """
    WITH per_cat AS (
      SELECT l_partkey AS category,
             CAST(SUM(CAST(round(CAST(l_extendedprice AS DECIMAL(18,2)) * 100,
                                 0) AS BIGINT)) AS BIGINT) AS value_cents
      FROM lineitem GROUP BY l_partkey),
    tot AS (SELECT CAST(SUM(value_cents) AS BIGINT) AS total,
                   COUNT(*) AS k FROM per_cat),
    top AS (
      SELECT category, value_cents,
             CAST(row_number() OVER (ORDER BY value_cents DESC, category ASC)
                  AS BIGINT) AS rank
      FROM per_cat
      ORDER BY value_cents DESC, category ASC LIMIT 10),
    ts AS (SELECT CAST(SUM(value_cents) AS BIGINT) AS top_sum,
                  COUNT(*) AS top_k FROM top)
    SELECT CAST(category AS VARCHAR) AS category, value_cents,
           CAST(value_cents AS DOUBLE)
             / nullif(CAST(total AS DOUBLE), 0.0) AS share,
           rank
    FROM top, tot
    UNION ALL
    SELECT '__other__', total - top_sum,
           CAST(total - top_sum AS DOUBLE)
             / nullif(CAST(total AS DOUBLE), 0.0),
           NULL
    FROM tot, ts WHERE k > top_k
    """,
    doc="Share-of-total contribution report: top-10 parts by exact "
    "revenue cents with shares plus ONE __other__ long-tail row. "
    "Total-order cut (value desc, category asc); top-n is "
    "TakeOrderedAndProject (bounded heaps, no global sort); the tail "
    "row is arithmetic over two broadcast 1-row aggregates.",
)
def an_contribution_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from legendary_data_pipeline_spark.operators.stats import (
        contribution_topn,
    )

    li = load_table(spark, sf_dir, "lineitem")
    cents = F.round(
        F.col("l_extendedprice").cast("decimal(18,2)") * 100, 0
    ).cast("long")
    return contribution_topn(li, "l_partkey", cents, n=10)


@register(
    "an_temporal_embargo_split",
    """
    WITH e AS (
      SELECT date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
               AS ed
      FROM orders),
    cut AS (
      SELECT CAST(floor(quantile_cont(CAST(ed AS DOUBLE), 0.8)) AS BIGINT)
               AS c
      FROM e),
    tagged AS (
      SELECT CASE WHEN ed <= c THEN 'train'
                  WHEN ed <= c + 7 THEN 'embargo'
                  ELSE 'val' END AS split,
             ed
      FROM e, cut)
    SELECT split, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(min(ed) AS BIGINT) AS first_day,
           CAST(max(ed) AS BIGINT) AS last_day
    FROM tagged GROUP BY split
    """,
    doc="Time-based train/embargo/val split: cutoff = exact 0.8 "
    "quantile of order dates (1-row aggregate, broadcast), a 7-day "
    "embargo gap between train and val stops look-ahead leakage "
    "through autocorrelated features — the time-series sibling of the "
    "near-dup-group split. Assignment is a projection; summarized to "
    "per-split counts + day bounds for the oracle.",
)
def an_temporal_embargo_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from legendary_data_pipeline_spark.operators.stats import (
        temporal_embargo_split,
    )

    orders = load_table(spark, sf_dir, "orders")
    tagged = temporal_embargo_split(
        orders, "o_orderdate", train_frac=0.8, embargo_days=7
    )
    ed = F.datediff(
        F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")
    ).cast("long")
    return tagged.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min(ed).alias("first_day"),
        F.max(ed).alias("last_day"),
    )


# ---------------------------------------------------------------------------
# X136 Count-Min sketch point-frequency estimates (round 6)
# ---------------------------------------------------------------------------

_CMS_DEPTH = 4
_CMS_WIDTH = 1024
_CMS_TOPN = 20


def _cms_oracle_sql() -> str:
    from legendary_data_pipeline_spark.operators.cms import cms_sql_parts

    addrs = cms_sql_parts(
        "CAST(l_partkey AS VARCHAR)", _CMS_DEPTH, _CMS_WIDTH
    )
    updates = "\n      UNION ALL\n".join(
        f"      SELECT {i} AS row_idx, {a} AS col_idx FROM lineitem"
        for i, a in enumerate(addrs)
    )
    probe_addrs = "\n      UNION ALL\n".join(
        f"      SELECT l_partkey, exact_cnt, {i} AS row_idx,"
        f" {a} AS col_idx FROM top"
        for i, a in enumerate(addrs)
    )
    return f"""
    WITH u AS (
{updates}),
    cells AS (
      SELECT row_idx, col_idx, CAST(count(*) AS BIGINT) AS cnt
      FROM u GROUP BY 1, 2),
    exact AS (
      SELECT l_partkey, CAST(count(*) AS BIGINT) AS exact_cnt
      FROM lineitem GROUP BY 1),
    top AS (
      SELECT * FROM exact
      ORDER BY exact_cnt DESC, l_partkey ASC LIMIT {_CMS_TOPN}),
    addr AS (
{probe_addrs}),
    est AS (
      SELECT l_partkey, exact_cnt,
             min(COALESCE(cnt, 0)) AS cms_est
      FROM addr LEFT JOIN cells USING (row_idx, col_idx)
      GROUP BY 1, 2)
    SELECT l_partkey, exact_cnt, CAST(cms_est AS BIGINT) AS cms_est,
           CAST(cms_est - exact_cnt AS BIGINT) AS overcount
    FROM est
    """


@register(
    "sk_cms_partkey_freq",
    _cms_oracle_sql(),
    doc="Count-Min sketch point-frequency estimates for the 20 hottest "
    "part keys: one scan explodes each row into depth=4 cell updates "
    "over the portable md5 affine hash family, a cell-keyed aggregation "
    "reduces to <= 4x1024 rows, and probing is a broadcast join of the "
    "cell table — no rescan, no shuffle of the probe side. Estimates "
    "are bit-deterministic (hence a full hash oracle, not just an error "
    "bound) and never undercount; cells merge by summing, so per-day "
    "sketches roll up to any window. Completes the sketch algebra: "
    "HLL = distinct, Theta = set ops, KLL = quantiles, CMS = frequency.",
)
def sk_cms_partkey_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from legendary_data_pipeline_spark.operators.cms import (
        cms_build,
        cms_query,
    )

    li = load_table(spark, sf_dir, "lineitem")
    # ONE lineitem scan: the per-key exact counts are needed in the
    # output anyway, so the sketch is built FROM that aggregate
    # (weighted cells — bit-identical to the per-row build) instead of
    # rescanning and re-hashing every raw row. Pin the aggregate: the
    # sketch build and the top-N probe pick are two consumers.
    exact = li.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("long").alias("exact_cnt")
    ).localCheckpoint(eager=False)
    sketch = cms_build(
        exact, "l_partkey", _CMS_DEPTH, _CMS_WIDTH, weight_col="exact_cnt"
    )
    top = exact.orderBy(
        F.col("exact_cnt").desc(), F.col("l_partkey").asc()
    ).limit(_CMS_TOPN)
    est = cms_query(sketch, top, "l_partkey", _CMS_DEPTH, _CMS_WIDTH)
    return est.select(
        "l_partkey",
        "exact_cnt",
        "cms_est",
        (F.col("cms_est") - F.col("exact_cnt")).cast("long").alias("overcount"),
    )


# ---------------------------------------------------------------------------
# X138 CMS inner-product join-size estimate (round 6)
# ---------------------------------------------------------------------------

# Join-size estimation needs a wider sketch than point queries: the
# additive error is 2*Na*Nb/w (products of totals, not a single total),
# so w=16384 turns a ~1.8M bound at sf0.01 into ~110k. Cells stay
# metadata-scale (4x16384).
_CMS_JOIN_WIDTH = 16384


def _cms_join_oracle_sql() -> str:
    from legendary_data_pipeline_spark.operators.cms import cms_sql_parts

    ua = "\n      UNION ALL\n".join(
        f"      SELECT {i} AS row_idx, {a} AS col_idx FROM lineitem"
        for i, a in enumerate(
            cms_sql_parts(
                "CAST(l_orderkey AS VARCHAR)", _CMS_DEPTH, _CMS_JOIN_WIDTH
            )
        )
    )
    ub = "\n      UNION ALL\n".join(
        f"      SELECT {i} AS row_idx, {a} AS col_idx FROM orders"
        for i, a in enumerate(
            cms_sql_parts(
                "CAST(o_orderkey AS VARCHAR)", _CMS_DEPTH, _CMS_JOIN_WIDTH
            )
        )
    )
    rows_vals = ", ".join(f"({i})" for i in range(_CMS_DEPTH))
    return f"""
    WITH ua AS (
{ua}),
    ca AS (SELECT row_idx, col_idx, CAST(count(*) AS BIGINT) AS cnt
           FROM ua GROUP BY 1, 2),
    ub AS (
{ub}),
    cb AS (SELECT row_idx, col_idx, CAST(count(*) AS BIGINT) AS cnt
           FROM ub GROUP BY 1, 2),
    dots AS (
      SELECT ca.row_idx, SUM(ca.cnt * cb.cnt) AS dot
      FROM ca JOIN cb USING (row_idx, col_idx) GROUP BY 1),
    est AS (
      SELECT CAST(min(COALESCE(dot, 0)) AS BIGINT) AS cms_est
      FROM (VALUES {rows_vals}) r(row_idx) LEFT JOIN dots USING (row_idx)),
    exact AS (
      SELECT CAST(SUM(la.c * ob.c) AS BIGINT) AS exact_pairs
      FROM (SELECT l_orderkey AS k, count(*) AS c
            FROM lineitem GROUP BY 1) la
      JOIN (SELECT o_orderkey AS k, count(*) AS c
            FROM orders GROUP BY 1) ob USING (k))
    SELECT exact_pairs, cms_est,
           CAST(cms_est - exact_pairs AS BIGINT) AS overcount
    FROM exact, est
    """


@register(
    "sk_cms_join_size",
    _cms_join_oracle_sql(),
    doc="Join-cardinality estimate WITHOUT running (or scanning for) "
    "the join: the Cormode-Muthukrishnan CMS inner product — sketch "
    "each side's key column once, est = min over hash rows of the "
    "cellwise count dot product. Never undercounts the true "
    "sum-of-frequency-products; both operands are <= depth x width "
    "rows so the estimate itself is a metadata-scale join. The "
    "cost-based planning probe for 'how big would lineitem x orders "
    "be' — and bit-deterministic, hence a full hash oracle.",
)
def sk_cms_join_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    from legendary_data_pipeline_spark.operators.cms import (
        cms_build,
        cms_inner_product,
    )

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    sa = cms_build(li, "l_orderkey", _CMS_DEPTH, _CMS_JOIN_WIDTH)
    sb = cms_build(orders, "o_orderkey", _CMS_DEPTH, _CMS_JOIN_WIDTH)
    est = cms_inner_product(sa, sb)
    la = li.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("__ca"))
    ob = orders.groupBy("o_orderkey").agg(F.count(F.lit(1)).alias("__cb"))
    exact = (
        la.join(ob, la["l_orderkey"] == ob["o_orderkey"])
        .agg(
            F.sum(F.col("__ca") * F.col("__cb"))
            .cast("long")
            .alias("exact_pairs")
        )
    )
    return exact.crossJoin(F.broadcast(est)).select(
        "exact_pairs",
        "cms_est",
        (F.col("cms_est") - F.col("exact_pairs")).cast("long").alias(
            "overcount"
        ),
    )


# ---------------------------------------------------------------------------
# X140 local clustering coefficients (round 6)
# ---------------------------------------------------------------------------

@register(
    "gr_clustering_coefficient",
    """
    WITH li AS (
      SELECT l_orderkey, l_partkey FROM lineitem WHERE l_quantity >= 40),
    e AS (
      SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
    deg AS (
      SELECT node, CAST(count(*) AS BIGINT) AS degree FROM (
        SELECT a AS node FROM e UNION ALL SELECT b FROM e)
      GROUP BY 1),
    tri AS (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM e e1 JOIN e e2 ON e1.b = e2.a
                JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
    corners AS (
      SELECT node, CAST(count(*) AS BIGINT) AS triangles FROM (
        SELECT x AS node FROM tri
        UNION ALL SELECT y FROM tri
        UNION ALL SELECT z FROM tri)
      GROUP BY 1)
    SELECT deg.node, deg.degree,
           COALESCE(corners.triangles, 0) AS triangles,
           CASE WHEN deg.degree >= 2
                THEN 2.0 * COALESCE(corners.triangles, 0)
                     / (CAST(deg.degree AS DOUBLE)
                        * CAST(deg.degree - 1 AS DOUBLE))
           END AS coeff
    FROM deg LEFT JOIN corners USING (node)
    """,
    doc="Local clustering coefficient per part in the HIGH-VOLUME "
    "(qty >= 40) co-purchase graph - the gr_link_prediction_topk "
    "precedent (r10): the unfiltered graph is near-complete (avg "
    "degree ~120 at sf0.1, sum-deg-squared ~3e8 wedges -> 10 s and "
    "OOM-class at sf1), and on such graphs every coefficient "
    "saturates toward the density anyway - the sparse slice is both "
    "the meaningful and the scalable formulation. "
    "C(v) = 2*T(v)/(deg(v)*(deg(v)-1)). Triangles enumerate "
    "once via the ordered closure (two equi-joins) and credit their "
    "three corners; degrees are one aggregation over the symmetrized "
    "edge list. Exact integers with one final division — separates "
    "cliquey co-purchase neighborhoods from hub-and-spoke ones where "
    "the global triangle count can't.",
)
def gr_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    from legendary_data_pipeline_spark.operators.graph import (
        clustering_coefficients,
    )

    li = (
        load_table(spark, sf_dir, "lineitem")
        .where(F.col("l_quantity") >= 40)
        .select("l_orderkey", "l_partkey")
    )
    a = li.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("id_a"))
    b = li.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("id_b"))
    edges = a.join(b, "k").filter(F.col("id_a") < F.col("id_b")).select(
        "id_a", "id_b"
    )
    out = clustering_coefficients(edges)
    # DuckDB's CAST(x AS BIGINT)/COALESCE(...,0) types: match exactly
    return out.select(
        F.col("node"), F.col("degree"), F.col("triangles"), F.col("coeff")
    )


# ---------------------------------------------------------------------------
# X143 source vocabulary overlap matrix (round 6)
# ---------------------------------------------------------------------------

@register(
    "an_source_vocab_overlap",
    """
    WITH st AS (
      SELECT DISTINCT source,
             unnest(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                                __x -> __x != '')) AS w
      FROM documents),
    sizes AS (SELECT source, CAST(count(*) AS BIGINT) AS n_terms
              FROM st GROUP BY 1),
    inter AS (
      SELECT a.source AS source_a, b.source AS source_b,
             CAST(count(*) AS BIGINT) AS inter
      FROM st a JOIN st b ON a.w = b.w AND a.source < b.source
      GROUP BY 1, 2),
    j AS (
      SELECT i.source_a, i.source_b, i.inter,
             sa.n_terms AS terms_a, sb.n_terms AS terms_b
      FROM inter i JOIN sizes sa ON sa.source = i.source_a
                   JOIN sizes sb ON sb.source = i.source_b)
    SELECT source_a, source_b, inter, terms_a, terms_b,
           CAST(inter AS DOUBLE)
             / CAST(terms_a + terms_b - inter AS DOUBLE)
             AS jaccard
    FROM j WHERE inter * 10 >= (terms_a + terms_b - inter) * 3
    """,
    doc="Source-pair vocabulary overlap matrix: distinct-term Jaccard "
    "between every pair of sources above 0.3 — the corpus diagnostic "
    "for 'are these two feeds the same crawl?' before mixture "
    "weighting double-counts them. Exact integers (distinct "
    "(source, term) explode, term-keyed self-join, one final "
    "division); sources are few, so the pair matrix is "
    "metadata-scale even when the vocabulary is not. The domain-LEVEL "
    "sibling of document near-dup: dedup sources, then documents.",
)
def an_source_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from legendary_data_pipeline_spark.operators.dedup import tokens_expr

    docs = load_table(spark, sf_dir, "documents")
    st = docs.select(
        "source",
        F.explode(
            F.filter(tokens_expr("text"), lambda x: x != F.lit(""))
        ).alias("w"),
    ).distinct().localCheckpoint(
        eager=False
    )  # sizes + both pair-join sides (r11 scan audit: 4 scans)
    sizes = st.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_terms")
    )
    a = st.select(F.col("source").alias("source_a"), "w")
    b = st.select(F.col("source").alias("source_b"), "w")
    inter = (
        a.join(b, "w")
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("long").alias("inter"))
    )
    sa = sizes.select(
        F.col("source").alias("source_a"), F.col("n_terms").alias("terms_a")
    )
    sb = sizes.select(
        F.col("source").alias("source_b"), F.col("n_terms").alias("terms_b")
    )
    j = inter.join(F.broadcast(sa), "source_a").join(
        F.broadcast(sb), "source_b"
    )
    union = F.col("terms_a") + F.col("terms_b") - F.col("inter")
    jac = F.col("inter").cast("double") / union.cast("double")
    return (
        j.where(F.col("inter") * 10 >= union * 3)
        .select(
            "source_a", "source_b", "inter", "terms_a", "terms_b",
            jac.alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# X145 numeric mutual information via fixed-grid binning (round 6)
# ---------------------------------------------------------------------------

# $1000 price buckets: floor(cents / 100000) — the deterministic-merge
# fixed integer grid (X102's convention), not a data-dependent quantile.
_NMI_PRICE_BUCKET_CENTS = 100_000

_NMI_CONTINGENCY_SQL = f"""
    cells AS (
      SELECT CAST(l_quantity AS BIGINT) AS a,
             CAST(floor(CAST(round(CAST(l_extendedprice AS DECIMAL(18,2))
                                   * 100, 0) AS BIGINT)
                        / {_NMI_PRICE_BUCKET_CENTS}.0) AS BIGINT) AS b,
             CAST(COUNT(*) AS BIGINT) AS obs
      FROM lineitem GROUP BY 1, 2),
    marg AS (
      SELECT a, b, obs,
             SUM(obs) OVER (PARTITION BY a) AS row_tot,
             SUM(obs) OVER (PARTITION BY b) AS col_tot,
             SUM(obs) OVER () AS n
      FROM cells)
"""


@register(
    "st_numeric_mi_qty_price",
    f"""
    WITH {_NMI_CONTINGENCY_SQL},
    terms AS (
      SELECT n,
             (CAST(obs AS DOUBLE) / CAST(n AS DOUBLE))
               * ln(CAST(obs AS DOUBLE) * CAST(n AS DOUBLE)
                    / (CAST(row_tot AS DOUBLE) * CAST(col_tot AS DOUBLE)))
               AS mi_term,
             (CAST(obs AS DOUBLE) / CAST(n AS DOUBLE))
               * ln(CAST(n AS DOUBLE) / CAST(row_tot AS DOUBLE)) AS ha_term,
             (CAST(obs AS DOUBLE) / CAST(n AS DOUBLE))
               * ln(CAST(n AS DOUBLE) / CAST(col_tot AS DOUBLE)) AS hb_term
      FROM marg)
    SELECT CAST(max(n) AS BIGINT) AS n,
           CAST(round(SUM(ha_term) * 1e6) AS BIGINT) AS h_a_e6,
           CAST(round(SUM(hb_term) * 1e6) AS BIGINT) AS h_b_e6,
           CAST(round(SUM(mi_term) * 1e6) AS BIGINT) AS mi_e6,
           CAST(round(SUM(mi_term)
                 / nullif(sqrt(SUM(ha_term) * SUM(hb_term)), 0.0) * 1e6)
             AS BIGINT) AS nmi_e6
    FROM terms
    """,
    doc="Mutual information for NUMERIC pairs via fixed-grid binning: "
    "quantity (already integral) x $1000 price buckets, then the same "
    "exact contingency pass as the categorical MI. The fixed integer "
    "grid (not data-dependent quantiles) keeps bins mergeable across "
    "partitions/engines; quantity-price dependence that Pearson "
    "correlation (X118) only captures linearly shows up here as "
    "nonzero MI regardless of shape.",
)
def st_numeric_mi_qty_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    from legendary_data_pipeline_spark.operators.stats import (
        mutual_information,
    )

    li = load_table(spark, sf_dir, "lineitem")
    cents = F.round(
        F.col("l_extendedprice").cast("decimal(18,2)") * 100, 0
    ).cast("long")
    binned = li.select(
        F.col("l_quantity").cast("long").alias("qty_bucket"),
        F.floor(cents / F.lit(float(_NMI_PRICE_BUCKET_CENTS)))
        .cast("long")
        .alias("price_bucket"),
    )
    return mutual_information(binned, "qty_bucket", "price_bucket")


# ---------------------------------------------------------------------------
# X156 SCD Type-2 history from a change log (round 7)
# ---------------------------------------------------------------------------


@register(
    "scd2_user_event_state",
    """
    WITH d AS (
      SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t, event_type
      FROM events
      WHERE user_id IS NOT NULL AND ts IS NOT NULL
        AND event_type IS NOT NULL),
    lw AS (
      SELECT user_id, t, MAX(event_type) AS event_type
      FROM d GROUP BY 1, 2),
    chg AS (
      SELECT user_id, t, event_type,
             CASE WHEN lag(event_type) OVER (PARTITION BY user_id
                    ORDER BY t) IS DISTINCT FROM event_type
                  THEN 1 ELSE 0 END AS c
      FROM lw),
    seg AS (
      SELECT user_id, t, event_type,
             SUM(c) OVER (PARTITION BY user_id ORDER BY t
                          ROWS UNBOUNDED PRECEDING) AS s
      FROM chg),
    ep AS (
      SELECT user_id, s, event_type,
             CAST(MIN(t) AS BIGINT) AS valid_from
      FROM seg GROUP BY 1, 2, 3),
    fin AS (
      SELECT user_id, event_type, valid_from,
             CAST(lead(valid_from) OVER (PARTITION BY user_id
                    ORDER BY valid_from) AS BIGINT) AS valid_to
      FROM ep)
    SELECT user_id, event_type, valid_from, valid_to,
           valid_to IS NULL AS is_current
    FROM fin
    """,
    doc="SCD Type-2 history of each user's event-type state from the "
    "events change log (X156): last-writer-wins within a timestamp, "
    "consecutive identical states merge into EPISODES with half-open "
    "[valid_from, valid_to) second-precision intervals, NULL valid_to "
    "marks the current state. The warehouse-grade companion to the "
    "reference's in-place keyed upserts (S5-S8) — any past point in "
    "time reconstructs with a plain filter (scd2_snapshot_at). One "
    "key shuffle; windows + episode agg reuse the same Exchange.",
)
def scd2_user_event_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    from legendary_data_pipeline_spark.operators.scd import (
        scd2_from_changelog,
    )

    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_type").isNotNull()
    )
    log = ev.select(
        "user_id",
        F.expr("ts DIV 1000000000").cast("long").alias("t"),
        "event_type",
    )
    return scd2_from_changelog(
        log, ["user_id"], "t", ["event_type"]
    )


# ---------------------------------------------------------------------------
# X159 interval merge + activity coverage (round 7)
# ---------------------------------------------------------------------------

_COV_WIN_S = 300  # each event covers [t, t+300s) of activity


@register(
    "ts_user_activity_coverage",
    f"""
    WITH spans AS (
      SELECT user_id,
             CAST(floor(epoch(ts)) AS BIGINT) AS s,
             CAST(floor(epoch(ts)) + {_COV_WIN_S} AS BIGINT) AS e
      FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
    flagged AS (
      SELECT user_id, s, e,
             CASE WHEN MAX(e) OVER (PARTITION BY user_id ORDER BY s, e
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  IS NULL
               OR s > MAX(e) OVER (PARTITION BY user_id ORDER BY s, e
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             THEN 1 ELSE 0 END AS o
      FROM spans),
    isl AS (
      SELECT user_id, s, e,
             SUM(o) OVER (PARTITION BY user_id ORDER BY s, e
                          ROWS UNBOUNDED PRECEDING) AS island
      FROM flagged),
    merged AS (
      SELECT user_id, island, MIN(s) AS ms, MAX(e) AS me
      FROM isl GROUP BY 1, 2)
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_spans,
           CAST(SUM(me - ms) AS BIGINT) AS covered,
           CAST(MAX(me) - MIN(ms) AS BIGINT) AS span,
           CAST(MAX(me) - MIN(ms) - SUM(me - ms) AS BIGINT) AS gaps
    FROM merged GROUP BY 1
    """,
    doc="Per-user activity coverage via interval algebra (X159): each "
    "event covers a [t, t+300s) span; overlapping/touching spans merge "
    "into maximal disjoint activity intervals (gaps-and-islands: "
    "running-max-end open flags, island ids by running sum, one "
    "aggregation per island — no self-join, no interval explosion), "
    "then per-user totals: spans, covered seconds, first-to-last span, "
    "internal gap. All exact integers. One key shuffle; the temporal "
    "companion to gap-based sessionization for explicit-duration data "
    "(maintenance windows, ad flights, validity ranges).",
)
def ts_user_activity_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from legendary_data_pipeline_spark.operators.intervals import (
        interval_coverage,
    )

    ev = load_table(spark, sf_dir, "events")
    t = F.expr("ts DIV 1000000000").cast("long")
    spans = ev.select(
        "user_id",
        t.alias("start"),
        (t + F.lit(_COV_WIN_S)).alias("end"),
    )
    return interval_coverage(spans, ["user_id"], "start", "end")


# ---------------------------------------------------------------------------
# X161 Kaplan-Meier retention curve (round 7)
# ---------------------------------------------------------------------------

# censoring horizon: lifetimes ending within the last half-day of the
# observed window are censored (the user may still be active). The
# fixture's users are near-uniformly active (90% have an event within
# ~1 day of the horizon), so a long horizon censors EVERYONE — half a
# day yields a real mix of churned and censored subjects.
_KM_HORIZON_S = 43200


@register(
    "sv_user_retention_km",
    f"""
    WITH spans AS (
      SELECT user_id,
             CAST(floor(epoch(MIN(ts))) AS BIGINT) AS first_s,
             CAST(floor(epoch(MAX(ts))) AS BIGINT) AS last_s
      FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
      GROUP BY 1),
    horizon AS (SELECT MAX(last_s) AS maxs FROM spans),
    subj AS (
      SELECT (last_s - first_s) AS t,
             CASE WHEN last_s < maxs - {_KM_HORIZON_S} THEN 1 ELSE 0 END
               AS e
      FROM spans, horizon),
    per_t AS (
      SELECT t, CAST(SUM(e) AS BIGINT) AS n_events,
             CAST(SUM(1 - e) AS BIGINT) AS n_censored
      FROM subj GROUP BY 1),
    ann AS (
      SELECT t, n_events, n_censored,
             CAST(SUM(n_events + n_censored) OVER ()
                  - COALESCE(SUM(n_events + n_censored) OVER (ORDER BY t
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS n_at_risk
      FROM per_t)
    SELECT t, n_at_risk, n_events, n_censored,
           CASE WHEN MAX(CASE WHEN n_events = n_at_risk THEN 1 ELSE 0 END)
                  OVER (ORDER BY t
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) = 1
                THEN CAST(0 AS BIGINT)
                ELSE CAST(round(exp(SUM(CASE WHEN n_events > 0
                         AND n_at_risk > n_events
                    THEN ln(CAST(n_at_risk - n_events AS DOUBLE)
                            / CAST(n_at_risk AS DOUBLE))
                    ELSE 0.0 END) OVER (ORDER BY t
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
                  * 1e6) AS BIGINT)
           END AS survival_e6
    FROM ann
    """,
    doc="Kaplan-Meier user-retention curve with right censoring "
    "(X161): a user's lifetime spans first to last event; lifetimes "
    "ending within half a day (12 h) of the dataset horizon are "
    "CENSORED (may "
    "still be active) and leave the risk set without counting as "
    "churn — the correction naive 'fraction alive at t' lacks. Risk "
    "sets are exact integers from one cumulative window over the "
    "distinct-time frame; the survival product evaluates as "
    "exp(ordered sum of ln terms), identical accumulation order in "
    "both engines, emitted as survival_e6 micro-units (round-9 e6 "
    "gate convention).",
)
def sv_user_retention_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    from legendary_data_pipeline_spark.operators.stats import kaplan_meier

    ev = load_table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    sec = F.expr("ts DIV 1000000000").cast("long")
    spans = ev.groupBy("user_id").agg(
        F.min(sec).alias("__first"), F.max(sec).alias("__last")
    )
    w_all = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    subj = spans.select(
        (F.col("__last") - F.col("__first")).alias("__dur"),
        (
            F.col("__last") < F.max("__last").over(w_all) - _KM_HORIZON_S
        ).cast("int").alias("__event"),
    )
    return kaplan_meier(subj, "__dur", "__event", scaled_e6=True)


@register(
    "sv_logrank_user_segments",
    f"""
    WITH spans AS (
      SELECT user_id,
             CAST(floor(epoch(MIN(ts))) AS BIGINT) AS first_s,
             CAST(floor(epoch(MAX(ts))) AS BIGINT) AS last_s
      FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
      GROUP BY 1),
    horizon AS (SELECT MAX(last_s) AS maxs FROM spans),
    subj AS (
      SELECT (last_s - first_s) AS t,
             CASE WHEN last_s < maxs - {_KM_HORIZON_S} THEN 1 ELSE 0 END AS e,
             CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS a
      FROM spans, horizon),
    per_t AS (
      SELECT t,
             CAST(SUM(e * a) AS BIGINT) AS d_a,
             CAST(SUM(e * (1 - a)) AS BIGINT) AS d_b,
             CAST(SUM(a) AS BIGINT) AS x_a,
             CAST(SUM(1 - a) AS BIGINT) AS x_b
      FROM subj GROUP BY 1),
    ann AS (
      SELECT t, d_a, d_b,
             CAST(SUM(x_a) OVER () - COALESCE(SUM(x_a) OVER (ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS n_a,
             CAST(SUM(x_b) OVER () - COALESCE(SUM(x_b) OVER (ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS n_b,
             CAST(SUM(x_a) OVER () AS BIGINT) AS tot_a,
             CAST(SUM(x_b) OVER () AS BIGINT) AS tot_b
      FROM per_t),
    terms AS (
      SELECT tot_a, tot_b, d_a, d_b,
             CASE WHEN n_a + n_b > 0
                  THEN CAST(d_a + d_b AS DOUBLE) * CAST(n_a AS DOUBLE)
                       / CAST(n_a + n_b AS DOUBLE)
                  ELSE 0.0 END AS e_t,
             CASE WHEN n_a + n_b > 1 AND d_a + d_b > 0
                  THEN CAST(d_a + d_b AS DOUBLE)
                       * (CAST(n_a AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
                       * (1.0 - CAST(n_a AS DOUBLE)
                                / CAST(n_a + n_b AS DOUBLE))
                       * (CAST(n_a + n_b AS DOUBLE)
                          - CAST(d_a + d_b AS DOUBLE))
                       / (CAST(n_a + n_b AS DOUBLE) - 1.0)
                  ELSE 0.0 END AS v_t
      FROM ann),
    agg AS (
      SELECT MAX(tot_a) AS n_a, MAX(tot_b) AS n_b,
             CAST(COALESCE(SUM(d_a), 0) AS BIGINT) AS events_a,
             CAST(COALESCE(SUM(d_b), 0) AS BIGINT) AS events_b,
             SUM(e_t) AS exp_a, SUM(v_t) AS v
      FROM terms)
    SELECT n_a, n_b, events_a, events_b,
           CAST(round(exp_a * 1e6) AS BIGINT) AS exp_a_e6,
           CASE WHEN v > 0
                THEN CAST(round((CAST(events_a AS DOUBLE) - exp_a)
                                / sqrt(v) * 1e6) AS BIGINT)
           END AS z_e6,
           CASE WHEN v > 0
                THEN CAST(round(((CAST(events_a AS DOUBLE) - exp_a) / sqrt(v))
                           * ((CAST(events_a AS DOUBLE) - exp_a) / sqrt(v))
                           * 1e6) AS BIGINT)
           END AS chi2_e6
    FROM agg
    """,
    doc="Two-group log-rank test between even/odd user segments' "
    "retention curves (X162) — the censoring-aware 'do these survival "
    "curves differ?' test completing the Kaplan-Meier story. Exact "
    "integer risk sets and event counts per pooled exit time; "
    "expected/variance terms are magnitude-~1 double summands emitted "
    "as e6 micro-units (round-9 gate convention). One distinct-time "
    "frame, cumulative windows, one final 1-row aggregation.",
)
def sv_logrank_user_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from legendary_data_pipeline_spark.operators.stats import logrank_test

    ev = load_table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    sec = F.expr("ts DIV 1000000000").cast("long")
    spans = ev.groupBy("user_id").agg(
        F.min(sec).alias("__first"), F.max(sec).alias("__last")
    )
    w_all = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    subj = spans.select(
        (F.col("__last") - F.col("__first")).alias("__dur"),
        (
            F.col("__last") < F.max("__last").over(w_all) - _KM_HORIZON_S
        ).cast("int").alias("__event"),
        F.when(F.col("user_id") % 2 == 0, "even").otherwise("odd").alias(
            "__seg"
        ),
    )
    return logrank_test(subj, "__dur", "__event", "__seg", "even", "odd")


# ---------------------------------------------------------------------------
# X163 CUSUM changepoint localization (round 7)
# ---------------------------------------------------------------------------


@register(
    "ts_cusum_daily_value",
    """
    WITH daily AS (
      SELECT event_type,
             CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
             CAST(SUM(CAST(round(CAST(value AS DECIMAL(18,2)) * 100, 0)
                           AS BIGINT)) AS BIGINT) AS cents
      FROM events WHERE value IS NOT NULL
      GROUP BY 1, 2),
    tot AS (
      SELECT event_type, day, cents,
             CAST(COUNT(*) OVER (PARTITION BY event_type) AS HUGEINT) AS n,
             CAST(SUM(CAST(cents AS HUGEINT))
                  OVER (PARTITION BY event_type) AS HUGEINT) AS s
      FROM daily),
    ann AS (
      SELECT event_type, day, cents, n,
             CAST(SUM(n * cents - s)
                  OVER (PARTITION BY event_type ORDER BY day
                        ROWS UNBOUNDED PRECEDING) AS HUGEINT) AS cum
      FROM tot),
    mx0 AS (
      SELECT *, MAX(abs(cum)) OVER (PARTITION BY event_type) AS maxabs
      FROM ann),
    mx AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
               ORDER BY (abs(cum) = maxabs) DESC, day ASC) AS rn
      FROM mx0)
    SELECT event_type, day, cents,
           CAST(round(CAST(cum AS DOUBLE) / CAST(n AS DOUBLE) * 1e6)
                AS BIGINT) AS cusum_e6,
           rn = 1 AS is_changepoint
    FROM mx
    """,
    doc="CUSUM changepoint localization of each event type's daily "
    "value series (X163) — the plottable per-point companion to the "
    "1-row ts_cusum_changepoint summary. cusum_k = "
    "cumulative sum of (x - mean), kept exact by integer scaling "
    "(n*x_i - S per step in decimal(38,0)) so the argmax that picks "
    "the changepoint is bit-deterministic; the reported value divides "
    "once per row under round(6). Two windows per group, no joins, "
    "one scan — the monitoring companion that tells you WHEN, where "
    "the drift tests only say THAT.",
)
def ts_cusum_daily_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    from legendary_data_pipeline_spark.operators.stats import cusum_curve

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    day = F.expr("ts DIV 86400000000000").cast("long")
    daily = ev.groupBy("event_type", day.alias("day")).agg(
        F.sum(_cents("value")).cast("long").alias("cents")
    )
    return cusum_curve(
        daily, "day", "cents", group_cols=["event_type"], scaled_e6=True
    )


# ---------------------------------------------------------------------------
# X165 difference-in-differences (round 7)
# ---------------------------------------------------------------------------


@register(
    "st_did_urgent_orders",
    f"""
    WITH base AS (
      SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS g,
             CASE WHEN o_orderdate >= TIMESTAMP '1997-01-01'
                  THEN 1 ELSE 0 END AS p,
             CAST({_cents_sql("o_totalprice")} AS HUGEINT) AS v
      FROM orders
      WHERE o_totalprice IS NOT NULL AND o_orderdate IS NOT NULL),
    agg AS (
      SELECT
        CAST(SUM(CASE WHEN g = 1 AND p = 1 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_tp,
        CAST(SUM(CASE WHEN g = 1 AND p = 0 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_tc,
        CAST(SUM(CASE WHEN g = 0 AND p = 1 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_cp,
        CAST(SUM(CASE WHEN g = 0 AND p = 0 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_cc,
        SUM(CASE WHEN g = 1 AND p = 1 THEN v END) AS s_tp,
        SUM(CASE WHEN g = 1 AND p = 0 THEN v END) AS s_tc,
        SUM(CASE WHEN g = 0 AND p = 1 THEN v END) AS s_cp,
        SUM(CASE WHEN g = 0 AND p = 0 THEN v END) AS s_cc
      FROM base)
    SELECT n_tp, n_tc, n_cp, n_cc,
           CAST(s_tp AS DOUBLE) / CAST(n_tp AS DOUBLE)
             AS mean_treat_post,
           CAST(s_tc AS DOUBLE) / CAST(n_tc AS DOUBLE)
             AS mean_treat_pre,
           CAST(s_cp AS DOUBLE) / CAST(n_cp AS DOUBLE)
             AS mean_ctrl_post,
           CAST(s_cc AS DOUBLE) / CAST(n_cc AS DOUBLE)
             AS mean_ctrl_pre,
           (CAST(s_tp AS DOUBLE) / CAST(n_tp AS DOUBLE)
            - CAST(s_tc AS DOUBLE) / CAST(n_tc AS DOUBLE))
           - (CAST(s_cp AS DOUBLE) / CAST(n_cp AS DOUBLE)
              - CAST(s_cc AS DOUBLE) / CAST(n_cc AS DOUBLE))
             AS did
    FROM agg
    """,
    doc="Difference-in-differences of order value (cents): did URGENT "
    "orders' average value move after 1997 beyond the trend every "
    "other order also experienced? (X165 — the causal readout that "
    "nets out the secular trend the two-proportion test cannot.) Four "
    "exact integer cell sums from ONE aggregation; means and the "
    "estimate are fixed IEEE divisions under round(6).",
)
def st_did_urgent_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from legendary_data_pipeline_spark.operators.stats import diff_in_diff

    orders = load_table(spark, sf_dir, "orders")
    return diff_in_diff(
        orders,
        (F.col("o_orderpriority") == "1-URGENT").cast("int"),
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp")).cast(
            "int"
        ),
        _cents("o_totalprice"),
    )

# ---------------------------------------------------------------------------
# X166-X169 hypothesis-test family (round 9)
# ---------------------------------------------------------------------------


@register(
    "ht_mann_whitney_qty_flag",
    """
    WITH base AS (
      SELECT CAST(l_quantity AS BIGINT) AS v,
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS ia,
             CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END AS ib
      FROM lineitem
      WHERE l_quantity IS NOT NULL AND l_returnflag IN ('R', 'N')),
    perv AS (
      SELECT v, CAST(SUM(ia) AS HUGEINT) AS na,
             CAST(SUM(ib) AS HUGEINT) AS nb,
             CAST(COUNT(*) AS HUGEINT) AS c
      FROM base GROUP BY v),
    cum AS (
      SELECT v, na, nb, c,
             COALESCE(SUM(nb) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               CAST(0 AS HUGEINT)) AS bb
      FROM perv),
    agg AS (
      SELECT SUM(na) AS n_a, SUM(nb) AS n_b,
             SUM(na * (2 * bb + nb)) AS u2,
             SUM(c * c * c - c) AS tie
      FROM cum),
    d AS (
      SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
             CAST(n_a AS DOUBLE) AS nad, CAST(n_b AS DOUBLE) AS nbd,
             CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) AS nd,
             CAST(u2 AS DOUBLE) AS u2d, CAST(tie AS DOUBLE) AS tied
      FROM agg)
    SELECT n_a, n_b,
           u2d / 2.0 AS u1,
           CASE WHEN n_a > 0 AND n_b > 0
                THEN u2d / (2.0 * (nad * nbd)) END AS auc_ab,
           CASE WHEN n_a > 0 AND n_b > 0 AND
                     (nad * nbd / 12.0) *
                     ((nd + 1.0) - tied / (nd * (nd - 1.0))) > 0
                THEN CAST(round(((u2d - nad * nbd) /
                       (2.0 * sqrt((nad * nbd / 12.0) *
                         ((nd + 1.0) - tied / (nd * (nd - 1.0))))))
                       * 1e6) AS BIGINT) END AS z_e6
    FROM d
    """,
    doc="Two-sample Mann-Whitney U (rank-sum) test: is l_quantity "
    "stochastically larger for returned (R) than current (N) line "
    "items? (X166.) Integer quantities 1..50 force heavy ties, "
    "exercising the tie-corrected variance. Exact decimal rank sums "
    "via distributed below-counts; z leaves as e6 BIGINT; auc_ab is "
    "the exact effect size U/(n_a*n_b).",
)
def ht_mann_whitney_qty_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    from legendary_data_pipeline_spark.operators.hypotests import (
        mann_whitney_u,
    )

    li = load_table(spark, sf_dir, "lineitem")
    return mann_whitney_u(li, "l_quantity", "l_returnflag", "R", "N")


@register(
    "ht_kruskal_value_by_priority",
    f"""
    WITH base AS (
      SELECT o_orderpriority AS g, {_cents_sql('o_totalprice')} AS v
      FROM orders
      WHERE o_totalprice IS NOT NULL AND o_orderpriority IS NOT NULL),
    pooled AS (
      SELECT v, CAST(COUNT(*) AS HUGEINT) AS c FROM base GROUP BY v),
    cum AS (
      SELECT v, c,
             COALESCE(SUM(c) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               CAST(0 AS HUGEINT)) AS below
      FROM pooled),
    rankmap AS (
      SELECT v, 2 * below + c + 1 AS r2, c * c * c - c AS t3 FROM cum),
    pergv AS (
      SELECT g, v, CAST(COUNT(*) AS HUGEINT) AS ngv
      FROM base GROUP BY g, v),
    perg AS (
      SELECT g, SUM(ngv) AS ng, SUM(ngv * r2) AS r2g
      FROM pergv JOIN rankmap USING (v) GROUP BY g),
    tie AS (SELECT SUM(t3) AS tie_sum FROM rankmap),
    stats AS (
      SELECT SUM(ng) AS n, CAST(COUNT(*) AS BIGINT) AS n_groups,
             SUM((CAST(r2g AS DOUBLE) * CAST(r2g AS DOUBLE)) /
                 (4.0 * CAST(ng AS DOUBLE))) AS sumrr
      FROM perg),
    d AS (
      SELECT CAST(n AS BIGINT) AS n, n_groups,
             CAST(n AS DOUBLE) AS nd, sumrr,
             CAST(tie_sum AS DOUBLE) AS tied
      FROM stats, tie)
    SELECT n, n_groups, CAST(n_groups - 1 AS BIGINT) AS dof,
           CASE WHEN n_groups >= 2 AND
                     (1.0 - tied / (nd * nd * nd - nd)) > 0
                THEN CAST(round((((12.0 / (nd * (nd + 1.0))) * sumrr
                         - 3.0 * (nd + 1.0))
                        / (1.0 - tied / (nd * nd * nd - nd)))
                       * 1e6) AS BIGINT) END AS h_e6
    FROM d
    """,
    doc="Kruskal-Wallis rank ANOVA: does order value (cents) differ "
    "across the five o_orderpriority classes? (X167.) Near-continuous "
    "cents make the pooled distinct-value frame data-sized — the "
    "distributed below-counts path, not a single-partition window. "
    "Doubled average ranks keep rank sums exact decimal(38,0); "
    "tie-corrected H leaves as e6 BIGINT.",
)
def ht_kruskal_value_by_priority(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from legendary_data_pipeline_spark.operators.hypotests import (
        kruskal_wallis,
    )

    orders = load_table(spark, sf_dir, "orders")
    d = orders.select(
        F.col("o_orderpriority").alias("g"),
        _cents("o_totalprice").alias("v"),
    )
    return kruskal_wallis(d, "v", "g")


@register(
    "ht_welch_value_urgent_low",
    f"""
    WITH base AS (
      SELECT {_cents_sql('o_totalprice')} AS v,
             o_orderpriority = '1-URGENT' AS ia,
             o_orderpriority = '5-LOW' AS ib
      FROM orders
      WHERE o_totalprice IS NOT NULL
        AND o_orderpriority IN ('1-URGENT', '5-LOW')),
    agg AS (
      SELECT
        COALESCE(CAST(SUM(CASE WHEN ia THEN 1 ELSE 0 END) AS HUGEINT),
                 CAST(0 AS HUGEINT)) AS na,
        COALESCE(SUM(CASE WHEN ia THEN CAST(v AS HUGEINT) END),
                 CAST(0 AS HUGEINT)) AS sa,
        COALESCE(SUM(CASE WHEN ia
                     THEN CAST(v AS HUGEINT) * CAST(v AS HUGEINT) END),
                 CAST(0 AS HUGEINT)) AS qa,
        COALESCE(CAST(SUM(CASE WHEN ib THEN 1 ELSE 0 END) AS HUGEINT),
                 CAST(0 AS HUGEINT)) AS nb,
        COALESCE(SUM(CASE WHEN ib THEN CAST(v AS HUGEINT) END),
                 CAST(0 AS HUGEINT)) AS sb,
        COALESCE(SUM(CASE WHEN ib
                     THEN CAST(v AS HUGEINT) * CAST(v AS HUGEINT) END),
                 CAST(0 AS HUGEINT)) AS qb
      FROM base),
    d AS (
      SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
             CAST(na AS DOUBLE) AS nad, CAST(nb AS DOUBLE) AS nbd,
             CAST(sa AS DOUBLE) AS sad, CAST(sb AS DOUBLE) AS sbd,
             CAST(na * qa - sa * sa AS DOUBLE) AS numa,
             CAST(nb * qb - sb * sb AS DOUBLE) AS numb
      FROM agg),
    e AS (
      SELECT n_a, n_b, nad, nbd,
             sad / nad AS mean_a, sbd / nbd AS mean_b,
             (numa / (nad * (nad - 1.0))) / nad AS wa,
             (numb / (nbd * (nbd - 1.0))) / nbd AS wb
      FROM d)
    SELECT n_a, n_b,
           CASE WHEN n_a > 0 THEN mean_a END AS mean_a,
           CASE WHEN n_b > 0 THEN mean_b END AS mean_b,
           CASE WHEN n_a >= 2 AND n_b >= 2 AND (wa + wb) > 0
                THEN CAST(round(((mean_a - mean_b) / sqrt(wa + wb))
                       * 1e6) AS BIGINT) END AS t_e6,
           CASE WHEN n_a >= 2 AND n_b >= 2 AND (wa + wb) > 0
                THEN CAST(round((((wa + wb) * (wa + wb)) /
                       ((wa * wa) / (nad - 1.0)
                        + (wb * wb) / (nbd - 1.0)))
                       * 1e6) AS BIGINT) END AS dof_e6
    FROM e
    """,
    doc="Welch's unequal-variance t-test: do URGENT and LOW priority "
    "orders have different mean value (cents)? (X168.) One filtered "
    "aggregation of exact decimal(38,0) n/sum/sumsq per side; exact-"
    "numerator sample variance; t and Welch-Satterthwaite dof leave "
    "as e6 BIGINT, means as exact IEEE ratios.",
)
def ht_welch_value_urgent_low(spark: SparkSession, sf_dir: str) -> DataFrame:
    from legendary_data_pipeline_spark.operators.hypotests import (
        welch_t_test,
    )

    orders = load_table(spark, sf_dir, "orders")
    d = orders.select(
        F.col("o_orderpriority").alias("g"),
        _cents("o_totalprice").alias("v"),
    )
    return welch_t_test(d, "v", "g", "1-URGENT", "5-LOW")


@register(
    "ht_anova_value_by_priority",
    f"""
    WITH base AS (
      SELECT o_orderpriority AS g, {_cents_sql('o_totalprice')} AS v
      FROM orders
      WHERE o_totalprice IS NOT NULL AND o_orderpriority IS NOT NULL),
    perg AS (
      SELECT g, CAST(COUNT(*) AS HUGEINT) AS ng,
             SUM(CAST(v AS HUGEINT)) AS sg,
             SUM(CAST(v AS HUGEINT) * CAST(v AS HUGEINT)) AS qg
      FROM base GROUP BY g),
    agg AS (
      SELECT SUM(ng) AS n, CAST(COUNT(*) AS BIGINT) AS n_groups,
             SUM(sg) AS s, SUM(qg) AS q,
             SUM((CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE)) /
                 CAST(ng AS DOUBLE)) AS sumsq
      FROM perg),
    d AS (
      SELECT CAST(n AS BIGINT) AS n, n_groups,
             CAST(n AS DOUBLE) AS nd, CAST(n_groups AS DOUBLE) AS kd,
             CAST(s AS DOUBLE) AS sd, CAST(q AS DOUBLE) AS qd, sumsq
      FROM agg),
    e AS (
      SELECT n, n_groups, nd, kd,
             sumsq - (sd * sd) / nd AS ssb,
             qd - sumsq AS ssw,
             qd - (sd * sd) / nd AS sst
      FROM d)
    SELECT n, n_groups,
           CAST(n_groups - 1 AS BIGINT) AS dof_between,
           CAST(n - n_groups AS BIGINT) AS dof_within,
           CASE WHEN n_groups >= 2 AND n > n_groups AND ssw > 0
                THEN CAST(round(((ssb / (kd - 1.0)) / (ssw / (nd - kd)))
                       * 1e6) AS BIGINT) END AS f_e6,
           CASE WHEN sst > 0
                THEN CAST(round((ssb / sst) * 1e6) AS BIGINT) END
             AS eta_sq_e6
    FROM e
    """,
    doc="One-way ANOVA F + eta-squared: how much of order-value "
    "variance does o_orderpriority explain? (X169.) One map-side-"
    "combinable groupBy to five rows of exact decimal(38,0) moments; "
    "per-group S_g^2/n_g doubles sum under the chi-square precedent; "
    "F and eta^2 leave as e6 BIGINT.",
)
def ht_anova_value_by_priority(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from legendary_data_pipeline_spark.operators.hypotests import (
        anova_oneway,
    )

    orders = load_table(spark, sf_dir, "orders")
    d = orders.select(
        F.col("o_orderpriority").alias("g"),
        _cents("o_totalprice").alias("v"),
    )
    return anova_oneway(d, "v", "g")

# ---------------------------------------------------------------------------
# X170-X171 robust-trend / EWMA time-series family (round 9)
# ---------------------------------------------------------------------------

_DAILY_CENTS_SQL = """
      SELECT event_type,
             CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
             CAST(SUM(CAST(round(CAST(value AS DECIMAL(18,2)) * 100, 0)
                           AS BIGINT)) AS BIGINT) AS cents
      FROM events WHERE value IS NOT NULL
      GROUP BY 1, 2
"""


def _daily_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    day = F.expr("ts DIV 86400000000000").cast("long")
    return ev.groupBy("event_type", day.alias("day")).agg(
        F.sum(_cents("value")).cast("long").alias("cents")
    )


@register(
    "ts_theil_sen_daily_value",
    f"""
    WITH daily AS ({_DAILY_CENTS_SQL}),
    pairs AS (
      SELECT a.event_type,
             CAST(b.cents - a.cents AS DOUBLE)
               / CAST(b.day - a.day AS DOUBLE) AS slope
      FROM daily a JOIN daily b
        ON a.event_type = b.event_type AND a.day < b.day),
    slopes AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_pairs,
             quantile_cont(slope, 0.5) AS slope
      FROM pairs GROUP BY event_type),
    meds AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_points,
             quantile_cont(CAST(cents AS DOUBLE), 0.5) AS mv,
             quantile_cont(CAST(day AS DOUBLE), 0.5) AS mt
      FROM daily GROUP BY event_type)
    SELECT m.event_type, m.n_points,
           COALESCE(s.n_pairs, 0) AS n_pairs,
           s.slope AS slope,
           m.mv - s.slope * m.mt AS intercept
    FROM meds m LEFT JOIN slopes s USING (event_type)
    """,
    doc="Theil-Sen robust trend of each event type's daily value "
    "series (X170): median of all pairwise slopes — one anomalous "
    "day cannot move it, unlike the least-squares linear_trend. "
    "Slopes are exact IEEE divisions of exact integer cents; medians "
    "via percentile/quantile_cont (verified bit-parity) — no rounding "
    "step anywhere. O(days^2) pairs per group on the day-grain frame "
    "by design, in-plan guarded at max_points.",
)
def ts_theil_sen_daily_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    from legendary_data_pipeline_spark.operators.stats import (
        theil_sen_trend,
    )

    return theil_sen_trend(
        _daily_cents(spark, sf_dir), "day", "cents",
        group_cols=["event_type"],
    )


@register(
    "ts_mann_kendall_daily_value",
    f"""
    WITH daily AS ({_DAILY_CENTS_SQL}),
    s_agg AS (
      SELECT a.event_type,
             CAST(SUM(CASE WHEN b.cents > a.cents THEN 1
                           WHEN b.cents < a.cents THEN -1 ELSE 0 END)
               AS BIGINT) AS s
      FROM daily a JOIN daily b
        ON a.event_type = b.event_type AND a.day < b.day
      GROUP BY a.event_type),
    ties AS (
      SELECT event_type,
             CAST(SUM(tc * (tc - 1) * (2 * tc + 5)) AS BIGINT) AS tie,
             CAST(SUM(tc) AS BIGINT) AS n_points
      FROM (SELECT event_type, cents, CAST(COUNT(*) AS BIGINT) AS tc
            FROM daily GROUP BY 1, 2) GROUP BY event_type),
    j AS (
      SELECT t.event_type, t.n_points,
             COALESCE(s.s, 0) AS s,
             CAST(t.n_points * (t.n_points - 1) * (2 * t.n_points + 5)
                  - t.tie AS DOUBLE) / 18.0 AS var
      FROM ties t LEFT JOIN s_agg s USING (event_type))
    SELECT event_type, n_points, s,
           CASE WHEN n_points >= 2
                THEN CAST(s AS DOUBLE)
                     / CAST(n_points * (n_points - 1) // 2 AS DOUBLE)
           END AS tau,
           CAST(round((CASE WHEN n_points >= 2 AND var > 0 THEN
                  CASE WHEN s > 0 THEN (CAST(s AS DOUBLE) - 1.0) / sqrt(var)
                       WHEN s < 0 THEN (CAST(s AS DOUBLE) + 1.0) / sqrt(var)
                       ELSE 0.0 END END) * 1e6) AS BIGINT) AS z_e6
    FROM j
    """,
    doc="Mann-Kendall monotone-trend test of each event type's daily "
    "value series (X187) — the significance companion to Theil-Sen "
    "(X170): S = sum of pairwise time-ordered value signs (exact "
    "integer), tie-corrected variance from the (group, value) counts, "
    "continuity-corrected z as z_e6 BIGINT, Kendall tau as a raw "
    "exact-ratio double. Same O(days^2)-by-design pair join on the "
    "coarsened day-grain frame, same in-plan max_points guard.",
)
def ts_mann_kendall_daily_value(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from legendary_data_pipeline_spark.operators.stats import mann_kendall

    return mann_kendall(
        _daily_cents(spark, sf_dir), "day", "cents",
        group_cols=["event_type"],
    )


@register(
    "st_lorenz_order_value",
    f"""
    WITH d AS (
      SELECT o_orderpriority AS g, {_cents_sql('o_totalprice')} AS v
      FROM orders WHERE o_totalprice IS NOT NULL),
    perv AS (
      SELECT g, v, CAST(COUNT(*) AS BIGINT) AS c FROM d GROUP BY 1, 2),
    cum AS (
      SELECT g, v, c,
             COALESCE(SUM(c) OVER (PARTITION BY g ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS below
      FROM perv),
    tot AS (
      SELECT g, CAST(SUM(c) AS BIGINT) AS n,
             CAST(SUM(CAST(c AS HUGEINT) * v) AS HUGEINT) AS totv
      FROM perv GROUP BY 1),
    pts AS (SELECT unnest(range(1, 11)) AS point),
    kept AS (
      SELECT cum.g, p.point, t.n, t.totv,
             GREATEST(LEAST(cum.below + cum.c,
                            (CAST(t.n AS HUGEINT) * p.point) // 10)
                      - LEAST(cum.below,
                              (CAST(t.n AS HUGEINT) * p.point) // 10),
                      0) AS k,
             cum.v
      FROM cum JOIN tot t USING (g) CROSS JOIN pts p)
    SELECT g, CAST(point AS BIGINT) AS point,
           CAST(point AS DOUBLE) / 10.0 AS frac_rows,
           CASE WHEN MAX(totv) <> 0
                THEN CAST(SUM(CAST(k AS HUGEINT) * v) AS DOUBLE)
                     / CAST(MAX(totv) AS DOUBLE)
           END AS cum_share
    FROM kept GROUP BY g, point
    """,
    doc="Lorenz curve points of order value per priority (X211) - the "
    "plottable companion to the one-number Gini: for each decile, the "
    "cumulative value share of the bottom d/10 of orders. Exact "
    "rank-interval arithmetic (the trimmed_mean machinery - ties "
    "straddling a cut split partially by row count); each share one "
    "exact IEEE division of decimal sums.",
)
def st_lorenz_order_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    from legendary_data_pipeline_spark.operators.stats import lorenz_points

    orders = load_table(spark, sf_dir, "orders")
    d = orders.select(
        F.col("o_orderpriority").alias("g"),
        _cents("o_totalprice").alias("v"),
    )
    return lorenz_points(d, "v", group_cols=["g"], n_points=10)


@register(
    "st_trimmed_mean_price_by_flag",
    f"""
    WITH d AS (
      SELECT l_returnflag AS flag, {_cents_sql('l_extendedprice')} AS v
      FROM lineitem WHERE l_extendedprice IS NOT NULL),
    perv AS (
      SELECT flag, v, CAST(COUNT(*) AS BIGINT) AS c
      FROM d GROUP BY 1, 2),
    cum AS (
      SELECT flag, v, c,
             COALESCE(SUM(c) OVER (PARTITION BY flag ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS below
      FROM perv),
    tot AS (SELECT flag, CAST(SUM(c) AS BIGINT) AS n FROM perv GROUP BY 1),
    j AS (
      SELECT cum.*, t.n,
             (CAST(t.n AS HUGEINT) * 50000) // 1000000 AS trim
      FROM cum JOIN tot t USING (flag)),
    kept AS (
      SELECT flag, n, trim, v,
             GREATEST(LEAST(below + c, n - trim)
                      - GREATEST(below, trim), 0) AS k
      FROM j)
    SELECT flag, MAX(n) AS n,
           CAST(MAX(trim) AS BIGINT) AS n_trimmed_per_side,
           CASE WHEN SUM(k) > 0
                THEN CAST(SUM(CAST(k AS HUGEINT) * v) AS DOUBLE)
                     / CAST(SUM(CAST(k AS HUGEINT)) AS DOUBLE)
           END AS trimmed_mean
    FROM kept GROUP BY flag
    """,
    doc="5%-symmetric trimmed mean of extended price per return flag "
    "(X209): the robust location estimate between mean and median. "
    "EXACT - no approximate percentile: per-side trim counts from "
    "integer DIV, each value keeps the overlap of its rank interval "
    "with [t, n-t) (ties straddling a cut trim PARTIALLY by row "
    "count, a pure function of the multiset), one exact IEEE division "
    "of decimal sums.",
)
def st_trimmed_mean_price_by_flag(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from legendary_data_pipeline_spark.operators.stats import trimmed_mean

    li = load_table(spark, sf_dir, "lineitem")
    d = li.select(
        F.col("l_returnflag").alias("flag"),
        _cents("l_extendedprice").alias("v"),
    )
    return trimmed_mean(d, "v", group_cols=["flag"], trim_ppm=50_000)


_FK_ORPHAN_SQL_ONE = """
    SELECT '{name}' AS fk_name,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM {child}
            WHERE {ck} IS NOT NULL) AS n_child,
           (SELECT CAST(COUNT(*) AS BIGINT)
            FROM {child} c
            ANTI JOIN (SELECT DISTINCT {pk} FROM {parent}) p
              ON c.{ck} = p.{pk}
            WHERE c.{ck} IS NOT NULL) AS n_orphans
"""


def _fk_orphan_sql() -> str:
    fks = [
        ("l_orderkey->o_orderkey", "lineitem", "l_orderkey",
         "orders", "o_orderkey"),
        ("l_partkey->p_partkey", "lineitem", "l_partkey",
         "part", "p_partkey"),
        ("l_suppkey->s_suppkey", "lineitem", "l_suppkey",
         "supplier", "s_suppkey"),
    ]
    parts = " UNION ALL ".join(
        _FK_ORPHAN_SQL_ONE.format(
            name=n, child=c, ck=ck, parent=p, pk=pk
        )
        for n, c, ck, p, pk in fks
    )
    return f"""
    WITH rep AS ({parts})
    SELECT fk_name, n_child, n_orphans,
           CASE WHEN n_child > 0
                THEN CAST(n_orphans AS DOUBLE) / CAST(n_child AS DOUBLE)
           END AS orphan_rate
    FROM rep
    """


@register(
    "dq_fk_orphan_lineitem",
    _fk_orphan_sql(),
    doc="Referential-integrity audit of lineitem's three foreign keys "
    "(X208): orphan counts and rates against orders/part/supplier via "
    "LEFT ANTI joins on distinct parent keys - the most common silent-"
    "corruption mode a landing zone sees (late parent loads, partial "
    "backfills, truncated dimensions). Exact integer counts; rate one "
    "exact IEEE division emitted RAW.",
)
def dq_fk_orphan_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    from legendary_data_pipeline_spark.operators.profiling import (
        fk_orphan_report,
    )

    li = load_table(spark, sf_dir, "lineitem")
    return fk_orphan_report(
        li,
        [
            (
                "l_orderkey->o_orderkey",
                load_table(spark, sf_dir, "orders"),
                "l_orderkey",
                "o_orderkey",
            ),
            (
                "l_partkey->p_partkey",
                load_table(spark, sf_dir, "part"),
                "l_partkey",
                "p_partkey",
            ),
            (
                "l_suppkey->s_suppkey",
                load_table(spark, sf_dir, "supplier"),
                "l_suppkey",
                "s_suppkey",
            ),
        ],
    )


@register(
    "dq_uncertainty_priority_status",
    """
    WITH cells AS (
      SELECT o_orderpriority AS a, o_orderstatus AS b,
             CAST(COUNT(*) AS BIGINT) AS obs
      FROM orders GROUP BY 1, 2),
    marg AS (
      SELECT a, b, obs,
             SUM(obs) OVER (PARTITION BY a) AS row_tot,
             SUM(obs) OVER (PARTITION BY b) AS col_tot,
             SUM(obs) OVER () AS n
      FROM cells),
    terms AS (
      SELECT n,
             (CAST(obs AS DOUBLE) / CAST(n AS DOUBLE))
               * ln(CAST(obs AS DOUBLE) * CAST(n AS DOUBLE)
                    / (CAST(row_tot AS DOUBLE) * CAST(col_tot AS DOUBLE)))
               AS mi_term,
             (CAST(obs AS DOUBLE) / CAST(n AS DOUBLE))
               * ln(CAST(n AS DOUBLE) / CAST(row_tot AS DOUBLE)) AS hx_term,
             (CAST(obs AS DOUBLE) / CAST(n AS DOUBLE))
               * ln(CAST(n AS DOUBLE) / CAST(col_tot AS DOUBLE)) AS hy_term
      FROM marg)
    SELECT CAST(max(n) AS BIGINT) AS n,
           CAST(round(SUM(hx_term) * 1e6) AS BIGINT) AS h_x_e6,
           CAST(round(SUM(hy_term) * 1e6) AS BIGINT) AS h_y_e6,
           CAST(round(SUM(mi_term) * 1e6) AS BIGINT) AS mi_e6,
           CASE WHEN SUM(hy_term) > 0 THEN
             CAST(round(SUM(mi_term) / SUM(hy_term) * 1e6) AS BIGINT)
           END AS u_y_given_x_e6,
           CASE WHEN SUM(hx_term) > 0 THEN
             CAST(round(SUM(mi_term) / SUM(hx_term) * 1e6) AS BIGINT)
           END AS u_x_given_y_e6,
           CASE WHEN SUM(hx_term) + SUM(hy_term) > 0 THEN
             CAST(round(2.0 * SUM(mi_term)
                  / (SUM(hx_term) + SUM(hy_term)) * 1e6) AS BIGINT)
           END AS u_sym_e6
    FROM terms
    """,
    doc="Theil's uncertainty coefficient for order priority vs status "
    "(X205): the DIRECTIONAL dependency strength U(y|x) = I/H(y) that "
    "approximate functional-dependency discovery needs and that "
    "chi-square/Cramer's V/NMI all hide (zip->city vs city->zip score "
    "identically there). Same exact contingency pass + e6 micro-nat "
    "emission as st_mutual_information.",
)
def dq_uncertainty_priority_status(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from legendary_data_pipeline_spark.operators.stats import (
        uncertainty_coefficient,
    )

    orders = load_table(spark, sf_dir, "orders")
    return uncertainty_coefficient(
        orders, "o_orderpriority", "o_orderstatus"
    )


@register(
    "emb_label_centroid_matrix",
    """
    WITH base AS (
      SELECT label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    pos AS (
      SELECT label, unnest(e) AS v, generate_subscripts(e, 1) AS pos
      FROM base),
    cent AS (
      SELECT label, pos, avg(v) AS c FROM pos GROUP BY label, pos),
    dots AS (
      SELECT a.label AS label_a, b.label AS label_b,
             SUM(a.c * b.c) AS dot
      FROM cent a JOIN cent b
        ON a.pos = b.pos AND a.label < b.label
      GROUP BY 1, 2),
    norms AS (
      SELECT label, SUM(c * c) AS nrm2 FROM cent GROUP BY 1)
    SELECT d.label_a, d.label_b,
           CAST(round(d.dot / nullif(sqrt(na.nrm2) * sqrt(nb.nrm2), 0.0)
                * 1e6) AS BIGINT) AS cos_e6
    FROM dots d
    JOIN norms na ON na.label = d.label_a
    JOIN norms nb ON nb.label = d.label_b
    """,
    doc="Pairwise cosine similarity between label centroids in "
    "embedding space (X206) - the embedding-space companion to the "
    "token-space source cosine matrix: source-drift / mixture-"
    "redundancy / label-confusability readout. The pair join runs on "
    "the label x dim centroid frame (KiB), never the corpus; per-dim "
    "float-mean summation noise is absorbed by the cos_e6 emission "
    "(the emb_* precedent).",
)
def emb_label_centroid_matrix(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from legendary_data_pipeline_spark.operators.similarity import (
        label_centroid_matrix,
    )

    emb = load_distributed(spark, sf_dir, "embeddings")
    return label_centroid_matrix(emb)


@register(
    "ht_moods_median_value_by_priority",
    f"""
    WITH base AS (
      SELECT o_orderpriority AS g, {_cents_sql('o_totalprice')} AS v
      FROM orders
      WHERE o_totalprice IS NOT NULL AND o_orderpriority IS NOT NULL),
    med AS (
      SELECT CAST(round(quantile_cont(CAST(v AS DOUBLE), 0.5) * 2)
               AS BIGINT) AS m2 FROM base),
    cells AS (
      SELECT g,
             CAST(SUM(CASE WHEN 2 * v > m2 THEN 1 ELSE 0 END)
               AS HUGEINT) AS a,
             CAST(SUM(CASE WHEN 2 * v <= m2 THEN 1 ELSE 0 END)
               AS HUGEINT) AS b
      FROM base, med GROUP BY g),
    marg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(a + b) AS HUGEINT) AS n,
             CAST(SUM(a) AS HUGEINT) AS ta,
             CAST(SUM(b) AS HUGEINT) AS tb
      FROM cells),
    terms AS (
      SELECT m.k, m.n, m.ta, m.tb,
             SUM(power(CAST(c.a AS DOUBLE)
                   - CAST(m.ta AS DOUBLE) * CAST(c.a + c.b AS DOUBLE)
                     / CAST(m.n AS DOUBLE), 2)
                 / (CAST(m.ta AS DOUBLE) * CAST(c.a + c.b AS DOUBLE)
                    / CAST(m.n AS DOUBLE))
               + power(CAST(c.b AS DOUBLE)
                   - CAST(m.tb AS DOUBLE) * CAST(c.a + c.b AS DOUBLE)
                     / CAST(m.n AS DOUBLE), 2)
                 / (CAST(m.tb AS DOUBLE) * CAST(c.a + c.b AS DOUBLE)
                    / CAST(m.n AS DOUBLE))) AS chi2
      FROM cells c, marg m GROUP BY 1, 2, 3, 4)
    SELECT CAST(n AS BIGINT) AS n, k,
           CAST(k - 1 AS BIGINT) AS dof,
           CAST(ta AS BIGINT) AS n_above, CAST(tb AS BIGINT) AS n_below,
           CASE WHEN k >= 2 AND ta > 0 AND tb > 0
                THEN CAST(round(chi2 * 1e6) AS BIGINT) END AS chi2_e6
    FROM terms
    """,
    doc="Mood's median test of order value across priorities (X201): "
    "classify every value against the POOLED median (ties below, the "
    "scipy/SAS convention; doubled-value compare keeps half-integer "
    "medians exact) and chi-square the 2 x k table - the most "
    "assumption-free k-sample location test, the robust coarse cousin "
    "of Kruskal-Wallis. Exact integer cells; chi2_e6 BIGINT.",
)
def ht_moods_median_value_by_priority(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from legendary_data_pipeline_spark.operators.hypotests import (
        moods_median_test,
    )

    orders = load_table(spark, sf_dir, "orders")
    d = orders.select(
        F.col("o_orderpriority").alias("g"),
        _cents("o_totalprice").alias("v"),
    )
    return moods_median_test(d, "v", "g")


@register(
    "st_partial_corr_qty_price_discount",
    """
    WITH d AS (
      SELECT CAST(l_quantity AS BIGINT) AS x,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS y,
             CAST(round(l_discount * 100) AS BIGINT) AS z
      FROM lineitem
      WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
        AND l_discount IS NOT NULL),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(x AS HUGEINT)) AS HUGEINT) AS s0,
             CAST(SUM(CAST(y AS HUGEINT)) AS HUGEINT) AS s1,
             CAST(SUM(CAST(z AS HUGEINT)) AS HUGEINT) AS s2,
             CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS p00,
             CAST(SUM(CAST(x AS HUGEINT) * y) AS HUGEINT) AS p01,
             CAST(SUM(CAST(x AS HUGEINT) * z) AS HUGEINT) AS p02,
             CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT) AS p11,
             CAST(SUM(CAST(y AS HUGEINT) * z) AS HUGEINT) AS p12,
             CAST(SUM(CAST(z AS HUGEINT) * z) AS HUGEINT) AS p22
      FROM d),
    r0 AS (
      SELECT n,
        (CAST(n AS DOUBLE) * CAST(p01 AS DOUBLE)
          - CAST(s0 AS DOUBLE) * CAST(s1 AS DOUBLE))
          / nullif(sqrt(CAST(n AS DOUBLE) * CAST(p00 AS DOUBLE)
                    - CAST(s0 AS DOUBLE) * CAST(s0 AS DOUBLE))
                 * sqrt(CAST(n AS DOUBLE) * CAST(p11 AS DOUBLE)
                    - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)), 0.0)
          AS rxy0,
        (CAST(n AS DOUBLE) * CAST(p02 AS DOUBLE)
          - CAST(s0 AS DOUBLE) * CAST(s2 AS DOUBLE))
          / nullif(sqrt(CAST(n AS DOUBLE) * CAST(p00 AS DOUBLE)
                    - CAST(s0 AS DOUBLE) * CAST(s0 AS DOUBLE))
                 * sqrt(CAST(n AS DOUBLE) * CAST(p22 AS DOUBLE)
                    - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE)), 0.0)
          AS rxz0,
        (CAST(n AS DOUBLE) * CAST(p12 AS DOUBLE)
          - CAST(s1 AS DOUBLE) * CAST(s2 AS DOUBLE))
          / nullif(sqrt(CAST(n AS DOUBLE) * CAST(p11 AS DOUBLE)
                    - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
                 * sqrt(CAST(n AS DOUBLE) * CAST(p22 AS DOUBLE)
                    - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE)), 0.0)
          AS ryz0
      FROM m),
    r AS (
      SELECT n,
             LEAST(GREATEST(rxy0, -1.0), 1.0) AS rxy,
             LEAST(GREATEST(rxz0, -1.0), 1.0) AS rxz,
             LEAST(GREATEST(ryz0, -1.0), 1.0) AS ryz
      FROM r0)
    SELECT n,
           CASE WHEN n >= 2 THEN CAST(round(rxy * 1e6) AS BIGINT) END
             AS r_xy_e6,
           CASE WHEN n >= 2 THEN CAST(round(rxz * 1e6) AS BIGINT) END
             AS r_xz_e6,
           CASE WHEN n >= 2 THEN CAST(round(ryz * 1e6) AS BIGINT) END
             AS r_yz_e6,
           CASE WHEN n >= 2
                 AND (1.0 - rxz * rxz) * (1.0 - ryz * ryz) > 0 THEN
             CAST(round((rxy - rxz * ryz)
                  / sqrt((1.0 - rxz * rxz)
                         * (1.0 - ryz * ryz)) * 1e6)
               AS BIGINT)
           END AS r_xy_z_e6
    FROM r
    """,
    doc="First-order partial correlation of quantity and extended "
    "price with discount's linear effect removed (X202) - the "
    "confounder check: is the qty-price relation real or do both "
    "follow discount? One aggregation of exact decimal moments (3 "
    "sums, 3 squares, 3 cross products); every r and the partial as "
    "fixed IEEE trees, *_e6 BIGINT.",
)
def st_partial_corr_qty_price_discount(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from legendary_data_pipeline_spark.operators.stats import (
        partial_correlation,
    )

    li = load_table(spark, sf_dir, "lineitem")
    d = li.select(
        F.col("l_quantity").cast("long").alias("x"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("y"),
        F.round(F.col("l_discount") * 100).cast("long").alias("z"),
    )
    return partial_correlation(d, "x", "y", "z")


@register(
    "ts_wow_growth_daily_value",
    f"""
    WITH daily AS ({_DAILY_CENTS_SQL})
    SELECT d.event_type, d.day, d.cents,
           p.cents AS prev,
           d.cents - p.cents AS diff,
           CASE WHEN p.cents <> 0
                THEN CAST(d.cents AS DOUBLE) / CAST(p.cents AS DOUBLE)
           END AS growth
    FROM daily d LEFT JOIN daily p
      ON p.event_type = d.event_type AND p.day = d.day - 7
    """,
    doc="Week-over-week growth of each event type's daily value "
    "series (X203): alignment by VALUE of day (a missing day-7 row "
    "yields NULL prev - not the previous ROW, which a naive lag() "
    "window would silently give). diff exact integer; growth one "
    "exact IEEE division emitted RAW.",
)
def ts_wow_growth_daily_value(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from legendary_data_pipeline_spark.operators.stats import pop_growth

    return pop_growth(
        _daily_cents(spark, sf_dir), "day", "cents",
        group_cols=["event_type"], lag=7,
    )


@register(
    "ts_seasonal_decompose_daily",
    f"""
    WITH daily AS ({_DAILY_CENTS_SQL}),
    ann AS (
      SELECT event_type, day, cents,
             CAST(SUM(cents) OVER w AS BIGINT) AS wsum,
             CAST(COUNT(*) OVER w AS BIGINT) AS wcnt,
             day % 7 AS phase
      FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day
        RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
    detr AS (
      SELECT *, CASE WHEN wcnt = 7 THEN 7 * cents - wsum END AS dt
      FROM ann),
    ph AS (
      SELECT event_type, phase, CAST(SUM(dt) AS BIGINT) AS ps,
             CAST(COUNT(dt) AS BIGINT) AS pn
      FROM detr WHERE dt IS NOT NULL GROUP BY 1, 2),
    j AS (
      SELECT d.event_type, d.day, d.cents, d.wsum, d.wcnt, p.ps, p.pn
      FROM detr d LEFT JOIN ph p
        ON p.event_type = d.event_type AND p.phase = d.phase)
    SELECT event_type, day, cents,
           CASE WHEN wcnt = 7 THEN CAST(wsum AS DOUBLE) / 7.0 END
             AS trend,
           CAST(ps AS DOUBLE) / (7.0 * CAST(pn AS DOUBLE)) AS seasonal,
           CAST(cents AS DOUBLE)
             - (CASE WHEN wcnt = 7 THEN CAST(wsum AS DOUBLE) / 7.0 END)
             - CAST(ps AS DOUBLE) / (7.0 * CAST(pn AS DOUBLE))
             AS remainder
    FROM j
    """,
    doc="Additive seasonal decomposition of each event type's daily "
    "value series at period 7 (X197): trend = centered 7-day moving "
    "average (NULL at edges/gaps — the full window must exist), "
    "seasonal = uncentered day-of-week mean of the detrended series "
    "(engine-canonical: the classical re-centering is a "
    "nondeterministic-order float sum; the remainder absorbs the "
    "constant), remainder = value - trend - seasonal. The "
    "period-scaled detrended series 7v - windowsum is an exact "
    "integer, so every emitted number is an exact-ratio RAW double.",
)
def ts_seasonal_decompose_daily(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from legendary_data_pipeline_spark.operators.stats import (
        seasonal_decompose,
    )

    return seasonal_decompose(
        _daily_cents(spark, sf_dir), "day", "cents",
        group_cols=["event_type"], period=7,
    )


@register(
    "ts_cross_correlation_click_purchase",
    f"""
    WITH daily AS ({_DAILY_CENTS_SQL}),
    lags AS (SELECT unnest(range(-7, 8)) AS lag),
    a AS (SELECT day, cents FROM daily WHERE event_type = 'click'),
    b AS (SELECT day, cents FROM daily WHERE event_type = 'purchase'),
    pairs AS (
      SELECT l.lag, CAST(a.cents AS HUGEINT) AS x,
             CAST(b.cents AS HUGEINT) AS y
      FROM a CROSS JOIN lags l
      JOIN b ON b.day = a.day + l.lag),
    m AS (
      SELECT lag, CAST(COUNT(*) AS BIGINT) AS n,
             SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy,
             SUM(x * x) AS sxx, SUM(y * y) AS syy
      FROM pairs GROUP BY 1)
    SELECT CAST(lag AS BIGINT) AS lag, n,
           CASE WHEN n >= 2 THEN
             CAST(round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                  / nullif(sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                         * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                            - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)),
                         0.0) * 1e6) AS BIGINT)
           END AS r_e6
    FROM m
    """,
    doc="Lead-lag cross-correlation between the click and purchase "
    "daily value series at lags -7..7 (X198): a peak at positive lag "
    "means clicks lead purchases by that many days. Paired-sample "
    "convention, exact decimal moments per lag, r_e6 BIGINT - the "
    "two-series companion to ts_acf_daily_value.",
)
def ts_cross_correlation_click_purchase(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from legendary_data_pipeline_spark.operators.stats import (
        cross_correlation,
    )

    return cross_correlation(
        _daily_cents(spark, sf_dir), "day", "cents",
        "event_type", "click", "purchase", max_lag=7,
    )


@register(
    "ht_cohens_d_value_urgent_low",
    f"""
    WITH base AS (
      SELECT {_cents_sql('o_totalprice')} AS v,
             o_orderpriority = '1-URGENT' AS ia,
             o_orderpriority = '5-LOW' AS ib
      FROM orders
      WHERE o_totalprice IS NOT NULL
        AND o_orderpriority IN ('1-URGENT', '5-LOW')),
    agg AS (
      SELECT
        CAST(COALESCE(SUM(CASE WHEN ia THEN 1 END), 0) AS HUGEINT) AS na,
        CAST(COALESCE(SUM(CASE WHEN ia THEN v END), 0) AS HUGEINT) AS sa,
        CAST(COALESCE(SUM(CASE WHEN ia THEN CAST(v AS HUGEINT) * v END),
             0) AS HUGEINT) AS qa,
        CAST(COALESCE(SUM(CASE WHEN ib THEN 1 END), 0) AS HUGEINT) AS nb,
        CAST(COALESCE(SUM(CASE WHEN ib THEN v END), 0) AS HUGEINT) AS sb,
        CAST(COALESCE(SUM(CASE WHEN ib THEN CAST(v AS HUGEINT) * v END),
             0) AS HUGEINT) AS qb
      FROM base),
    d AS (
      SELECT CAST(na AS DOUBLE) AS nad, CAST(nb AS DOUBLE) AS nbd,
             CAST(sa AS DOUBLE) AS sad, CAST(sb AS DOUBLE) AS sbd,
             CAST(qa AS DOUBLE) AS qad, CAST(qb AS DOUBLE) AS qbd,
             na, nb FROM agg),
    f AS (
      SELECT *,
             CASE WHEN na > 0 THEN sad / nad END AS mean_a,
             CASE WHEN nb > 0 THEN sbd / nbd END AS mean_b,
             (nad * qad - sad * sad) / nad AS ss_a,
             (nbd * qbd - sbd * sbd) / nbd AS ss_b,
             nad + nbd AS ntot
      FROM d),
    g AS (
      SELECT *,
             (mean_a - mean_b)
               / nullif(sqrt((ss_a + ss_b) / (ntot - 2.0)), 0.0) AS dd,
             1.0 - 3.0 / (4.0 * ntot - 9.0) AS jc
      FROM f)
    SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           mean_a, mean_b,
           CASE WHEN na >= 2 AND nb >= 2
                THEN CAST(round(dd * 1e6) AS BIGINT) END AS d_e6,
           CASE WHEN na >= 2 AND nb >= 2
                THEN CAST(round(dd * jc * 1e6) AS BIGINT) END AS g_e6
    FROM g
    """,
    doc="Cohen's d + Hedges' g standardized mean difference of order "
    "value between URGENT and LOW priorities (X199) - the parametric "
    "effect size companion to ht_welch_value_urgent_low (as Cliff's "
    "delta is to Mann-Whitney). Exact decimal moments; means RAW; "
    "d/g as e6 BIGINTs (sqrt involved).",
)
def ht_cohens_d_value_urgent_low(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from legendary_data_pipeline_spark.operators.hypotests import cohens_d

    orders = load_table(spark, sf_dir, "orders")
    d = orders.select(
        F.col("o_orderpriority").alias("g"),
        _cents("o_totalprice").alias("v"),
    ).where(F.col("o_totalprice").isNotNull())
    return cohens_d(d, "v", "g", "1-URGENT", "5-LOW")


@register(
    "ht_jonckheere_priority_value",
    f"""
    WITH base AS (
      SELECT o_orderpriority AS g, {_cents_sql('o_totalprice')} AS v
      FROM orders
      WHERE o_totalprice IS NOT NULL AND o_orderpriority IS NOT NULL),
    cells AS (
      SELECT g, v, CAST(COUNT(*) AS BIGINT) AS c FROM base GROUP BY 1, 2),
    grid AS (
      SELECT gg.g, vv.v, COALESCE(c.c, 0) AS c
      FROM (SELECT DISTINCT g FROM cells) gg
      CROSS JOIN (SELECT DISTINCT v FROM cells) vv
      LEFT JOIN cells c USING (g, v)),
    below AS (
      SELECT g, v, c,
             COALESCE(SUM(c) OVER (PARTITION BY g ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS b
      FROM grid),
    pref AS (
      SELECT g, v, c,
             COALESCE(SUM(b) OVER w, 0) AS p,
             COALESCE(SUM(c) OVER w, 0) AS q
      FROM below WINDOW w AS (PARTITION BY v ORDER BY g
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
    j2 AS (
      SELECT CAST(SUM(CAST(c AS HUGEINT) * (2 * CAST(p AS HUGEINT)
               + CAST(q AS HUGEINT))) AS HUGEINT) AS j2
      FROM pref),
    gsz AS (SELECT g, CAST(SUM(c) AS HUGEINT) AS ni FROM cells GROUP BY 1),
    gstats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(ni) AS HUGEINT) AS n,
             CAST(SUM(ni * ni) AS HUGEINT) AS sn2,
             CAST(SUM(ni * (ni - 1) * (2 * ni + 5)) AS HUGEINT) AS sn_a,
             CAST(SUM(ni * (ni - 1) * (ni - 2)) AS HUGEINT) AS sn_b,
             CAST(SUM(ni * (ni - 1)) AS HUGEINT) AS sn_c
      FROM gsz),
    tsz AS (SELECT v, CAST(SUM(c) AS HUGEINT) AS tv FROM cells GROUP BY 1),
    tstats AS (
      SELECT CAST(SUM(tv * (tv - 1) * (2 * tv + 5)) AS HUGEINT) AS st_a,
             CAST(SUM(tv * (tv - 1) * (tv - 2)) AS HUGEINT) AS st_b,
             CAST(SUM(tv * (tv - 1)) AS HUGEINT) AS st_c
      FROM tsz),
    fin AS (
      SELECT j2.j2, g.*, t.*,
             CAST(g.n AS DOUBLE) AS nd,
             CAST(g.n * (g.n - 1) * (2 * g.n + 5)
                  - g.sn_a - t.st_a AS DOUBLE) AS a_term,
             CAST(g.sn_b * t.st_b AS DOUBLE) AS b_term,
             CAST(g.sn_c * t.st_c AS DOUBLE) AS c_term
      FROM j2, gstats g, tstats t),
    v2 AS (
      SELECT *,
             a_term / 72.0
               + b_term / (36.0 * nd * (nd - 1.0) * (nd - 2.0))
               + c_term / (8.0 * nd * (nd - 1.0)) AS var,
             CAST(n * n - sn2 AS DOUBLE) / 2.0 AS e_j2
      FROM fin)
    SELECT CAST(n AS BIGINT) AS n, k,
           CAST(j2 AS DOUBLE) / 2.0 AS j,
           CASE WHEN k >= 2 AND var > 0 THEN
             CAST(round((CAST(j2 AS DOUBLE) - e_j2)
                  / (2.0 * sqrt(var)) * 1e6) AS BIGINT)
           END AS z_e6
    FROM v2
    """,
    doc="Jonckheere-Terpstra ordered-alternative test (X194): does "
    "order value increase monotonically along the priority ordering "
    "'1-URGENT' < ... < '5-LOW'? Strictly more powerful than "
    "Kruskal-Wallis for monotone hypotheses. Exact doubled statistic "
    "2J and SAS-form tie-corrected variance from exact integer group "
    "sizes + pooled tie groups; NO pair join - completed k x |V| grid "
    "with one distributed below-counts pass and k-row per-value "
    "windows; z_e6 BIGINT.",
)
def ht_jonckheere_priority_value(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from legendary_data_pipeline_spark.operators.hypotests import (
        jonckheere_terpstra,
    )

    orders = load_table(spark, sf_dir, "orders")
    d = orders.select(
        F.col("o_orderpriority").alias("g"),
        _cents("o_totalprice").alias("v"),
    ).where(
        F.col("o_totalprice").isNotNull()
        & F.col("o_orderpriority").isNotNull()
    )
    return jonckheere_terpstra(d, "v", "g")


@register(
    "ts_acf_daily_value",
    f"""
    WITH daily AS ({_DAILY_CENTS_SQL}),
    lags AS (SELECT unnest(range(1, 8)) AS lag),
    pairs AS (
      SELECT a.event_type, l.lag,
             CAST(a.cents AS HUGEINT) AS x, CAST(b.cents AS HUGEINT) AS y
      FROM daily a CROSS JOIN lags l
      JOIN daily b ON b.event_type = a.event_type
                  AND b.day = a.day + l.lag),
    m AS (
      SELECT event_type, lag, CAST(COUNT(*) AS BIGINT) AS n,
             SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy,
             SUM(x * x) AS sxx, SUM(y * y) AS syy
      FROM pairs GROUP BY 1, 2)
    SELECT event_type, CAST(lag AS BIGINT) AS lag, n,
           CASE WHEN n >= 2 THEN
             CAST(round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                  / nullif(sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                         * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                            - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)),
                         0.0) * 1e6) AS BIGINT)
           END AS r_e6
    FROM m
    """,
    doc="Autocorrelation function of each event type's daily value "
    "series at lags 1..7 (X193) — the seasonality/persistence "
    "fingerprint and residual-whiteness companion to the runs test. "
    "Paired-sample ACF convention (per-lag means over the matched "
    "pairs — exactly replayable from joins; gaps contribute no pair). "
    "Exact decimal moments per (group, lag); r_e6 BIGINT.",
)
def ts_acf_daily_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    from legendary_data_pipeline_spark.operators.stats import (
        autocorrelation,
    )

    return autocorrelation(
        _daily_cents(spark, sf_dir), "day", "cents",
        group_cols=["event_type"], max_lag=7,
    )


@register(
    "ht_cliffs_delta_qty_flag",
    """
    WITH base AS (
      SELECT CAST(l_quantity AS BIGINT) AS v,
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS ia,
             CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END AS ib
      FROM lineitem
      WHERE l_quantity IS NOT NULL AND l_returnflag IN ('R', 'N')),
    perv AS (
      SELECT v, CAST(SUM(ia) AS HUGEINT) AS na,
             CAST(SUM(ib) AS HUGEINT) AS nb
      FROM base GROUP BY v),
    cum AS (
      SELECT v, na, nb,
             COALESCE(SUM(nb) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               CAST(0 AS HUGEINT)) AS bb
      FROM perv),
    agg AS (
      SELECT SUM(na) AS n_a, SUM(nb) AS n_b,
             SUM(na * bb) AS gt, SUM(na * (bb + nb)) AS le
      FROM cum)
    SELECT CAST(COALESCE(n_a, 0) AS BIGINT) AS n_a,
           CAST(COALESCE(n_b, 0) AS BIGINT) AS n_b,
           CAST(COALESCE(gt, 0) AS BIGINT) AS gt_pairs,
           CAST(COALESCE(n_a * n_b - le, 0) AS BIGINT) AS lt_pairs,
           CASE WHEN n_a > 0 AND n_b > 0
                THEN CAST(gt - (n_a * n_b - le) AS DOUBLE)
                     / CAST(n_a * n_b AS DOUBLE) END AS delta
    FROM agg
    """,
    doc="Cliff's delta ordinal effect size for quantity between "
    "returned (R) and unreturned (N) lines (X188) — the magnitude "
    "companion to ht_mann_whitney_qty_flag's significance: "
    "(P(x>y) - P(x<y)) with exact decimal(38,0) pair counts from the "
    "distinct-value frame + one distributed below-counts pass (never "
    "the O(n_a*n_b) pair materialization); delta is one exact IEEE "
    "division emitted RAW per the exact-ratio representation rule.",
)
def ht_cliffs_delta_qty_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    from legendary_data_pipeline_spark.operators.hypotests import (
        cliffs_delta,
    )

    li = load_table(spark, sf_dir, "lineitem")
    return cliffs_delta(li, "l_quantity", "l_returnflag", "R", "N")


@register(
    "ts_runs_test_daily_value",
    f"""
    WITH daily AS ({_DAILY_CENTS_SQL}),
    med AS (
      SELECT event_type,
             quantile_cont(CAST(cents AS DOUBLE), 0.5) AS med
      FROM daily GROUP BY 1),
    sided AS (
      SELECT d.event_type, d.day,
             CASE WHEN 2 * d.cents > CAST(round(m.med * 2) AS BIGINT)
                  THEN 1
                  WHEN 2 * d.cents < CAST(round(m.med * 2) AS BIGINT)
                  THEN 0 END AS s
      FROM daily d JOIN med m USING (event_type)),
    kept AS (SELECT * FROM sided WHERE s IS NOT NULL),
    ann AS (
      SELECT event_type, s,
             CASE WHEN lag(s) OVER w IS NULL OR s <> lag(s) OVER w
                  THEN 1 ELSE 0 END AS nr
      FROM kept WINDOW w AS (PARTITION BY event_type ORDER BY day)),
    agg AS (
      SELECT event_type,
             CAST(SUM(s) AS BIGINT) AS n_above,
             CAST(SUM(1 - s) AS BIGINT) AS n_below,
             CAST(SUM(nr) AS BIGINT) AS runs
      FROM ann GROUP BY 1),
    d AS (
      SELECT *, CAST(n_above AS DOUBLE) AS n1, CAST(n_below AS DOUBLE) AS n2,
             CAST(n_above AS DOUBLE) + CAST(n_below AS DOUBLE) AS n
      FROM agg),
    v AS (
      SELECT *, 2.0 * n1 * n2 / n + 1.0 AS e_r,
             2.0 * n1 * n2 * (2.0 * n1 * n2 - n) / (n * n * (n - 1.0)) AS var
      FROM d)
    SELECT event_type, n_above, n_below, runs,
           CASE WHEN n_above > 0 AND n_below > 0 AND var > 0
                THEN CAST(round((CAST(runs AS DOUBLE) - e_r) / sqrt(var)
                      * 1e6) AS BIGINT) END AS z_e6
    FROM v
    """,
    doc="Wald-Wolfowitz runs test of each event type's daily value "
    "series around its median (X189) — the serial-randomness gate "
    "behind the CUSUM/EWMA alarms: a trending series has too FEW "
    "same-side runs (z < 0), an oscillating one too many. Median via "
    "percentile/quantile_cont bit-parity; doubled-value compare keeps "
    "half-integer medians exact; R/n1/n2 exact integers from one "
    "per-group ordered lag window; z_e6 BIGINT.",
)
def ts_runs_test_daily_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    from legendary_data_pipeline_spark.operators.hypotests import runs_test

    return runs_test(
        _daily_cents(spark, sf_dir), "day", "cents",
        group_cols=["event_type"],
    )


@register(
    "ht_friedman_daily_event_ranks",
    f"""
    WITH daily AS ({_DAILY_CENTS_SQL}),
    kk AS (SELECT CAST(COUNT(DISTINCT event_type) AS BIGINT) AS k
           FROM daily),
    sizes AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS bk
              FROM daily GROUP BY 1),
    keptb AS (SELECT day FROM sizes, kk WHERE bk = kk.k),
    kept AS (SELECT d.* FROM daily d JOIN keptb USING (day)),
    ranked AS (
      SELECT day, event_type,
             2 * rank() OVER (PARTITION BY day ORDER BY cents)
               + COUNT(*) OVER (PARTITION BY day, cents) - 1 AS r2
      FROM kept),
    per_tr AS (
      SELECT event_type, CAST(SUM(r2) AS HUGEINT) AS s2,
             CAST(SUM(CAST(r2 AS HUGEINT) * r2) AS HUGEINT) AS q2
      FROM ranked GROUP BY 1),
    nb AS (SELECT CAST(COUNT(DISTINCT day) AS BIGINT) AS n FROM ranked),
    stat AS (
      SELECT (SELECT n FROM nb) AS n_blocks, (SELECT k FROM kk) AS k,
             SUM(s2 * s2) AS sum_s2sq, SUM(q2) AS a2
      FROM per_tr),
    dropn AS (
      SELECT CAST(SUM(CASE WHEN bk <> kk.k THEN 1 ELSE 0 END) AS BIGINT)
               AS nd
      FROM sizes, kk)
    SELECT n_blocks, (SELECT nd FROM dropn) AS n_dropped_blocks, k,
           CASE WHEN n_blocks >= 1 AND k >= 2
                 AND (CAST(a2 AS DOUBLE)
                      - CAST(n_blocks * k * (k+1) * (k+1) AS DOUBLE)) > 0
                THEN CAST(k - 1 AS DOUBLE)
                     * (CAST(sum_s2sq AS DOUBLE)
                        - CAST(n_blocks AS DOUBLE) * CAST(n_blocks AS DOUBLE)
                          * CAST(k * (k+1) * (k+1) AS DOUBLE))
                     / (CAST(a2 AS DOUBLE)
                        - CAST(n_blocks * k * (k+1) * (k+1) AS DOUBLE))
           END AS t
    FROM stat
    """,
    doc="Friedman paired k-treatment rank test with days as blocks and "
    "event types as treatments (X190): do the event types keep the "
    "same daily-value ranking across days? Complete-block design — "
    "blocks missing any treatment are dropped and counted "
    "(n_dropped_blocks). Doubled within-block average ranks keep "
    "every term an exact integer; the tie-corrected Conover statistic "
    "is one IEEE division of exact integers, emitted RAW; duplicate "
    "(block, treatment) rows raise in-plan.",
)
def ht_friedman_daily_event_ranks(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from legendary_data_pipeline_spark.operators.hypotests import (
        friedman_test,
    )

    return friedman_test(
        _daily_cents(spark, sf_dir), "day", "event_type", "cents"
    )


@register(
    "ts_ewma_daily_anomalies",
    f"""
    WITH daily AS ({_DAILY_CENTS_SQL}),
    lagged AS (
      SELECT event_type, day, cents,
             lag(cents, 1) OVER w AS l1, lag(cents, 2) OVER w AS l2,
             lag(cents, 3) OVER w AS l3, lag(cents, 4) OVER w AS l4,
             lag(cents, 5) OVER w AS l5, lag(cents, 6) OVER w AS l6,
             lag(cents, 7) OVER w AS l7, lag(cents, 8) OVER w AS l8
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY day)),
    summed AS (
      SELECT event_type, day, cents,
             COALESCE(l1 * 128, 0) + COALESCE(l2 * 64, 0)
             + COALESCE(l3 * 32, 0) + COALESCE(l4 * 16, 0)
             + COALESCE(l5 * 8, 0) + COALESCE(l6 * 4, 0)
             + COALESCE(l7 * 2, 0) + COALESCE(l8 * 1, 0) AS num,
             (CASE WHEN l1 IS NOT NULL THEN 128 ELSE 0 END)
             + (CASE WHEN l2 IS NOT NULL THEN 64 ELSE 0 END)
             + (CASE WHEN l3 IS NOT NULL THEN 32 ELSE 0 END)
             + (CASE WHEN l4 IS NOT NULL THEN 16 ELSE 0 END)
             + (CASE WHEN l5 IS NOT NULL THEN 8 ELSE 0 END)
             + (CASE WHEN l6 IS NOT NULL THEN 4 ELSE 0 END)
             + (CASE WHEN l7 IS NOT NULL THEN 2 ELSE 0 END)
             + (CASE WHEN l8 IS NOT NULL THEN 1 ELSE 0 END) AS den
      FROM lagged),
    based AS (
      SELECT event_type, day, cents,
             CASE WHEN den > 0
                  THEN CAST(num AS DOUBLE) / CAST(den AS DOUBLE)
             END AS ewma
      FROM summed),
    scored AS (
      SELECT event_type, day, cents, ewma,
             CAST(cents AS DOUBLE) - ewma AS resid
      FROM based),
    mad AS (
      SELECT event_type, quantile_cont(abs(resid), 0.5) AS mad
      FROM scored GROUP BY event_type)
    SELECT s.event_type, s.day, s.cents, s.ewma, s.resid,
           CASE WHEN s.resid IS NOT NULL AND m.mad IS NOT NULL
                THEN abs(s.resid) > 3.0 * m.mad END AS is_anomaly
    FROM scored s JOIN mad m USING (event_type)
    """,
    doc="Predictive EWMA baseline + residual anomaly flags for each "
    "event type's daily value series (X171): halving weights 2^(k-j) "
    "over lags 1..8 keep numerator/denominator exact integers; ewma "
    "and resid are exact IEEE ratios; flag = |resid| > 3*MAD(resid) "
    "with the per-group median absolute residual via percentile "
    "(bit-parity with quantile_cont). The exponentially-weighted "
    "companion to ts_zscore_anomalies — absorbs level shifts in ~k "
    "points instead of dragging a long window.",
)
def ts_ewma_daily_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    from legendary_data_pipeline_spark.operators.stats import (
        ewma_anomalies,
    )

    return ewma_anomalies(
        _daily_cents(spark, sf_dir), "day", "cents",
        group_cols=["event_type"], k=8, mad_mult=3.0,
    )

# ---------------------------------------------------------------------------
# X175 link prediction over the co-purchase graph (round 9)
# ---------------------------------------------------------------------------


@register(
    "gr_link_prediction_topk",
    """
    WITH li AS (
      SELECT l_orderkey, l_partkey FROM lineitem WHERE l_quantity >= 40),
    e AS (
      SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
    sym AS (SELECT a AS u, b AS v FROM e UNION ALL SELECT b AS u, a AS v FROM e),
    deg0 AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY u),
    keepn AS (SELECT u FROM deg0 WHERE d <= 150),
    adj AS (
      SELECT s.u, s.v FROM sym s
      JOIN keepn ku ON s.u = ku.u
      JOIN keepn kv ON s.v = kv.u),
    deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS d FROM adj GROUP BY u),
    wedges AS (
      SELECT w1.v AS a, w2.v AS b
      FROM adj w1 JOIN adj w2 ON w1.u = w2.u AND w1.v < w2.v),
    cn AS (
      SELECT a, b, CAST(COUNT(*) AS BIGINT) AS common_neighbors
      FROM wedges GROUP BY a, b),
    ne AS (
      SELECT cn.* FROM cn ANTI JOIN e ON cn.a = e.a AND cn.b = e.b),
    scored AS (
      SELECT ne.a, ne.b, ne.common_neighbors,
             da.d AS deg_a, db.d AS deg_b,
             CAST(ne.common_neighbors AS DOUBLE)
               / CAST(da.d + db.d - ne.common_neighbors AS DOUBLE)
               AS jaccard
      FROM ne JOIN deg da ON ne.a = da.u JOIN deg db ON ne.b = db.u)
    SELECT * FROM scored
    ORDER BY jaccard DESC, a ASC, b ASC LIMIT 100
    """,
    doc="Common-neighbor/Jaccard link prediction on the HIGH-VOLUME "
    "part co-purchase graph (X175; qty >= 40 lines): the 100 "
    "strongest NON-edges — parts that share many co-purchase partners "
    "but never co-occur themselves (assortment-gap / recommendation "
    "candidates). Round-10: the graph is the high-volume slice "
    "because the unfiltered co-purchase graph is near-complete (avg "
    "degree ~120 at sf0.1 -> sum-deg-squared ~3*10^8 wedges; sf1 "
    "probe OOMed) — on such graphs common-neighbor counts carry no "
    "ranking signal anyway (everything is at distance 2); the sparse "
    "high-volume slice (max degree 23 at sf0.1, ~9*10^5 wedges) is "
    "both the semantically meaningful and the scalable formulation. "
    "Hub nodes (degree > 150) are excluded before the wedge join (the "
    "sum-of-degree-squared bound — the triangle-count lesson); "
    "distance-2 candidate generation never materializes cn=0 pairs; "
    "ranking is a bounded TakeOrderedAndProject under a total order.",
)
def gr_link_prediction_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from legendary_data_pipeline_spark.operators.graph import (
        link_prediction_topk,
    )

    li = (
        load_table(spark, sf_dir, "lineitem")
        .where(F.col("l_quantity") >= 40)
        .select("l_orderkey", "l_partkey")
    )
    a = li.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("id_a"))
    b = li.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("id_b"))
    edges = a.join(b, "k").filter(F.col("id_a") < F.col("id_b")).select(
        "id_a", "id_b"
    )
    return link_prediction_topk(edges, top_k=100, max_degree=150)

# ---------------------------------------------------------------------------
# X176 equal-frequency binning + X177 survivorship fusion (round 9)
# ---------------------------------------------------------------------------


@register(
    "dq_equal_freq_bins_price",
    f"""
    WITH base AS (
      SELECT l_returnflag AS flag, {_cents_sql('l_extendedprice')} AS v
      FROM lineitem WHERE l_extendedprice IS NOT NULL),
    g AS (
      SELECT flag, v, CAST(COUNT(*) AS HUGEINT) AS c
      FROM base GROUP BY 1, 2),
    cum AS (
      SELECT flag, v, c,
             COALESCE(SUM(c) OVER (PARTITION BY flag ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               CAST(0 AS HUGEINT)) AS below
      FROM g),
    tot AS (SELECT flag, SUM(c) AS n FROM g GROUP BY 1),
    b AS (
      SELECT cum.flag, v, c,
             CAST((10 * below) // n AS BIGINT) AS bin
      FROM cum JOIN tot ON cum.flag = tot.flag)
    SELECT flag, bin,
           CAST(MIN(v) AS BIGINT) AS lo,
           CAST(MAX(v) AS BIGINT) AS hi,
           CAST(COUNT(*) AS BIGINT) AS n_values,
           CAST(SUM(c) AS BIGINT) AS n_rows
    FROM b GROUP BY 1, 2
    """,
    doc="Equal-frequency decile bin table of line-item price cents per "
    "return flag (X176): bin = floor(10*below/n) — exact integer "
    "division over distributed below-counts, ties never split, "
    "bit-deterministic boundaries. Near-continuous cents over 3 "
    "coarse groups = the coarse-group distributed-prefix-sum regime.",
)
def dq_equal_freq_bins_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    from legendary_data_pipeline_spark.operators.stats import (
        equal_freq_bins,
    )

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        _cents("l_extendedprice").alias("v"),
    )
    return equal_freq_bins(li, "v", n_bins=10, group_cols=["flag"]).select(
        "flag", "bin", "lo", "hi", "n_values", "n_rows"
    )


@register(
    "er_golden_record_customers",
    f"""
    WITH base AS (
      SELECT o_custkey, o_orderpriority, o_orderstatus,
             CAST(o_orderdate AS DATE) AS d,
             {_cents_sql('o_totalprice')} AS cents
      FROM orders),
    agg AS (
      SELECT o_custkey,
             CAST(COUNT(*) AS BIGINT) AS n_records,
             CAST(MAX(cents) AS BIGINT) AS max_value_cents
      FROM base GROUP BY 1),
    mf AS (
      SELECT o_custkey, o_orderpriority,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
               ORDER BY COUNT(*) DESC, o_orderpriority ASC) AS rn
      FROM base WHERE o_orderpriority IS NOT NULL
      GROUP BY o_custkey, o_orderpriority),
    latest AS (
      SELECT o_custkey, o_orderstatus,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
               ORDER BY d DESC, o_orderstatus DESC) AS rn
      FROM base WHERE o_orderstatus IS NOT NULL AND d IS NOT NULL),
    longest AS (
      SELECT o_custkey, o_orderpriority AS lp,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
               ORDER BY length(o_orderpriority) DESC,
                        o_orderpriority ASC) AS rn
      FROM base WHERE o_orderpriority IS NOT NULL)
    SELECT a.o_custkey, a.n_records, a.max_value_cents,
           mf.o_orderpriority AS modal_priority,
           latest.o_orderstatus AS latest_status,
           longest.lp AS longest_priority
    FROM agg a
    LEFT JOIN mf ON a.o_custkey = mf.o_custkey AND mf.rn = 1
    LEFT JOIN latest ON a.o_custkey = latest.o_custkey AND latest.rn = 1
    LEFT JOIN longest ON a.o_custkey = longest.o_custkey AND longest.rn = 1
    """,
    doc="Golden-record survivorship per customer from their orders "
    "(X177): modal order priority (tie -> lexicographic min), "
    "last-writer-wins status by order date (tie -> max value), max "
    "order value, longest priority string (tie -> lexicographic min) "
    "- every rule an order-independent struct-min/max aggregation, so "
    "the golden record is bit-deterministic. The post-ER fusion step: "
    "clusters in, one canonical row out.",
)
def er_golden_record_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from legendary_data_pipeline_spark.operators.entity import (
        survivorship_fuse,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderpriority",
        F.col("o_orderpriority").alias("lp"),
        "o_orderstatus",
        F.col("o_orderdate").cast("date").alias("d"),
        _cents("o_totalprice").alias("cents"),
    )
    fused = survivorship_fuse(
        orders,
        ["o_custkey"],
        most_frequent=["o_orderpriority"],
        latest_by="d",
        latest_cols=["o_orderstatus"],
        max_cols=["cents"],
        longest_cols=["lp"],
    )
    return fused.select(
        "o_custkey",
        "n_records",
        F.col("cents").alias("max_value_cents"),
        F.col("o_orderpriority").alias("modal_priority"),
        F.col("o_orderstatus").alias("latest_status"),
        F.col("lp").alias("longest_priority"),
    )

# ---------------------------------------------------------------------------
# X181 Jensen-Shannon source divergence (round 9)
# ---------------------------------------------------------------------------


@register(
    "an_source_js_divergence",
    """
    WITH d AS (
      SELECT source AS g,
             unnest(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                                __w -> __w <> '')) AS w
      FROM documents WHERE source IS NOT NULL),
    counts AS (
      SELECT g, w, CAST(COUNT(*) AS BIGINT) AS c FROM d GROUP BY 1, 2),
    totals AS (SELECT g, CAST(SUM(c) AS BIGINT) AS t FROM counts GROUP BY 1),
    vocab AS (SELECT DISTINCT w FROM counts),
    grid AS (
      SELECT tt.g, v.w, tt.t, CAST(COALESCE(c.c, 0) AS BIGINT) AS c
      FROM totals tt CROSS JOIN vocab v
      LEFT JOIN counts c ON c.g = tt.g AND c.w = v.w),
    pairs AS (
      SELECT a.g AS group_a, b.g AS group_b, a.w,
             a.c AS ca, a.t AS ta, b.c AS cb, b.t AS tb
      FROM grid a JOIN grid b ON a.w = b.w AND a.g < b.g),
    terms AS (
      SELECT group_a, group_b,
             CASE WHEN ca > 0 OR cb > 0 THEN 1 ELSE 0 END AS present,
             (CASE WHEN ca > 0
                   THEN 0.5 * ((CAST(ca AS DOUBLE) / CAST(ta AS DOUBLE))
                        * ln((CAST(ca AS DOUBLE) / CAST(ta AS DOUBLE))
                             / ((CAST(ca AS DOUBLE) / CAST(ta AS DOUBLE)
                                 + CAST(cb AS DOUBLE) / CAST(tb AS DOUBLE))
                                / 2.0)))
                   ELSE 0.0 END)
             + (CASE WHEN cb > 0
                   THEN 0.5 * ((CAST(cb AS DOUBLE) / CAST(tb AS DOUBLE))
                        * ln((CAST(cb AS DOUBLE) / CAST(tb AS DOUBLE))
                             / ((CAST(ca AS DOUBLE) / CAST(ta AS DOUBLE)
                                 + CAST(cb AS DOUBLE) / CAST(tb AS DOUBLE))
                                / 2.0)))
                   ELSE 0.0 END) AS term
      FROM pairs)
    SELECT group_a, group_b,
           CAST(SUM(present) AS BIGINT) AS n_items,
           CAST(round(SUM(term) * 1e6) AS BIGINT) AS jsd_e6,
           CAST(round((SUM(term) / 0.6931471805599453) * 1e6) AS BIGINT)
             AS jsd_norm_e6
    FROM terms GROUP BY 1, 2
    """,
    doc="Pairwise Jensen-Shannon divergence between every source "
    "pair's unigram distribution (X181) — the symmetric, bounded "
    "'how different are these corpora' measure mixture design needs "
    "where KL is asymmetric/infinite. Exact integer counts, IEEE "
    "ratios, one ln per (pair, vocab item); the vocab-sized term sum "
    "leaves as e6 BIGINT (the chi-square/MI precedent). One item-"
    "keyed shuffle; everything downstream is vocab x pairs scale.",
)
def an_source_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    from legendary_data_pipeline_spark.operators.dedup import tokens_expr
    from legendary_data_pipeline_spark.operators.profiling import (
        js_divergence_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    d = docs.where(F.col("source").isNotNull()).select(
        F.col("source").alias("g"),
        F.explode(
            F.filter(tokens_expr("text"), lambda w: w != F.lit(""))
        ).alias("w"),
    )
    return js_divergence_pairs(d, "g", "w")

# ---------------------------------------------------------------------------
# X184 Wilcoxon signed-rank: paired pre/post customer value (round 9)
# ---------------------------------------------------------------------------


@register(
    "ht_wilcoxon_customer_value_shift",
    f"""
    WITH pc AS (
      SELECT o_custkey,
             SUM(CASE WHEN o_orderdate < TIMESTAMP '1997-01-01'
                      THEN {_cents_sql('o_totalprice')} END) AS a,
             SUM(CASE WHEN o_orderdate >= TIMESTAMP '1997-01-01'
                      THEN {_cents_sql('o_totalprice')} END) AS b
      FROM orders GROUP BY 1),
    d AS (
      SELECT CAST(a - b AS BIGINT) AS d FROM pc
      WHERE a IS NOT NULL AND b IS NOT NULL),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs FROM d),
    nzv AS (
      SELECT abs(d) AS ad,
             CAST(SUM(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS HUGEINT) AS np,
             CAST(COUNT(*) AS HUGEINT) AS c
      FROM d WHERE d <> 0 GROUP BY 1),
    cum AS (
      SELECT ad, np, c,
             COALESCE(SUM(c) OVER (ORDER BY ad
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               CAST(0 AS HUGEINT)) AS below
      FROM nzv),
    agg AS (
      SELECT COALESCE(SUM(c), CAST(0 AS HUGEINT)) AS n,
             COALESCE(SUM(np * (2 * below + c + 1)),
                      CAST(0 AS HUGEINT)) AS w2,
             COALESCE(SUM(c * c * c - c), CAST(0 AS HUGEINT)) AS tie
      FROM cum)
    SELECT tot.n_pairs,
           CAST(n AS BIGINT) AS n_nonzero,
           CAST(w2 AS DOUBLE) / 2.0 AS w_plus,
           CASE WHEN n > 0 AND
                     (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0)
                      * (2.0 * CAST(n AS DOUBLE) + 1.0) / 24.0
                      - CAST(tie AS DOUBLE) / 48.0) > 0
                THEN CAST(round(((CAST(w2 AS DOUBLE) / 2.0
                         - CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0)
                           / 4.0)
                        / sqrt(CAST(n AS DOUBLE)
                               * (CAST(n AS DOUBLE) + 1.0)
                               * (2.0 * CAST(n AS DOUBLE) + 1.0) / 24.0
                               - CAST(tie AS DOUBLE) / 48.0))
                       * 1e6) AS BIGINT) END AS z_e6
    FROM agg, tot
    """,
    doc="Wilcoxon signed-rank test on paired customer value: per "
    "customer, total order cents before vs after 1997 (customers "
    "active in both periods) — did the typical customer's spend "
    "SHIFT, robust to the heavy spend tail a paired t-test would "
    "chase? (X184.) Doubled |d|-ranks over distributed below-counts "
    "keep everything exact decimal; z leaves as e6 BIGINT.",
)
def ht_wilcoxon_customer_value_shift(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from legendary_data_pipeline_spark.operators.hypotests import (
        wilcoxon_signed_rank,
    )

    orders = load_table(spark, sf_dir, "orders")
    cut = F.lit("1997-01-01").cast("timestamp")
    per_cust = orders.groupBy("o_custkey").agg(
        F.sum(
            F.when(F.col("o_orderdate") < cut, _cents("o_totalprice"))
        ).alias("a"),
        F.sum(
            F.when(F.col("o_orderdate") >= cut, _cents("o_totalprice"))
        ).alias("b"),
    )
    return wilcoxon_signed_rank(per_cust, "a", "b")

# ---------------------------------------------------------------------------
# X186 Brown-Forsythe variance homogeneity (round 9)
# ---------------------------------------------------------------------------


@register(
    "ht_brown_forsythe_value_by_priority",
    f"""
    WITH base AS (
      SELECT o_orderpriority AS g, {_cents_sql('o_totalprice')} AS v
      FROM orders
      WHERE o_totalprice IS NOT NULL AND o_orderpriority IS NOT NULL),
    meds AS (
      SELECT g, quantile_cont(CAST(v AS DOUBLE), 0.5) AS med
      FROM base GROUP BY g),
    z AS (
      SELECT base.g,
             abs(2 * v - CAST(round(med * 2.0) AS BIGINT)) AS z2
      FROM base JOIN meds USING (g)),
    perg AS (
      SELECT g, CAST(COUNT(*) AS HUGEINT) AS ng,
             SUM(CAST(z2 AS HUGEINT)) AS sg,
             SUM(CAST(z2 AS HUGEINT) * CAST(z2 AS HUGEINT)) AS qg
      FROM z GROUP BY g),
    agg AS (
      SELECT SUM(ng) AS n, CAST(COUNT(*) AS BIGINT) AS n_groups,
             SUM(sg) AS s, SUM(qg) AS q,
             SUM((CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE)) /
                 CAST(ng AS DOUBLE)) AS sumsq
      FROM perg),
    d AS (
      SELECT CAST(n AS BIGINT) AS n, n_groups,
             CAST(n AS DOUBLE) AS nd, CAST(n_groups AS DOUBLE) AS kd,
             CAST(s AS DOUBLE) AS sd, CAST(q AS DOUBLE) AS qd, sumsq
      FROM agg),
    e AS (
      SELECT n, n_groups, nd, kd,
             sumsq - (sd * sd) / nd AS ssb,
             qd - sumsq AS ssw
      FROM d)
    SELECT n, n_groups,
           CASE WHEN n_groups > 0 THEN CAST(n_groups - 1 AS BIGINT) END
             AS dof_between,
           CASE WHEN n_groups > 0 THEN CAST(n - n_groups AS BIGINT) END
             AS dof_within,
           CASE WHEN n_groups >= 2 AND n > n_groups AND ssw > 0
                THEN CAST(round(((ssb / (kd - 1.0)) / (ssw / (nd - kd)))
                       * 1e6) AS BIGINT) END AS w_e6
    FROM e
    """,
    doc="Brown-Forsythe variance-homogeneity test across the five "
    "order priorities (X186): the robust Levene form (group MEDIAN "
    "centers) that validates ht_anova_value_by_priority's equal-"
    "variance assumption. Integer-doubled median spreads keep the "
    "whole pipeline in the exact-decimal ANOVA machinery (F is "
    "scale-invariant); W leaves as e6 BIGINT.",
)
def ht_brown_forsythe_value_by_priority(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from legendary_data_pipeline_spark.operators.hypotests import (
        brown_forsythe,
    )

    orders = load_table(spark, sf_dir, "orders")
    d = orders.select(
        F.col("o_orderpriority").alias("g"),
        _cents("o_totalprice").alias("v"),
    )
    return brown_forsythe(d, "v", "g")


# ---------------------------------------------------------------------------
# Cochran–Armitage trend test (operators/hypotests.py, X212)
# ---------------------------------------------------------------------------


@register(
    "ht_cochran_armitage_status_by_priority",
    """
    WITH d AS (
      SELECT o_orderpriority AS g,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS s
      FROM orders
      WHERE o_orderpriority IS NOT NULL AND o_orderstatus IS NOT NULL),
    pg AS (
      SELECT g, CAST(COUNT(*) AS BIGINT) AS ni,
             CAST(SUM(s) AS BIGINT) AS ri
      FROM d GROUP BY 1),
    sc AS (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY g ASC) - 1 AS BIGINT) AS si,
             ni, ri
      FROM pg),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(ni) AS BIGINT) AS n,
             CAST(SUM(ri) AS BIGINT) AS n_success,
             CAST(SUM(CAST(si AS HUGEINT) * ri) AS HUGEINT) AS sr,
             CAST(SUM(CAST(si AS HUGEINT) * ni) AS HUGEINT) AS sn,
             CAST(SUM(CAST(si AS HUGEINT) * si * ni) AS HUGEINT) AS ssn
      FROM sc)
    SELECT n, k, n_success,
           CASE WHEN k >= 2 AND n_success > 0 AND n_success < n
                     AND (CAST(n AS HUGEINT) * ssn - sn * sn) > 0
                THEN CAST(round(
                  CAST(CAST(n AS HUGEINT) * sr
                       - CAST(n_success AS HUGEINT) * sn AS DOUBLE)
                  / sqrt(CAST(n_success AS DOUBLE)
                         * CAST(n - n_success AS DOUBLE)
                         * CAST(CAST(n AS HUGEINT) * ssn - sn * sn
                                AS DOUBLE)
                         / CAST(n AS DOUBLE)) * 1e6) AS BIGINT)
           END AS z_e6
    FROM agg
    """,
    doc="Cochran-Armitage trend test (X212): does the fraction of "
    "FINISHED orders trend monotonically across the priority ordering "
    "1-URGENT..5-LOW? The binary-outcome companion to Jonckheere's "
    "ordered-values test. Numerator N*Sum(s*r) - R*Sum(s*n) and "
    "variance core N*Sum(s^2*n) - (Sum(s*n))^2 are exact decimal "
    "integers; z combines the exact factors in one IEEE tree (the "
    "factored form - multiplying R(N-R)*C out would pass 38 digits "
    "near N~2e9), emitted z_e6.",
)
def ht_cochran_armitage_status_by_priority(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from legendary_data_pipeline_spark.operators.hypotests import (
        cochran_armitage_trend,
    )

    orders = load_table(spark, sf_dir, "orders")
    d = orders.select(
        F.col("o_orderpriority").alias("g"),
        (F.col("o_orderstatus") == "F").cast("long").alias("s"),
    ).where(
        F.col("o_orderpriority").isNotNull()
        & F.col("o_orderstatus").isNotNull()
    )
    return cochran_armitage_trend(d, "g", "s")


# ---------------------------------------------------------------------------
# Nelson–Aalen cumulative hazard (operators/stats.py, X213)
# ---------------------------------------------------------------------------


@register(
    "sv_nelson_aalen_user_tenure",
    f"""
    WITH spans AS (
      SELECT user_id,
             CAST(floor(epoch(MIN(ts))) AS BIGINT) AS first_s,
             CAST(floor(epoch(MAX(ts))) AS BIGINT) AS last_s
      FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
      GROUP BY 1),
    horizon AS (SELECT MAX(last_s) AS maxs FROM spans),
    subj AS (
      SELECT (last_s - first_s) AS t,
             CASE WHEN last_s < maxs - {_KM_HORIZON_S} THEN 1 ELSE 0 END
               AS e
      FROM spans, horizon),
    per_t AS (
      SELECT t, CAST(SUM(e) AS BIGINT) AS n_events,
             CAST(SUM(1 - e) AS BIGINT) AS n_censored
      FROM subj GROUP BY 1),
    ann AS (
      SELECT t, n_events, n_censored,
             CAST(SUM(n_events + n_censored) OVER ()
                  - COALESCE(SUM(n_events + n_censored) OVER (ORDER BY t
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS n_at_risk
      FROM per_t)
    SELECT t, n_at_risk, n_events, n_censored,
           CAST(round(SUM(CASE WHEN n_events > 0 AND n_at_risk > 0
                  THEN CAST(n_events AS DOUBLE)
                       / CAST(n_at_risk AS DOUBLE)
                  ELSE 0.0 END) OVER (ORDER BY t
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                * 1e6) AS BIGINT) AS cum_hazard_e6
    FROM ann
    """,
    doc="Nelson-Aalen cumulative-hazard curve of user tenure (X213), "
    "same spans/censoring construction as sv_user_retention_km (12 h "
    "horizon censor): H(t) = ordered sum of exact-IEEE d/n terms over "
    "the distinct-time frame — the additive companion KM's product "
    "form cannot give (hazard sums are linear), emitted "
    "cum_hazard_e6.",
)
def sv_nelson_aalen_user_tenure(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from legendary_data_pipeline_spark.operators.stats import nelson_aalen

    ev = load_table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    sec = F.expr("ts DIV 1000000000").cast("long")
    spans = ev.groupBy("user_id").agg(
        F.min(sec).alias("__first"), F.max(sec).alias("__last")
    )
    w_all = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    subj = spans.select(
        (F.col("__last") - F.col("__first")).alias("__dur"),
        (
            F.col("__last") < F.max("__last").over(w_all) - _KM_HORIZON_S
        ).cast("int").alias("__event"),
    )
    return nelson_aalen(subj, "__dur", "__event")


# ---------------------------------------------------------------------------
# Market-basket pair lift (operators/graph.py, X214)
# ---------------------------------------------------------------------------


@register(
    "gr_basket_pair_lift",
    """
    WITH items AS (
      SELECT DISTINCT l_orderkey AS b, l_partkey AS i
      FROM lineitem
      WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
    nb AS (SELECT CAST(COUNT(DISTINCT b) AS BIGINT) AS n_baskets
           FROM items),
    ic AS (SELECT i, CAST(COUNT(*) AS BIGINT) AS ci
           FROM items GROUP BY 1),
    p AS (
      SELECT a.i AS item_a, b2.i AS item_b,
             CAST(COUNT(*) AS BIGINT) AS pair_count
      FROM items a JOIN items b2 ON a.b = b2.b AND a.i < b2.i
      GROUP BY 1, 2 HAVING COUNT(*) >= 2)
    SELECT item_a, item_b, pair_count,
           ca.ci AS count_a, cb.ci AS count_b, nb.n_baskets,
           CAST(CAST(pair_count AS HUGEINT) * nb.n_baskets AS DOUBLE)
           / CAST(CAST(ca.ci AS HUGEINT) * cb.ci AS DOUBLE) AS lift
    FROM p JOIN ic ca ON p.item_a = ca.i
           JOIN ic cb ON p.item_b = cb.i
           CROSS JOIN nb
    """,
    doc="Market-basket association lift over co-purchased part pairs "
    "(X214): lift = N*c_ab/(c_a*c_b) from exact basket counts, pairs "
    "generated by the canonical bounded a<b self-join on the order "
    "key (work = Sum(size^2)/2 per basket, in-plan raise above "
    "max_basket_size - never all-pairs over items), min pair count 2, "
    "lift one exact IEEE division of decimal products.",
)
def gr_basket_pair_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from legendary_data_pipeline_spark.operators.graph import (
        basket_pair_lift,
    )

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    return basket_pair_lift(
        li, "l_orderkey", "l_partkey", min_pair_count=2
    )


# ---------------------------------------------------------------------------
# Page's L trend + Kendall's W (operators/hypotests.py, X217/X218)
# ---------------------------------------------------------------------------


@register(
    "ht_page_trend_daily_event_ranks",
    f"""
    WITH daily AS ({_DAILY_CENTS_SQL}),
    kk AS (SELECT CAST(COUNT(DISTINCT event_type) AS BIGINT) AS k
           FROM daily),
    sizes AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS bk
              FROM daily GROUP BY 1),
    keptb AS (SELECT day FROM sizes, kk WHERE bk = kk.k),
    kept AS (SELECT d.* FROM daily d JOIN keptb USING (day)),
    ranked AS (
      SELECT day, event_type,
             2 * rank() OVER (PARTITION BY day ORDER BY cents)
               + COUNT(*) OVER (PARTITION BY day, cents) - 1 AS r2
      FROM kept),
    per_tr AS (
      SELECT event_type, CAST(SUM(r2) AS HUGEINT) AS s2
      FROM ranked GROUP BY 1),
    sc AS (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY event_type ASC)
               AS HUGEINT) AS sj, s2
      FROM per_tr),
    nb AS (SELECT CAST(COUNT(DISTINCT day) AS BIGINT) AS n FROM ranked),
    stat AS (
      SELECT (SELECT n FROM nb) AS n_blocks, (SELECT k FROM kk) AS k,
             CAST(SUM(sj * s2) AS HUGEINT) AS l2
      FROM sc),
    dropn AS (
      SELECT CAST(SUM(CASE WHEN bk <> kk.k THEN 1 ELSE 0 END) AS BIGINT)
               AS nd
      FROM sizes, kk)
    SELECT n_blocks, (SELECT nd FROM dropn) AS n_dropped_blocks, k,
           CAST(l2 AS BIGINT) AS l2,
           CASE WHEN n_blocks >= 1 AND k >= 2 THEN
             CAST(round(
               CAST(2 * l2 - CAST(n_blocks AS HUGEINT) * k * (k + 1)
                    * (k + 1) AS DOUBLE)
               / sqrt(CAST(n_blocks AS DOUBLE) * CAST(k AS DOUBLE)
                      * CAST(k AS DOUBLE) * (CAST(k AS DOUBLE) + 1.0)
                      * (CAST(k AS DOUBLE) * CAST(k AS DOUBLE) - 1.0)
                      / 9.0) * 1e6) AS BIGINT)
           END AS z_e6
    FROM stat
    """,
    doc="Page's L ordered-alternative trend test with days as blocks "
    "and event types (ascending key = hypothesis order) as treatments "
    "(X217): do daily values trend monotonically along the event-type "
    "ordering? The blocked companion to Jonckheere, strictly more "
    "powerful than Friedman against a monotone alternative. Doubled "
    "ranks keep 2L exact; z evaluates in the quadrupled frame "
    "(expectation n*k*(k+1)^2 needs no division) with the published "
    "untied variance (ties conservative, documented); z_e6.",
)
def ht_page_trend_daily_event_ranks(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from legendary_data_pipeline_spark.operators.hypotests import (
        page_trend_test,
    )

    return page_trend_test(
        _daily_cents(spark, sf_dir), "day", "event_type", "cents"
    )


@register(
    "ht_kendalls_w_daily_event_ranks",
    f"""
    WITH daily AS ({_DAILY_CENTS_SQL}),
    kk AS (SELECT CAST(COUNT(DISTINCT event_type) AS BIGINT) AS k
           FROM daily),
    sizes AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS bk
              FROM daily GROUP BY 1),
    keptb AS (SELECT day FROM sizes, kk WHERE bk = kk.k),
    kept AS (SELECT d.* FROM daily d JOIN keptb USING (day)),
    ranked AS (
      SELECT day, event_type,
             2 * rank() OVER (PARTITION BY day ORDER BY cents)
               + COUNT(*) OVER (PARTITION BY day, cents) - 1 AS r2
      FROM kept),
    per_tr AS (
      SELECT event_type, CAST(SUM(r2) AS HUGEINT) AS s2
      FROM ranked GROUP BY 1),
    nb AS (SELECT CAST(COUNT(DISTINCT day) AS BIGINT) AS n FROM ranked),
    ties AS (
      SELECT CAST(COALESCE(SUM(CAST(t AS HUGEINT) * t * t - t), 0)
               AS HUGEINT) AS tt
      FROM (SELECT CAST(COUNT(*) AS BIGINT) AS t
            FROM kept GROUP BY day, cents)),
    stat AS (
      SELECT (SELECT n FROM nb) AS n_blocks, (SELECT k FROM kk) AS k,
             CAST(SUM((s2 - CAST((SELECT n FROM nb) AS HUGEINT)
                       * ((SELECT k FROM kk) + 1))
                      * (s2 - CAST((SELECT n FROM nb) AS HUGEINT)
                        * ((SELECT k FROM kk) + 1))) AS HUGEINT)
               AS s2sq
      FROM per_tr),
    dropn AS (
      SELECT CAST(SUM(CASE WHEN bk <> kk.k THEN 1 ELSE 0 END) AS BIGINT)
               AS nd
      FROM sizes, kk)
    SELECT n_blocks, (SELECT nd FROM dropn) AS n_dropped_blocks, k,
           CASE WHEN (CAST(n_blocks AS HUGEINT) * n_blocks
                      * (CAST(k AS HUGEINT) * k * k - k)
                      - CAST(n_blocks AS HUGEINT)
                        * (SELECT tt FROM ties)) > 0
                THEN CAST(3 * s2sq AS DOUBLE)
                     / CAST(CAST(n_blocks AS HUGEINT) * n_blocks
                            * (CAST(k AS HUGEINT) * k * k - k)
                            - CAST(n_blocks AS HUGEINT)
                              * (SELECT tt FROM ties) AS DOUBLE)
           END AS w
    FROM stat
    """,
    doc="Kendall's W coefficient of concordance with days as blocks "
    "and event types as treatments (X218): how strongly do days agree "
    "on the event-type value ranking? The effect size behind "
    "Friedman's significance (chi2 = n(k-1)W). Tie-corrected "
    "denominator from exact (day, value) tie counts; with doubled "
    "ranks 12S = 3*S2 so W is ONE exact IEEE division of decimal "
    "integers, emitted RAW.",
)
def ht_kendalls_w_daily_event_ranks(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from legendary_data_pipeline_spark.operators.hypotests import (
        kendalls_w,
    )

    return kendalls_w(
        _daily_cents(spark, sf_dir), "day", "event_type", "cents"
    )


# ---------------------------------------------------------------------------
# Cramér–von Mises two-sample drift (operators/profiling.py, X219)
# ---------------------------------------------------------------------------


@register(
    "dq_cvm_order_totals_drift",
    f"""
    WITH b AS (
      SELECT {_cents_sql("o_totalprice")} AS v,
             CAST(COUNT(*) AS BIGINT) AS cb
      FROM orders
      WHERE o_orderdate < TIMESTAMP '1998-01-01'
        AND o_totalprice IS NOT NULL
      GROUP BY 1),
    c AS (
      SELECT {_cents_sql("o_totalprice")} AS v,
             CAST(COUNT(*) AS BIGINT) AS cc
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1998-01-01'
        AND o_totalprice IS NOT NULL
      GROUP BY 1),
    m AS (
      SELECT COALESCE(b.v, c.v) AS v,
             COALESCE(cb, 0) AS cb, COALESCE(cc, 0) AS cc
      FROM b FULL OUTER JOIN c ON b.v = c.v),
    cum AS (
      SELECT v, cb, cc,
             CAST(SUM(cb) OVER (ORDER BY v
               ROWS UNBOUNDED PRECEDING) AS HUGEINT) AS rb,
             CAST(SUM(cc) OVER (ORDER BY v
               ROWS UNBOUNDED PRECEDING) AS HUGEINT) AS rc,
             CAST(SUM(cb) OVER () AS HUGEINT) AS nb,
             CAST(SUM(cc) OVER () AS HUGEINT) AS nc
      FROM m),
    agg AS (
      SELECT CAST(MAX(nb) AS BIGINT) AS n_base,
             CAST(MAX(nc) AS BIGINT) AS n_current,
             CAST(SUM(CAST(cb + cc AS HUGEINT)
                      * (rb * nc - rc * nb) * (rb * nc - rc * nb))
               AS HUGEINT) AS num
      FROM cum)
    SELECT n_base, n_current,
           CASE WHEN n_base > 0 AND n_current > 0 THEN
             CAST(round(CAST(num AS DOUBLE)
               / (CAST(n_base AS DOUBLE) * CAST(n_current AS DOUBLE)
                  * (CAST(n_base AS DOUBLE) + CAST(n_current AS DOUBLE))
                  * (CAST(n_base AS DOUBLE) + CAST(n_current AS DOUBLE)))
               * 1e6) AS BIGINT)
           END AS t_e6
    FROM agg
    """,
    doc="Cramér-von Mises two-sample drift on order totals across the "
    "1998-01-01 boundary (X219) - the whole-curve companion to "
    "dq_ks_order_totals_drift: KS sees only the worst single point of "
    "CDF separation; CvM integrates the squared gap over every pooled "
    "observation, catching tail-heavy and oscillating shifts KS's "
    "supremum misses. Exact decimal cross-products over inclusive "
    "running counts (documented ~2e9-per-side decimal envelope, ANSI "
    "fails loudly beyond); one IEEE division tree, t_e6.",
)
def dq_cvm_order_totals_drift(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from legendary_data_pipeline_spark.operators.profiling import (
        cramer_von_mises,
    )

    orders = load_table(spark, sf_dir, "orders")
    cut = F.lit("1998-01-01").cast("timestamp")
    return cramer_von_mises(
        orders.filter(F.col("o_orderdate") < cut),
        orders.filter(F.col("o_orderdate") >= cut),
        _cents("o_totalprice"),
    )


# ---------------------------------------------------------------------------
# X224 — ER blocking health report: reduction ratio + cross-method
# agreement, the label-free blocking evaluation (Fellegi–Sunter step 0)
# ---------------------------------------------------------------------------


@register(
    "er_blocking_health_report",
    f"""
    WITH names AS (
      SELECT DISTINCT p_name FROM part WHERE p_name IS NOT NULL),
    nrec AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_records FROM names),
    b AS (SELECT p_name, {_ER_BLOCK_SQL} AS blk FROM names),
    bs AS (SELECT blk, COUNT(*) AS nb_ FROM b GROUP BY 1),
    bstats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_blocks,
             CAST(MAX(nb_) AS BIGINT) AS max_block_size,
             CAST(SUM((nb_ * (nb_ - 1)) // 2) AS BIGINT)
               AS cand_pairs_block
      FROM bs),
    mb AS (
      SELECT a.p_name AS na, c.p_name AS nb2
      FROM b a JOIN b c USING (blk)
      WHERE a.p_name < c.p_name
        AND levenshtein(a.p_name, c.p_name) <= {_ER_MAX_DIST}),
    ranked AS (
      SELECT p_name, substr(p_name, 1, 1) AS bkt,
             row_number() OVER (
               PARTITION BY substr(p_name, 1, 1)
               ORDER BY p_name, p_name) AS rn
      FROM names),
    probes AS (
      SELECT p_name AS id_a, bkt, rn + g.gap AS rn2
      FROM ranked,
           (SELECT unnest(range(1, {_SNM_WINDOW + 1})) AS gap) g),
    snp AS (
      SELECT p.id_a, t.p_name AS id_b
      FROM probes p JOIN ranked t ON p.bkt = t.bkt AND p.rn2 = t.rn),
    sncand AS (SELECT CAST(COUNT(*) AS BIGINT) AS cand_pairs_sn FROM snp),
    ms AS (
      SELECT least(id_a, id_b) AS na, greatest(id_a, id_b) AS nb2
      FROM snp WHERE levenshtein(id_a, id_b) <= {_ER_MAX_DIST}),
    mstats AS (
      SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM mb) AS matched_block,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM ms) AS matched_sn,
             (SELECT CAST(COUNT(*) AS BIGINT)
              FROM mb JOIN ms ON mb.na = ms.na AND mb.nb2 = ms.nb2)
               AS matched_both)
    SELECT n_records, n_blocks, max_block_size,
           CAST((n_records * (n_records - 1)) // 2 AS BIGINT)
             AS total_pairs,
           cand_pairs_block, cand_pairs_sn,
           1.0 - CAST(cand_pairs_block AS DOUBLE)
                 / nullif(CAST((n_records * (n_records - 1)) // 2
                               AS DOUBLE), 0.0)
             AS reduction_ratio_block,
           1.0 - CAST(cand_pairs_sn AS DOUBLE)
                 / nullif(CAST((n_records * (n_records - 1)) // 2
                               AS DOUBLE), 0.0)
             AS reduction_ratio_sn,
           matched_block, matched_sn, matched_both
    FROM nrec, bstats, sncand, mstats
    """,
    doc="ER blocking health report (X224): the label-free evaluation "
    "run BEFORE trusting any blocking scheme — reduction ratio "
    "(1 − candidates/all-pairs) for both classic schemes (last-token "
    "blocking and first-char sorted-neighborhood, window "
    f"{_SNM_WINDOW}) plus their CROSS-METHOD AGREEMENT on matched "
    "pairs (Levenshtein ≤ 3): two methods with independent blind "
    "spots finding the same matches is the standard recall proxy "
    "when no labeled duplicates exist (each method's misses bound "
    "the other's). max_block_size is the skew alarm — one hot block "
    "re-quadratizes the join. All counts exact integers from "
    "metadata-scale aggregations over ONE pinned distinct-names "
    "frame; ratios are raw IEEE divisions. The per-pair frames this "
    "summarizes are er_fuzzy_pairs_part_names / "
    "er_sorted_neighborhood; this is their one-row decision readout.",
)
def er_blocking_health_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from legendary_data_pipeline_spark.operators.entity import (
        sorted_neighborhood_pairs,
    )

    names = (
        load_table(spark, sf_dir, "part")
        .select("p_name")
        .filter(F.col("p_name").isNotNull())
        .distinct()
        .localCheckpoint(eager=False)
    )
    blk = F.element_at(F.split(F.col("p_name"), " "), -1)
    nrec = names.agg(
        F.count(F.lit(1)).cast("long").alias("n_records")
    )
    bsizes = (
        names.select(blk.alias("__blk"))
        .groupBy("__blk")
        .agg(F.count(F.lit(1)).alias("__nb"))
    )
    bstats = bsizes.agg(
        F.count(F.lit(1)).cast("long").alias("n_blocks"),
        F.max("__nb").cast("long").alias("max_block_size"),
        F.sum(F.expr("(__nb * (__nb - 1)) DIV 2"))
        .cast("long")
        .alias("cand_pairs_block"),
    )
    mb = fuzzy_pairs_blocked(
        names,
        name_col="p_name",
        id_col="p_name",
        block_exprs=[blk],
        max_dist=_ER_MAX_DIST,
    ).select(
        F.least("name_a", "name_b").alias("__na"),
        F.greatest("name_a", "name_b").alias("__nb2"),
    ).localCheckpoint(eager=False)
    sn = sorted_neighborhood_pairs(
        names,
        sort_expr=F.col("p_name"),
        id_col="p_name",
        window=_SNM_WINDOW,
    ).localCheckpoint(eager=False)
    sncand = sn.agg(
        F.count(F.lit(1)).cast("long").alias("cand_pairs_sn")
    )
    ms = sn.filter(
        F.levenshtein(F.col("id_a"), F.col("id_b")) <= _ER_MAX_DIST
    ).select(
        F.least("id_a", "id_b").alias("__na"),
        F.greatest("id_a", "id_b").alias("__nb2"),
    ).localCheckpoint(eager=False)
    mstats = (
        mb.agg(F.count(F.lit(1)).cast("long").alias("matched_block"))
        .crossJoin(
            ms.agg(F.count(F.lit(1)).cast("long").alias("matched_sn"))
        )
        .crossJoin(
            mb.join(ms, ["__na", "__nb2"]).agg(
                F.count(F.lit(1)).cast("long").alias("matched_both")
            )
        )
    )
    total_pairs = F.expr(
        "CAST((n_records * (n_records - 1)) DIV 2 AS LONG)"
    )
    out = nrec.crossJoin(bstats).crossJoin(sncand).crossJoin(mstats)
    rr = lambda c: F.lit(1.0) - F.col(c).cast("double") / F.nullif(  # noqa: E731
        total_pairs.cast("double"), F.lit(0.0)
    )
    return out.select(
        "n_records", "n_blocks", "max_block_size",
        total_pairs.alias("total_pairs"),
        "cand_pairs_block", "cand_pairs_sn",
        rr("cand_pairs_block").alias("reduction_ratio_block"),
        rr("cand_pairs_sn").alias("reduction_ratio_sn"),
        "matched_block", "matched_sn", "matched_both",
    )
