"""Named query registry — the driver-contract surface.

Each entry pairs a PySpark DataFrame program with the equivalent ANSI SQL
(run by DuckDB on the same parquet) so the correctness driver can
hash-compare results at sf0.01. Names reference SURVEY.md §2 operator ids.

Cross-engine determinism conventions (why the queries look the way they
do — the driver compares order-insensitive VALUE HASHES, so every output
cell must be bit-identical across Spark and DuckDB):

- Money: parse/compute in DecimalType, emit integer cents (LongType).
  Never sum raw doubles (float addition order differs across engines).
- Temporal: emit formatted strings (`yyyy-MM-dd`) — avoids tz/precision
  representation differences. `events.ts` is handled as integer
  nanoseconds end-to-end (Spark cannot read TIMESTAMP(NANOS) parquet
  natively; DuckDB can — integer math sidesteps both).
- Ranking: every window ordering is a total order (unique tie-breaker
  columns appended) so row_number picks identical rows in both engines.
- Percentiles: `percentile()` (exact) matches DuckDB `quantile_cont`
  bit-for-bit on doubles — verified, and covered by tests.
- Statistics (round-9 e6 convention): any value that would end in a
  FRACTIONAL `round(double, k)` is emitted instead as the exact
  integer `round(x * 1e6)` BIGINT, built by `functions.e6` (its
  docstring gives the reason and the DuckDB twin the oracles inline).
  Raw doubles are still fine when they are one shared IEEE expression
  tree over exact inputs (ratios of integers, sqrt/div of decimal
  moments) — IEEE mandates correct rounding for + - * / sqrt, so those
  match bit-for-bit WITHOUT any rounding; the rule is "never let an
  engine's fractional round be the last op before the driver hash".
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from legendary_data_pipeline_spark.catalog import load_table
from legendary_data_pipeline_spark.functions.money import (
    cents_to_display,
    parse_money_to_cents,
)
from legendary_data_pipeline_spark.functions.priority import priority_rank
from legendary_data_pipeline_spark.functions.text import sanitize_field
from legendary_data_pipeline_spark.operators.ranking import best_of_group
from legendary_data_pipeline_spark.operators.unpivot import unpivot
from legendary_data_pipeline_spark.operators.upsert import upsert
from legendary_data_pipeline_spark.session import ensure_engine_confs

SparkQuery = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    spark_fn: SparkQuery
    oracle: str | None  # DuckDB SQL; None → driver does rows-only check
    doc: str = ""
    # Scan-multiplicity budget (r11 verdict #3, standing gate): the max
    # number of parquet FileScans in this query's executed-plan string
    # as captured by tools/scan_audit.py — a pre-AQE-reuse count, i.e.
    # conservative (runtime exchange reuse can only lower it, and the
    # r11 audit lesson is that reuse is not a guarantee).
    # None → the default budget of 2 (one corpus scan + one
    # auxiliary side). A query whose contract NEEDS more (multi-source
    # coalesce, exact-vs-sketch harness, single-column FK probes) must
    # declare the higher budget here WITH the rationale in `doc` — the
    # declaration is the machine-readable by-contract marker that
    # tests/test_scan_budget.py enforces for every newly-registered
    # query (the r11 registry-wide audit found 13 silent corpus
    # re-reads; this keeps new ones from landing).
    scan_budget: int | None = None


# Every registered query, in registration order.
ALL_QUERIES: dict[str, QuerySpec] = {}

# Driver-contract budget: the correctness gate records rows for the FIRST
# 50 registry entries only (observed round 1: bench ran all 51 queries,
# CORRECTNESS_r01 recorded exactly the first 50 in registration order and
# dropped the 51st). Entries beyond the cap would silently get no
# correctness row, so the driver-visible registry is curated to ≤50 and
# everything else lives in SHADOW_REGISTRY — same QuerySpec shape, same
# DuckDB-oracle pytest coverage (tests/test_queries_oracle.py), just not
# exported through __spark_entry__.queries().
DRIVER_QUERY_CAP = 50

# The correctness gate, in gate order: the one place gate membership is
# decided. REGISTRY and SHADOW_REGISTRY (defined at the tail of this
# module, once every queries_* submodule has registered) are views of
# ALL_QUERIES split by this tuple. Rotating the gate means editing this
# tuple; the per-rotation rationale lives in NOTES.md.
GATE: tuple[str, ...] = (
    "a1_approx_scale_variant",
    "curation_c4_gates",
    "ss_prefix_jaccard_pairs",
    "ml_auc_by_segment",
    "gr_copurchase_triangles",
    "dq_psi_drift_orders_priority",
    "ml_woe_iv",
    "curation_mixture_allocation",
    "st_spearman_matrix",
    "dq_ks_order_totals_drift",
    "st_numeric_mi_qty_price",
    "ts_zscore_anomalies",
    "ret_maxsim_topk",
    "dq_benford_order_totals",
    "ts_twap_event_values",
    "curation_unigram_surprisal",
    "gr_link_prediction_topk",
    "er_golden_record_customers",
    "curation_fineweb_line_signals",
    "dq_equal_freq_bins_price",
    "mm_audio_windows",
    "skew_salted_user_totals",
    "sim_ivf_recall_at_k",
    "curation_gate_funnel",
    "dedup_cluster_size_profile",
    "stream_ewma_parity",
    "stream_attribution_parity",
    "stream_quality_parity",
    "stream_psi_parity",
    "stream_session_parity",
    "ts_gap_fill_daily",
    "an_temporal_embargo_split",
    "ml_pr_at_thresholds",
    "ml_stratified_split",
    "ret_mrr_at_10",
    "ret_ndcg_at_10",
    "tx_keywords_tf_rarity",
    "tx_readability",
    "curation_domain_gates",
    "sk_cms_join_size",
    "ml_target_encoding",
    "gr_clustering_coefficient",
    "an_source_vocab_overlap",
    "curation_cluster_fixed_sample",
    "dedup_semdedup_fixed",
    "emb_quality_report",
    "tx_ngram_novelty",
    "ts_user_activity_coverage",
    "ml_two_proportion_test",
    "st_did_urgent_orders",
)


def _make_spec(
    name: str,
    fn: SparkQuery,
    oracle: str | None,
    doc: str,
    scan_budget: int | None = None,
) -> QuerySpec:
    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        ensure_engine_confs(spark)
        return fn(spark, sf_dir)

    return QuerySpec(name, wrapped, oracle, doc, scan_budget)


def register(
    name: str,
    oracle: str | None,
    doc: str = "",
    scan_budget: int | None = None,
):
    """Add a query to ALL_QUERIES; GATE decides whether it is gated."""

    def deco(fn: SparkQuery) -> SparkQuery:
        if name in ALL_QUERIES:
            raise ValueError(f"query {name!r} is already registered")
        spec = _make_spec(name, fn, oracle, doc, scan_budget)
        ALL_QUERIES[name] = spec
        return spec.spark_fn

    return deco


def queries() -> dict[str, SparkQuery]:
    return {name: spec.spark_fn for name, spec in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {
        name: spec.oracle for name, spec in REGISTRY.items() if spec.oracle
    }


# ---------------------------------------------------------------------------
# shared expression snippets
# ---------------------------------------------------------------------------

def _cents(col_name: str) -> F.Column:
    """Exact double→integer-cents conversion (money convention)."""
    return (
        F.round(F.col(col_name).cast("decimal(18,2)") * 100, 0).cast("long")
    )


def _cents_sql(expr: str) -> str:
    return f"CAST(round(CAST({expr} AS DECIMAL(18,2)) * 100, 0) AS BIGINT)"


# ---------------------------------------------------------------------------
# W1/W2/A4 — priority-ranked best-of-group (the reference's flagship)
# ---------------------------------------------------------------------------

_W1_SRC_LADDER = {"N": 10, "A": 20, "R": 30}
_W1_TYPE_LADDER = {"O": 10, "F": 20}


@register(
    "w1_priority_best_of_day",
    f"""
    WITH ranked AS (
      SELECT l_orderkey, l_returnflag, l_linestatus, l_extendedprice, l_linenumber,
             ROW_NUMBER() OVER (
               PARTITION BY l_orderkey
               ORDER BY CASE l_returnflag WHEN 'N' THEN 10 WHEN 'A' THEN 20 WHEN 'R' THEN 30 ELSE 99 END ASC,
                        CASE l_linestatus WHEN 'O' THEN 10 WHEN 'F' THEN 20 ELSE 90 END ASC,
                        l_extendedprice DESC, l_linenumber ASC) AS rn
      FROM lineitem)
    SELECT l_orderkey,
           l_returnflag AS best_source,
           l_linestatus AS best_type,
           {_cents_sql('l_extendedprice')} AS value_cents
    FROM ranked WHERE rn = 1
    """,
    doc="Priority-ladder best-of-group (reference 03_build_market_price_daily.js:107-170): "
    "rank rows per group by two CASE ladders then value DESC, keep rn=1.",
)
def w1_priority_best_of_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    src_rank = priority_rank(F.col("l_returnflag"), _W1_SRC_LADDER, 99)
    type_rank = priority_rank(F.col("l_linestatus"), _W1_TYPE_LADDER, 90)
    best = best_of_group(
        li,
        ["l_orderkey"],
        [
            src_rank.asc(),
            type_rank.asc(),
            F.col("l_extendedprice").desc(),
            F.col("l_linenumber").asc(),
        ],
    )
    return best.select(
        "l_orderkey",
        F.col("l_returnflag").alias("best_source"),
        F.col("l_linestatus").alias("best_type"),
        _cents("l_extendedprice").alias("value_cents"),
    )


# ---------------------------------------------------------------------------
# A1/A2/A6/J9/P6 — percentile rollup over a trailing window + last-sale
# ---------------------------------------------------------------------------

@register(
    "a1_percentile_rollup_180d",
    """
    WITH cutoff AS (SELECT max(l_shipdate) - INTERVAL 180 DAY AS c FROM lineitem),
    w AS (SELECT l.* FROM lineitem l, cutoff WHERE l.l_shipdate >= cutoff.c),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY l_returnflag, l_linestatus
        ORDER BY l_shipdate DESC, l_extendedprice DESC, l_orderkey DESC, l_linenumber DESC) AS rn
      FROM w),
    stats AS (
      SELECT l_returnflag, l_linestatus,
             quantile_cont(l_extendedprice, 0.25) AS p25,
             quantile_cont(l_extendedprice, 0.5)  AS p50,
             quantile_cont(l_extendedprice, 0.75) AS p75,
             COUNT(*) AS sales_count,
             strftime(max(l_shipdate), '%Y-%m-%d') AS last_ship,
             max(CASE WHEN rn = 1 THEN l_extendedprice END) AS last_sale_price
      FROM ranked GROUP BY l_returnflag, l_linestatus)
    SELECT *, CASE WHEN sales_count >= 10 THEN 'A' WHEN sales_count >= 5 THEN 'B'
                   WHEN sales_count >= 2 THEN 'C' ELSE 'D' END AS confidence
    FROM stats
    """,
    doc="Percentile stats + deterministic last-sale over a 180-day lookback "
    "(reference 10_rollup_market_values_daily.mjs:33-92). The correlated "
    "LIMIT-1 subquery becomes a window top-1 in the same shuffle as the agg.",
)
def a1_percentile_rollup_180d(spark: SparkSession, sf_dir: str) -> DataFrame:
    from legendary_data_pipeline_spark.operators.rollup import percentile_rollup

    li = load_table(spark, sf_dir, "lineitem")
    max_ship = li.agg(F.max("l_shipdate").alias("max_ship"))
    windowed = li.join(F.broadcast(max_ship)).filter(
        F.col("l_shipdate") >= F.col("max_ship") - F.expr("INTERVAL 180 DAYS")
    )
    rolled = percentile_rollup(
        windowed,
        ["l_returnflag", "l_linestatus"],
        value_col="l_extendedprice",
        ts_col="l_shipdate",
        tie_breakers=["l_extendedprice", "l_orderkey", "l_linenumber"],
    )
    return rolled.select(
        "l_returnflag",
        "l_linestatus",
        "p25",
        "p50",
        "p75",
        "sales_count",
        F.date_format("last_ts", "yyyy-MM-dd").alias("last_ship"),
        F.col("last_value").alias("last_sale_price"),
        "confidence",
    )


# ---------------------------------------------------------------------------
# A3 — per-user totals (replaces the reference's driver-side Map loop)
# ---------------------------------------------------------------------------

@register(
    "a3_user_event_totals",
    """
    SELECT user_id,
           COUNT(*) AS events,
           CAST(SUM(CAST(round(CAST(value AS DECIMAL(18,2)) * 100, 0) AS BIGINT)) AS BIGINT)
             AS total_value_cents,
           COUNT(DISTINCT event_type) AS distinct_event_types
    FROM events GROUP BY user_id
    """,
    doc="Per-user aggregation (reference revalueCollection.mjs:56-103): the "
    "single-threaded JS Map accumulator becomes one groupBy with map-side "
    "partial aggregation. Money summed as integer cents.",
)
def a3_user_event_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("events"),
        F.sum(_cents("value")).alias("total_value_cents"),
        F.countDistinct("event_type").alias("distinct_event_types"),
    )


# ---------------------------------------------------------------------------
# J1 — cast-bridged equi join
# ---------------------------------------------------------------------------

@register(
    "j1_cast_bridged_join",
    f"""
    SELECT c.c_mktsegment,
           COUNT(*) AS orders,
           CAST(SUM({_cents_sql('o.o_totalprice')}) AS BIGINT) AS total_cents
    FROM orders o
    JOIN customer c ON CAST(o.o_custkey AS VARCHAR) = CAST(c.c_custkey AS VARCHAR)
    GROUP BY c.c_mktsegment
    """,
    doc="Cast-bridged inner equi join (reference 02_normalize_scryfall_prices.js:84-85: "
    "`scr.id::text = mi.canonical_id`).",
)
def j1_cast_bridged_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    joined = orders.join(
        customer,
        orders["o_custkey"].cast("string") == customer["c_custkey"].cast("string"),
        "inner",
    )
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("orders"),
        F.sum(_cents("o_totalprice")).alias("total_cents"),
    )


# ---------------------------------------------------------------------------
# J3/J4/J5 — compound-predicate left outer join
# ---------------------------------------------------------------------------

@register(
    "j3_compound_left_join",
    """
    SELECT o.o_orderkey, o.o_orderstatus, c.c_name
    FROM orders o
    LEFT JOIN customer c ON o.o_orderstatus = 'O' AND o.o_custkey = c.c_custkey
    """,
    doc="Left join with a compound predicate mixing a constant filter into the "
    "join condition (reference exportGoogleMerchantFeed.mjs:271-281: "
    "`p.game='pokemon' AND tcg.id = p.card_id`).",
)
def j3_compound_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    return orders.join(
        customer,
        (orders["o_orderstatus"] == "O")
        & (orders["o_custkey"] == customer["c_custkey"]),
        "left",
    ).select("o_orderkey", "o_orderstatus", "c_name")


# ---------------------------------------------------------------------------
# J6/P8 — null-safe anti join (insert-missing)
# ---------------------------------------------------------------------------

@register(
    "j6_anti_join_missing",
    """
    SELECT l.l_orderkey, l.l_linenumber
    FROM lineitem l
    WHERE NOT EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_orderstatus = 'F'
        AND o.o_orderkey IS NOT DISTINCT FROM l.l_orderkey)
    """,
    doc="Anti join via NOT EXISTS with null-safe key equality (reference "
    "02_normalize_scryfall_prices.js:183-192 + IS NOT DISTINCT FROM at :172).",
)
def j6_anti_join_missing(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    target = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    )
    return li.join(
        target, li["l_orderkey"].eqNullSafe(target["o_orderkey"]), "left_anti"
    ).select("l_orderkey", "l_linenumber")


# ---------------------------------------------------------------------------
# J7/J8/F12/U2 — broadcast multi-source price resolution with fallback
# ---------------------------------------------------------------------------

@register(
    "j7_price_resolution_coalesce",
    f"""
    WITH tp AS (
      SELECT p_partkey, {_cents_sql('p_retailprice')} AS tp_cents
      FROM part WHERE p_size % 3 <> 0),
    eb AS (
      SELECT p_partkey, ({_cents_sql('p_retailprice')} * 9) // 10 AS eb_cents
      FROM part WHERE p_size % 2 = 0)
    SELECT l.l_orderkey, l.l_linenumber,
           COALESCE(tp.tp_cents, eb.eb_cents) AS resolved_cents,
           CASE WHEN tp.tp_cents IS NOT NULL THEN 'tcgplayer'
                WHEN eb.eb_cents IS NOT NULL THEN 'ebay'
                ELSE 'none' END AS price_source
    FROM lineitem l
    LEFT JOIN tp ON tp.p_partkey = l.l_partkey
    LEFT JOIN eb ON eb.p_partkey = l.l_partkey
    """,
    doc="Multi-source price resolution (reference revalueCollection.mjs:50-54,"
    "186-290): the driver-side hash Maps become broadcast hash joins; the "
    "eBay-fallback-when-absent rule (mjs:214-224) becomes COALESCE over "
    "left-join results.",
)
def j7_price_resolution_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    tp = part.filter(F.col("p_size") % 3 != 0).select(
        F.col("p_partkey").alias("tp_key"), _cents("p_retailprice").alias("tp_cents")
    )
    eb = part.filter(F.col("p_size") % 2 == 0).select(
        F.col("p_partkey").alias("eb_key"),
        F.expr(
            "(CAST(round(CAST(p_retailprice AS DECIMAL(18,2)) * 100, 0) AS BIGINT) * 9) DIV 10"
        ).alias("eb_cents"),
    )
    resolved = (
        li.join(F.broadcast(tp), li["l_partkey"] == tp["tp_key"], "left")
        .join(F.broadcast(eb), li["l_partkey"] == eb["eb_key"], "left")
    )
    return resolved.select(
        "l_orderkey",
        "l_linenumber",
        F.coalesce(F.col("tp_cents"), F.col("eb_cents")).alias("resolved_cents"),
        F.when(F.col("tp_cents").isNotNull(), "tcgplayer")
        .when(F.col("eb_cents").isNotNull(), "ebay")
        .otherwise("none")
        .alias("price_source"),
    )


# ---------------------------------------------------------------------------
# J2/U1/P4 — lateral unpivot
# ---------------------------------------------------------------------------

@register(
    "j2_unpivot_part_metrics",
    f"""
    SELECT * FROM (
      SELECT p_partkey, 'retail_cents' AS metric,
             {_cents_sql('p_retailprice')} AS value FROM part
      UNION ALL
      SELECT p_partkey, 'size' AS metric, CAST(p_size AS BIGINT) AS value FROM part
    ) u WHERE value IS NOT NULL AND value > 0
    """,
    doc="Wide→long unpivot (reference 02_normalize_scryfall_prices.js:101-153 "
    "CROSS JOIN LATERAL (VALUES ...)): inline generator per row, no shuffle; "
    "null/non-positive values dropped (P4, 02:154-155).",
)
def j2_unpivot_part_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    long_df = unpivot(
        part,
        ["p_partkey"],
        [
            ("retail_cents", _cents("p_retailprice")),
            ("size", F.col("p_size").cast("long")),
        ],
        key_name="metric",
        value_name="value",
        drop_null_values=True,
    )
    return long_df.filter(F.col("value") > 0)


# ---------------------------------------------------------------------------
# F1 — money-string parsing (reference centsFromMoney)
# ---------------------------------------------------------------------------

@register(
    "f1_money_parse_cents",
    f"""
    SELECT l_orderkey, l_linenumber,
           CASE WHEN l_linenumber = 7 THEN NULL
                ELSE {_cents_sql('l_extendedprice')} END AS parsed_cents
    FROM lineitem
    """,
    doc="Money-string → integer cents (reference 01_import_pricecharting_csv.js:78-90). "
    "Spark side renders '$1,234.56' strings (integer string-building) then "
    "parses them back; the oracle computes the expected cents directly, so "
    "this checks the full parse path incl. junk rejection.",
)
def f1_money_parse_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    cents = _cents("l_extendedprice")
    whole = F.floor(cents / 100).cast("long")
    frac = F.lpad((cents % 100).cast("string"), 2, "0")
    # Thousands separators on the whole part exercise the '[$,]' strip.
    # format_number on the integer part groups with commas exactly (no
    # float rounding involved) and avoids a quadratic lookahead regex.
    with_commas = F.format_number(whole, 0)
    money_str = F.when(F.col("l_linenumber") == 7, F.lit("N/A")).otherwise(
        F.concat(F.lit("$"), with_commas, F.lit("."), frac)
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        parse_money_to_cents(money_str).alias("parsed_cents"),
    )


# ---------------------------------------------------------------------------
# F4 — cents → display money string
# ---------------------------------------------------------------------------

@register(
    "f4_cents_display",
    f"""
    SELECT o_orderkey,
           CAST({_cents_sql('o_totalprice')} // 100 AS VARCHAR) || '.' ||
           lpad(CAST({_cents_sql('o_totalprice')} % 100 AS VARCHAR), 2, '0') ||
           ' USD' AS display_price
    FROM orders
    """,
    doc="Integer-cents → '1234.56 USD' display string (reference "
    "exportGoogleMerchantFeed.mjs:78-82) with pure integer string building.",
)
def f4_cents_display(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        cents_to_display(_cents("o_totalprice")).alias("display_price"),
    )


# ---------------------------------------------------------------------------
# F5 — field sanitization + token counting
# ---------------------------------------------------------------------------

@register(
    "f5_sanitize_documents",
    r"""
    SELECT doc_id,
           substr(trim(regexp_replace(regexp_replace(text, '[\x00-\x1F\x7F]', ' ', 'g'),
                                      '\s+', ' ', 'g')), 1, 60) AS head,
           length(trim(regexp_replace(regexp_replace(text, '[\x00-\x1F\x7F]', ' ', 'g'),
                                      '\s+', ' ', 'g'))) AS clean_len,
           len(regexp_split_to_array(trim(text), '\s+')) AS token_count
    FROM documents
    """,
    doc="Field sanitization (reference exportGoogleMerchantFeed.mjs:84-99): "
    "strip control chars, collapse whitespace, trim; plus whitespace "
    "tokenization stats.",
)
def f5_sanitize_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    clean = sanitize_field(F.col("text"))
    return docs.select(
        "doc_id",
        F.substring(clean, 1, 60).alias("head"),
        F.length(clean).cast("long").alias("clean_len"),
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long").alias("token_count"),
    )


# ---------------------------------------------------------------------------
# F8/F9/P3/P9 — JSON extraction with guarded casts
# ---------------------------------------------------------------------------

@register(
    "f8_json_extract_events",
    """
    SELECT event_type,
           COUNT(*) AS events,
           CAST(SUM(CASE WHEN regexp_matches(json_extract_string(props, '$.k'), '^[0-9]+$')
                         THEN CAST(json_extract_string(props, '$.k') AS BIGINT) END) AS BIGINT)
             AS sum_k,
           CAST(MAX(CASE WHEN regexp_matches(json_extract_string(props, '$.k'), '^[0-9]+$')
                         THEN CAST(json_extract_string(props, '$.k') AS BIGINT) END) AS BIGINT)
             AS max_k
    FROM events GROUP BY event_type
    """,
    doc="JSON path extraction + regex-guarded numeric cast (reference "
    "02_normalize_scryfall_prices.js:82-88 `payload->...`; guard pattern from "
    "revalueCollection.mjs:196-200).",
)
def f8_json_extract_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k_str = F.get_json_object(F.col("props"), "$.k")
    k = F.when(k_str.rlike("^[0-9]+$"), k_str).cast("long")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("events"),
        F.sum(k).alias("sum_k"),
        F.max(k).alias("max_k"),
    )


# ---------------------------------------------------------------------------
# J9/O3 — latest row per group (correlated LIMIT-1 → window top-1)
# ---------------------------------------------------------------------------

@register(
    "o3_latest_order_per_customer",
    f"""
    WITH ranked AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      FROM orders)
    SELECT o_custkey,
           strftime(o_orderdate, '%Y-%m-%d') AS last_order_date,
           {_cents_sql('o_totalprice')} AS last_total_cents
    FROM ranked WHERE rn = 1
    """,
    doc="Latest-row-per-group: the reference's correlated `ORDER BY sold_at "
    "DESC LIMIT 1` subquery (10_rollup_market_values_daily.mjs:69-75) as a "
    "window top-1 with a deterministic tie-breaker.",
)
def o3_latest_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    latest = best_of_group(
        orders,
        ["o_custkey"],
        [F.col("o_orderdate").desc(), F.col("o_orderkey").desc()],
    )
    return latest.select(
        "o_custkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("last_order_date"),
        _cents("o_totalprice").alias("last_total_cents"),
    )


# ---------------------------------------------------------------------------
# S5/S6/S8 — upsert semantics as a pure (oracle-checkable) query
# ---------------------------------------------------------------------------

@register(
    "s5_upsert_semantics",
    f"""
    WITH target AS (
      SELECT l_orderkey, l_linenumber, {_cents_sql('l_extendedprice')} AS value_cents
      FROM lineitem WHERE l_linenumber <= 4),
    src AS (
      SELECT l_orderkey, l_linenumber, {_cents_sql('l_extendedprice')} * 2 AS value_cents
      FROM lineitem WHERE l_linenumber >= 4),
    unioned AS (
      SELECT *, 0 AS prec FROM src
      UNION ALL
      SELECT *, 1 AS prec FROM target),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY l_orderkey, l_linenumber
        ORDER BY prec ASC, value_cents DESC) AS rn
      FROM unioned)
    SELECT l_orderkey, l_linenumber, value_cents FROM ranked WHERE rn = 1
    """,
    doc="Keyed upsert (reference `INSERT ... ON CONFLICT DO UPDATE`, "
    "01:171-186 / 03:191-197 / 10:85-92) as union + key-window dedup with "
    "updates taking precedence — the plain-parquet MERGE fallback.",
)
def s5_upsert_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    target = li.filter(F.col("l_linenumber") <= 4).select(
        "l_orderkey", "l_linenumber", _cents("l_extendedprice").alias("value_cents")
    )
    src = li.filter(F.col("l_linenumber") >= 4).select(
        "l_orderkey",
        "l_linenumber",
        (_cents("l_extendedprice") * 2).alias("value_cents"),
    )
    # The synthetic data contains duplicate (orderkey, linenumber) keys, so
    # a within-source tie-break keeps the merged pick deterministic.
    return upsert(
        target,
        src,
        ["l_orderkey", "l_linenumber"],
        order_within_source=[F.col("value_cents").desc()],
    )


# ---------------------------------------------------------------------------
# O1 — global ordering with NULLS LAST + rank
# ---------------------------------------------------------------------------

@register(
    "o1_rank_nulls_last",
    """
    WITH src AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 10 = 0 THEN NULL ELSE o_orderdate END AS d
      FROM orders),
    ranked AS (
      SELECT o_orderkey, d,
             ROW_NUMBER() OVER (ORDER BY d ASC NULLS LAST, o_orderkey ASC) AS rn
      FROM src)
    SELECT rn, o_orderkey, strftime(d, '%Y-%m-%d') AS order_date
    FROM ranked WHERE rn <= 100
    """,
    doc="Total ordering with explicit null placement (reference "
    "exportGoogleMerchantFeed.mjs:311 `ORDER BY created_at ASC NULLS LAST, "
    "title ASC`), materialized as a rank so the result set is checkable. "
    "Scale-safe: rather than a global row_number window (single-partition "
    "sort of the whole table), the top-100 is taken with orderBy().limit() "
    "— Spark's TakeOrderedAndProject keeps a bounded per-partition heap "
    "and merges 100 rows per partition on the driver — and only the 100 "
    "surviving rows are ranked (a window over ≤limit rows by contract).",
)
def o1_rank_nulls_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    order_spec = [F.asc_nulls_last("d"), F.asc("o_orderkey")]
    src = orders.select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 10 == 0, None)
        .otherwise(F.col("o_orderdate"))
        .alias("d"),
    )
    top = src.orderBy(*order_spec).limit(100)
    window = Window.orderBy(*order_spec)
    return top.select(
        F.row_number().over(window).cast("long").alias("rn"),
        "o_orderkey",
        F.date_format("d", "yyyy-MM-dd").alias("order_date"),
    )


# ---------------------------------------------------------------------------
# U2 — union-by-name of tagged sources
# ---------------------------------------------------------------------------

@register(
    "u2_union_tagged_sources",
    f"""
    SELECT 'customer' AS source, CAST(c_custkey AS BIGINT) AS entity_id,
           c_name AS name, {_cents_sql('c_acctbal')} AS acctbal_cents
    FROM customer
    UNION ALL
    SELECT 'supplier' AS source, CAST(s_suppkey AS BIGINT) AS entity_id,
           s_name AS name, {_cents_sql('s_acctbal')} AS acctbal_cents
    FROM supplier
    """,
    doc="Union of per-source tables tagged with a literal source column "
    "(reference revalueCollection.mjs:50-54,279-290: three per-game price "
    "loaders merged by game dispatch → unionByName with a `game` literal).",
)
def u2_union_tagged_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    c = customer.select(
        F.lit("customer").alias("source"),
        F.col("c_custkey").cast("long").alias("entity_id"),
        F.col("c_name").alias("name"),
        _cents("c_acctbal").alias("acctbal_cents"),
    )
    s = supplier.select(
        F.lit("supplier").alias("source"),
        F.col("s_suppkey").cast("long").alias("entity_id"),
        F.col("s_name").alias("name"),
        _cents("s_acctbal").alias("acctbal_cents"),
    )
    return c.unionByName(s)


# ---------------------------------------------------------------------------
# F7 — URL/slug building
# ---------------------------------------------------------------------------

@register(
    "f7_url_slug_link",
    """
    SELECT p_partkey,
           'https://example.com/products/' ||
           regexp_replace(regexp_replace(lower(trim(p_name)), '[^a-z0-9]+', '-', 'g'),
                          '(^-)|(-$)', '', 'g') AS link
    FROM part
    """,
    doc="Product URL building from a name (reference "
    "exportGoogleMerchantFeed.mjs:23-27,115-118: origin + encoded slug "
    "path): lowercase slugification + origin concat, all JVM-side regex.",
)
def f7_url_slug_link(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    slug = F.regexp_replace(
        F.regexp_replace(F.lower(F.trim(F.col("p_name"))), "[^a-z0-9]+", "-"),
        "(^-)|(-$)",
        "",
    )
    return part.select(
        "p_partkey",
        F.concat(F.lit("https://example.com/products/"), slug).alias("link"),
    )


# ---------------------------------------------------------------------------
# F10/F11 — conditional feed mapping + sale-price swap
# ---------------------------------------------------------------------------

@register(
    "f10_conditional_feed_mapping",
    f"""
    WITH src AS (
      SELECT l_orderkey, l_linenumber, l_linestatus, l_quantity,
             {_cents_sql('l_extendedprice')} AS price_cents,
             CASE WHEN l_orderkey % 3 = 0
                  THEN ({_cents_sql('l_extendedprice')} * 11) // 10
                  ELSE ({_cents_sql('l_extendedprice')} * 9) // 10 END AS compare_at_cents
      FROM lineitem)
    SELECT l_orderkey, l_linenumber,
           CASE WHEN l_linestatus = 'F' OR l_quantity <= 0
                THEN 'out_of_stock' ELSE 'in_stock' END AS availability,
           CASE WHEN l_quantity >= 25 THEN 'true' ELSE 'false' END AS is_bundle,
           CASE WHEN compare_at_cents > price_cents
                THEN compare_at_cents ELSE price_cents END AS display_price_cents,
           CASE WHEN compare_at_cents > price_cents
                THEN price_cents END AS sale_price_cents
    FROM src
    """,
    doc="Conditional feed mapping (reference exportGoogleMerchantFeed.mjs:"
    "120-151 availability/bundle CASE chains) + the sale-price swap "
    "(mjs:324-338: when compare_at > price, display compare_at and mark "
    "price as the sale price).",
)
def f10_conditional_feed_mapping(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    price = _cents("l_extendedprice")
    compare_at = F.when(
        F.col("l_orderkey") % 3 == 0,
        F.floor(price * 11 / 10).cast("long"),
    ).otherwise(F.floor(price * 9 / 10).cast("long"))
    src = li.select(
        "l_orderkey",
        "l_linenumber",
        "l_linestatus",
        "l_quantity",
        price.alias("price_cents"),
        compare_at.alias("compare_at_cents"),
    )
    swap = F.col("compare_at_cents") > F.col("price_cents")
    return src.select(
        "l_orderkey",
        "l_linenumber",
        F.when(
            (F.col("l_linestatus") == "F") | (F.col("l_quantity") <= 0),
            "out_of_stock",
        )
        .otherwise("in_stock")
        .alias("availability"),
        F.when(F.col("l_quantity") >= 25, "true")
        .otherwise("false")
        .alias("is_bundle"),
        F.when(swap, F.col("compare_at_cents"))
        .otherwise(F.col("price_cents"))
        .alias("display_price_cents"),
        F.when(swap, F.col("price_cents")).alias("sale_price_cents"),
    )


# ---------------------------------------------------------------------------
# F14 — provenance JSON construction
# ---------------------------------------------------------------------------

@register(
    "f14_provenance_json",
    f"""
    SELECT l_orderkey, l_linenumber,
           CAST(to_json(list_value(struct_pack(
             source := l_returnflag,
             price_type := l_linestatus,
             value_cents := {_cents_sql('l_extendedprice')}))) AS VARCHAR)
             AS sources_used
    FROM lineitem
    """,
    doc="Provenance JSON construction (reference jsonb_build_object/array, "
    "02_normalize_scryfall_prices.js:111 + 03:159-166): "
    "to_json(array(struct(...))) — compact JSON is byte-identical across "
    "Spark and DuckDB for string/integer fields.",
)
def f14_provenance_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.to_json(
            F.array(
                F.struct(
                    F.col("l_returnflag").alias("source"),
                    F.col("l_linestatus").alias("price_type"),
                    _cents("l_extendedprice").alias("value_cents"),
                )
            )
        ).alias("sources_used"),
    )


# ---------------------------------------------------------------------------
# J11 — semi join (EXISTS): the complement of J6's anti join
# ---------------------------------------------------------------------------

@register(
    "j11_semi_join_exists",
    """
    SELECT c.c_custkey, c.c_name, c.c_mktsegment
    FROM customer c
    WHERE EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O')
    """,
    doc="Left semi join (EXISTS): customers with at least one open order. "
    "The reference only has NOT EXISTS (J6); the semi form completes the "
    "existence-join family — no duplication of the left side, right side "
    "never projected.",
)
def j11_semi_join_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    open_orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "O"
    )
    return customer.join(
        open_orders,
        customer["c_custkey"] == open_orders["o_custkey"],
        "left_semi",
    ).select("c_custkey", "c_name", "c_mktsegment")


# ---------------------------------------------------------------------------
# W5 — ntile deciles (price-tier bucketing)
# ---------------------------------------------------------------------------

@register(
    "w5_price_deciles",
    f"""
    WITH t AS (
      SELECT p_partkey, {_cents_sql('p_retailprice')} AS price_cents,
             NTILE(10) OVER (ORDER BY p_retailprice ASC, p_partkey ASC) AS decile
      FROM part)
    SELECT CAST(decile AS INTEGER) AS decile,
           COUNT(*) AS parts,
           MIN(price_cents) AS min_cents,
           MAX(price_cents) AS max_cents
    FROM t GROUP BY decile
    """,
    doc="NTILE decile bucketing over retail price (market price-tier "
    "segmentation; decile/tier shape of reference "
    "10_rollup_market_values_daily.mjs:39-48) with a total-order "
    "tie-break, aggregated per decile. Scale-safe: a naive global "
    "NTILE window is a single-partition funnel — this plan instead "
    "computes an exact distributed global row_number (percentile-sketch "
    "bucket bounds → per-bucket rank → broadcast cumulative offsets) "
    "and derives "
    "the NTILE bucket arithmetically (floor((rn−1)·k/N)+1, the SQL "
    "standard's assignment), which the NTILE oracle matches exactly. "
    "Every window in the plan is bounded: per-range-bucket ranks plus "
    "a metadata-sized (one row per partition) offset pass.",
)
def w5_price_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from legendary_data_pipeline_spark.operators.ranking import (
        global_row_number,
        ntile_from_rank,
    )

    part = load_table(spark, sf_dir, "part")
    t = part.select(
        _cents("p_retailprice").alias("price_cents"),
        F.col("p_retailprice"),
        F.col("p_partkey"),
    )
    ranked = global_row_number(
        t,
        bucket_by=F.col("p_retailprice"),
        order_by=[F.asc("p_retailprice"), F.asc("p_partkey")],
        rn_col="__rn",
        total_col="__n",
    )
    deciled = ranked.select(
        "price_cents",
        ntile_from_rank(F.col("__rn"), F.col("__n"), 10).alias("decile"),
    )
    return deciled.groupBy("decile").agg(
        F.count(F.lit(1)).alias("parts"),
        F.min("price_cents").alias("min_cents"),
        F.max("price_cents").alias("max_cents"),
    )


# ---------------------------------------------------------------------------
# J12 — full outer join (both-sides-preserved reconciliation)
# ---------------------------------------------------------------------------

@register(
    "j12_full_outer_reconcile",
    f"""
    WITH c AS (
      SELECT c_nationkey AS nationkey, COUNT(*) AS customers,
             CAST(SUM({_cents_sql('c_acctbal')}) AS BIGINT) AS cust_bal_cents
      FROM customer WHERE c_acctbal > 0 GROUP BY 1),
    s AS (
      SELECT s_nationkey AS nationkey, COUNT(*) AS suppliers,
             CAST(SUM({_cents_sql('s_acctbal')}) AS BIGINT) AS supp_bal_cents
      FROM supplier WHERE s_acctbal > 0 GROUP BY 1)
    SELECT COALESCE(c.nationkey, s.nationkey) AS nationkey,
           COALESCE(c.customers, 0) AS customers,
           COALESCE(s.suppliers, 0) AS suppliers,
           COALESCE(c.cust_bal_cents, 0) AS cust_bal_cents,
           COALESCE(s.supp_bal_cents, 0) AS supp_bal_cents
    FROM c FULL OUTER JOIN s ON c.nationkey = s.nationkey
    """,
    doc="Full outer join: reconcile two aggregates keeping keys present "
    "on either side (the vendor-price reconciliation shape used inside "
    "resolve_prices' eBay fallback). Not in the reference's join "
    "repertoire — completes inner/left/semi/anti/full-outer coverage.",
)
def j12_full_outer_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    c = (
        customer.filter(F.col("c_acctbal") > 0)
        .groupBy(F.col("c_nationkey").alias("c_key"))
        .agg(
            F.count(F.lit(1)).alias("customers"),
            F.sum(_cents("c_acctbal")).alias("cust_bal_cents"),
        )
    )
    s = (
        supplier.filter(F.col("s_acctbal") > 0)
        .groupBy(F.col("s_nationkey").alias("s_key"))
        .agg(
            F.count(F.lit(1)).alias("suppliers"),
            F.sum(_cents("s_acctbal")).alias("supp_bal_cents"),
        )
    )
    joined = c.join(s, c["c_key"] == s["s_key"], "full_outer")
    return joined.select(
        F.coalesce(F.col("c_key"), F.col("s_key")).alias("nationkey"),
        F.coalesce(F.col("customers"), F.lit(0)).alias("customers"),
        F.coalesce(F.col("suppliers"), F.lit(0)).alias("suppliers"),
        F.coalesce(F.col("cust_bal_cents"), F.lit(0)).alias("cust_bal_cents"),
        F.coalesce(F.col("supp_bal_cents"), F.lit(0)).alias("supp_bal_cents"),
    )


# ---------------------------------------------------------------------------
# U3 — pivot (long → wide): the inverse of J2's unpivot
# ---------------------------------------------------------------------------

@register(
    "u3_pivot_wide",
    f"""
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN l_linestatus = 'O'
                    THEN {_cents_sql('l_extendedprice')} END) AS BIGINT)
             AS open_cents,
           CAST(SUM(CASE WHEN l_linestatus = 'F'
                    THEN {_cents_sql('l_extendedprice')} END) AS BIGINT)
             AS finished_cents,
           COUNT(*) AS n_rows
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="Pivot long→wide (inverse of J2's unpivot): one output column per "
    "pivot value via conditional aggregation — explicit value list, so no "
    "extra distinct-values pass and a stable schema at any scale.",
)
def u3_pivot_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    cents = _cents("l_extendedprice")
    return li.groupBy("l_returnflag").agg(
        F.sum(F.when(F.col("l_linestatus") == "O", cents)).alias("open_cents"),
        F.sum(F.when(F.col("l_linestatus") == "F", cents)).alias(
            "finished_cents"
        ),
        F.count(F.lit(1)).alias("n_rows"),
    )


# ---------------------------------------------------------------------------
# F8 typed variant — from_json with an explicit schema (the preferred
# production idiom: one parse per row into a struct, then field access)
# ---------------------------------------------------------------------------

@register(
    "f8_typed_json_struct",
    """
    SELECT event_type,
           COUNT(*) AS events,
           CAST(SUM(CASE WHEN regexp_matches(json_extract_string(props, '$.k'), '^[0-9]+$')
                         THEN CAST(json_extract_string(props, '$.k') AS BIGINT) END) AS BIGINT)
             AS sum_k,
           COUNT(json_extract_string(props, '$.s')) AS with_s,
           COUNT(DISTINCT json_extract_string(props, '$.s')) AS distinct_s
    FROM events GROUP BY event_type
    """,
    doc="Typed JSON extraction: from_json(props, schema) parses ONCE per "
    "row into a struct (vs one get_json_object walk per field in f8) — "
    "the production idiom for hot JSON paths (SURVEY §2.8 F8/F9; "
    "hard-part (d): prefer typed from_json schemas per source).",
)
def f8_typed_json_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    parsed = ev.withColumn(
        "p", F.from_json(F.col("props"), "k string, s string")
    )
    k = F.when(F.col("p.k").rlike("^[0-9]+$"), F.col("p.k")).cast("long")
    return parsed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("events"),
        F.sum(k).alias("sum_k"),
        F.count("p.s").alias("with_s"),
        F.countDistinct("p.s").alias("distinct_s"),
    )


# ---------------------------------------------------------------------------
# F2 — SQL-style money cleaning (strip everything but digits/dot/minus)
# ---------------------------------------------------------------------------

@register(
    "f2_sql_money_clean",
    f"""
    WITH dirty AS (
      SELECT p_partkey,
             CASE p_partkey % 4
               WHEN 0 THEN 'EUR ' || CAST(p_retailprice AS VARCHAR) || ' kr'
               WHEN 1 THEN '$' || CAST(p_retailprice AS VARCHAR)
               WHEN 2 THEN 'ca. ' || CAST(p_retailprice AS VARCHAR) || ' USD'
               ELSE '' END AS raw
      FROM part),
    cleaned AS (
      SELECT p_partkey, raw,
             regexp_replace(raw, '[^0-9.\\-]', '', 'g') AS c
      FROM dirty)
    SELECT p_partkey, raw,
           CAST(round(CAST(CASE WHEN regexp_matches(c, '^-?[0-9]+(\\.[0-9]+)?$')
                                THEN c END AS DECIMAL(24,6)) * 100, 0) AS BIGINT)
             AS value_cents
    FROM cleaned
    """,
    doc="SQL-style money cleaning (reference 02_normalize_scryfall_prices"
    ".js:108-109): strip non-[0-9.-], NULLIF empty, cast, ROUND(*100) to "
    "integer cents — junk-tolerant vendor-price normalization.",
)
def f2_sql_money_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    from legendary_data_pipeline_spark.functions.money import (
        sql_money_clean_cents,
    )

    part = load_table(spark, sf_dir, "part")
    price_str = F.col("p_retailprice").cast("string")
    raw = (
        F.when(F.col("p_partkey") % 4 == 0, F.concat(F.lit("EUR "), price_str, F.lit(" kr")))
        .when(F.col("p_partkey") % 4 == 1, F.concat(F.lit("$"), price_str))
        .when(F.col("p_partkey") % 4 == 2, F.concat(F.lit("ca. "), price_str, F.lit(" USD")))
        .otherwise(F.lit(""))
    )
    src = part.select("p_partkey", raw.alias("raw"))
    return src.select(
        "p_partkey", "raw", sql_money_clean_cents(F.col("raw")).alias("value_cents")
    )


# ---------------------------------------------------------------------------
# Beyond-reference window analytics: rolling frames, lag, grouping sets.
# The reference has none of these (SURVEY §2.5/§2.4 notes); a complete
# engine surface needs them, and each is exactly oracle-checkable.
# ---------------------------------------------------------------------------

@register(
    "w3_rolling_7d_stats",
    f"""
    WITH daily AS (
      SELECT l_returnflag,
             CAST(date_diff('day', DATE '1970-01-01', l_shipdate) AS BIGINT) AS epoch_day,
             CAST(SUM({_cents_sql('l_extendedprice')}) AS BIGINT) AS day_cents,
             COUNT(*) AS day_rows
      FROM lineitem GROUP BY 1, 2)
    SELECT l_returnflag, epoch_day, day_cents,
           CAST(SUM(day_cents) OVER w AS BIGINT) AS rolling_7d_cents,
           CAST(SUM(day_rows) OVER w AS BIGINT) AS rolling_7d_rows
    FROM daily
    WINDOW w AS (PARTITION BY l_returnflag ORDER BY epoch_day
                 RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
    """,
    doc="Rolling 7-day totals per group: RANGE frame over integer epoch "
    "days — the sliding-window analytic missing from the reference "
    "(its 180-day lookback is a filter, not a frame). Pre-aggregating "
    "to one row per (group, day) BEFORE the window keeps frame state "
    "tiny at scale.",
)
def w3_rolling_7d_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    daily = li.groupBy(
        "l_returnflag",
        F.datediff(F.col("l_shipdate"), F.lit("1970-01-01"))
        .cast("long")
        .alias("epoch_day"),
    ).agg(
        F.sum(_cents("l_extendedprice")).alias("day_cents"),
        F.count(F.lit(1)).alias("day_rows"),
    )
    w = (
        Window.partitionBy("l_returnflag")
        .orderBy("epoch_day")
        .rangeBetween(-6, 0)
    )
    return daily.select(
        "l_returnflag",
        "epoch_day",
        "day_cents",
        F.sum("day_cents").over(w).alias("rolling_7d_cents"),
        F.sum("day_rows").over(w).alias("rolling_7d_rows"),
    )


@register(
    "w4_day_over_day_lag",
    f"""
    WITH daily AS (
      SELECT l_returnflag,
             strftime(l_shipdate, '%Y-%m-%d') AS ship_day,
             CAST(SUM({_cents_sql('l_extendedprice')}) AS BIGINT) AS day_cents
      FROM lineitem GROUP BY 1, 2)
    SELECT l_returnflag, ship_day, day_cents,
           lag(day_cents) OVER (PARTITION BY l_returnflag ORDER BY ship_day)
             AS prev_day_cents,
           day_cents - lag(day_cents) OVER (PARTITION BY l_returnflag ORDER BY ship_day)
             AS delta_cents
    FROM daily
    """,
    doc="Day-over-day deltas via lag(): the price-movement analytic a "
    "market-price engine needs on top of the daily snapshot tables "
    "(market_price_daily day-over-day is the production use).",
)
def w4_day_over_day_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    daily = li.groupBy(
        "l_returnflag",
        F.date_format("l_shipdate", "yyyy-MM-dd").alias("ship_day"),
    ).agg(F.sum(_cents("l_extendedprice")).alias("day_cents"))
    w = Window.partitionBy("l_returnflag").orderBy("ship_day")
    prev = F.lag("day_cents").over(w)
    return daily.select(
        "l_returnflag",
        "ship_day",
        "day_cents",
        prev.alias("prev_day_cents"),
        (F.col("day_cents") - prev).alias("delta_cents"),
    )


@register(
    "a8_cube_grouping_id",
    f"""
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT)
             AS grouping_id,
           CAST(SUM({_cents_sql('l_extendedprice')}) AS BIGINT) AS revenue_cents,
           COUNT(*) AS n_rows
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    doc="Full CUBE with grouping_id disambiguation: all 2^2 grouping-set "
    "combinations in one pass — grouping_id tells a NULL group value "
    "apart from a NULL subtotal marker.",
)
def a8_cube_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.grouping_id().cast("long").alias("grouping_id"),
        F.sum(_cents("l_extendedprice")).alias("revenue_cents"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@register(
    "a7_rollup_totals",
    f"""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM({_cents_sql('l_extendedprice')}) AS BIGINT) AS revenue_cents,
           COUNT(*) AS n_rows
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    doc="Hierarchical subtotals via ROLLUP (group, group+status, grand "
    "total) — one pass, no self-union; the reporting shape the "
    "reference would need N queries for.",
)
def a7_rollup_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.sum(_cents("l_extendedprice")).alias("revenue_cents"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@register(
    "a7_grouping_sets",
    f"""
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT)
             AS grouping_id,
           CAST(SUM({_cents_sql('l_extendedprice')}) AS BIGINT) AS revenue_cents,
           COUNT(*) AS n_rows
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    """,
    doc="Explicit GROUPING SETS (detail, per-flag subtotal, grand total) "
    "with grouping_id disambiguating NULL group values from NULL subtotal "
    "markers — one pass over the fact table for every reporting level. "
    "Subsumes the ROLLUP/CUBE pair (a7_rollup_totals / a8_cube_grouping_id, "
    "kept oracle-verified in the shadow registry): grouping-set expansion "
    "is a single Expand node feeding one partial-aggregated shuffle, the "
    "same plan shape at any scale.",
)
def a7_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupingSets(
        [["l_returnflag", "l_linestatus"], ["l_returnflag"], []],
        "l_returnflag",
        "l_linestatus",
    ).agg(
        F.grouping_id().cast("long").alias("grouping_id"),
        F.sum(_cents("l_extendedprice")).alias("revenue_cents"),
        F.count(F.lit(1)).alias("n_rows"),
    )


# Extension query modules register themselves on import (kept at the tail
# so `register` and the core entries above are fully defined first).
from legendary_data_pipeline_spark import queries_llm  # noqa: E402,F401
from legendary_data_pipeline_spark import queries_curation  # noqa: E402,F401
from legendary_data_pipeline_spark import queries_analytics  # noqa: E402,F401
from legendary_data_pipeline_spark import queries_mleval  # noqa: E402,F401
from legendary_data_pipeline_spark import queries_streaming  # noqa: E402,F401

# Guard against the partial-import trap: importing a query SUBMODULE
# (queries_llm, queries_analytics, ...) before this module re-enters this
# module while that submodule is still half-registered. Every submodule
# owns gate entries (tests/test_queries_oracle.py pins that per
# submodule), so the gate comes up short; fail with the fix spelled out
# instead of a bare KeyError.
_missing = [n for n in GATE if n not in ALL_QUERIES]
if _missing:
    raise ImportError(
        f"query registry incomplete (missing {_missing}): import "
        "legendary_data_pipeline_spark.queries FIRST — importing a "
        "queries_* submodule directly re-enters this module before its "
        "registrations finish."
    )
del _missing

REGISTRY: dict[str, QuerySpec] = {n: ALL_QUERIES[n] for n in GATE}
SHADOW_REGISTRY: dict[str, QuerySpec] = {
    n: spec for n, spec in ALL_QUERIES.items() if n not in REGISTRY
}
