"""Set-similarity join + classifier-evaluation suite queries.

X127 prefix-filter Jaccard join (operators/setsim.py) and X128-X131
classifier evaluation (operators/mleval.py). Each query pairs the Spark
program with a full DuckDB oracle; all output numerics are exact
integers, RAW final-division doubles of exact integers, or e6-scaled
BIGINTs per the registry's cross-engine determinism conventions
(queries.py module docstring — round-9 representation audit).

The evaluation queries score a synthetic-but-deterministic "model":
score = embedding[0] (portable: both engines read the same FLOAT and
cast to DOUBLE), binary label = (label >= 5). The pipeline story: the
engine trains a quality classifier (X95 NB), and these operators are
how its corpus-scale quality is measured before it gates data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from legendary_data_pipeline_spark.catalog import load_distributed
from legendary_data_pipeline_spark.operators import mleval as M
from legendary_data_pipeline_spark.operators import setsim as S
from legendary_data_pipeline_spark.operators import similarity as SIM
from legendary_data_pipeline_spark.queries import register

# Shared DuckDB fragments -------------------------------------------------

# score/label base for the eval queries (embeddings table)
_EVAL_BASE = """
      SELECT vec_id,
             CAST(embedding[1] AS DOUBLE) AS score,
             CASE WHEN label >= 5 THEN 1 ELSE 0 END AS lab
      FROM embeddings
"""

# min-max normalized prediction in [0, 1] (pure IEEE arithmetic on
# identical doubles — bit-exact across engines)
_PRED_CTE = f"""
    base AS ({_EVAL_BASE}),
    mm AS (SELECT min(score) AS mn, max(score) AS mx FROM base),
    p AS (SELECT vec_id, (score - mn) / (mx - mn) AS pred, lab
          FROM base, mm)
"""


def _pred_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of _PRED_CTE: min-max normalized embedding[0]."""
    emb = load_distributed(spark, sf_dir, "embeddings")
    base = emb.select(
        "vec_id",
        F.element_at("embedding", 1).cast("double").alias("score"),
        (F.col("label") >= 5).cast("long").alias("lab"),
    )
    mm = base.agg(
        F.min("score").alias("__mn"), F.max("score").alias("__mx")
    )
    return base.crossJoin(F.broadcast(mm)).select(
        "vec_id",
        (
            (F.col("score") - F.col("__mn"))
            / (F.col("__mx") - F.col("__mn"))
        ).alias("pred"),
        "lab",
    )


# ---------------------------------------------------------------------------
# X127 — prefix-filtering exact Jaccard self-join (AllPairs/PPJoin family)
# ---------------------------------------------------------------------------

@register(
    "ss_prefix_jaccard_pairs",
    """
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(trim(text), '\\s+'),
                         __x -> __x != '') AS t
      FROM documents),
    sets AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(t) - 1),
                 __j -> t[__j] || ' ' || t[__j + 1] || ' ' || t[__j + 2]))
               AS ss
      FROM toks WHERE len(t) >= 3),
    s2 AS (SELECT doc_id, ss, len(ss) AS L FROM sets),
    tok AS (SELECT doc_id, unnest(ss) AS tok FROM s2),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(count(*) AS BIGINT) AS inter
      FROM tok a JOIN tok b ON a.tok = b.tok AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    j AS (
      SELECT id_a, id_b, inter,
             CAST(x.L AS BIGINT) AS size_a, CAST(y.L AS BIGINT) AS size_b
      FROM pairs JOIN s2 x ON x.doc_id = id_a
                 JOIN s2 y ON y.doc_id = id_b)
    SELECT id_a, id_b, inter, size_a, size_b,
           CAST(inter AS DOUBLE)
                 / CAST(size_a + size_b - inter AS DOUBLE) AS jaccard
    FROM j WHERE inter * 5 >= (size_a + size_b - inter) * 4
    """,
    doc="Globally EXACT word-3-gram Jaccard pairs at t=4/5 via prefix "
    "filtering (AllPairs/PPJoin; Vernica et al. SIGMOD'10 MapReduce "
    "form): candidates equi-join only on each doc's rarest-first prefix "
    "shingles — lossless at the threshold, no blocking heuristic, no "
    "block-quadratic kernel. The oracle computes the same pairs by "
    "brute-force token join (feasible at fixture scale only). The Spark "
    "plan has no cartesian and no global sort; frequent (skewed) "
    "shingles are excluded from prefixes by construction.",
)
def ss_prefix_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_distributed(spark, sf_dir, "documents")
    shingled = S.shingle_ws_distinct(docs, "text", "doc_id", n=3)
    # t = 4/5: the standard near-dup operating point — prefixes are
    # ~L/5 instead of the ~L/2 a 0.5 threshold forces, which is what
    # keeps candidate volume (and the verify join) proportional to
    # actual near-duplication rather than vocabulary overlap.
    return S.prefix_filter_jaccard_join(
        shingled, threshold_num=4, threshold_den=5
    )


# ---------------------------------------------------------------------------
# X128 — exact tie-corrected ROC-AUC per segment (Mann-Whitney form)
# ---------------------------------------------------------------------------

@register(
    "ml_auc_by_segment",
    f"""
    WITH base0 AS ({_EVAL_BASE}),
    base AS (SELECT vec_id % 3 AS segment, score, lab FROM base0),
    per_score AS (
      SELECT segment, score,
             SUM(lab) AS pos, SUM(1 - lab) AS neg
      FROM base GROUP BY 1, 2),
    cum AS (
      SELECT segment, pos, neg,
             COALESCE(SUM(neg) OVER (PARTITION BY segment ORDER BY score ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cumneg
      FROM per_score),
    agg AS (
      SELECT segment,
             CAST(SUM(pos) AS BIGINT) AS n_pos,
             CAST(SUM(neg) AS BIGINT) AS n_neg,
             SUM(2 * pos * cumneg + pos * neg) AS num2
      FROM cum GROUP BY 1)
    SELECT CAST(segment AS BIGINT) AS segment, n_pos, n_neg,
           CASE WHEN n_pos > 0 AND n_neg > 0
                THEN CAST(round(CAST(num2 AS DOUBLE)
                           / CAST(2 * n_pos * n_neg AS DOUBLE) * 1e6)
                     AS BIGINT)
           END AS auc_e6
    FROM agg
    """,
    doc="Exact tie-corrected ROC-AUC per model segment via the "
    "Mann-Whitney rank statistic in pure integer space (numerator "
    "doubled to avoid halves; ONE final division). No global sort: "
    "scores reduce to one row per (segment, distinct score) with "
    "map-side combine, then a window partitioned BY SEGMENT sweeps the "
    "cumulative negatives. The corpus-scale answer to 'is the quality "
    "classifier actually ranking good docs above bad ones?'.",
)
def ml_auc_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_distributed(spark, sf_dir, "embeddings")
    base = emb.select(
        F.pmod(F.col("vec_id"), F.lit(3)).cast("long").alias("segment"),
        F.element_at("embedding", 1).cast("double").alias("score"),
        (F.col("label") >= 5).cast("long").alias("lab"),
    )
    return M.auc_by_group(base, ["segment"], "score", "lab")


# ---------------------------------------------------------------------------
# X129 — calibration / reliability bins
# ---------------------------------------------------------------------------

@register(
    "ml_calibration_bins",
    f"""
    WITH {_PRED_CTE},
    b AS (SELECT least(CAST(floor(pred * 10) AS BIGINT), 9) AS bin, lab
          FROM p)
    SELECT bin,
           (CAST(bin AS DOUBLE) + 0.5) / 10.0 AS bin_mid,
           CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(lab) AS BIGINT) AS n_pos,
           CAST(round(CAST(SUM(lab) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                      * 1e6) AS BIGINT)
             AS frac_pos_e6
    FROM b GROUP BY 1
    """,
    doc="Reliability-diagram (calibration) bins: min-max normalized "
    "prediction cut into 10 equal-width bins; per bin the empirical "
    "positive rate vs the bin midpoint. Counts are exact integers; the "
    "normalization is pure IEEE arithmetic on identical doubles, so "
    "binning is bit-identical across engines. One map-side-combined "
    "aggregation — no window, no join (the min/max is a broadcast "
    "1-row aggregate).",
)
def ml_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    pred = _pred_frame(spark, sf_dir)
    return M.calibration_bins(pred, "pred", "lab", n_bins=10)


# ---------------------------------------------------------------------------
# X130 — precision/recall/F1 at a threshold grid
# ---------------------------------------------------------------------------

_GRID = [k / 10.0 for k in range(1, 10)]

@register(
    "ml_pr_at_thresholds",
    f"""
    WITH {_PRED_CTE},
    g AS (SELECT * FROM (VALUES
          {", ".join(f"(CAST({t} AS DOUBLE))" for t in _GRID)})
          AS t(threshold)),
    s AS (
      SELECT threshold,
             CAST(SUM(CASE WHEN pred >= threshold THEN lab ELSE 0 END)
                  AS BIGINT) AS tp,
             CAST(SUM(CASE WHEN pred >= threshold THEN 1 - lab ELSE 0 END)
                  AS BIGINT) AS fp,
             CAST(SUM(CASE WHEN pred < threshold THEN lab ELSE 0 END)
                  AS BIGINT) AS fn
      FROM p, g GROUP BY 1)
    SELECT threshold, tp, fp, fn,
           CASE WHEN tp + fp > 0
                THEN CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE)
           END AS precision,
           CASE WHEN tp + fn > 0
                THEN CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE)
           END AS recall,
           CASE WHEN 2 * tp + fp + fn > 0
                THEN CAST(2 * tp AS DOUBLE)
                     / CAST(2 * tp + fp + fn AS DOUBLE)
           END AS f1
    FROM s
    """,
    doc="Operating-point sweep: precision/recall/F1 at a fixed 9-point "
    "threshold grid over the normalized prediction. The grid is a "
    "broadcast literal relation; the aggregation map-side combines to "
    "9 rows per partition, so grid-crossing adds no shuffle volume. "
    "TP/FP/FN stay integer; ratios are final-division-only. How a "
    "pipeline picks the quality-gate cutoff before filtering a corpus.",
)
def ml_pr_at_thresholds(spark: SparkSession, sf_dir: str) -> DataFrame:
    pred = _pred_frame(spark, sf_dir)
    return M.pr_at_thresholds(pred, "pred", "lab", _GRID)


# ---------------------------------------------------------------------------
# X132/X133 — retrieval evaluation: MRR@10 and per-query NDCG@10
# ---------------------------------------------------------------------------

_RET_K = 10

#: Bounded query-sample size for the exact-cosine retrieval readouts —
#: same rationale as _RECALL_MAX_Q/_HARDNEG_MAX_ANCHORS: the exact
#: scorer is queries × corpus by definition, so the old fixed FRACTION
#: (vec_id % 5 = 0 → 20% of all vectors) re-quadratized it (r15 early
#: probe: ~13× wall at 10× vectors), while a fixed md5-first SAMPLE
#: keeps it linear in the corpus. At the driver scales (sf ≤ 0.01 →
#: ≤40 eligible) the bound is not binding, so gate outputs are
#: unchanged there.
_RET_MAX_Q = 256

# shared ranked-retrieval CTE: unblocked exact cosine top-10 for the
# BOUNDED query sample (md5-first _RET_MAX_Q of the vec_id % 5 == 0
# eligibles — the sim_ivf_recall_at_k convention), relevance = label
# match. Similarity is rounded to 6 dp BEFORE ranking with a
# neighbor-id tiebreaker, the engine-stability convention
# sim_topk_bruteforce established.
from legendary_data_pipeline_spark.functions.hashing import md5_long_sql  # noqa: E402

_RANKED_CTE = f"""
    base AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
      FROM embeddings),
    q AS (SELECT vec_id AS query_id, label AS q_label, e FROM (
            SELECT vec_id, label, e, ROW_NUMBER() OVER (
              ORDER BY {md5_long_sql("CAST(vec_id AS VARCHAR)")} ASC,
                       vec_id ASC) AS qrn
            FROM base WHERE vec_id % 5 = 0)
          WHERE qrn <= {_RET_MAX_Q}),
    pairs AS (
      SELECT q.query_id, q.q_label,
             c.vec_id AS neighbor_id, c.label AS n_label,
             round(list_cosine_similarity(q.e, c.e), 6) AS cos_sim
      FROM q JOIN base c ON c.vec_id <> q.query_id),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY cos_sim DESC, neighbor_id ASC) AS rn
      FROM pairs),
    top AS (
      SELECT query_id, q_label, rn,
             CASE WHEN q_label = n_label THEN 1 ELSE 0 END AS rel
      FROM ranked WHERE rn <= {_RET_K})
"""


def _bounded_query_ids(emb: DataFrame) -> list[int]:
    """The md5-first ≤_RET_MAX_Q eligible query ids of the embeddings
    frame `emb` — a distributed TakeOrderedAndProject, not a global rank
    window; the ≤-sample-size id pull is the one driver action (the
    sim_hard_negatives convention)."""
    from legendary_data_pipeline_spark.functions.hashing import md5_long

    return [
        r.vec_id
        for r in emb.filter(F.col("vec_id") % 5 == 0)
        .select("vec_id")
        .orderBy(
            md5_long(F.col("vec_id").cast("string")).asc(),
            F.col("vec_id").asc(),
        )
        .limit(_RET_MAX_Q)
        .collect()
    ]


def _ranked_frame(
    emb: DataFrame, query_ids: list[int] | None = None
) -> DataFrame:
    """Spark twin of _RANKED_CTE over the embeddings frame `emb`:
    (query_id, q_label, rank, rel). Callers load `emb` once per query
    and pass it here, so building the query reads the footer once."""
    if query_ids is None:
        query_ids = _bounded_query_ids(emb)
    # The scorer carries both labels, so relevance needs no join back
    # to the corpus.
    topk = SIM.labeled_cosine_topk(
        emb,
        _RET_K,
        F.col("vec_id").isin(query_ids),
        block_on_label=False,
        scaled_e6=False,
    )
    return topk.select(
        "query_id",
        "q_label",
        F.col("rank"),
        (F.col("q_label") == F.col("c_label")).cast("int").alias("rel"),
    )


_MRR_LCM = M._lcm_1_to(_RET_K)

@register(
    "ret_mrr_at_10",
    f"""
    WITH {_RANKED_CTE},
    first AS (SELECT query_id, min(rn) AS r FROM top WHERE rel = 1
              GROUP BY 1),
    qs AS (SELECT DISTINCT query_id FROM top),
    per AS (
      SELECT CASE WHEN r IS NOT NULL
                  THEN CAST({_MRR_LCM} / r AS BIGINT) ELSE 0 END AS num
      FROM qs LEFT JOIN first USING (query_id))
    SELECT CAST(count(*) AS BIGINT) AS n_queries,
           CAST(SUM(CASE WHEN num > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_hit,
           CAST(SUM(num) AS DOUBLE)
             / (CAST({_MRR_LCM} AS DOUBLE)
                * CAST(count(*) AS DOUBLE)) AS mrr
    FROM per
    """,
    doc="Mean reciprocal rank at 10 over the exact-cosine retrieval of "
    f"the BOUNDED query sample (md5-first {_RET_MAX_Q} eligibles — the "
    "sim_ivf_recall_at_k convention; a fixed query FRACTION would make "
    "the exact scorer quadratic in the corpus, the r15 early probe "
    "read ~13x at 10x vectors; relevance = label match). Exact integer trick: "
    "each query contributes LCM(1..10)/first_rel_rank = an exact "
    "integer, so MRR is one final division — no order-dependent float "
    "summation. How a pipeline scores its retriever before mining hard "
    "negatives with it.",
)
def ret_mrr_at_10(spark: SparkSession, sf_dir: str) -> DataFrame:
    ranked = _ranked_frame(load_distributed(spark, sf_dir, "embeddings"))
    return M.mrr_at_k(ranked, "query_id", "rank", "rel", k=_RET_K)


def _ndcg_case_sql() -> tuple[str, str]:
    """(gain CASE on rn, ideal-prefix CASE on m) with the SAME decimal
    literals the Spark operator injects (mleval.ndcg_weights)."""
    w = M.ndcg_weights(_RET_K)
    prefix = []
    acc = None
    for x in w:
        acc = x if acc is None else acc + x
        prefix.append(acc)
    gain = " ".join(
        f"WHEN {i + 1} THEN CAST({w[i]} AS DECIMAL(18,12))"
        for i in range(_RET_K)
    )
    ideal = " ".join(
        f"WHEN {m + 1} THEN CAST({prefix[m]} AS DECIMAL(18,12))"
        for m in range(_RET_K)
    )
    return f"CASE rn {gain} END", f"CASE least(n_rel, {_RET_K}) {ideal} END"


_GAIN_CASE, _IDEAL_CASE = _ndcg_case_sql()

@register(
    "ret_ndcg_at_10",
    f"""
    WITH {_RANKED_CTE},
    lab_cnt AS (SELECT label, count(*) AS c FROM base GROUP BY 1),
    nrel AS (
      SELECT q.query_id, CAST(lc.c - 1 AS BIGINT) AS n_rel
      FROM q JOIN lab_cnt lc ON lc.label = q.q_label),
    dcg AS (
      SELECT query_id,
             SUM(CASE WHEN rel = 1 THEN {_GAIN_CASE}
                      ELSE CAST(0 AS DECIMAL(18,12)) END) AS dcg
      FROM top GROUP BY 1)
    SELECT d.query_id, n.n_rel,
           CASE WHEN n.n_rel > 0
                THEN CAST(d.dcg AS DOUBLE)
                     / CAST({_IDEAL_CASE} AS DOUBLE)
           END AS ndcg
    FROM dcg d JOIN nrel n ON n.query_id = d.query_id
    """,
    doc="Per-query binary NDCG@10 over the same exact-cosine retrieval "
    "(bounded md5-first query sample — see ret_mrr_at_10). "
    "DCG gains 1/log2(i+1) are 12-dp DECIMAL literals shared verbatim "
    "between engines, so the per-query DCG and the ideal-prefix IDCG "
    "sum in exact decimal arithmetic (order-independent); the single "
    "double division is the only float op. IDCG normalizes by "
    "min(corpus relevant count, 10); queries whose label is unique "
    "report NULL. Budget 3 by contract (r13 sweep, the "
    "ret_precision_recall_at_10 disposition): corpus side + query "
    "side + the label-count side each read embeddings once — pinning "
    "the vector frame would materialize the corpus.",
    scan_budget=3,
)
def ret_ndcg_at_10(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_distributed(spark, sf_dir, "embeddings")
    ranked = _ranked_frame(emb)
    lab_cnt = emb.groupBy("label").agg(F.count(F.lit(1)).alias("__c"))
    nrel = lab_cnt.select(
        F.col("label").alias("q_label"),
        (F.col("__c") - 1).cast("long").alias("n_rel_total"),
    )
    with_rel = ranked.join(F.broadcast(nrel), "q_label")
    return M.ndcg_at_k(
        with_rel, "query_id", "rank", "rel", "n_rel_total", k=_RET_K
    )


# ---------------------------------------------------------------------------
# X131 — exact-proportion stratified split
# ---------------------------------------------------------------------------

_SPLIT_SEED = 7

@register(
    "ml_stratified_split",
    f"""
    WITH h AS (
      SELECT label, vec_id,
             CAST(('0x' || substr(md5('{_SPLIT_SEED}:'
                 || CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT) AS hv
      FROM embeddings),
    r AS (
      SELECT label,
             ROW_NUMBER() OVER (PARTITION BY label
                                ORDER BY hv ASC, vec_id ASC) AS rn,
             COUNT(*) OVER (PARTITION BY label) AS n
      FROM h),
    t AS (
      SELECT label,
             CASE WHEN rn <= CAST(floor(n * 80 / 100) AS BIGINT)
                  THEN 'train' ELSE 'val' END AS split
      FROM r)
    SELECT label, split, CAST(count(*) AS BIGINT) AS n_rows
    FROM t GROUP BY 1, 2
    """,
    doc="Exact-proportion stratified train/val split: within each label "
    "stratum rows rank by a seeded md5 of the id (portable determinism, "
    "functions/hashing.py) and exactly floor(80%) go to train — unlike "
    "a plain hash threshold, every stratum hits its target fraction. "
    "Window partitions by stratum (scale fallback: hash-threshold "
    "stratified sampler, operators/curation.py). Summarized to "
    "per-(label, split) counts for the oracle.",
)
def ml_stratified_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_distributed(spark, sf_dir, "embeddings")
    tagged = M.stratified_split_exact(
        emb, ["label"], "vec_id", train_pct=80, seed=_SPLIT_SEED
    )
    return tagged.groupBy("label", "split").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows")
    )


# ---------------------------------------------------------------------------
# X139 — m-estimate target encoding
# ---------------------------------------------------------------------------

_TE_M = 10

@register(
    "ml_target_encoding",
    f"""
    WITH base AS (
      SELECT o_orderpriority AS cat,
             CAST(round(CAST(o_totalprice AS DECIMAL(18,2)) * 100, 0)
                  AS BIGINT) AS cents
      FROM orders),
    g AS (
      SELECT CAST(floor(CAST(SUM(cents) AS DOUBLE)
                        / CAST(count(*) AS DOUBLE)) AS BIGINT) AS gmean
      FROM base),
    per AS (
      SELECT cat, CAST(count(*) AS BIGINT) AS n,
             CAST(SUM(cents) AS BIGINT) AS s
      FROM base GROUP BY 1)
    SELECT cat AS o_orderpriority, n,
           CAST(floor(CAST(s + {_TE_M} * gmean AS DOUBLE)
                      / CAST(n + {_TE_M} AS DOUBLE)) AS BIGINT) AS enc
    FROM per, g
    """,
    doc="m-estimate target encoding of order priority by mean order "
    "value (integer cents): rare categories shrink toward the global "
    "mean, enc = floor((sum + m*gmean)/(n + m)). Everything is integer "
    "except two identical floored IEEE divisions, so the encoding is "
    "engine-deterministic. One category-keyed aggregation + a 1-row "
    "broadcast global mean; the output is category-table-sized and "
    "broadcasts back onto the feature frame.",
)
def ml_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_distributed(spark, sf_dir, "orders")
    cents = F.round(
        F.col("o_totalprice").cast("decimal(18,2)") * 100, 0
    ).cast("long")
    base = orders.select(
        F.col("o_orderpriority"), cents.alias("__cents")
    )
    return M.target_encode(base, "o_orderpriority", "__cents", m=_TE_M)


# ---------------------------------------------------------------------------
# X141 — reciprocal-rank fusion of two retrievers
# ---------------------------------------------------------------------------

_RRF_K = 60
_RRF_SCALE = 1_000_000
_RRF_TOPK = 5
_RRF_QMOD = 25  # query sample: vec_id % 25 == 0


def _rrf_half_rank_sql(lo: int, alias: str) -> str:
    """Ranked top-10 CTEs for cosine over one half of the embedding."""
    return f"""
    {alias}_p AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             CAST(round(list_cosine_similarity(
               CAST(list_slice(q.embedding, {lo}, {lo + 31}) AS DOUBLE[]),
               CAST(list_slice(c.embedding, {lo}, {lo + 31}) AS DOUBLE[]))
               * 1e6) AS BIGINT) AS cs
      FROM embeddings q JOIN embeddings c
        ON q.label = c.label AND c.vec_id <> q.vec_id
      WHERE q.vec_id % {_RRF_QMOD} = 0),
    {alias} AS (
      SELECT query_id, neighbor_id,
             ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY cs DESC, neighbor_id ASC) AS rnk
      FROM {alias}_p
      QUALIFY rnk <= 10)
"""


@register(
    "ret_rrf_fusion",
    f"""
    WITH {_rrf_half_rank_sql(1, "ra")},
    {_rrf_half_rank_sql(33, "rb")},
    u AS (SELECT * FROM ra UNION ALL SELECT * FROM rb),
    fused AS (
      SELECT query_id, neighbor_id,
             CAST(SUM(CAST(floor({_RRF_SCALE}.0
                    / CAST(rnk + {_RRF_K} AS DOUBLE)) AS BIGINT))
                  AS BIGINT) AS fused_score,
             CAST(count(*) AS BIGINT) AS n_sources
      FROM u GROUP BY 1, 2),
    ranked AS (
      SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY fused_score DESC, neighbor_id ASC) AS BIGINT)
               AS fused_rank
      FROM fused)
    SELECT query_id, neighbor_id, fused_score, n_sources, fused_rank
    FROM ranked WHERE fused_rank <= {_RRF_TOPK}
    """,
    doc="Reciprocal-rank fusion of two retrievers (cosine over the "
    "first and second halves of the embedding — a stand-in for "
    "dense + lexical): each retriever's top-10 contributes "
    "floor(1e6/(60+rank)) — the scaled-INTEGER RRF form, summed "
    "exactly, so fusion is engine-deterministic where float 1/(k+r) "
    "sums are not. One (query,item) aggregation + a per-query top-k "
    "window. The standard way pipelines merge heterogeneous "
    "retrievers before mining or labeling.",
)
def ret_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_distributed(spark, sf_dir, "embeddings")
    halves = []
    for lo in (1, 33):
        half = emb.withColumn("embedding", F.slice("embedding", lo, 32))
        ranked = SIM.cosine_topk(
            half,
            k=10,
            query_filter=(F.col("vec_id") % _RRF_QMOD == 0),
            block_on_label=True,
            scaled_e6=True,
        ).select("query_id", "neighbor_id", F.col("rank").alias("rnk"))
        halves.append(ranked)
    union = halves[0].unionByName(halves[1])
    return M.rrf_fuse(
        union,
        "query_id",
        "neighbor_id",
        "rnk",
        k=_RRF_K,
        scale=_RRF_SCALE,
        top_k=_RRF_TOPK,
    ).select("query_id", "neighbor_id", "fused_score", "n_sources", "fused_rank")


# ---------------------------------------------------------------------------
# X148 — weight of evidence / information value (round 7)
# ---------------------------------------------------------------------------

_WOE_S = 0.5


@register(
    "ml_woe_iv",
    f"""
    WITH per AS (
      SELECT o_orderpriority,
             CAST(count(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_pos,
             CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 0 ELSE 1 END)
                  AS BIGINT) AS n_neg
      FROM orders GROUP BY 1),
    tot AS (
      SELECT CAST(SUM(n_pos) AS BIGINT) AS pos,
             CAST(SUM(n_neg) AS BIGINT) AS neg,
             CAST(count(*) AS BIGINT) AS k
      FROM per),
    terms AS (
      SELECT o_orderpriority, n, n_pos, n_neg,
             CAST(round(ln((CAST(n_pos AS DOUBLE) + {_WOE_S})
                      * (CAST(neg AS DOUBLE) + {_WOE_S} * CAST(k AS DOUBLE))
                    / ((CAST(n_neg AS DOUBLE) + {_WOE_S})
                       * (CAST(pos AS DOUBLE)
                          + {_WOE_S} * CAST(k AS DOUBLE)))) * 1e6)
               AS BIGINT) AS woe_e6,
             ((CAST(n_pos AS DOUBLE) + {_WOE_S})
                / (CAST(pos AS DOUBLE) + {_WOE_S} * CAST(k AS DOUBLE))
              - (CAST(n_neg AS DOUBLE) + {_WOE_S})
                / (CAST(neg AS DOUBLE) + {_WOE_S} * CAST(k AS DOUBLE)))
             * ln((CAST(n_pos AS DOUBLE) + {_WOE_S})
                  * (CAST(neg AS DOUBLE) + {_WOE_S} * CAST(k AS DOUBLE))
                / ((CAST(n_neg AS DOUBLE) + {_WOE_S})
                   * (CAST(pos AS DOUBLE)
                      + {_WOE_S} * CAST(k AS DOUBLE)))) AS t
      FROM per, tot),
    iv AS (SELECT CAST(round(SUM(t) * 1e6) AS BIGINT) AS iv_e6 FROM terms)
    SELECT o_orderpriority, n, n_pos, n_neg, woe_e6, iv_e6
    FROM terms, iv
    """,
    doc="Weight of evidence per order priority against the 'order "
    "fulfilled' label plus the feature's information value — the "
    "credit-scoring-standard categorical predictiveness measure "
    "(X148). Laplace-smoothed so zero-count cells stay finite; exact "
    "integer counts, one ln + fixed IEEE divisions under round(6) "
    "(the mutual-information convention). One category-keyed "
    "aggregation, category-sized everything after.",
)
def ml_woe_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_distributed(spark, sf_dir, "orders")
    base = orders.select(
        "o_orderpriority",
        (F.col("o_orderstatus") == "F").cast("int").alias("__lab"),
    )
    return M.woe_iv(base, "o_orderpriority", "__lab", smoothing=_WOE_S)


# ---------------------------------------------------------------------------
# X160 — two-proportion z-test (round 7)
# ---------------------------------------------------------------------------


@register(
    "ml_two_proportion_test",
    """
    WITH agg AS (
      SELECT
        CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)
             AS BIGINT) AS n_a,
        CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT'
                       AND o_orderstatus = 'F' THEN 1 ELSE 0 END)
             AS BIGINT) AS pos_a,
        CAST(SUM(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END)
             AS BIGINT) AS n_b,
        CAST(SUM(CASE WHEN o_orderpriority = '5-LOW'
                       AND o_orderstatus = 'F' THEN 1 ELSE 0 END)
             AS BIGINT) AS pos_b
      FROM orders
      WHERE o_orderpriority IN ('1-URGENT', '5-LOW'))
    SELECT n_a, pos_a, n_b, pos_b,
           CAST(pos_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS p_a,
           CAST(pos_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS p_b,
           CAST(pos_a AS DOUBLE) / CAST(n_a AS DOUBLE)
             - CAST(pos_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS diff,
           CAST(round(((CAST(pos_a AS DOUBLE) / CAST(n_a AS DOUBLE)
                  - CAST(pos_b AS DOUBLE) / CAST(n_b AS DOUBLE))
                 / nullif(sqrt((CAST(pos_a + pos_b AS DOUBLE)
                                / CAST(n_a + n_b AS DOUBLE))
                               * (1.0 - CAST(pos_a + pos_b AS DOUBLE)
                                        / CAST(n_a + n_b AS DOUBLE))
                               * (1.0 / CAST(n_a AS DOUBLE)
                                  + 1.0 / CAST(n_b AS DOUBLE))), 0.0))
                 * 1e6) AS BIGINT) AS z_e6
    FROM agg
    """,
    doc="Two-proportion z-test: did URGENT orders' fulfillment rate "
    "move vs LOW-priority orders? (X160 — the A/B experiment readout "
    "and slice-regression check.) Exact integer counts from ONE "
    "filtered aggregation; rates are raw IEEE ratios of exact "
    "integers; the pooled-variance z leaves as z_e6 BIGINT (round-9 "
    "representation convention); sign carries direction.",
)
def ml_two_proportion_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_distributed(spark, sf_dir, "orders")
    base = orders.select(
        "o_orderpriority",
        (F.col("o_orderstatus") == "F").cast("int").alias("__lab"),
    )
    return M.two_proportion_test(
        base, "o_orderpriority", "__lab", "1-URGENT", "5-LOW",
    )


@register(
    "ret_precision_recall_at_10",
    f"""
    WITH {_RANKED_CTE},
    hits AS (
      SELECT query_id,
             CAST(SUM(CASE WHEN rn <= {_RET_K} AND rel = 1
                  THEN 1 ELSE 0 END) AS BIGINT) AS h
      FROM top GROUP BY 1),
    labcnt AS (
      SELECT label, CAST(COUNT(*) AS BIGINT) AS lc
      FROM embeddings GROUP BY 1),
    tr AS (
      SELECT q.query_id, l.lc - 1 AS nrel
      FROM q JOIN labcnt l ON l.label = q.q_label),
    j AS (
      SELECT COALESCE(h.h, 0) AS h, COALESCE(t.nrel, 0) AS nrel
      FROM tr t FULL OUTER JOIN hits h USING (query_id))
    SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
           CAST(SUM(h) AS BIGINT) AS n_hits,
           CAST(SUM(nrel) AS BIGINT) AS n_rel_total,
           CASE WHEN COUNT(*) > 0
                THEN CAST(SUM(h) AS DOUBLE)
                     / ({_RET_K}.0 * CAST(COUNT(*) AS DOUBLE))
           END AS precision_at_k,
           CASE WHEN SUM(nrel) > 0
                THEN CAST(SUM(h) AS DOUBLE) / CAST(SUM(nrel) AS DOUBLE)
           END AS recall_at_k
    FROM j
    """,
    doc="Precision@10 / recall@10 of the exact-cosine retrieval "
    "(X207; bounded md5-first query sample shared with the ranked "
    "frame - see ret_mrr_at_10) - the set-overlap companions to MRR (first hit) and NDCG "
    "(graded positions). Macro precision is exact (shared denominator "
    "k); recall is the MICRO form sum(hits)/sum(n_rel) - the only "
    "deterministic aggregate (per-query float averaging is order-"
    "dependent; documented). True per-query relevant counts from the "
    "corpus label counts minus self.",
)
def ret_precision_recall_at_10(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    emb = load_distributed(spark, sf_dir, "embeddings")
    qids = _bounded_query_ids(emb)  # shared with the ranked frame
    ranked = _ranked_frame(emb, query_ids=qids)
    labels = emb.select("vec_id", "label").localCheckpoint(
        eager=False
    )  # label counts + query side (r11 scan audit)
    lab_cnt = labels.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("__lc")
    )
    total_rel = (
        labels.where(F.col("vec_id").isin(qids))
        .join(F.broadcast(lab_cnt), "label")
        .select(
            F.col("vec_id").alias("query_id"),
            (F.col("__lc") - 1).cast("long").alias("n_rel"),
        )
    )
    return M.precision_recall_at_k(
        ranked, "query_id", "rank", "rel", k=_RET_K, total_rel=total_rel
    )


@register(
    "ml_expected_calibration_error",
    f"""
    WITH {_PRED_CTE},
    b AS (
      SELECT least(CAST(floor(pred * 10) AS BIGINT), 9) AS bin,
             lab, pred
      FROM p),
    bins AS (
      SELECT bin, CAST(count(*) AS BIGINT) AS n,
             CAST(SUM(lab) AS BIGINT) AS pos,
             SUM(pred) AS psum
      FROM b GROUP BY 1),
    g AS (
      SELECT n, abs(CAST(pos AS DOUBLE) / CAST(n AS DOUBLE)
                    - psum / CAST(n AS DOUBLE)) AS gap
      FROM bins)
    SELECT CAST(SUM(n) AS BIGINT) AS n,
           CAST(COUNT(*) AS BIGINT) AS n_bins_used,
           CASE WHEN SUM(n) > 0 THEN
             CAST(round(SUM(CAST(n AS DOUBLE) * gap)
                  / CAST(SUM(n) AS DOUBLE) * 1e6) AS BIGINT)
           END AS ece_e6,
           CASE WHEN SUM(n) > 0 THEN
             CAST(round(MAX(gap) * 1e6) AS BIGINT)
           END AS mce_e6
    FROM g
    """,
    doc="Expected / maximum calibration error of the engine's quality "
    "score (X210) - the one-number reliability summaries over the "
    "same 10-bin diagram as ml_calibration_bins, with the standard "
    "mean-prediction confidence per bin (the per-bin prediction sum "
    "is the one float accumulation; e6 absorbs its sub-1e-10 order "
    "noise).",
)
def ml_expected_calibration_error(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    pred = _pred_frame(spark, sf_dir)
    return M.expected_calibration_error(pred, "pred", "lab", n_bins=10)


@register(
    "ml_brier_decomposition",
    f"""
    WITH {_PRED_CTE},
    b AS (
      SELECT least(CAST(floor(pred * 10) AS BIGINT), 9) AS bin,
             lab, pred
      FROM p),
    bins AS (
      SELECT bin, CAST(count(*) AS BIGINT) AS n,
             CAST(SUM(lab) AS BIGINT) AS pos,
             SUM(pred) AS psum,
             SUM(pred * pred) AS psq,
             SUM(pred * CAST(lab AS DOUBLE)) AS py
      FROM b GROUP BY 1),
    agg AS (
      SELECT CAST(SUM(n) AS BIGINT) AS n,
             CAST(SUM(pos) AS BIGINT) AS n_pos,
             CAST(COUNT(*) AS BIGINT) AS n_bins_used,
             SUM(psq) AS spp, SUM(py) AS spy,
             SUM(CAST(n AS DOUBLE)
                 * (psum / CAST(n AS DOUBLE)
                    - CAST(pos AS DOUBLE) / CAST(n AS DOUBLE))
                 * (psum / CAST(n AS DOUBLE)
                    - CAST(pos AS DOUBLE) / CAST(n AS DOUBLE)))
               AS rel_num,
             SUM(CAST(pos AS DOUBLE) * CAST(pos AS DOUBLE)
                 / CAST(n AS DOUBLE)) AS acc2_num
      FROM bins)
    SELECT n, n_pos, n_bins_used,
      CASE WHEN n > 0 THEN CAST(round(
        ((spp - 2.0 * spy + CAST(n_pos AS DOUBLE)) / CAST(n AS DOUBLE))
        * 1e6) AS BIGINT) END AS brier_e6,
      CASE WHEN n > 0 THEN CAST(round(
        (rel_num / CAST(n AS DOUBLE)) * 1e6) AS BIGINT)
      END AS reliability_e6,
      CASE WHEN n > 0 THEN CAST(round(
        (acc2_num / CAST(n AS DOUBLE)
         - (CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE))
           * (CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE))) * 1e6)
        AS BIGINT) END AS resolution_e6,
      CASE WHEN n > 0 THEN CAST(round(
        ((CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE))
         * (1.0 - CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE))) * 1e6)
        AS BIGINT) END AS uncertainty_e6,
      CASE WHEN n > 0 THEN CAST(round(
        (((spp - 2.0 * spy + CAST(n_pos AS DOUBLE)) / CAST(n AS DOUBLE))
         - ((rel_num / CAST(n AS DOUBLE))
            - (acc2_num / CAST(n AS DOUBLE)
               - (CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE))
                 * (CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE)))
            + (CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE))
              * (1.0 - CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE))))
        * 1e6) AS BIGINT) END AS within_bin_var_e6
    FROM agg
    """,
    doc="Brier score + Murphy three-way decomposition of the engine's "
    "quality score (X215): reliability (calibration cost) - "
    "resolution (discrimination credit) + uncertainty (irreducible), "
    "over the same 10-bin diagram as ml_calibration_bins, plus the "
    "within-bin variance residual that makes the identity auditable "
    "from the output row. Counts exact; the per-bin float sums are "
    "the ECE precedent (e6 absorbs order noise).",
)
def ml_brier_decomposition(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    pred = _pred_frame(spark, sf_dir)
    return M.brier_decomposition(pred, "pred", "lab", n_bins=10)


@register(
    "ml_cumulative_gains",
    f"""
    WITH {_PRED_CTE},
    perv AS (
      SELECT pred, CAST(COUNT(*) AS BIGINT) AS c,
             CAST(SUM(lab) AS BIGINT) AS pos
      FROM p GROUP BY 1),
    cum AS (
      SELECT pred, c, pos,
             COALESCE(SUM(c) OVER (ORDER BY pred DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS above
      FROM perv),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n,
                   CAST(SUM(pos) AS BIGINT) AS tp FROM perv),
    pts AS (SELECT unnest(range(1, 11)) AS point),
    th AS (SELECT point, (CAST(n AS HUGEINT) * point) // 10 AS t, n, tp
           FROM tot CROSS JOIN pts),
    kept AS (
      SELECT th.point, th.t, th.n, th.tp,
             CAST(SUM(CASE WHEN cum.above < th.t THEN cum.c ELSE 0 END)
               AS BIGINT) AS n_kept,
             CAST(SUM(CASE WHEN cum.above < th.t THEN cum.pos ELSE 0 END)
               AS BIGINT) AS pos_kept
      FROM th CROSS JOIN cum GROUP BY 1, 2, 3, 4)
    SELECT CAST(point AS BIGINT) AS point,
           CAST(point AS DOUBLE) / 10.0 AS frac_rows,
           CAST(t AS BIGINT) AS target_rows, n_kept, pos_kept,
           CASE WHEN tp > 0
                THEN CAST(pos_kept AS DOUBLE) / CAST(tp AS DOUBLE)
           END AS gain,
           CASE WHEN tp > 0 AND n_kept > 0 THEN
                CAST(CAST(pos_kept AS HUGEINT) * n AS DOUBLE)
                / CAST(CAST(tp AS HUGEINT) * n_kept AS DOUBLE)
           END AS lift
    FROM kept
    """,
    doc="Cumulative gains / lift table of the engine's quality score "
    "(X216): per decile d, act on the smallest tie-respecting top set "
    ">= floor(n*d/10) rows by score — ties NEVER split, so n_kept/"
    "pos_kept stay exact integers and gain/lift are single exact IEEE "
    "divisions of decimal products. The lorenz_points plan on the "
    "descending (negated) key: one distinct-score groupBy, one "
    "distributed below-counts pass, thresholds hoisted to the "
    "broadcast totals frame.",
)
def ml_cumulative_gains(spark: SparkSession, sf_dir: str) -> DataFrame:
    pred = _pred_frame(spark, sf_dir)
    return M.cumulative_gains(pred, "pred", "lab", n_points=10)
