"""Corpus-curation queries (SURVEY.md §2.11 extension surface):
decontamination, PII scrubbing, repetition quality, stratified sampling,
and sequence packing — the operations a training-data pipeline runs
between raw crawl and tokenizer.

Every entry carries a full DuckDB oracle and runs through the
golden-query pytest harness (tests/test_queries_oracle.py); queries.GATE
decides which ones are in the correctness gate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from legendary_data_pipeline_spark.catalog import (
    load_distributed,
    load_table,
)
from legendary_data_pipeline_spark.functions import text as text_sql
from legendary_data_pipeline_spark.functions.hashing import (
    md5_long_sql,
    seeded_md5_long_sql,
)
from legendary_data_pipeline_spark.functions.numeric import e6
from legendary_data_pipeline_spark.operators import curation as C
from legendary_data_pipeline_spark.queries import register

# ---------------------------------------------------------------------------
# shared SQL fragments
# ---------------------------------------------------------------------------

_TOKS = "regexp_split_to_array(trim(text), '\\s+')"


def _shingle_expr(n: int) -> str:
    """DuckDB expression for word-n-gram shingles over token array `t`
    (mirrors operators.dedup.shingle_sets: space-joined n consecutive
    tokens, positions 1..len-n+1)."""
    parts = " || ' ' || ".join(f"t[__j + {i}]" for i in range(n))
    return (
        f"unnest(list_transform(range(1, len(t) - {n} + 2), __j -> {parts}))"
    )


# ---------------------------------------------------------------------------
# decontamination
# ---------------------------------------------------------------------------

_DECON_N = 4


@register(
    "curation_decontaminate",
    f"""
    WITH toks AS (
      SELECT doc_id, source, {_TOKS} AS t FROM documents),
    sh AS (
      SELECT doc_id, source, {_shingle_expr(_DECON_N)} AS s
      FROM toks WHERE len(t) >= {_DECON_N}),
    bench AS (SELECT DISTINCT s FROM sh WHERE source = 'src0'),
    hits AS (
      SELECT DISTINCT t.doc_id
      FROM sh t JOIN bench b USING (s)
      WHERE t.source <> 'src0')
    SELECT d.source,
           COUNT(*) AS n_docs,
           CAST(COALESCE(SUM(CASE WHEN h.doc_id IS NOT NULL THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS n_contaminated
    FROM documents d LEFT JOIN hits h USING (doc_id)
    WHERE d.source <> 'src0'
    GROUP BY d.source
    """,
    doc="Eval-set decontamination: flag training docs sharing any word "
    "4-gram with the benchmark slice (source='src0'), the GPT-3/PaLM "
    "n-gram-overlap rule. The benchmark shingle set is broadcast and the "
    "corpus side is a broadcast LEFT SEMI probe — the training corpus "
    "never shuffles. Aggregated per source for a compact checkable "
    "result.",
)
def curation_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("source") == "src0")
    train = docs.filter(F.col("source") != "src0")
    flagged = C.contamination_flags(train, bench, shingle_n=_DECON_N)
    return flagged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("contaminated").cast("long")).alias("n_contaminated"),
    )


# ---------------------------------------------------------------------------
# PII scrubbing
# ---------------------------------------------------------------------------

# Synthetic PII injection (the fixture corpus is PII-free by
# construction): every doc gets an email, every 3rd a phone, every 7th
# an IPv4 — deterministic from doc_id so the oracle replays it exactly.
_PII_TEXT_SQL = """
      trim(text) || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
      || CASE WHEN doc_id % 3 = 0
              THEN ' call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                   || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
              ELSE '' END
      || CASE WHEN doc_id % 7 = 0
              THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                   || '.' || CAST(doc_id % 254 AS VARCHAR)
              ELSE '' END
"""


@register(
    "curation_pii_scrub",
    f"""
    WITH pii AS (
      SELECT doc_id, {_PII_TEXT_SQL} AS ptext FROM documents),
    scrubbed AS (
      SELECT doc_id, ptext,
             regexp_replace(
               regexp_replace(
                 regexp_replace(ptext,
                   '{C.EMAIL_RE}', '<EMAIL>', 'g'),
                 '{C.PHONE_RE}', '<PHONE>', 'g'),
               '{C.IPV4_RE}', '<IP>', 'g') AS clean
      FROM pii)
    SELECT doc_id,
           CAST(len(regexp_extract_all(ptext, '{C.EMAIL_RE}')) AS INTEGER)
             AS emails,
           CAST(len(regexp_extract_all(ptext, '{C.PHONE_RE}')) AS INTEGER)
             AS phones,
           CAST(len(regexp_extract_all(ptext, '{C.IPV4_RE}')) AS INTEGER)
             AS ipv4s,
           CAST(len(regexp_extract_all(clean, '{C.EMAIL_RE}'))
                + len(regexp_extract_all(clean, '{C.PHONE_RE}'))
                + len(regexp_extract_all(clean, '{C.IPV4_RE}')) AS INTEGER)
             AS residual_pii,
           clean
    FROM scrubbed
    """,
    doc="PII detection + masking: count and mask emails/phones/IPv4s "
    "with RE2-safe patterns that run identically in Spark (Java regex) "
    "and the DuckDB oracle. The fixture corpus is PII-free, so "
    "deterministic synthetic PII is injected from doc_id first; "
    "residual_pii proves the scrub converges to zero. Pure "
    "regexp_replace/regexp_count chains — whole-stage codegen, no "
    "Python on the data plane.",
)
def curation_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    phone = F.when(
        did % 3 == 0,
        F.concat(
            F.lit(" call 555-"),
            F.lpad((did % 1000).cast("string"), 3, "0"),
            F.lit("-"),
            F.lpad((did % 10000).cast("string"), 4, "0"),
        ),
    ).otherwise("")
    ip = F.when(
        did % 7 == 0,
        F.concat(
            F.lit(" from 10.0."),
            (did % 256).cast("string"),
            F.lit("."),
            (did % 254).cast("string"),
        ),
    ).otherwise("")
    ptext = F.concat(
        F.trim("text"),
        F.lit(" contact user"),
        did.cast("string"),
        F.lit("@example.com"),
        phone,
        ip,
    )
    pii = docs.select(did, ptext.alias("ptext"))
    counts = C.pii_counts(F.col("ptext"))
    clean = C.scrub_pii(F.col("ptext"))
    out = pii.select(
        "doc_id",
        counts["emails"].alias("emails"),
        counts["phones"].alias("phones"),
        counts["ipv4s"].alias("ipv4s"),
        clean.alias("clean"),
    )
    residual = (
        F.regexp_count(F.col("clean"), F.lit(C.EMAIL_RE))
        + F.regexp_count(F.col("clean"), F.lit(C.PHONE_RE))
        + F.regexp_count(F.col("clean"), F.lit(C.IPV4_RE))
    )
    return out.select(
        "doc_id", "emails", "phones", "ipv4s",
        residual.alias("residual_pii"), "clean",
    )


# ---------------------------------------------------------------------------
# repetition quality
# ---------------------------------------------------------------------------


@register(
    "curation_repetition_quality",
    f"""
    WITH toks AS (
      SELECT doc_id, {_TOKS} AS t FROM documents WHERE len({_TOKS}) > 0),
    uni AS (SELECT doc_id, unnest(t) AS w FROM toks),
    uc AS (SELECT doc_id, w, COUNT(*) AS c FROM uni GROUP BY doc_id, w),
    us AS (SELECT doc_id, SUM(c) AS n_tokens, MAX(c) AS top_c
           FROM uc GROUP BY doc_id),
    bg AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(t)),
                    __j -> t[__j] || ' ' || t[__j + 1])) AS b
      FROM toks WHERE len(t) >= 2),
    bc AS (SELECT doc_id, b, COUNT(*) AS c FROM bg GROUP BY doc_id, b),
    bs AS (SELECT doc_id, SUM(c) AS n_bg, SUM(c - 1) AS dup_bg
           FROM bc GROUP BY doc_id)
    SELECT us.doc_id,
           CAST(us.n_tokens AS BIGINT) AS n_tokens,
           CAST(us.top_c AS DOUBLE) / CAST(us.n_tokens AS DOUBLE)
             AS top_token_frac,
           COALESCE(CAST(bs.dup_bg AS DOUBLE)
                    / CAST(bs.n_bg AS DOUBLE), 0.0)
             AS dup_bigram_frac,
           (CAST(us.top_c AS DOUBLE) / CAST(us.n_tokens AS DOUBLE)
              > 0.20
            OR COALESCE(CAST(bs.dup_bg AS DOUBLE)
                        / CAST(bs.n_bg AS DOUBLE), 0.0) > 0.40)
             AS low_quality
    FROM us LEFT JOIN bs USING (doc_id)
    """,
    doc="Gopher-style repetition gate (Rae et al. 2021 A1.1): fraction "
    "of tokens held by the most frequent token and fraction of "
    "duplicated bigrams, thresholded to a keep/drop flag. Two map-side "
    "combinable count aggregations keyed by doc id — no skew beyond "
    "document length.",
)
def curation_repetition_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return C.repetition_stats(docs).select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "top_token_frac",
        "dup_bigram_frac",
        "low_quality",
    )


# ---------------------------------------------------------------------------
# stratified sampling
# ---------------------------------------------------------------------------

_RATES = {"en": 0.5, "de": 0.25, "zh": 0.1}
_DEFAULT_RATE = 0.05
_SAMPLE_SEED = 7


def _rate_ladder_sql() -> str:
    whens = " ".join(
        f"WHEN lang = '{stratum}' THEN {int(rate * 10_000)}"
        for stratum, rate in sorted(_RATES.items())
    )
    return f"CASE {whens} ELSE {int(_DEFAULT_RATE * 10_000)} END"


@register(
    "curation_stratified_sample",
    f"""
    WITH gated AS (
      SELECT lang, doc_id,
             ({seeded_md5_long_sql("CAST(doc_id AS VARCHAR)", _SAMPLE_SEED)}
               % 10000) < {_rate_ladder_sql()} AS keep
      FROM documents)
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           MIN(CASE WHEN keep THEN doc_id END) AS first_kept,
           MAX(CASE WHEN keep THEN doc_id END) AS last_kept
    FROM gated GROUP BY lang
    """,
    doc="Deterministic corpus-mix sampling: per-language keep rates "
    "applied via a seeded md5 hash gate on doc_id, so the selected "
    "subset is a pure function of the data — identical across reruns, "
    "retries, and engines (the property training-mix reproducibility "
    "depends on; Spark's sample() cannot give it). Pure column "
    "expressions, zero added shuffles.",
)
def curation_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    gated = C.stratified_hash_sample(
        docs, _RATES, default_rate=_DEFAULT_RATE, seed=_SAMPLE_SEED
    )
    keep_id = F.when(F.col("keep"), F.col("doc_id"))
    return gated.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("keep").cast("long")).alias("n_kept"),
        F.min(keep_id).alias("first_kept"),
        F.max(keep_id).alias("last_kept"),
    )


_TAKE_N = 15
_TAKE_SEED = 7


@register(
    "curation_stratified_take_n",
    f"""
    WITH ranked AS (
      SELECT lang, doc_id,
             ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY {seeded_md5_long_sql("CAST(doc_id AS VARCHAR)", _TAKE_SEED)} ASC,
                        doc_id ASC) AS rn
      FROM documents)
    SELECT lang, doc_id, CAST(rn AS BIGINT) AS sample_rank
    FROM ranked WHERE rn <= {_TAKE_N}
    """,
    doc="Count-based stratified sampling: exactly 15 docs per language, "
    "selected and ordered by a seeded md5 hash of the id — the 'N per "
    "stratum' mix recipe, deterministic across engines and reruns. One "
    "window per stratum with an in-stage top-N, never a global sort.",
)
def curation_stratified_take_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    from legendary_data_pipeline_spark.operators.curation import stratified_take_n

    docs = load_table(spark, sf_dir, "documents")
    taken = stratified_take_n(
        docs.select("lang", "doc_id"), n=_TAKE_N, seed=_TAKE_SEED
    )
    return taken.select(
        "lang", "doc_id", F.col("sample_rank").cast("long").alias("sample_rank")
    )


# ---------------------------------------------------------------------------
# skew-safe aggregation (oracle-paired proof of equivalence)
# ---------------------------------------------------------------------------


@register(
    "skew_salted_user_totals",
    """
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(SUM(CAST(round(CAST(value AS DECIMAL(18,2)) * 100, 0)
                         AS BIGINT)) AS BIGINT) AS sum_value_cents
    FROM events GROUP BY user_id
    """,
    doc="Salted two-phase aggregation vs the plain GROUP BY oracle: the "
    "skew-mitigation path (partial aggregate per (key, salt), merge per "
    "key) must be value-identical to the direct aggregation — money as "
    "integer cents keeps the sum associative so salting cannot change "
    "the result. This pins the operator a hot-key corpus needs at "
    "100 TB (one giant key no longer lands in one task).",
)
def skew_salted_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from legendary_data_pipeline_spark.operators.skew import salted_count_sum

    ev = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value").cast("decimal(18,2)") * 100, 0).cast("long")
    base = ev.select("user_id", cents.alias("value_cents"))
    out = salted_count_sum(base, ["user_id"], "value_cents", salt_buckets=16)
    return out.select(
        "user_id",
        F.col("cnt").cast("long").alias("cnt"),
        F.col("sum_value_cents").cast("long").alias("sum_value_cents"),
    )


# ---------------------------------------------------------------------------
# vocabulary building
# ---------------------------------------------------------------------------

_VOCAB_K = 100


@register(
    "curation_vocab_topk",
    f"""
    WITH toks AS (
      SELECT unnest({_TOKS}) AS w FROM documents),
    tot AS (SELECT COUNT(*) AS n FROM toks),
    c AS (SELECT w, COUNT(*) AS cnt FROM toks GROUP BY w),
    top AS (
      SELECT w, cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, w ASC) AS rk
      FROM c ORDER BY cnt DESC, w ASC LIMIT {_VOCAB_K})
    SELECT w AS token,
           CAST(cnt AS BIGINT) AS n_occurrences,
           CAST(rk AS BIGINT) AS vocab_rank,
           CAST(SUM(cnt) OVER (ORDER BY rk) AS DOUBLE)
             / (SELECT CAST(n AS DOUBLE) FROM tot) AS coverage
    FROM top
    """,
    doc="Corpus vocabulary: top-100 tokens by frequency with cumulative "
    "corpus coverage — the tokenizer-training precursor. The token count "
    "is one map-side-combinable groupBy; the top-K is "
    "TakeOrderedAndProject (bounded per-partition heaps, never a full "
    "sort); the only windows run over the K selected rows and the "
    "grand-total aggregate is a one-row broadcast.",
)
def curation_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("w")
    )
    counts = toks.groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
    # Grand total from the (small) counts frame — NOT a second
    # split+explode scan of the corpus.
    total = counts.agg(F.sum("cnt").alias("n"))
    top = counts.orderBy(F.col("cnt").desc(), F.col("w").asc()).limit(_VOCAB_K)
    rk_w = Window.orderBy(F.col("cnt").desc(), F.col("w").asc())
    cum_w = rk_w.rowsBetween(Window.unboundedPreceding, 0)
    ranked = top.select(
        F.col("w").alias("token"),
        F.col("cnt").alias("n_occurrences"),
        F.row_number().over(rk_w).cast("long").alias("vocab_rank"),
        F.sum("cnt").over(cum_w).cast("double").alias("__cum"),
    )
    return ranked.join(F.broadcast(total)).select(
        "token",
        "n_occurrences",
        "vocab_rank",
        (F.col("__cum") / F.col("n").cast("double")).alias("coverage"),
    )


# ---------------------------------------------------------------------------
# per-source caps
# ---------------------------------------------------------------------------

_CAP_K = 10

# Mirrors queries_llm._QUALITY_SQL_STATS + the text_quality_score ladder;
# kept inline (with `source`) so this oracle is self-contained. The
# stopword list is generated from the operator's constant to prevent
# drift.
from legendary_data_pipeline_spark.operators.textstats import (  # noqa: E402
    STOPWORDS as _STOPWORDS,
)

_STOP_IN = ", ".join(f"'{w}'" for w in _STOPWORDS)

_QUALITY_Q_SQL = f"""
    s AS (SELECT doc_id, source,
                 CAST(len({_TOKS}) AS BIGINT) AS token_count,
                 CAST(len(list_filter({_TOKS},
                      __x -> __x IN ({_STOP_IN}))) AS BIGINT)
                   AS stopword_count,
                 CAST(length(trim(text)) AS BIGINT) AS char_count
          FROM documents),
    sc AS (
      SELECT doc_id, source,
             (CASE WHEN token_count BETWEEN 20 AND 400 THEN 40 ELSE 10 END
            + CASE WHEN CAST(stopword_count AS DOUBLE) / CAST(token_count AS DOUBLE)
                        BETWEEN 0.02 AND 0.6 THEN 30 ELSE 10 END
            + CASE WHEN CAST(char_count AS DOUBLE) / CAST(token_count AS DOUBLE)
                        BETWEEN 3.0 AND 12.0 THEN 30 ELSE 10 END) AS q
      FROM s)
"""


@register(
    "curation_cap_per_source",
    f"""
    WITH {_QUALITY_Q_SQL},
    r AS (
      SELECT source, doc_id, CAST(q AS INTEGER) AS quality_score,
             ROW_NUMBER() OVER (
               PARTITION BY source ORDER BY q DESC, doc_id ASC) AS rn
      FROM sc)
    SELECT source, doc_id, quality_score, CAST(rn AS BIGINT) AS src_rank
    FROM r WHERE rn <= {_CAP_K}
    """,
    doc="Per-source document cap (the crawl-pipeline per-domain cap): "
    "keep the top-10 docs per source by quality score, deterministic "
    "doc_id tie-break. One window partitioned by source — rank evaluated "
    "inside the window stage, never a global sort; at 100 TB the "
    "partition key is the domain, whose cardinality scales with the "
    "corpus, so the shuffle stays balanced.",
)
def curation_cap_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from legendary_data_pipeline_spark.operators.ranking import top_k_per_group
    from legendary_data_pipeline_spark.operators.textstats import quality_score

    docs = load_table(spark, sf_dir, "documents")
    scored = quality_score(docs, keep_cols=("source",)).select(
        "source", "doc_id", "quality_score"
    )
    capped = top_k_per_group(
        scored,
        ["source"],
        [F.col("quality_score").desc(), F.col("doc_id").asc()],
        k=_CAP_K,
        rank_col="src_rank",
    )
    return capped.select(
        "source", "doc_id", "quality_score",
        F.col("src_rank").cast("long").alias("src_rank"),
    )


# ---------------------------------------------------------------------------
# sequence packing
# ---------------------------------------------------------------------------

_PACK_BUDGET = 256


@register(
    "curation_pack_sequences",
    f"""
    WITH t AS (
      SELECT lang, doc_id, len({_TOKS}) AS n_tokens FROM documents),
    c AS (
      SELECT lang, doc_id, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id) AS cum
      FROM t)
    SELECT lang,
           CAST(FLOOR((cum - n_tokens) / {_PACK_BUDGET}.0) AS BIGINT)
             AS pack_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens
    FROM c GROUP BY lang, pack_id
    """,
    doc="Sequence packing (concat-then-chunk): order docs "
    "deterministically within each language shard, accumulate token "
    "counts, cut a pack every 256 tokens — the streaming packing "
    "strategy training pipelines use ahead of tokenization. The window "
    "partitions by shard only (at scale: lang x hash-bucket composite), "
    "never a global sort.",
)
def curation_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    packed = C.pack_sequences(docs, budget_tokens=_PACK_BUDGET)
    return packed.groupBy("lang", "pack_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("n_tokens").cast("long")).alias("pack_tokens"),
    )


# ---------------------------------------------------------------------------
# X233 — packing-efficiency report (wasted training compute per shard)
# ---------------------------------------------------------------------------


@register(
    "curation_pack_efficiency",
    f"""
    WITH t AS (
      SELECT lang, doc_id, len({_TOKS}) AS n_tokens FROM documents),
    c AS (
      SELECT lang, doc_id, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id) AS cum
      FROM t),
    packs AS (
      SELECT lang,
             CAST(FLOOR((cum - n_tokens) / {_PACK_BUDGET}.0) AS BIGINT)
               AS pack_id,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens
      FROM c GROUP BY lang, pack_id)
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_packs,
           CAST(SUM(n_docs) AS BIGINT) AS n_docs,
           CAST(SUM(pack_tokens) AS BIGINT) AS tokens_total,
           CAST(round(CAST(SUM(pack_tokens) AS DOUBLE)
                      / (CAST(COUNT(*) AS DOUBLE) * {_PACK_BUDGET}.0)
                      * 1e6) AS BIGINT) AS fill_mean_e6,
           CAST(SUM(CASE WHEN pack_tokens > {_PACK_BUDGET}
                         THEN 1 ELSE 0 END) AS BIGINT)
             AS n_overflow_packs,
           CAST(SUM(CASE WHEN pack_tokens < {_PACK_BUDGET}
                         THEN 1 ELSE 0 END) AS BIGINT)
             AS n_underfull_packs,
           CAST(MIN(pack_tokens) AS BIGINT) AS min_pack_tokens,
           CAST(MAX(pack_tokens) AS BIGINT) AS max_pack_tokens
    FROM packs GROUP BY lang
    """,
    doc="X233 packing-efficiency report: per shard, how well the "
    f"concat-then-chunk packer fills its {_PACK_BUDGET}-token budget — "
    "pack count, mean fill (e6; under 1e6 = padding waste, the "
    "training compute a sequence batch burns on pad tokens), overflow "
    "vs underfull pack counts, and the extreme pack sizes. The dial "
    "that decides between plain packing and the chunk_sequences "
    "splitter. Composes pack_sequences; the rollup is two "
    "map-side-combinable aggregations above the one shard-partitioned "
    "cumulative-sum window — one corpus scan, no extra shuffle beyond "
    "the packer's own.",
)
def curation_pack_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    packed = C.pack_sequences(docs, budget_tokens=_PACK_BUDGET)
    packs = packed.groupBy("lang", "pack_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.col("n_tokens").cast("long")).cast("long").alias(
            "pack_tokens"
        ),
    )
    return packs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_packs"),
        F.sum("n_docs").cast("long").alias("n_docs"),
        F.sum("pack_tokens").cast("long").alias("tokens_total"),
        e6(
            F.sum("pack_tokens").cast("double")
            / (F.count(F.lit(1)).cast("double") * F.lit(float(_PACK_BUDGET)))
        ).alias("fill_mean_e6"),
        F.sum(
            (F.col("pack_tokens") > F.lit(_PACK_BUDGET)).cast("long")
        ).cast("long").alias("n_overflow_packs"),
        F.sum(
            (F.col("pack_tokens") < F.lit(_PACK_BUDGET)).cast("long")
        ).cast("long").alias("n_underfull_packs"),
        F.min("pack_tokens").cast("long").alias("min_pack_tokens"),
        F.max("pack_tokens").cast("long").alias("max_pack_tokens"),
    )


_PACK_SHARD_BUCKETS = 8
_PACK_SHARD_SEED = 7


@register(
    "curation_pack_composite_shards",
    f"""
    WITH t AS (
      SELECT lang, doc_id,
             ({seeded_md5_long_sql("CAST(doc_id AS VARCHAR)", _PACK_SHARD_SEED)}
              % {_PACK_SHARD_BUCKETS}) AS shard_bucket,
             len({_TOKS}) AS n_tokens
      FROM documents),
    c AS (
      SELECT lang, shard_bucket, doc_id, n_tokens,
             CAST(SUM(n_tokens) OVER (
               PARTITION BY lang, shard_bucket ORDER BY doc_id
             ) AS BIGINT) AS cum
      FROM t)
    SELECT lang,
           CAST(shard_bucket AS BIGINT) AS shard_bucket,
           CAST(FLOOR((cum - n_tokens) / {_PACK_BUDGET}.0) AS BIGINT)
             AS pack_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens
    FROM c GROUP BY lang, shard_bucket, pack_id
    """,
    doc="Composite-shard sequence packing — the 100 TB layout: the "
    "cumulative-sum window partitions by (lang, seeded-hash bucket) so "
    "no shard's token stream outgrows one task, while pack budgets stay "
    "exact per shard. The bucket is a pure function of doc_id (same "
    "md5-based gate as stratified sampling), so DuckDB replays the "
    "identical layout — the shard fan-out itself is hash-checked.",
)
def curation_pack_composite_shards(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    packed = C.pack_sequences(
        docs,
        budget_tokens=_PACK_BUDGET,
        n_shard_buckets=_PACK_SHARD_BUCKETS,
        shard_seed=_PACK_SHARD_SEED,
    )
    return packed.groupBy("lang", "shard_bucket", "pack_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("n_tokens").cast("long")).alias("pack_tokens"),
    )


@register(
    "curation_chunk_sequences",
    f"""
    WITH t AS (
      SELECT lang, doc_id, len({_TOKS}) AS n_tokens FROM documents),
    c AS (
      SELECT lang, doc_id, n_tokens,
             CAST(SUM(n_tokens) OVER (
               PARTITION BY lang ORDER BY doc_id
             ) AS BIGINT) AS cum
      FROM t WHERE n_tokens > 0),
    s AS (
      SELECT lang, doc_id, n_tokens,
             cum - n_tokens AS st, cum AS en
      FROM c),
    ch AS (
      SELECT lang, doc_id, st, en,
             unnest(range(st // {_PACK_BUDGET},
                          (en - 1) // {_PACK_BUDGET} + 1)) AS pack_id
      FROM s)
    SELECT lang, doc_id,
           CAST(pack_id - st // {_PACK_BUDGET} AS BIGINT) AS chunk_idx,
           CAST(pack_id AS BIGINT) AS pack_id,
           CAST(LEAST(en, (pack_id + 1) * {_PACK_BUDGET})
                - GREATEST(st, pack_id * {_PACK_BUDGET}) AS BIGINT)
             AS chunk_tokens
    FROM ch
    """,
    doc="Doc-chunking packing companion: over-budget documents SPLIT "
    "across packs (posexplode over the pack range each doc's token span "
    "overlaps), so every pack is exactly full except each shard's last. "
    "One explode proportional to input size; the only shuffle is the "
    "per-shard cumulative-sum window — same sharding contract as "
    "pack_sequences, including the composite-shard knob.",
)
def curation_chunk_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    chunks = C.chunk_sequences(docs, budget_tokens=_PACK_BUDGET)
    return chunks.select(
        "lang", "doc_id", "chunk_idx", "pack_id", "chunk_tokens"
    )


# ---------------------------------------------------------------------------
# reproducible global shuffle + sharding
# ---------------------------------------------------------------------------

_SHUFFLE_SHARDS = 8
_SHUFFLE_SEED = 7


@register(
    "curation_shuffle_shard",
    f"""
    WITH h AS (
      SELECT doc_id,
             {seeded_md5_long_sql("CAST(doc_id AS VARCHAR)", _SHUFFLE_SEED)}
               AS hh
      FROM documents)
    SELECT doc_id,
           CAST(hh % {_SHUFFLE_SHARDS} AS BIGINT) AS shard,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY hh % {_SHUFFLE_SHARDS}
             ORDER BY hh ASC, doc_id ASC) - 1 AS BIGINT) AS shard_pos
    FROM h
    """,
    doc="Reproducible global corpus shuffle: every doc gets a (shard, "
    "position) address from a seeded md5 of its id — one fixed uniform "
    "permutation, identical across reruns/engines (orderBy(rand()) "
    "cannot give this). One shuffle on the shard key + a per-shard "
    "sort bounded by shard size; n_shards is the 100 TB knob.",
)
def curation_shuffle_shard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    dealt = C.shuffle_shard(
        docs.select("doc_id"), n_shards=_SHUFFLE_SHARDS, seed=_SHUFFLE_SEED
    )
    return dealt.select("doc_id", "shard", "shard_pos")


# ---------------------------------------------------------------------------
# data mixture: per-source repeat weights
# ---------------------------------------------------------------------------

_MIX_WEIGHTS = {"src0": 0.0, "src1": 2.3, "src2": 0.5}
_MIX_DEFAULT = 1.0
_MIX_SEED = 11


def _weight_ladder_sql() -> str:
    whens = " ".join(
        f"WHEN source = '{stratum}' THEN {int(round(wt * 10_000))}"
        for stratum, wt in sorted(_MIX_WEIGHTS.items())
    )
    return f"CASE {whens} ELSE {int(round(_MIX_DEFAULT * 10_000))} END"


@register(
    "curation_mixture_repeat",
    f"""
    WITH w AS (
      SELECT doc_id, source,
             {_weight_ladder_sql()} AS w10k,
             ({seeded_md5_long_sql("CAST(doc_id AS VARCHAR)", _MIX_SEED)}
               % 10000) AS bucket
      FROM documents),
    c AS (
      SELECT doc_id, source,
             (w10k // 10000)
               + CASE WHEN bucket < (w10k % 10000) THEN 1 ELSE 0 END
               AS copies
      FROM w)
    SELECT doc_id, source, CAST(unnest(range(copies)) AS BIGINT) AS epoch
    FROM c WHERE copies > 0
    """,
    doc="Training-mixture composition by per-source repeat weights "
    "(Pile/DoReMi-style): weight 2.3 emits every doc twice plus a "
    "hash-gated 30% a third time; 0.5 keeps a deterministic half; 0 "
    "drops the source. Copies carry an epoch index for downstream "
    "shard interleaving. The gate is a seeded md5 of the id, so the "
    "mix is a pure function of the data; no shuffle is added — rows "
    "multiply by exactly the mixture factor.",
)
def curation_mixture_repeat(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    mixed = C.repeat_by_weight(
        docs.select("doc_id", "source"),
        _MIX_WEIGHTS,
        stratum_col="source",
        seed=_MIX_SEED,
        default_weight=_MIX_DEFAULT,
    )
    return mixed.select("doc_id", "source", "epoch")


# ---------------------------------------------------------------------------
# boilerplate span detection / removal
# ---------------------------------------------------------------------------

_SPAN_TOKENS = 12
_BOILER_MIN_DOCS = 2

# The fixture corpus has no repeated verbatim blocks, so the queries
# graft a deterministic per-source header (24 tokens = exactly 2 spans)
# onto every document — the oracle replays the same injection. On real
# corpora the repeated blocks are the headers/footers themselves.
_BOILER_TEXT_SQL = "repeat(source || '_boiler ', 24) || trim(text)"


def _boiler_docs(docs: DataFrame) -> DataFrame:
    header = F.repeat(F.concat(F.col("source"), F.lit("_boiler ")), 24)
    return docs.select(
        "doc_id", F.concat(header, F.trim(F.col("text"))).alias("text")
    )


_SPAN_CTES = f"""
    boil AS (
      SELECT doc_id, {_BOILER_TEXT_SQL} AS btext FROM documents),
    toks AS (
      SELECT doc_id, regexp_split_to_array(trim(btext), '\\s+') AS t
      FROM boil),
    spans AS (
      SELECT doc_id,
             unnest(range(CAST(ceil(len(t) / {_SPAN_TOKENS}.0) AS BIGINT)))
               AS span_idx,
             unnest(list_transform(
               range(CAST(ceil(len(t) / {_SPAN_TOKENS}.0) AS BIGINT)),
               __i -> array_to_string(
                 t[(__i*{_SPAN_TOKENS}+1):(__i*{_SPAN_TOKENS}+{_SPAN_TOKENS})],
                 ' '))) AS span_text
      FROM toks WHERE len(t) > 0),
    freq AS (
      SELECT span_text, COUNT(DISTINCT doc_id) AS docs
      FROM spans GROUP BY span_text)
"""


@register(
    "curation_boilerplate_stats",
    f"""
    WITH {_SPAN_CTES},
    flagged AS (
      SELECT s.doc_id,
             CASE WHEN f.docs >= {_BOILER_MIN_DOCS} THEN 1 ELSE 0 END AS b
      FROM spans s JOIN freq f USING (span_text))
    SELECT doc_id,
           COUNT(*) AS n_spans,
           CAST(SUM(b) AS BIGINT) AS n_boilerplate_spans,
           CAST(SUM(b) AS DOUBLE) / COUNT(*) AS boilerplate_frac
    FROM flagged GROUP BY doc_id
    """,
    doc="Inter-document boilerplate profile: each doc cut into "
    f"{_SPAN_TOKENS}-token spans; spans whose text recurs in >= "
    f"{_BOILER_MIN_DOCS} distinct docs corpus-wide are boilerplate "
    "(CCNet/RefinedWeb repeated-block signal, the INTER-doc complement "
    "of repetition_stats). Span frequency aggregates on a uniform "
    "60-bit span hash — map-side combinable, no skew; the corpus "
    "shuffles only on that hash and the doc id.",
)
def curation_boilerplate_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _boiler_docs(load_table(spark, sf_dir, "documents"))
    return C.boilerplate_span_stats(
        docs, span_tokens=_SPAN_TOKENS, min_docs=_BOILER_MIN_DOCS
    )


@register(
    "curation_strip_boilerplate",
    f"""
    WITH {_SPAN_CTES},
    kept AS (
      SELECT s.doc_id, s.span_idx, s.span_text
      FROM spans s JOIN freq f USING (span_text)
      WHERE f.docs < {_BOILER_MIN_DOCS}),
    rebuilt AS (
      SELECT doc_id,
             array_to_string(list(span_text ORDER BY span_idx), ' ')
               AS clean_text
      FROM kept GROUP BY doc_id)
    SELECT b.doc_id, COALESCE(r.clean_text, '') AS clean_text
    FROM boil b LEFT JOIN rebuilt r USING (doc_id)
    """,
    doc="Boilerplate REMOVAL: drop every span recurring across docs and "
    "rejoin the survivors in original order (all-boilerplate docs come "
    "back empty, caller decides the drop policy). Same shuffle profile "
    "as the stats pass; the rejoin sorts spans WITHIN each row "
    "(document-sized arrays), never across rows.",
)
def curation_strip_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _boiler_docs(load_table(spark, sf_dir, "documents"))
    stripped = C.strip_boilerplate(
        docs, span_tokens=_SPAN_TOKENS, min_docs=_BOILER_MIN_DOCS
    )
    return stripped.select("doc_id", "clean_text")


# ---------------------------------------------------------------------------
# weighted sampling without replacement
# ---------------------------------------------------------------------------

_WSAMPLE_N = 20
_WSAMPLE_SEED = 13


@register(
    "curation_weighted_sample",
    f"""
    WITH keyed AS (
      SELECT doc_id, lang, n_chars,
             round(pow(
               (CAST({seeded_md5_long_sql("CAST(doc_id AS VARCHAR)", _WSAMPLE_SEED)}
                     AS DOUBLE) + 1.0) / 1152921504606846976.0,
               1.0 / CAST(n_chars AS DOUBLE)), 9) AS k
      FROM documents WHERE n_chars > 0),
    ranked AS (
      SELECT doc_id, lang, n_chars,
             ROW_NUMBER() OVER (
               PARTITION BY lang ORDER BY k DESC, doc_id ASC) AS rn
      FROM keyed)
    SELECT doc_id, lang, n_chars, CAST(rn AS BIGINT) AS sample_rank
    FROM ranked WHERE rn <= {_WSAMPLE_N}
    """,
    doc="Weighted sampling WITHOUT replacement (Efraimidis-Spirakis "
    "A-ES): top-N per language by key u^(1/w), u a seeded md5 of the "
    "id, w = n_chars — longer docs are proportionally likelier, the "
    "draw is a pure function of (data, seed), and keys are rounded "
    "before ranking so every engine selects the identical subset. "
    "Window top-N rides WindowGroupLimit; one shuffle on the stratum.",
)
def curation_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    picked = C.weighted_sample_n(
        docs.select("doc_id", "lang", "n_chars"),
        _WSAMPLE_N,
        weight_col="n_chars",
        stratum_col="lang",
        seed=_WSAMPLE_SEED,
    )
    return picked.select(
        "doc_id",
        "lang",
        "n_chars",
        F.col("sample_rank").cast("long").alias("sample_rank"),
    )


# ---------------------------------------------------------------------------
# graded contamination scoring
# ---------------------------------------------------------------------------

_SCORE_N = 4
_SCORE_THRESHOLD = 0.05


@register(
    "curation_contamination_score",
    f"""
    WITH toks AS (
      SELECT doc_id, source, {_TOKS} AS t FROM documents),
    sh AS (
      SELECT doc_id, source, {_shingle_expr(_SCORE_N)} AS s
      FROM toks WHERE len(t) >= {_SCORE_N}),
    bench AS (
      SELECT DISTINCT s FROM sh WHERE source = 'src0'),
    tr AS (
      SELECT DISTINCT doc_id, s FROM sh WHERE source <> 'src0'),
    per AS (
      SELECT t.doc_id,
             COUNT(*) AS n_shingles,
             CAST(SUM(CASE WHEN b.s IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_contaminated
      FROM tr t LEFT JOIN bench b USING (s)
      GROUP BY t.doc_id)
    SELECT d.doc_id,
           COALESCE(p.n_shingles, 0) AS n_shingles,
           COALESCE(p.n_contaminated, 0) AS n_contaminated,
           COALESCE(CAST(p.n_contaminated AS DOUBLE)
                    / CAST(p.n_shingles AS DOUBLE), 0.0)
             AS contamination_frac,
           COALESCE(CAST(p.n_contaminated AS DOUBLE)
                    / CAST(p.n_shingles AS DOUBLE), 0.0)
             >= {_SCORE_THRESHOLD} AS contaminated
    FROM (SELECT doc_id FROM documents WHERE source <> 'src0') d
    LEFT JOIN per p USING (doc_id)
    """,
    doc="Graded decontamination: per training doc, the fraction of its "
    f"distinct word-{_SCORE_N}-grams found anywhere in the benchmark "
    "slice (source='src0') — the tunable dial the binary "
    "one-shared-shingle rule lacks. Benchmark shingles broadcast; hit "
    "counting is one map-side-combinable groupBy on the doc id. "
    "Budget 3 by contract (the curation_decontaminate disposition, "
    "r13 sweep): benchmark slice + training shingle probe + the "
    "output left join each read the table once — pinning would "
    "materialize the corpus, strictly worse at 100 TB.",
    scan_budget=3,
)
def curation_contamination_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("source") == "src0")
    train = docs.filter(F.col("source") != "src0")
    return C.contamination_scores(
        train,
        bench,
        shingle_n=_SCORE_N,
        flag_threshold=_SCORE_THRESHOLD,
    )


# ---------------------------------------------------------------------------
# SCD2 historized dimension merge
# ---------------------------------------------------------------------------

_SCD2_FIXTURE_SQL = """
    cur AS (
      SELECT p_partkey,
             CAST(round(p_retailprice * 100) AS BIGINT) AS price_cents,
             '2024-01-01' AS valid_from,
             CAST(NULL AS VARCHAR) AS valid_to,
             TRUE AS is_current
      FROM part),
    hist AS (
      SELECT p_partkey,
             CAST(round(p_retailprice * 100) AS BIGINT) - 50 AS price_cents,
             '2023-01-01' AS valid_from,
             '2024-01-01' AS valid_to,
             FALSE AS is_current
      FROM part WHERE p_partkey % 10 = 0),
    upd AS (
      SELECT p_partkey,
             CAST(round(p_retailprice * 100) AS BIGINT)
               + CASE WHEN p_partkey % 3 = 0 THEN 111 ELSE 0 END
               AS price_cents,
             '2024-06-01' AS effective_date
      FROM part WHERE p_partkey % 3 = 0 OR p_partkey % 5 = 0)
"""


@register(
    "s9_scd2_part_prices",
    f"""
    WITH {_SCD2_FIXTURE_SQL},
    joined AS (
      SELECT c.*, u.p_partkey AS u_key, u.price_cents AS u_price,
             u.effective_date AS u_eff
      FROM cur c FULL OUTER JOIN upd u USING (p_partkey)),
    kept AS (
      SELECT p_partkey, price_cents, valid_from, valid_to, is_current
      FROM joined
      WHERE is_current IS NOT NULL
        AND (u_key IS NULL OR price_cents = u_price)),
    closed AS (
      SELECT p_partkey, price_cents, valid_from, u_eff AS valid_to,
             FALSE AS is_current
      FROM joined
      WHERE is_current IS NOT NULL AND u_key IS NOT NULL
        AND price_cents <> u_price),
    opened AS (
      SELECT p_partkey, u_price AS price_cents, u_eff AS valid_from,
             CAST(NULL AS VARCHAR) AS valid_to, TRUE AS is_current
      FROM joined
      WHERE u_key IS NOT NULL
        AND (is_current IS NULL OR price_cents <> u_price))
    SELECT * FROM hist
    UNION ALL SELECT * FROM kept
    UNION ALL SELECT * FROM closed
    UNION ALL SELECT * FROM opened
    """,
    doc="SCD2 historized dimension merge — the reference's in-place "
    "upsert family (S5-S8) extended with versioning: changed keys "
    "close their current row and open a new version, no-op updates "
    "leave no empty versions, new keys insert, history passes through. "
    "One full-outer join + one union of disjoint classes (never an "
    "iterative MERGE); both sides shuffle once on the dimension key.",
)
def s9_scd2_part_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    from legendary_data_pipeline_spark.operators.upsert import scd2_apply

    part = load_table(spark, sf_dir, "part")
    cents = F.round(F.col("p_retailprice") * 100).cast("long")
    cur = part.select(
        "p_partkey",
        cents.alias("price_cents"),
        F.lit("2024-01-01").alias("valid_from"),
        F.lit(None).cast("string").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    hist = part.filter(F.col("p_partkey") % 10 == 0).select(
        "p_partkey",
        (cents - 50).alias("price_cents"),
        F.lit("2023-01-01").alias("valid_from"),
        F.lit("2024-01-01").alias("valid_to"),
        F.lit(False).alias("is_current"),
    )
    dim = cur.unionByName(hist)
    updates = part.filter(
        (F.col("p_partkey") % 3 == 0) | (F.col("p_partkey") % 5 == 0)
    ).select(
        "p_partkey",
        (
            cents
            + F.when(F.col("p_partkey") % 3 == 0, F.lit(111)).otherwise(
                F.lit(0)
            )
        ).alias("price_cents"),
        F.lit("2024-06-01").alias("effective_date"),
    )
    return scd2_apply(
        dim,
        updates,
        key_cols=["p_partkey"],
        attr_cols=["price_cents"],
    )


# ---------------------------------------------------------------------------
# URL canonicalization + URL-keyed dedup
# ---------------------------------------------------------------------------

# Deterministic crawl-noise injection: consecutive doc pairs (g =
# doc_id // 2) are the SAME logical page reached through different
# scheme-case / port / duplicate-slash / trailing-slash / tracking /
# fragment variants — the oracle replays the identical construction.
_URL_VARIANT_SQL = """
      CASE WHEN doc_id % 2 = 0 THEN 'HTTP://' ELSE 'https://' END
      || CASE WHEN doc_id % 3 = 0
              THEN 'WWW.Site' || CAST((doc_id // 2) % 5 AS VARCHAR) || '.COM'
              ELSE 'www.site' || CAST((doc_id // 2) % 5 AS VARCHAR) || '.com'
         END
      || CASE WHEN doc_id % 4 = 0 THEN ':80' ELSE '' END
      || CASE WHEN doc_id % 6 = 0 THEN '//docs//' ELSE '/docs/' END
      || CAST(doc_id // 2 AS VARCHAR)
      || CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END
      || CASE WHEN doc_id % 2 = 0 THEN '?utm_source=feed&q=' ELSE '?q=' END
      || CAST(doc_id // 2 AS VARCHAR)
      || CASE WHEN doc_id % 3 = 1
              THEN '#s' || CAST(doc_id AS VARCHAR) ELSE '' END
"""


def _url_variant_col() -> F.Column:
    g = (F.col("doc_id") / 2).cast("long")
    return F.concat(
        F.when(F.col("doc_id") % 2 == 0, F.lit("HTTP://")).otherwise(
            F.lit("https://")
        ),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit("WWW.Site"), (g % 5).cast("string"), F.lit(".COM")),
        ).otherwise(
            F.concat(F.lit("www.site"), (g % 5).cast("string"), F.lit(".com"))
        ),
        F.when(F.col("doc_id") % 4 == 0, F.lit(":80")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 6 == 0, F.lit("//docs//")).otherwise(
            F.lit("/docs/")
        ),
        g.cast("string"),
        F.when(F.col("doc_id") % 5 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 2 == 0, F.lit("?utm_source=feed&q=")).otherwise(
            F.lit("?q=")
        ),
        g.cast("string"),
        F.when(
            F.col("doc_id") % 3 == 1,
            F.concat(F.lit("#s"), F.col("doc_id").cast("string")),
        ).otherwise(F.lit("")),
    )


@register(
    "curation_url_dedup",
    f"""
    WITH urls AS (
      SELECT doc_id, {_URL_VARIANT_SQL} AS url FROM documents),
    canon AS (
      SELECT doc_id, url, {text_sql.canonical_url_sql("url")} AS canon_url
      FROM urls)
    SELECT doc_id, canon_url,
           MIN(doc_id) OVER (PARTITION BY canon_url) AS url_owner,
           doc_id <> MIN(doc_id) OVER (PARTITION BY canon_url) AS is_url_dup
    FROM canon
    """,
    doc="URL-keyed dedup on canonical forms: lowercase scheme/host, "
    "https upgrade, default-port/fragment/tracking-param removal, "
    "slash normalization — crawls reach one page many ways, and only "
    "the canonical form groups them. Canonicalization is a pure "
    "codegen projection in the scan stage; the dedup groups on the "
    "canonical string (min-id owner, same convention as exact_dedup).",
)
def curation_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from legendary_data_pipeline_spark.functions.text import canonical_url

    docs = load_table(spark, sf_dir, "documents")
    canon = docs.select(
        "doc_id", canonical_url(_url_variant_col()).alias("canon_url")
    )
    w = Window.partitionBy("canon_url")
    return canon.select(
        "doc_id",
        "canon_url",
        F.min("doc_id").over(w).alias("url_owner"),
        (F.col("doc_id") != F.min("doc_id").over(w)).alias("is_url_dup"),
    )


# ---------------------------------------------------------------------------
# domain-authority PageRank (fixed-iteration integer replay, full oracle)
# ---------------------------------------------------------------------------

_PR_ITERS = 20
_PR_SCALE = 10**12


def _pagerank_oracle_sql(iterations: int = _PR_ITERS,
                         scale: int = _PR_SCALE) -> str:
    """Unrolled-CTE replay of pagerank_fixed_int's exact integer value
    sequence (DuckDB 1.0 recursive CTEs reject aggregation over the
    recursive reference, so the fixed iteration count is unrolled —
    one c/d/r CTE block per round over the 97-node frame)."""
    n_sq = "(SELECT n FROM nn)"
    head = f"""
    WITH e AS MATERIALIZED (
      SELECT DISTINCT (doc_id // 2) % 97 AS src,
                      (doc_id * 31 + 7) % 97 AS dst
      FROM documents
      WHERE (doc_id // 2) % 97 <> (doc_id * 31 + 7) % 97),
    nodes AS MATERIALIZED (
      SELECT DISTINCT node FROM (
        SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
    nn AS MATERIALIZED (SELECT COUNT(*) AS n FROM nodes),
    deg AS MATERIALIZED (
      SELECT node,
             (SELECT COUNT(*) FROM e WHERE e.src = nodes.node) AS dg
      FROM nodes),
    r0 AS MATERIALIZED (SELECT node, dg, {scale} // {n_sq} AS r FROM deg)"""
    blocks = []
    for k in range(iterations):
        blocks.append(f""",
    c{k} AS MATERIALIZED (
      SELECT e.dst AS node, SUM(r.r // r.dg) AS cin
      FROM r{k} r JOIN e ON e.src = r.node WHERE r.dg > 0
      GROUP BY e.dst),
    d{k} AS MATERIALIZED (SELECT COALESCE(SUM(r), 0) AS dang FROM r{k} WHERE dg = 0),
    r{k + 1} AS MATERIALIZED (
      SELECT b.node, b.dg,
             (15 * {scale}) // (100 * {n_sq})
             + (85 * (SELECT dang FROM d{k})) // (100 * {n_sq})
             + (85 * COALESCE(c.cin, 0)) // 100 AS r
      FROM deg b LEFT JOIN c{k} c ON c.node = b.node)""")
    tail = f"""
    SELECT node, CAST(r AS BIGINT) AS rank_e12 FROM r{iterations}
    """
    return head + "".join(blocks) + tail


@register(
    "curation_domain_pagerank",
    _pagerank_oracle_sql(),
    doc="Domain-authority PageRank over the inter-site link graph "
    "(synthesized deterministically from the URL fixture's site ids): "
    "the crawl-quality prior that weights sources in a training mix — "
    "rank feeds weighted_sample_n/repeat_by_weight as the weight. "
    "Round 8: fixed-iteration scaled-INTEGER form (rank_e12 = rank x "
    "1e12 as BIGINT, every division integer `div`), so the exact "
    "value sequence replays in a DuckDB unrolled-CTE chain — FULL "
    "hash oracle where the float fixpoint was rows-only. Per round: "
    "one rank-vector join + one groupBy sum, lineage truncated; "
    "dangling mass is a single-row driver aggregation. The float "
    "tol-converging `pagerank` remains the production operator "
    "(numpy-parity contracts in tests/test_graph.py).",
)
def curation_domain_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from legendary_data_pipeline_spark.operators.graph import (
        pagerank_fixed_int,
    )

    docs = load_table(spark, sf_dir, "documents")
    g = (F.col("doc_id") / 2).cast("long")
    # 97 sites, ~250 distinct links — sparse enough that authority
    # actually differentiates (a small modulus saturates to a complete
    # digraph whose PageRank is uniformly boring).
    edges = docs.select(
        (g % 97).alias("src"),
        ((F.col("doc_id") * 31 + 7) % 97).alias("dst"),
    ).filter(F.col("src") != F.col("dst"))
    return pagerank_fixed_int(edges, iterations=_PR_ITERS, scale=_PR_SCALE)


# ---------------------------------------------------------------------------
# cross-source shingle-overlap matrix
# ---------------------------------------------------------------------------


@register(
    "curation_overlap_matrix",
    f"""
    WITH toks AS (
      SELECT doc_id, source, {_TOKS} AS t FROM documents),
    sh AS (
      SELECT DISTINCT source, s FROM (
        SELECT source, {_shingle_expr(4)} AS s
        FROM toks WHERE len(t) >= 4)),
    sizes AS (
      SELECT source, COUNT(*) AS n FROM sh GROUP BY source)
    SELECT a.source AS source_a, b.source AS source_b,
           COUNT(*) AS shared_shingles,
           sa.n AS distinct_a, sb.n AS distinct_b,
           CAST(COUNT(*) AS DOUBLE)
             / (sa.n + sb.n - COUNT(*)) AS jaccard
    FROM sh a
    JOIN sh b ON a.s = b.s AND a.source < b.source
    JOIN sizes sa ON sa.source = a.source
    JOIN sizes sb ON sb.source = b.source
    GROUP BY a.source, b.source, sa.n, sb.n
    """,
    doc="Cross-corpus leakage matrix: distinct word-4-gram overlap (and "
    "set Jaccard) for every source pair — the fleet-level view that "
    "tells a mixture designer WHICH corpora duplicate each other "
    "before any doc-level dedup runs. One distinct-shingle pass, one "
    "self-join keyed on the (uniform) shingle, counts merged map-side; "
    "source-pair cardinality is tiny, so the result is driver-sized.",
)
def curation_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from legendary_data_pipeline_spark.operators.dedup import shingles_expr

    docs = load_table(spark, sf_dir, "documents")
    sh = (
        docs.select(
            "source", F.explode(shingles_expr("text", 4)).alias("s")
        )
        .distinct()
        # sizes + both pair-join sides (r11 scan audit: 4 scans)
        .localCheckpoint(eager=False)
    )
    sizes = sh.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    a = sh.select(F.col("source").alias("source_a"), "s")
    b = sh.select(F.col("source").alias("source_b"), "s")
    pairs = (
        a.join(b, "s")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("shared_shingles"))
    )
    sa = sizes.select(
        F.col("source").alias("source_a"), F.col("n").alias("distinct_a")
    )
    sb = sizes.select(
        F.col("source").alias("source_b"), F.col("n").alias("distinct_b")
    )
    jac = F.col("shared_shingles").cast("double") / (
        F.col("distinct_a") + F.col("distinct_b")
        - F.col("shared_shingles")
    )
    return (
        pairs.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a",
            "source_b",
            "shared_shingles",
            "distinct_a",
            "distinct_b",
            jac.alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# DSIR importance resampling toward a target slice
# ---------------------------------------------------------------------------

_DSIR_M = 1024
_DSIR_N = 50
_DSIR_SEED = 29


@register(
    "curation_dsir_select",
    f"""
    WITH toks AS (
      SELECT doc_id, source, {_TOKS} AS t FROM documents),
    sh AS (
      SELECT doc_id, source, {_shingle_expr(2)} AS s
      FROM toks WHERE len(t) >= 2),
    cnt AS (
      SELECT doc_id, source,
             ({md5_long_sql("s")}) % {_DSIR_M} AS bucket,
             COUNT(*) AS cnt
      FROM sh GROUP BY 1, 2, 3),
    tgt_b AS (
      SELECT bucket, SUM(cnt) AS c FROM cnt
      WHERE source = 'src0' GROUP BY bucket),
    raw_b AS (
      SELECT bucket, SUM(cnt) AS c FROM cnt
      WHERE source <> 'src0' GROUP BY bucket),
    tot AS (
      SELECT (SELECT COALESCE(SUM(c), 0) FROM tgt_b) AS t_tot,
             (SELECT COALESCE(SUM(c), 0) FROM raw_b) AS r_tot),
    lr AS (
      SELECT b.bucket,
             ln((COALESCE(t.c, 0) + 1.0) / (tot.t_tot + {_DSIR_M}))
             - ln((COALESCE(r.c, 0) + 1.0) / (tot.r_tot + {_DSIR_M})) AS lr
      FROM (SELECT unnest(range({_DSIR_M})) AS bucket) b
      LEFT JOIN tgt_b t USING (bucket)
      LEFT JOIN raw_b r USING (bucket)
      CROSS JOIN tot),
    imp AS (
      SELECT d.doc_id,
             COALESCE(round(SUM(c.cnt * lr.lr), 6), 0.0) AS log_importance
      FROM (SELECT doc_id FROM documents WHERE source <> 'src0') d
      LEFT JOIN (SELECT * FROM cnt WHERE source <> 'src0') c
        ON c.doc_id = d.doc_id
      LEFT JOIN lr ON lr.bucket = c.bucket
      GROUP BY d.doc_id),
    keyed AS (
      SELECT doc_id, log_importance,
             round(log_importance
                   - ln(-ln((CAST({seeded_md5_long_sql("CAST(doc_id AS VARCHAR)", _DSIR_SEED)}
                              AS DOUBLE) + 1.0) / 1152921504606846976.0)),
                   6) AS k
      FROM imp),
    ranked AS (
      SELECT doc_id, log_importance, ROW_NUMBER() OVER (
        ORDER BY k DESC, doc_id ASC) AS rn
      FROM keyed)
    SELECT doc_id,
           CAST(round(log_importance * 1e6) AS BIGINT) AS log_importance_e6,
           CAST(rn AS INT) AS sample_rank
    FROM ranked WHERE rn <= {_DSIR_N}
    """,
    doc="DSIR-style data selection (Xie et al. 2023): score raw docs by "
    "the log likelihood ratio of their hashed-bigram profile under the "
    "target slice (source='src0') vs the raw corpus, then Gumbel-top-N "
    "— importance resampling without replacement, deterministic from "
    "(data, seed). Bucket distributions are m-row metadata; the "
    "log-ratio table broadcasts; selection is TakeOrderedAndProject, "
    "never a data-sized single-partition window.",
)
def curation_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    from legendary_data_pipeline_spark.operators.dsir import dsir_select

    docs = load_table(spark, sf_dir, "documents")
    target = docs.filter(F.col("source") == "src0")
    raw = docs.filter(F.col("source") != "src0")
    out = dsir_select(
        raw, target, n=_DSIR_N, shingle_n=2, m=_DSIR_M, seed=_DSIR_SEED
    )
    # e6 emission of the (already 6-dp-rounded) float-sum score — the
    # rounded value stays the Gumbel ranking key inside dsir_select.
    return out.select(
        "doc_id",
        e6(F.col("log_importance")).alias("log_importance_e6"),
        F.col("sample_rank").cast("int").alias("sample_rank"),
    )


# ---------------------------------------------------------------------------
# cluster-balanced selection
# ---------------------------------------------------------------------------
# Two variants, same division of labor as sim_ivf_topk / sim_ivf_fixed_topk:
# the TRAINED form (seeded k-means over hashed-bigram profiles) carries
# the clustering quality and is pinned by purity/determinism/quota
# contracts in tests/test_clustering.py — it is deliberately NOT a
# registry query (its Lloyd codebook is not SQL-replayable, and round 7
# retired rows-only registrations wherever a deterministic twin can carry
# a full hash oracle instead). The FIXED-codebook form below replays the
# ENTIRE selection (assignment routing, per-cluster quota, hash order) in
# DuckDB under the hash oracle.

_CFS_NC = 16
_CFS_N = 25
_CFS_SEED = 33


def curation_cluster_balanced_sample(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Trained cluster-balanced selection (SemDeDup-style): k-means over
    L2-normalized hashed-bigram profiles (driver-trained codebook on a
    bounded sample, Arrow-batched assignment — the IVF contract), then
    an exact per-cluster quota via the deterministic stratified take-N.
    Kept callable for pipelines/tests; correctness is contract-pinned in
    tests/test_clustering.py rather than oracle-paired."""
    from legendary_data_pipeline_spark.operators.clustering import (
        cluster_balanced_take_n,
    )

    docs = load_table(spark, sf_dir, "documents")
    out = cluster_balanced_take_n(
        docs.select("doc_id", "text"), n_per_cluster=20, k=8
    )
    return out.select("doc_id", "cluster", "sample_rank")


@register(
    "curation_cluster_fixed_sample",
    f"""
    WITH base AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    cents AS (
      SELECT vec_id AS cid, v AS cv FROM base WHERE vec_id < {_CFS_NC}),
    ad AS (
      SELECT b.vec_id, c.cid,
             list_inner_product(b.v, b.v)
               + list_inner_product(c.cv, c.cv)
               - 2.0 * list_inner_product(b.v, c.cv) AS d2
      FROM base b, cents c),
    asg AS (
      SELECT vec_id, cid AS cluster FROM (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                 ORDER BY d2 ASC, cid ASC) AS rn
        FROM ad) WHERE rn = 1),
    ranked AS (
      SELECT vec_id, cluster,
             ROW_NUMBER() OVER (PARTITION BY cluster
               ORDER BY {seeded_md5_long_sql("CAST(vec_id AS VARCHAR)", _CFS_SEED)} ASC,
                        vec_id ASC) AS sample_rank
      FROM asg)
    SELECT vec_id, cluster, CAST(sample_rank AS INT) AS sample_rank
    FROM ranked WHERE sample_rank <= {_CFS_N}
    """,
    doc="Cluster-balanced selection with a FIXED codebook (the corpus "
    "vectors with the 16 smallest ids — the ivf_fixed freeze "
    "convention): nearest-centroid assignment via sequential-fold "
    "arithmetic, then exactly min(25, |cluster|) vectors per cluster "
    "by seeded hash order. Every stage is declarative and "
    "deterministic, so the WHOLE draw replays in DuckDB under the "
    "hash oracle — the correctness twin of the trained k-means "
    "variant (contract-pinned in test_clustering.py). Plan: the 16-row "
    "codebook copied into each hash block of the corpus, one pair-kernel "
    "pass for every vector's top-1, per-cluster bounded top-N — the "
    "corpus never joins itself.",
)
def curation_cluster_fixed_sample(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from legendary_data_pipeline_spark.operators.clustering import (
        cluster_fixed_balanced_take_n,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    out = cluster_fixed_balanced_take_n(
        emb, n_per_cluster=_CFS_N, n_centroids=_CFS_NC, seed=_CFS_SEED
    )
    return out.select(
        "vec_id", "cluster", F.col("sample_rank").cast("int").alias("sample_rank")
    )


# ---------------------------------------------------------------------------
# perplexity filtering (rows-only: sample-trained LM)
# ---------------------------------------------------------------------------


# Two LM-gate variants, same division of labor as the trained/fixed IVF
# pair: the TRAINED CCNet-style bigram perplexity filter keeps its
# ordering/ratio/determinism contracts in tests/test_lm.py (its
# sample-trained log/exp UDF scoring is not SQL-replayable, and round 7
# retired rows-only registrations wherever a deterministic twin carries
# a full hash oracle). The surprisal gate below derives EXACT add-one
# unigram statistics from the whole trusted slice and scores with
# integer fixed-point µnats — the entire gate replays in DuckDB.


def curation_perplexity_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity gate: a bigram Stupid-Backoff LM trains
    driver-side on a bounded hash-gated sample of the trusted slice
    (source='src0') and scores every document in one Arrow-batched
    pass (per-batch bigram memo). Kept callable for pipelines/tests;
    correctness is contract-pinned in tests/test_lm.py rather than
    oracle-paired."""
    from legendary_data_pipeline_spark.operators.lm import perplexity_filter

    docs = load_table(spark, sf_dir, "documents")
    trusted = docs.filter(F.col("source") == "src0")
    scored = perplexity_filter(
        docs.filter(F.col("source") != "src0"), trusted, max_ppl=100.0
    )
    return scored


_SURP_SCALE = 1_000_000
_SURP_MAX = 3_420_000  # mean µnats ≈ ln-perplexity 3.42 (ppl ≈ 30.6)
_SURP_TOKS = "list_filter(regexp_split_to_array(trim(text), '\\s+'), __w -> __w <> '')"


@register(
    "curation_unigram_surprisal",
    f"""
    WITH tr AS (
      SELECT unnest({_SURP_TOKS}) AS tok
      FROM documents WHERE source = 'src0'),
    counts AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM tr GROUP BY 1),
    tot AS (
      SELECT CAST(SUM(c) AS BIGINT) AS t, CAST(COUNT(*) AS BIGINT) AS v
      FROM counts),
    w AS (
      SELECT tok,
             CAST(-floor(ln(CAST(c + 1 AS DOUBLE) / CAST(t + v AS DOUBLE))
                         * {_SURP_SCALE}.0) AS BIGINT) AS w
      FROM counts, tot),
    oov AS (
      SELECT CAST(-floor(ln(CAST(1 AS DOUBLE) / CAST(t + v AS DOUBLE))
                         * {_SURP_SCALE}.0) AS BIGINT) AS w_oov
      FROM tot),
    dt AS (
      SELECT doc_id, unnest({_SURP_TOKS}) AS tok
      FROM documents WHERE source <> 'src0'),
    g AS (
      SELECT dt.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_tokens,
             CAST(SUM(COALESCE(w.w, oov.w_oov)) AS BIGINT) AS sum_w
      FROM dt LEFT JOIN w USING (tok) CROSS JOIN oov
      GROUP BY 1),
    base AS (
      SELECT doc_id FROM documents WHERE source <> 'src0'),
    s AS (
      SELECT base.doc_id,
             CAST(COALESCE(n_tokens, 0) AS BIGINT) AS n_tokens,
             CASE WHEN COALESCE(n_tokens, 0) > 0
                  THEN CAST(floor(CAST(sum_w AS DOUBLE)
                                  / CAST(n_tokens AS DOUBLE)) AS BIGINT)
             END AS mean_surprisal_micro
      FROM base LEFT JOIN g USING (doc_id))
    SELECT doc_id, n_tokens, mean_surprisal_micro,
           COALESCE(mean_surprisal_micro <= {_SURP_MAX}, FALSE) AS kept
    FROM s
    """,
    doc="Deterministic distributed unigram surprisal gate — the "
    "hash-oracle-able twin of the CCNet perplexity filter (X150): "
    "EXACT add-one unigram statistics over the WHOLE trusted slice "
    "(no sampling), per-token weights as integer fixed-point µnats "
    "(-floor(ln(p)·1e6)), per-doc mean by integer-safe floor. One ln "
    "per DISTINCT trusted token; all document-scale arithmetic is "
    "exact integer sums — order-independent across engines. Plan: "
    "vocabulary-sized weight table (broadcast or AQE-skew shuffle "
    "join), one explode + re-agg over scored docs.",
)
def curation_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from legendary_data_pipeline_spark.operators.lm import (
        unigram_surprisal_gate,
    )

    docs = load_table(spark, sf_dir, "documents")
    trusted = docs.filter(F.col("source") == "src0")
    return unigram_surprisal_gate(
        docs.filter(F.col("source") != "src0"),
        trusted,
        max_mean_micro=_SURP_MAX,
        scale=_SURP_SCALE,
    )


# ---------------------------------------------------------------------------
# Gopher quality gates
# ---------------------------------------------------------------------------


@register(
    "curation_gopher_gates",
    f"""
    WITH toks AS (
      SELECT doc_id, list_filter({_TOKS}, __w -> __w <> '') AS t
      FROM documents),  -- joined back to documents for raw-text symbol counts
    sig AS (
      SELECT d.doc_id,
             len(t) AS n_words,
             CAST(list_sum(list_transform(t, __w -> length(__w)))
                  AS DOUBLE) / nullif(len(t), 0) AS mean_word_len,
             CAST(len(regexp_extract_all(d.text, '#'))
                  AS DOUBLE) / nullif(len(t), 0) AS hash_ratio,
             CAST(len(regexp_extract_all(d.text, '\\.\\.\\.|…'))
                  AS DOUBLE) / nullif(len(t), 0) AS ellipsis_ratio,
             CAST(len(list_filter(t, __w -> regexp_matches(__w, '[A-Za-z]')))
                  AS DOUBLE) / nullif(len(t), 0) AS alpha_word_frac,
             len(list_filter(t, __w -> list_contains(
                 {list(C.GOPHER_STOPWORDS)!r}, lower(__w)))) AS n_stopwords
      FROM toks JOIN documents d USING (doc_id)),
    gated AS (
      SELECT *,
             COALESCE(n_words >= 50 AND n_words <= 100000, FALSE) AS pass_word_count,
             COALESCE(mean_word_len >= 3.0 AND mean_word_len <= 10.0, FALSE)
               AS pass_mean_word_len,
             COALESCE(hash_ratio <= 0.1 AND ellipsis_ratio <= 0.1, FALSE)
               AS pass_symbol_ratio,
             COALESCE(alpha_word_frac >= 0.8, FALSE) AS pass_alpha_words,
             COALESCE(n_stopwords >= 2, FALSE) AS pass_stopwords
      FROM sig)
    SELECT doc_id, n_words, mean_word_len, hash_ratio, ellipsis_ratio,
           alpha_word_frac, n_stopwords, pass_word_count,
           pass_mean_word_len, pass_symbol_ratio, pass_alpha_words,
           pass_stopwords,
           pass_word_count AND pass_mean_word_len AND pass_symbol_ratio
             AND pass_alpha_words AND pass_stopwords AS gopher_keep
    FROM gated
    """,
    doc="The document-level Gopher quality rule set (Rae et al. 2021 "
    "A1.1) in one codegen projection: word-count and mean-word-length "
    "bounds, symbol-to-word ratio, alphabetic-word fraction, minimum "
    "stopword count — every signal AND per-rule verdict returned so "
    "thresholds stay tunable without recomputation. Zero shuffles.",
)
def curation_gopher_gates(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return C.gopher_gates(docs)


# ---------------------------------------------------------------------------
# exact duplicated-substring dedup (operators/substrings.py)
# ---------------------------------------------------------------------------

_SUBSTR_N = 8

# Shared CTE chain: sliding n-gram positions -> corpus-frequency filter
# -> gaps-and-islands span merge (mirrors operators.substrings).
_SUBSTR_SPANS_CTES = f"""
    base AS (
      SELECT doc_id, lang, {_TOKS} AS l FROM documents),
    grams AS (
      SELECT doc_id, generate_subscripts(gs, 1) AS pos,
             {md5_long_sql('unnest(gs)')} AS h
      FROM (SELECT doc_id,
                   list_transform(range(1, len(l) - {_SUBSTR_N} + 2),
                                  __j -> array_to_string(
                                      l[__j:__j + {_SUBSTR_N} - 1], ' ')) AS gs
            FROM base)),
    dup AS (
      SELECT doc_id, pos FROM grams
      WHERE h IN (SELECT h FROM grams GROUP BY h HAVING count(*) >= 2)),
    marks AS (
      SELECT doc_id, pos,
             -- new span iff this window's tokens neither overlap nor
             -- abut the running furthest end (prev_end + 1 =
             -- max(prev pos) + n)
             CASE WHEN pos > COALESCE(
                 MAX(pos) OVER (PARTITION BY doc_id ORDER BY pos
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING) + {_SUBSTR_N},
                 -1) THEN 1 ELSE 0 END AS new_span
      FROM dup),
    isl AS (
      SELECT doc_id, pos,
             SUM(new_span) OVER (PARTITION BY doc_id ORDER BY pos
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS gid
      FROM marks),
    spans AS (
      SELECT doc_id, MIN(pos) AS s, MAX(pos) + {_SUBSTR_N} - 1 AS e
      FROM isl GROUP BY doc_id, gid)
"""


@register(
    "dedup_dup_span_stats",
    f"""
    WITH {_SUBSTR_SPANS_CTES},
    stats AS (
      SELECT doc_id, count(*) AS n_dup_spans,
             CAST(SUM(e - s + 1) AS BIGINT) AS dup_tokens
      FROM spans GROUP BY doc_id)
    SELECT b.doc_id, CAST(len(b.l) AS BIGINT) AS n_tokens,
           st.n_dup_spans, st.dup_tokens,
           st.dup_tokens * 1.0 / len(b.l) AS dup_frac
    FROM base b JOIN stats st USING (doc_id)
    """,
    doc="ExactSubstr dedup, report mode (Lee et al. 2022): fraction of "
    "each document covered by >=8-token runs that occur more than once "
    "corpus-wide, with overlapping windows merged into maximal spans. "
    "dup_frac = 1.0 marks a document that exists verbatim elsewhere.",
)
def dedup_dup_span_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from legendary_data_pipeline_spark.operators import substrings as S

    docs = load_table(spark, sf_dir, "documents")
    return S.dup_span_stats(docs, n=_SUBSTR_N)


@register(
    "dedup_strip_substrings",
    f"""
    WITH {_SUBSTR_SPANS_CTES},
    toks AS (
      SELECT doc_id, generate_subscripts(l, 1) AS pos, unnest(l) AS tok
      FROM base),
    covered AS (
      SELECT doc_id, unnest(generate_series(s, e)) AS pos FROM spans),
    kept AS (
      SELECT t.doc_id, t.pos, t.tok FROM toks t
      WHERE NOT EXISTS (SELECT 1 FROM covered c
                        WHERE c.doc_id = t.doc_id AND c.pos = t.pos)),
    reb AS (
      SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text,
             count(*) AS kept_n
      FROM kept GROUP BY doc_id)
    SELECT b.doc_id, b.lang,
           COALESCE(r.clean_text, '') AS clean_text,
           CAST(len(b.l) - COALESCE(r.kept_n, 0) AS BIGINT) AS n_removed
    FROM base b LEFT JOIN reb r USING (doc_id)
    """,
    doc="ExactSubstr dedup, strip mode: every corpus-duplicated >=8-token "
    "run is removed from every document (all occurrences -- the "
    "deterministic, partition-order-independent variant of Lee et al.'s "
    "keep-first). Rebuild is a per-row higher-order filter over the span "
    "list; no token explode on the write path.",
)
def dedup_strip_substrings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from legendary_data_pipeline_spark.operators import substrings as S

    docs = load_table(spark, sf_dir, "documents")
    return S.strip_duplicated_substrings(
        docs, n=_SUBSTR_N, keep_cols=("lang",)
    )


# ---------------------------------------------------------------------------
# percentile winsorization (operators/curation.winsorize_outliers)
# ---------------------------------------------------------------------------

@register(
    "curation_length_winsorize",
    f"""
    WITH base AS (
      SELECT doc_id, lang, CAST(len({_TOKS}) AS BIGINT) AS n_tokens
      FROM documents),
    bounds AS (
      SELECT lang,
             quantile_cont(n_tokens, 0.05) AS lo_bound,
             quantile_cont(n_tokens, 0.95) AS hi_bound
      FROM base GROUP BY lang)
    SELECT b.doc_id, b.lang, b.n_tokens, bd.lo_bound, bd.hi_bound,
           b.n_tokens >= bd.lo_bound AND b.n_tokens <= bd.hi_bound AS keep
    FROM base b JOIN bounds bd USING (lang)
    """,
    doc="Per-language token-count winsorization: exact 5th/95th "
    "percentile bounds per lang with an inclusive keep verdict — the "
    "length-tail outlier trim (crawl junk lives in the tails). Bounds "
    "are a lang-cardinality frame broadcast back onto the corpus; "
    "exact percentile() matches DuckDB quantile_cont bit-for-bit.",
)
def curation_length_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from legendary_data_pipeline_spark.operators.dedup import tokens_expr

    docs = load_table(spark, sf_dir, "documents")
    sized = docs.select(
        "doc_id",
        "lang",
        F.size(tokens_expr("text")).cast("long").alias("n_tokens"),
    )
    return C.winsorize_outliers(sized, "n_tokens", group_col="lang")


# ---------------------------------------------------------------------------
# temperature mixing (operators/curation.temperature_mix)
# ---------------------------------------------------------------------------

_MIX_ALPHA = 0.5
_MIX_BUDGET = 0.5
_MIX_SEED = 11


@register(
    "curation_temperature_mix",
    f"""
    WITH base AS (
      SELECT doc_id, lang, CAST(len({_TOKS}) AS BIGINT) AS n_tokens
      FROM documents),
    nd AS (
      SELECT lang, CAST(SUM(n_tokens) AS DOUBLE) AS nd FROM base GROUP BY lang),
    z AS (
      SELECT SUM(pow(nd, {_MIX_ALPHA!r})) AS z, SUM(nd) AS n_total FROM nd),
    rates AS (
      SELECT lang,
             least(1.0, {_MIX_BUDGET!r} * n_total * pow(nd, {_MIX_ALPHA!r})
                        / z / nd) AS rate
      FROM nd CROSS JOIN z)
    SELECT b.doc_id, b.lang, b.n_tokens,
           CAST(round(round(r.rate, 6) * 1e6) AS BIGINT) AS rate_e6,
           ({seeded_md5_long_sql('CAST(b.doc_id AS VARCHAR)', _MIX_SEED)}
            % 10000) < CAST(round(r.rate * 10000, 0) AS BIGINT) AS keep
    FROM base b JOIN rates r USING (lang)
    """,
    doc="Temperature-controlled corpus mixing (XLM-R/mT5 sampling rule): "
    "per-language keep rates derived from n_d^alpha re-weighting under a "
    "50% token budget, gated by the reproducible md5 convention. "
    "alpha=0.5 up-weights low-resource languages; two tiny aggregates "
    "broadcast back, no data-sized shuffle.",
)
def curation_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from legendary_data_pipeline_spark.operators.dedup import tokens_expr

    docs = load_table(spark, sf_dir, "documents")
    sized = docs.select(
        "doc_id",
        "lang",
        F.size(tokens_expr("text")).cast("long").alias("n_tokens"),
    )
    out = C.temperature_mix(
        sized, alpha=_MIX_ALPHA, budget_frac=_MIX_BUDGET, seed=_MIX_SEED
    )
    # e6 emission of the (already 6-dp-rounded) pow-derived rate —
    # round-9 representation convention for libm-backed outputs.
    return out.select(
        "doc_id", "lang", "n_tokens",
        e6(F.col("rate")).alias("rate_e6"),
        "keep",
    )


# ---------------------------------------------------------------------------
# X231 — temperature-mix bias report: realized vs target token shares
# ---------------------------------------------------------------------------


@register(
    "curation_mix_bias_report",
    f"""
    WITH base AS (
      SELECT doc_id, lang, CAST(len({_TOKS}) AS BIGINT) AS n_tokens
      FROM documents),
    nd AS (
      SELECT lang, CAST(SUM(n_tokens) AS DOUBLE) AS nd FROM base GROUP BY lang),
    z AS (
      SELECT SUM(pow(nd, {_MIX_ALPHA!r})) AS z, SUM(nd) AS n_total FROM nd),
    rates AS (
      SELECT lang, nd,
             pow(nd, {_MIX_ALPHA!r}) / z AS target_share,
             least(1.0, {_MIX_BUDGET!r} * n_total * pow(nd, {_MIX_ALPHA!r})
                        / z / nd) AS rate
      FROM nd CROSS JOIN z),
    gated AS (
      SELECT b.lang, b.n_tokens,
             ({seeded_md5_long_sql('CAST(b.doc_id AS VARCHAR)', _MIX_SEED)}
              % 10000) < CAST(round(r.rate * 10000, 0) AS BIGINT) AS keep
      FROM base b JOIN rates r USING (lang)),
    per AS (
      SELECT lang,
             CAST(COUNT(*) AS BIGINT) AS docs_corpus,
             CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
               AS docs_kept,
             CAST(SUM(n_tokens) AS BIGINT) AS tokens_corpus,
             CAST(SUM(CASE WHEN keep THEN n_tokens ELSE 0 END) AS BIGINT)
               AS tokens_kept
      FROM gated GROUP BY lang),
    tot AS (
      SELECT CAST(SUM(tokens_corpus) AS BIGINT) AS tc,
             CAST(SUM(tokens_kept) AS BIGINT) AS tk
      FROM per)
    SELECT p.lang, p.docs_corpus, p.docs_kept, p.tokens_corpus,
           p.tokens_kept,
           CAST(round(round(r.rate, 6) * 1e6) AS BIGINT) AS rate_e6,
           CAST(round(CAST(p.tokens_corpus AS DOUBLE)
                      / CAST(t.tc AS DOUBLE) * 1e6) AS BIGINT)
             AS share_corpus_e6,
           CAST(round(r.target_share * 1e6) AS BIGINT) AS target_share_e6,
           CAST(round(CAST(p.tokens_kept AS DOUBLE)
                      / CAST(t.tk AS DOUBLE) * 1e6) AS BIGINT)
             AS share_kept_e6
    FROM per p JOIN rates r USING (lang) CROSS JOIN tot t
    """,
    doc="X231 mix-bias audit: did the temperature-mix gate REALIZE its "
    "target shares? Per language: corpus vs kept doc/token counts, the "
    "derived keep rate, and three e6-scaled token shares — raw corpus "
    "share, the temperature target n_d^alpha/Z, and the share the "
    "seeded gate actually kept. The post-sampling check a mixing "
    "change ships with: a gap between target_share and share_kept "
    "localizes hash-gate quantization or capped-rate (rate=1) "
    "saturation per stratum. Composes temperature_mix; past the gate "
    "everything is stratum-cardinality aggregation. e6 emission for "
    "the libm-pow-derived quantities (round-9 convention).",
)
def curation_mix_bias_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from legendary_data_pipeline_spark.operators.dedup import tokens_expr

    docs = load_table(spark, sf_dir, "documents")
    sized = docs.select(
        "doc_id",
        "lang",
        F.size(tokens_expr("text")).cast("long").alias("n_tokens"),
    )
    out = C.temperature_mix(
        sized, alpha=_MIX_ALPHA, budget_frac=_MIX_BUDGET, seed=_MIX_SEED
    )
    per = out.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("docs_corpus"),
        F.sum(F.col("keep").cast("long")).cast("long").alias("docs_kept"),
        F.sum("n_tokens").cast("long").alias("tokens_corpus"),
        F.sum(F.when(F.col("keep"), F.col("n_tokens")).otherwise(F.lit(0)))
        .cast("long")
        .alias("tokens_kept"),
        # rate is constant per stratum (a pure function of lang) —
        # carry it through the agg instead of re-joining the rate frame
        F.max(e6(F.col("rate"))).alias("rate_e6"),
    ).localCheckpoint(eager=False)
    tot = per.agg(
        F.sum("tokens_corpus").cast("long").alias("__tc"),
        F.sum("tokens_kept").cast("long").alias("__tk"),
    )
    nd = F.col("tokens_corpus").cast("double")
    powed = per.select(
        "*", F.pow(nd, F.lit(float(_MIX_ALPHA))).alias("__pow")
    ).localCheckpoint(eager=False)
    z = powed.agg(F.sum("__pow").alias("__z"))
    return (
        powed.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(z))
        .select(
            "lang",
            "docs_corpus",
            "docs_kept",
            "tokens_corpus",
            "tokens_kept",
            "rate_e6",
            e6(
                F.col("tokens_corpus").cast("double")
                / F.col("__tc").cast("double")
            ).alias("share_corpus_e6"),
            e6(F.col("__pow") / F.col("__z")).alias("target_share_e6"),
            e6(
                F.col("tokens_kept").cast("double")
                / F.col("__tk").cast("double")
            ).alias("share_kept_e6"),
        )
    )


# ---------------------------------------------------------------------------
# sliding-window chunking (operators/curation.sliding_chunks)
# ---------------------------------------------------------------------------

_CHUNK_SIZE = 64
_CHUNK_STRIDE = 48


@register(
    "curation_sliding_chunks",
    f"""
    WITH base AS (
      SELECT doc_id, lang, {_TOKS} AS l FROM documents),
    starts AS (
      SELECT doc_id, lang, l,
             CAST(generate_subscripts(ss, 1) - 1 AS INT) AS chunk_idx,
             CAST(unnest(ss) AS INT) AS start_pos
      FROM (SELECT doc_id, lang, l,
                   range(1,
                         least(greatest(1, len(l) - {_CHUNK_SIZE} + {_CHUNK_STRIDE}),
                               len(l)) + 1,
                         {_CHUNK_STRIDE}) AS ss
            FROM base WHERE len(l) > 0))
    SELECT doc_id, lang, chunk_idx, start_pos,
           CAST(len(l[start_pos:start_pos + {_CHUNK_SIZE} - 1]) AS INT)
             AS n_chunk_tokens,
           array_to_string(l[start_pos:start_pos + {_CHUNK_SIZE} - 1], ' ')
             AS chunk_text
    FROM starts
    """,
    doc="Sliding-window chunking with overlap (HF stride shape): "
    "64-token windows every 48 tokens, consecutive chunks share 16 "
    "tokens of context. Start generation is clamped so coverage is "
    "complete but no tail chunk is fully contained in its predecessor. "
    "Pure per-row array expressions, ~n/stride rows per doc, zero "
    "shuffles.",
)
def curation_sliding_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return C.sliding_chunks(
        docs, _CHUNK_SIZE, _CHUNK_STRIDE, keep_cols=("lang",)
    )


# ---------------------------------------------------------------------------
# hashed Naive-Bayes quality classifier (fastText-style filter)
# ---------------------------------------------------------------------------

_NB_M = 4096
_NB_SCALE = 1_000_000


@register(
    "curation_nb_quality_score",
    f"""
    WITH toks AS (
      SELECT doc_id, source, unnest({_TOKS}) AS tok FROM documents),
    feat AS (
      SELECT doc_id, source,
             ({md5_long_sql("tok")}) % {_NB_M} AS bucket,
             COUNT(*) AS cnt
      FROM toks WHERE tok <> '' GROUP BY 1, 2, 3),
    pos_b AS (
      SELECT bucket, SUM(cnt) AS c FROM feat
      WHERE source = 'src0' GROUP BY bucket),
    neg_b AS (
      SELECT bucket, SUM(cnt) AS c FROM feat
      WHERE source = 'src1' GROUP BY bucket),
    tot AS (
      SELECT (SELECT COALESCE(SUM(c), 0) FROM pos_b) AS pt,
             (SELECT COALESCE(SUM(c), 0) FROM neg_b) AS nt,
             (SELECT COUNT(*) FROM documents WHERE source = 'src0') AS np,
             (SELECT COUNT(*) FROM documents WHERE source = 'src1') AS nn),
    w AS (
      SELECT b.bucket,
             CAST(round((ln((COALESCE(p.c, 0) + 1.0) / (tot.pt + {_NB_M}))
                         - ln((COALESCE(n.c, 0) + 1.0) / (tot.nt + {_NB_M})))
                        * {_NB_SCALE}, 0) AS BIGINT) AS w
      FROM (SELECT unnest(range({_NB_M})) AS bucket) b
      LEFT JOIN pos_b p USING (bucket)
      LEFT JOIN neg_b n USING (bucket)
      CROSS JOIN tot),
    prior AS (
      SELECT CAST(round((ln(np) - ln(nn)) * {_NB_SCALE}, 0) AS BIGINT)
               AS pr
      FROM tot),
    sc AS (
      SELECT d.doc_id,
             CAST(COALESCE(SUM(f.cnt * w.w), 0)
                  + (SELECT pr FROM prior) AS BIGINT) AS score
      FROM (SELECT doc_id FROM documents
            WHERE source NOT IN ('src0', 'src1')) d
      LEFT JOIN (SELECT * FROM feat
                 WHERE source NOT IN ('src0', 'src1')) f
        ON f.doc_id = d.doc_id
      LEFT JOIN w ON w.bucket = f.bucket
      GROUP BY d.doc_id)
    SELECT doc_id, score, score > 0 AS predicted_pos FROM sc
    """,
    doc="Hashed Naive-Bayes quality classifier (the fastText-filter "
    "recipe of GPT-3/CCNet/LLaMA, NB instance): train on a "
    "high-quality seed (source='src0') vs a crawl seed (source='src1'), "
    "score every remaining doc. Weights are integer-scaled token "
    "log-odds (micro-nats, BIGINT) so scoring is exact integer math — "
    "partition-order independent and bit-identical in DuckDB. The "
    "m-row weight table broadcasts; the corpus shuffles only on "
    "(doc, bucket).",
)
def curation_nb_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from legendary_data_pipeline_spark.operators.classifier import (
        score_nb,
        train_nb,
    )

    docs = load_table(spark, sf_dir, "documents")
    pos = docs.filter(F.col("source") == "src0")
    neg = docs.filter(F.col("source") == "src1")
    rest = docs.filter(~F.col("source").isin("src0", "src1"))
    weights, prior = train_nb(pos, neg, m=_NB_M, scale=_NB_SCALE)
    return score_nb(rest, weights, prior, m=_NB_M)


# ---------------------------------------------------------------------------
# Bloom-filter cross-corpus membership (probe new docs vs corpus)
# ---------------------------------------------------------------------------

_BLOOM_M = 256   # deliberately small so false positives occur and the
_BLOOM_K = 4     # oracle proves it reproduces them EXACTLY


def _bloom_pos_sql(i: str) -> str:
    from legendary_data_pipeline_spark.operators.bloom import (
        bloom_sql_positions,
    )

    return bloom_sql_positions("text", i, _BLOOM_M)


@register(
    "curation_bloom_cross_corpus",
    f"""
    WITH ii AS (SELECT unnest(range({_BLOOM_K})) AS i),
    corpus_pos AS (
      SELECT DISTINCT {_bloom_pos_sql("ii.i")} AS pos
      FROM documents CROSS JOIN ii
      WHERE source = 'src0'),
    probe AS (
      SELECT doc_id, source, {_bloom_pos_sql("ii.i")} AS pos
      FROM documents CROSS JOIN ii
      WHERE source <> 'src0'),
    flags AS (
      SELECT p.doc_id, p.source,
             BOOL_AND(cp.pos IS NOT NULL) AS maybe_seen
      FROM probe p LEFT JOIN corpus_pos cp USING (pos)
      GROUP BY p.doc_id, p.source)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN maybe_seen THEN 1 ELSE 0 END) AS BIGINT)
             AS n_flagged
    FROM flags GROUP BY source
    """,
    doc="Cross-corpus Bloom membership: build a bitmap of the corpus "
    "slice (source='src0') in one Arrow pass (partial bitmaps OR-merged "
    "driver-side, m/8 bytes), broadcast it, and probe every other doc "
    "with a vectorized bit test — the join-free way to dedup a new "
    "batch against a 100 TB historical corpus. The double-hash family "
    "is portable md5 integer math, so the DuckDB oracle replays the "
    "filter's EXACT accept set — false positives included (m is sized "
    "down so some occur and the parity is meaningful).",
)
def curation_bloom_cross_corpus(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from legendary_data_pipeline_spark.operators.bloom import (
        build_bloom,
        probe_bloom,
    )

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("source") == "src0")
    batch = docs.filter(F.col("source") != "src0")
    bm = build_bloom(corpus, "text", m_bits=_BLOOM_M, k_hashes=_BLOOM_K)
    flagged = probe_bloom(batch, "text", bm, k_hashes=_BLOOM_K)
    return flagged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("maybe_seen").cast("long")).alias("n_flagged"),
    )


# ---------------------------------------------------------------------------
# C4 heuristic cleaning rules (Raffel et al. 2020 §2.2)
# ---------------------------------------------------------------------------
# The synthetic documents carry no punctuation or newlines, so both
# engines first ENRICH the text identically and deterministically:
# terminate every 6th word with '.\n' (making lines + sentences), and
# give a deterministic doc subset a lorem-ipsum tail, a javascript
# line, and a curly-brace line so every page/line rule fires on real
# rows. The enrichment is part of the query (mirrored in the oracle),
# not of the operator.

_C4_BADWORDS = ("porn", "sexcam")


def _c4_enriched(docs: DataFrame) -> DataFrame:
    enriched = F.concat(
        F.regexp_replace(F.col("text"), r"((?:\w+ ){5}\w+) ", "$1.\n"),
        F.when(
            F.col("doc_id") % 37 == 0,
            F.lit("\nlorem ipsum dolor sit amet."),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 41 == 0,
            F.lit("\nthis line mentions javascript and ends properly."),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 43 == 0,
            F.lit("\na curly brace { appears in here."),
        ).otherwise(F.lit("")),
    )
    return docs.select("doc_id", enriched.alias("text"))


_C4_ENRICH_SQL = r"""
  SELECT doc_id,
         regexp_replace(text, '((?:\w+ ){5}\w+) ', '\1.' || chr(10), 'g')
         || CASE WHEN doc_id % 37 = 0
                 THEN chr(10) || 'lorem ipsum dolor sit amet.' ELSE '' END
         || CASE WHEN doc_id % 41 = 0
                 THEN chr(10) || 'this line mentions javascript and ends properly.'
                 ELSE '' END
         || CASE WHEN doc_id % 43 = 0
                 THEN chr(10) || 'a curly brace { appears in here.' ELSE '' END
           AS text
  FROM documents
"""

#: RE2 has no lookbehind, so the oracle's sentence split is the
#: equivalent replace-then-split of the engine's
#: `(?<=[.!?])[ \t\r\n\f]+` boundary (empty pieces filtered, matching
#: split_sentences_expr exactly).
_C4_SENTS_SQL = (
    r"list_filter(string_split(regexp_replace({src}, "
    r"'([.!?])[ \t\r\n\f]+', '\1' || chr(1), 'g'), chr(1)), "
    r"__s -> __s <> '')"
)


@register(
    "curation_c4_gates",
    f"""
    WITH enriched AS ({_C4_ENRICH_SQL}),
    kept AS (
      SELECT doc_id, text,
             string_split(text, chr(10)) AS __lines,
             list_filter(string_split(text, chr(10)), __l ->
                 regexp_matches(trim(__l), '[.!?"”]$')
                 AND len(regexp_split_to_array(trim(__l), '\\s+')) >= 5
                 AND NOT contains(lower(trim(__l)), 'javascript')) AS __kept
      FROM enriched),
    sig AS (
      SELECT doc_id,
             CAST(len(__lines) AS BIGINT) AS n_lines,
             CAST(len(__kept) AS BIGINT) AS n_kept_lines,
             CAST(len({_C4_SENTS_SQL.format(src="array_to_string(__kept, chr(10))")})
                  AS BIGINT) AS n_sentences,
             array_to_string(__kept, chr(10)) AS clean_text,
             CAST(length(array_to_string(__kept, chr(10))) AS BIGINT)
               AS clean_len,
             text AS __text
      FROM kept),
    gated AS (
      SELECT *,
             COALESCE(n_sentences >= 3, FALSE) AS pass_min_sentences,
             COALESCE(NOT contains(__text, '{{'), FALSE) AS pass_no_curly,
             COALESCE(NOT contains(lower(__text), 'lorem ipsum'), FALSE)
               AS pass_no_lorem,
             COALESCE(NOT regexp_matches(lower(__text),
                 '\\b({"|".join(_C4_BADWORDS)})\\b'), FALSE)
               AS pass_no_bad_words
      FROM sig)
    SELECT doc_id, n_lines, n_kept_lines, n_sentences, clean_text,
           clean_len, pass_min_sentences, pass_no_curly, pass_no_lorem,
           pass_no_bad_words,
           pass_min_sentences AND pass_no_curly AND pass_no_lorem
             AND pass_no_bad_words AS c4_keep
    FROM gated
    """,
    doc="The C4 cleaning recipe's line + page rules (Raffel et al. "
    "2020 §2.2): terminal-punctuation / ≥5-word / no-javascript line "
    "retention rebuilding clean_text, and page drops for curly braces, "
    "'lorem ipsum', bad words, and <3 surviving sentences. Every "
    "signal and per-rule verdict returned (the gopher_gates contract); "
    "zero shuffles — one codegen projection of higher-order functions.",
)
def curation_c4_gates(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return C.c4_gates(_c4_enriched(docs), bad_words=_C4_BADWORDS)


@register(
    "curation_c4_span_dedup",
    f"""
    WITH enriched AS ({_C4_ENRICH_SQL}),
    sents AS (
      SELECT doc_id, {_C4_SENTS_SQL.format(src="text")} AS __ss
      FROM enriched),
    spans AS (
      SELECT doc_id, CAST(u.i AS BIGINT) AS span_idx,
             md5(array_to_string(__ss[u.i:u.i+2], ' ')) AS __h
      FROM sents, UNNEST(range(1, greatest(len(__ss) - 2, 0) + 1)) AS u(i)),
    ranked AS (
      SELECT doc_id, __h,
             row_number() OVER (PARTITION BY __h ORDER BY doc_id, span_idx)
               AS __rn
      FROM spans),
    agg AS (
      SELECT doc_id, count(*) AS n_spans,
             sum(CASE WHEN __rn > 1 THEN 1 ELSE 0 END) AS n_dup_spans
      FROM ranked GROUP BY doc_id)
    SELECT e.doc_id,
           CAST(COALESCE(a.n_spans, 0) AS BIGINT) AS n_spans,
           CAST(COALESCE(a.n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
           CAST(a.n_dup_spans AS DOUBLE)
                 / nullif(CAST(a.n_spans AS DOUBLE), 0.0)
             AS dup_span_frac
    FROM enriched e LEFT JOIN agg a USING (doc_id)
    """,
    doc="C4's corpus-wide three-sentence-span dedup accounting: every "
    "consecutive 3-sentence span is hashed, the first (doc_id, "
    "span_idx) occurrence is canonical, later occurrences count as "
    "duplicates — per-doc removal pressure. One explode, one "
    "hash-partitioned window, one per-doc re-agg; at 100 TB the span "
    "index persists and the pass becomes incremental (lsh_probe "
    "pattern).",
)
def curation_c4_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return C.c4_span_stats(_c4_enriched(docs))


# ---------------------------------------------------------------------------
# X228 — gate-attrition funnel report (operators/curation.gate_funnel_report)
# ---------------------------------------------------------------------------

#: Funnel fixture text: the c4 enrichment plus deterministic PII
#: suffixes on a doc_id grid, so the third stage has real work (the
#: fixture corpus is PII-free; same convention as curation_pii_scrub).
_FUNNEL_ENRICH_SQL = f"""
  SELECT doc_id,
         text
         || CASE WHEN doc_id % 5 = 0
                 THEN ' contact user' || CAST(doc_id AS VARCHAR)
                      || '@example.com' ELSE '' END
         || CASE WHEN doc_id % 15 = 0
                 THEN ' call 555-123-4567' ELSE '' END
           AS text
  FROM ({_C4_ENRICH_SQL})
"""


def _funnel_enriched(docs: DataFrame) -> DataFrame:
    e = _c4_enriched(docs)
    did = F.col("doc_id")
    email = F.when(
        did % 5 == 0,
        F.concat(
            F.lit(" contact user"), did.cast("string"), F.lit("@example.com")
        ),
    ).otherwise("")
    phone = F.when(did % 15 == 0, F.lit(" call 555-123-4567")).otherwise("")
    return e.select(
        "doc_id", F.concat(F.col("text"), email, phone).alias("text")
    )


_FUNNEL_STAGE_COLS = (
    "docs_in, docs_dropped, docs_out, tokens_in, tokens_dropped, "
    "tokens_out, doc_survival_frac, token_survival_frac"
)


def _funnel_stage_sql(idx: int, name: str) -> str:
    i, o = f"n{idx - 1}", f"n{idx}"
    ti, to = f"t{idx - 1}", f"t{idx}"
    return f"""
    SELECT CAST({idx} AS BIGINT) AS stage_idx, '{name}' AS stage,
           {i} AS docs_in, {i} - {o} AS docs_dropped, {o} AS docs_out,
           {ti} AS tokens_in, {ti} - {to} AS tokens_dropped,
           {to} AS tokens_out,
           CAST({o} AS DOUBLE) / nullif(CAST({i} AS DOUBLE), 0.0)
             AS doc_survival_frac,
           CAST({to} AS DOUBLE) / nullif(CAST({ti} AS DOUBLE), 0.0)
             AS token_survival_frac
    FROM agg"""


# Shared gate-signal CTE prefix: independent per-doc gopher (gk.g),
# C4 (ck.c), and PII (pk.p) keep booleans over the PII-enriched corpus
# — consumed by BOTH the sequential funnel (X228) and the pairwise
# disagreement matrix (X238), which must agree on every signal.
_GATE_SIGNALS_CTES = f"""
    WITH enriched AS ({_FUNNEL_ENRICH_SQL}),
    toks AS (
      SELECT doc_id, list_filter({_TOKS}, __w -> __w <> '') AS t
      FROM enriched),
    gsig AS (
      SELECT e.doc_id,
             CAST(len(t) AS BIGINT) AS n_words,
             CAST(list_sum(list_transform(t, __w -> length(__w)))
                  AS DOUBLE) / nullif(len(t), 0) AS mean_word_len,
             CAST(len(regexp_extract_all(e.text, '#'))
                  AS DOUBLE) / nullif(len(t), 0) AS hash_ratio,
             CAST(len(regexp_extract_all(e.text, '\\.\\.\\.|…'))
                  AS DOUBLE) / nullif(len(t), 0) AS ellipsis_ratio,
             CAST(len(list_filter(t, __w -> regexp_matches(__w, '[A-Za-z]')))
                  AS DOUBLE) / nullif(len(t), 0) AS alpha_word_frac,
             len(list_filter(t, __w -> list_contains(
                 {list(C.GOPHER_STOPWORDS)!r}, lower(__w)))) AS n_stopwords
      FROM toks JOIN enriched e USING (doc_id)),
    gk AS (
      SELECT doc_id, n_words,
             COALESCE(n_words >= 50 AND n_words <= 100000, FALSE)
             AND COALESCE(mean_word_len >= 3.0 AND mean_word_len <= 10.0,
                          FALSE)
             AND COALESCE(hash_ratio <= 0.1 AND ellipsis_ratio <= 0.1,
                          FALSE)
             AND COALESCE(alpha_word_frac >= 0.8, FALSE)
             AND COALESCE(n_stopwords >= 2, FALSE) AS g
      FROM gsig),
    ck AS (
      SELECT doc_id,
             COALESCE(len({_C4_SENTS_SQL.format(
                 src="array_to_string(__kept, chr(10))")}) >= 3, FALSE)
             AND COALESCE(NOT contains(text, '{{'), FALSE)
             AND COALESCE(NOT contains(lower(text), 'lorem ipsum'), FALSE)
               AS c
      FROM (
        SELECT doc_id, text,
               list_filter(string_split(text, chr(10)), __l ->
                   regexp_matches(trim(__l), '[.!?"”]$')
                   AND len(regexp_split_to_array(trim(__l), '\\s+')) >= 5
                   AND NOT contains(lower(trim(__l)), 'javascript'))
                 AS __kept
        FROM enriched)),
    pk AS (
      SELECT doc_id,
             COALESCE(
               len(regexp_extract_all(text, '{C.EMAIL_RE}'))
               + len(regexp_extract_all(text, '{C.PHONE_RE}'))
               + len(regexp_extract_all(text, '{C.IPV4_RE}')) = 0,
               FALSE) AS p
      FROM enriched)
"""


@register(
    "curation_gate_funnel",
    f"""
    {_GATE_SIGNALS_CTES},
    per AS (
      SELECT gk.doc_id, gk.n_words,
             gk.g AS s1, gk.g AND ck.c AS s2, gk.g AND ck.c AND pk.p AS s3
      FROM gk JOIN ck USING (doc_id) JOIN pk USING (doc_id)),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n0,
             CAST(SUM(CASE WHEN s1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(SUM(CASE WHEN s2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
             CAST(SUM(CASE WHEN s3 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
             CAST(SUM(n_words) AS BIGINT) AS t0,
             CAST(SUM(CASE WHEN s1 THEN n_words ELSE 0 END) AS BIGINT)
               AS t1,
             CAST(SUM(CASE WHEN s2 THEN n_words ELSE 0 END) AS BIGINT)
               AS t2,
             CAST(SUM(CASE WHEN s3 THEN n_words ELSE 0 END) AS BIGINT)
               AS t3
      FROM per)
    {_funnel_stage_sql(1, "gopher_quality")}
    UNION ALL {_funnel_stage_sql(2, "c4_rules")}
    UNION ALL {_funnel_stage_sql(3, "pii_screen")}
    """,
    doc="X228 gate-attrition funnel: the per-stage doc AND token "
    "survival readout a curation pipeline publishes after every gate "
    "change — gopher document-quality rules, then the C4 line/page "
    "rules, then a PII screen, applied cumulatively in THAT order. "
    "Composes gopher_gates + c4_gates (fused into one projection via "
    "their keep_cols pass-through) + pii_counts into "
    "gate_funnel_report: every stage condition is an indicator sum in "
    "ONE aggregation over ONE corpus scan, unpivoted with stack — no "
    "per-stage scan, no join. Token units ride the gopher n_words "
    "count; survival fractions are IEEE divisions of exact longs. "
    "Deterministic PII suffixes are injected on a doc_id grid (the "
    "fixture is PII-free), mirroring curation_pii_scrub's convention.",
    scan_budget=1,
)
def curation_gate_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    enriched = _funnel_enriched(docs)
    g = C.gopher_gates(enriched, keep_cols=("text",))
    c = C.c4_gates(g, keep_cols=("gopher_keep", "n_words", "text"))
    pii = C.pii_counts(F.col("text"))
    per = c.select(
        "n_words",
        F.col("gopher_keep").alias("__g"),
        F.col("c4_keep").alias("__c"),
        ((pii["emails"] + pii["phones"] + pii["ipv4s"]) == 0).alias("__p"),
    )
    return C.gate_funnel_report(
        per,
        [
            ("gopher_quality", F.col("__g")),
            ("c4_rules", F.col("__c")),
            ("pii_screen", F.col("__p")),
        ],
        weight_col="n_words",
    )


@register(
    "curation_gate_disagreement",
    f"""
    {_GATE_SIGNALS_CTES},
    cells AS (
      SELECT gk.g AS gopher_keep, ck.c AS c4_keep, pk.p AS pii_keep,
             CAST(COUNT(*) AS BIGINT) AS docs,
             CAST(SUM(gk.n_words) AS BIGINT) AS tokens
      FROM gk JOIN ck USING (doc_id) JOIN pk USING (doc_id)
      GROUP BY 1, 2, 3)
    SELECT gopher_keep, c4_keep, pii_keep, docs, tokens,
           CAST(gopher_keep AS BIGINT) + CAST(c4_keep AS BIGINT)
           + CAST(pii_keep AS BIGINT) AS n_gates_passed
    FROM cells
    """,
    doc="X238 gate-disagreement matrix: the 2x2x2 truth table of the "
    "three INDEPENDENT per-doc gate verdicts (gopher quality, C4 "
    "rules, PII screen) with doc AND token mass per cell — the "
    "complement of the X228 funnel: the funnel shows where a FIXED "
    "gate ORDER loses mass, this shows which gates actually disagree "
    "and on how much corpus (every pairwise agreement/Jaccard/kappa "
    "derives from these cells), which is the decision readout for "
    "reordering, dropping, or unioning gates. Same one-scan shape as "
    "the funnel: the three verdicts are fused into one projection via "
    "keep_cols pass-through, then ONE <=8-group aggregation (map-side "
    "combinable). Shares the _GATE_SIGNALS_CTES oracle prefix with "
    "X228, so the two readouts can never disagree on a signal "
    "definition.",
    scan_budget=1,
)
def curation_gate_disagreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    enriched = _funnel_enriched(docs)
    g = C.gopher_gates(enriched, keep_cols=("text",))
    c = C.c4_gates(g, keep_cols=("gopher_keep", "n_words", "text"))
    pii = C.pii_counts(F.col("text"))
    per = c.select(
        "n_words",
        F.coalesce(F.col("gopher_keep"), F.lit(False)).alias("gopher_keep"),
        F.coalesce(F.col("c4_keep"), F.lit(False)).alias("c4_keep"),
        F.coalesce(
            (pii["emails"] + pii["phones"] + pii["ipv4s"]) == 0, F.lit(False)
        ).alias("pii_keep"),
    )
    return per.groupBy("gopher_keep", "c4_keep", "pii_keep").agg(
        F.count(F.lit(1)).cast("long").alias("docs"),
        F.coalesce(F.sum("n_words"), F.lit(0)).cast("long").alias("tokens"),
    ).withColumn(
        "n_gates_passed",
        F.col("gopher_keep").cast("long")
        + F.col("c4_keep").cast("long")
        + F.col("pii_keep").cast("long"),
    )


# ---------------------------------------------------------------------------
# HTML → text extraction (operators/html.py)
# ---------------------------------------------------------------------------
# The fixture has no markup, so the query synthesizes a deterministic
# page per doc (mirrored in the oracle): head with title/style/script,
# a link-dense nav, a headline (entity-bearing for doc_id%5=0), the doc
# text chunked into <p> blocks every 20 words, and a link-farm footer.

#: DuckDB mirror of operators/html._strip_inline — strip tags, decode
#: entities (&amp; last), collapse whitespace. COALESCE guards DuckDB's
#: NULL from array_to_string on empty regexp_extract_all results.
_HTML_STRIP_SQL = (
    "trim(regexp_replace("
    "replace(replace(replace(replace(replace(replace("
    "regexp_replace({src}, '<[^>]*>', ' ', 'g'),"
    "'&lt;', '<'), '&gt;', '>'), '&quot;', '\"'),"
    "'&#39;', chr(39)), '&nbsp;', ' '), '&amp;', '&'),"
    r"'\s+', ' ', 'g'))"
)

#: Anchor-text source for the ltxt struct field (precomputed — f-string
#: expressions cannot contain backslashes on py3.11).
_HTML_ANCHOR_SRC = (
    "COALESCE(array_to_string(regexp_extract_all(__b, "
    r"'(?is)<a\b[^>]*>(.*?)</a>', 1), ' '), '')"
)
_HTML_TXT_SQL = _HTML_STRIP_SQL.format(src="__b")
_HTML_LTXT_SQL = _HTML_STRIP_SQL.format(src=_HTML_ANCHOR_SRC)

_HTML_PAGE_SQL = r"""
  SELECT doc_id,
    '<html><head><title>Synth Doc</title><style>p { color: red; }</style>'
    || '<script>var t = 1; if (t<2) { t = 2; }</script></head><body>'
    || '<nav><a href="/">Home</a> <a href="/a">About</a> <a href="/b">Contact</a></nav>'
    || '<h1>' || CASE WHEN doc_id % 5 = 0
                      THEN 'Entities &amp; more &lt;escaped&gt; words'
                      ELSE 'A plain headline of words' END || '</h1>'
    || '<p>' || regexp_replace(text, '((?:\w+ ){19}\w+) ', '\1.</p><p>', 'g')
    || '.</p>'
    || '<div class="footer"><a href="/p">Privacy Policy</a> | '
    || '<a href="/t">Terms of Use</a></div></body></html>' AS raw_html
  FROM documents
"""


def _html_pages(docs: DataFrame) -> DataFrame:
    page = F.concat(
        F.lit(
            '<html><head><title>Synth Doc</title><style>p { color: red; }'
            "</style><script>var t = 1; if (t<2) { t = 2; }</script></head>"
            '<body><nav><a href="/">Home</a> <a href="/a">About</a> '
            '<a href="/b">Contact</a></nav><h1>'
        ),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.lit("Entities &amp; more &lt;escaped&gt; words"),
        ).otherwise(F.lit("A plain headline of words")),
        F.lit("</h1><p>"),
        F.regexp_replace(F.col("text"), r"((?:\w+ ){19}\w+) ", "$1.</p><p>"),
        F.lit(
            '.</p><div class="footer"><a href="/p">Privacy Policy</a> | '
            '<a href="/t">Terms of Use</a></div></body></html>'
        ),
    )
    return docs.select("doc_id", page.alias("raw_html"))


@register(
    "curation_html_extract",
    f"""
    WITH pages AS ({_HTML_PAGE_SQL}),
    noscript AS (
      SELECT doc_id,
        regexp_replace(regexp_replace(regexp_replace(regexp_replace(raw_html,
          '(?is)<script\\b[^>]*>.*?</script>', ' ', 'g'),
          '(?is)<style\\b[^>]*>.*?</style>', ' ', 'g'),
          '(?is)<title\\b[^>]*>.*?</title>', ' ', 'g'),
          '(?s)<!--.*?-->', ' ', 'g') AS h
      FROM pages),
    blocks AS (
      SELECT doc_id,
        list_filter(
          list_transform(
            string_split(regexp_replace(h,
              '(?i)</?(p|div|h[1-6]|li|ul|ol|tr|table|br|nav|footer|header|section|article|blockquote|td|th)\\b[^>]*>',
              chr(2), 'g'), chr(2)),
            __b -> struct_pack(
              txt := {_HTML_TXT_SQL},
              ltxt := {_HTML_LTXT_SQL}
            )),
          __s -> length(__s.txt) > 0) AS bs
      FROM noscript),
    scored AS (
      SELECT doc_id, bs,
        list_filter(bs, __s ->
          len(string_split(__s.txt, ' ')) >= 3
          AND (CASE WHEN length(__s.txt) = 0 THEN 1.0
                    ELSE CAST(length(__s.ltxt) AS DOUBLE) / length(__s.txt)
               END) <= 0.5) AS ks
      FROM blocks)
    SELECT doc_id,
      CAST(len(bs) AS BIGINT) AS n_blocks,
      CAST(len(ks) AS BIGINT) AS n_kept_blocks,
      array_to_string(list_transform(ks, __s -> __s.txt), chr(10)) AS text,
      CAST(length(array_to_string(list_transform(ks, __s -> __s.txt), chr(10)))
           AS BIGINT) AS text_len,
      CAST(list_sum(list_transform(bs, __s -> length(__s.txt)))
           - COALESCE(list_sum(list_transform(ks, __s -> length(__s.txt))), 0)
           AS DOUBLE)
        / nullif(CAST(list_sum(list_transform(bs, __s -> length(__s.txt)))
                      AS DOUBLE), 0.0) AS boilerplate_frac
    FROM scored
    """,
    doc="HTML→text extraction with jusText-shaped block boilerplate "
    "removal: script/style/title/comment subtrees dropped, block-tag "
    "boundaries split, per-block link density (anchor chars / text "
    "chars) and word count gate retention — nav and link-farm footers "
    "drop, content paragraphs survive, entities decode. Pure JVM "
    "regex/HOF projection, zero shuffles, RE2-compatible so DuckDB "
    "replays the exact chain.",
)
def curation_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from legendary_data_pipeline_spark.operators.html import html_extract

    docs = load_table(spark, sf_dir, "documents")
    return html_extract(_html_pages(docs))


# ---------------------------------------------------------------------------
# X164 capacity-constrained mixture allocation (round 7)
# ---------------------------------------------------------------------------

_MIXA_BUDGET = 300


@register(
    "curation_mixture_allocation",
    f"""
    WITH src AS (
      SELECT source,
             CAST(COUNT(*) AS HUGEINT) AS c,
             CAST(CAST(substr(source, 4, 1) AS INTEGER) + 1 AS HUGEINT) AS w
      FROM documents WHERE source IS NOT NULL GROUP BY 1),
    ordered AS (
      SELECT *,
             COALESCE(SUM(c) OVER (ORDER BY CAST(c AS DOUBLE)
                 / CAST(w AS DOUBLE) ASC, source ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) AS cum_c_prev,
             SUM(w) OVER ()
               - COALESCE(SUM(w) OVER (ORDER BY CAST(c AS DOUBLE)
                   / CAST(w AS DOUBLE) ASC, source ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               - w AS sw_after
      FROM src),
    flagged AS (
      SELECT *,
             c * (sw_after + w) < w * ({_MIXA_BUDGET} - cum_c_prev) AS sat
      FROM ordered),
    tot AS (
      SELECT *,
             COALESCE(SUM(CASE WHEN sat THEN c END) OVER (), 0) AS sat_c,
             COALESCE(SUM(CASE WHEN NOT sat THEN w END) OVER (), 0)
               AS unsat_w
      FROM flagged),
    based AS (
      SELECT *,
             GREATEST({_MIXA_BUDGET} - sat_c, 0) AS r,
             CASE WHEN sat THEN c
                  ELSE CAST(floor((w * GREATEST({_MIXA_BUDGET} - sat_c, 0))
                       / (CASE WHEN unsat_w > 0 THEN unsat_w ELSE 1 END))
                    AS HUGEINT)
             END AS base,
             CASE WHEN NOT sat AND unsat_w > 0
                  THEN (w * GREATEST({_MIXA_BUDGET} - sat_c, 0)) % unsat_w
                  ELSE -1 END AS fr
      FROM tot),
    lefted AS (
      SELECT *,
             r - COALESCE(SUM(CASE WHEN NOT sat THEN base END) OVER (), 0)
               AS leftover,
             ROW_NUMBER() OVER (ORDER BY fr DESC, source ASC) AS rk
      FROM based)
    SELECT source,
           CAST(c AS BIGINT) AS capacity,
           CAST(w AS BIGINT) AS weight,
           CAST(LEAST(CASE WHEN NOT sat AND rk <= leftover AND fr >= 0
                           THEN base + 1 ELSE base END, c) AS BIGINT)
             AS allocation,
           sat AS saturated
    FROM lefted
    """,
    doc="Capacity-constrained mixture allocation (X164): water-fill a "
    "300-doc budget across sources proportional to integer weights, "
    "saturating sources that run out and redistributing their share — "
    "the exact-COUNT planning step in front of every training-mix "
    "decision (temperature_mix rescales rates; this allocates counts). "
    "Ratio-sorted greedy with exact decimal(38,0) cross-product "
    "saturation tests, floor shares + largest-remainder distribution: "
    "integer allocations that sum to exactly min(budget, total "
    "capacity), bit-deterministic. Source-cardinality windows only; "
    "the corpus contributes one per-source count.",
)
def curation_mixture_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("source").isNotNull()
    )
    src = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("capacity")
    ).select(
        "source",
        "capacity",
        (F.substring("source", 4, 1).cast("int") + 1).cast("long").alias(
            "weight"
        ),
    )
    return C.mixture_allocate(src, budget=_MIXA_BUDGET)

# ---------------------------------------------------------------------------
# X172 bigram surprisal gate (round 9)
# ---------------------------------------------------------------------------

_BSURP_MAX = 3_530_000  # mean bigram µnats — near-median split at sf0.01


@register(
    "curation_bigram_surprisal",
    f"""
    WITH trt AS (
      SELECT doc_id, {_SURP_TOKS} AS t
      FROM documents WHERE source = 'src0'),
    trpos AS (
      SELECT doc_id, unnest(t) AS w1, generate_subscripts(t, 1) AS pos
      FROM trt),
    trbg AS (
      SELECT doc_id, w1,
             lead(w1) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
      FROM trpos),
    c2 AS (
      SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c2
      FROM trbg WHERE w2 IS NOT NULL GROUP BY 1, 2),
    c1 AS (
      SELECT w1, CAST(SUM(c2) AS BIGINT) AS c1 FROM c2 GROUP BY 1),
    voc AS (
      SELECT CAST(COUNT(DISTINCT w1a) AS BIGINT) AS v
      FROM (SELECT unnest(t) AS w1a FROM trt)),
    wbg AS (
      SELECT w1, w2,
             CAST(-floor(ln(CAST(c2 + 1 AS DOUBLE)
                            / CAST(c1 + v AS DOUBLE))
                         * {_SURP_SCALE}.0) AS BIGINT) AS w
      FROM c2 JOIN c1 USING (w1), voc),
    wctx AS (
      SELECT w1,
             CAST(-floor(ln(CAST(1 AS DOUBLE)
                            / CAST(c1 + v AS DOUBLE))
                         * {_SURP_SCALE}.0) AS BIGINT) AS w_ctx
      FROM c1, voc),
    wglob AS (
      SELECT CAST(-floor(ln(CAST(1 AS DOUBLE) / CAST(v AS DOUBLE))
                         * {_SURP_SCALE}.0) AS BIGINT) AS w_glob
      FROM voc),
    dt AS (
      SELECT doc_id, {_SURP_TOKS} AS t
      FROM documents WHERE source <> 'src0'),
    dpos AS (
      SELECT doc_id, unnest(t) AS w1, generate_subscripts(t, 1) AS pos
      FROM dt),
    dbg AS (
      SELECT doc_id, w1,
             lead(w1) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
      FROM dpos),
    g AS (
      SELECT d.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             CAST(SUM(COALESCE(wbg.w, wctx.w_ctx, wglob.w_glob))
                  AS BIGINT) AS sum_w
      FROM dbg d LEFT JOIN wbg ON d.w1 = wbg.w1 AND d.w2 = wbg.w2
      LEFT JOIN wctx ON d.w1 = wctx.w1
      CROSS JOIN wglob
      WHERE d.w2 IS NOT NULL GROUP BY 1),
    base AS (SELECT doc_id FROM documents WHERE source <> 'src0'),
    s AS (
      SELECT base.doc_id,
             CAST(COALESCE(n_bigrams, 0) AS BIGINT) AS n_bigrams,
             CASE WHEN COALESCE(n_bigrams, 0) > 0
                  THEN CAST(floor(CAST(sum_w AS DOUBLE)
                                  / CAST(n_bigrams AS DOUBLE)) AS BIGINT)
             END AS mean_surprisal_micro
      FROM base LEFT JOIN g USING (doc_id))
    SELECT doc_id, n_bigrams, mean_surprisal_micro,
           COALESCE(mean_surprisal_micro <= {_BSURP_MAX}, FALSE) AS kept
    FROM s
    """,
    doc="Deterministic distributed BIGRAM surprisal gate (X172) — the "
    "context-aware upgrade of curation_unigram_surprisal: word order "
    "matters now. Exact add-one bigram statistics over the whole "
    "trusted slice, per-bigram integer µnat weights with context and "
    "global OOV fallbacks from the same expression, zero-shuffle "
    "array-zip bigram construction, exact integer per-doc sums. The "
    "(w1, w2, weight) table is what a 100 TB run persists as its "
    "model.",
)
def curation_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from legendary_data_pipeline_spark.operators.lm import (
        bigram_surprisal_gate,
    )

    docs = load_table(spark, sf_dir, "documents")
    trusted = docs.filter(F.col("source") == "src0")
    return bigram_surprisal_gate(
        docs.filter(F.col("source") != "src0"),
        trusted,
        max_mean_micro=_BSURP_MAX,
        scale=_SURP_SCALE,
    )

# ---------------------------------------------------------------------------
# X178 full Gopher repetition suite (round 9)
# ---------------------------------------------------------------------------

_REP_LINES = (
    "list_filter(list_transform(string_split(coalesce(text, ''), chr(10)),"
    " __x -> trim(__x)), __x -> __x <> '')"
)
_REP_KEEP_SQL = " AND ".join(
    f"COALESCE({name} <= {thr}, TRUE)"
    for name, thr in (
        ("dup_line_frac", 0.30),
        ("dup_line_char_frac", 0.20),
        ("top_2gram_char_frac", 0.20),
        ("top_3gram_char_frac", 0.18),
        ("top_4gram_char_frac", 0.16),
        ("dup_5gram_char_frac", 0.15),
        ("dup_6gram_char_frac", 0.14),
        ("dup_7gram_char_frac", 0.13),
        ("dup_8gram_char_frac", 0.12),
        ("dup_9gram_char_frac", 0.11),
        ("dup_10gram_char_frac", 0.10),
    )
)


@register(
    "curation_gopher_repetition",
    f"""
    WITH base AS (
      SELECT doc_id, {_TOKS} AS t,
             length(coalesce(text, '')) AS chars,
             {_REP_LINES} AS ls
      FROM documents),
    lstats AS (
      SELECT doc_id, chars,
             CAST(len(ls) AS BIGINT) AS n_lines,
             CASE WHEN len(ls) > 0
                  THEN CAST(len(ls) - len(list_distinct(ls)) AS DOUBLE)
                       / CAST(len(ls) AS DOUBLE) END AS dup_line_frac,
             CASE WHEN chars > 0
                  THEN CAST(COALESCE(list_sum(list_transform(
                         list_distinct(ls),
                         __v -> CASE WHEN len(list_filter(ls,
                                      __x -> __x = __v)) >= 2
                                THEN (len(list_filter(ls, __x -> __x = __v))
                                      - 1) * length(__v) ELSE 0 END)), 0)
                       AS DOUBLE)
                       / CAST(chars AS DOUBLE)
             END AS dup_line_char_frac
      FROM base),
    ns AS (SELECT unnest(range(2, 11)) AS n),
    grams AS (
      SELECT doc_id, n,
             unnest(list_transform(range(1, len(t) - n + 2),
                    __j -> array_to_string(t[__j:__j + n - 1], ' '))) AS g
      FROM base, ns WHERE len(t) >= n),
    pg AS (
      SELECT doc_id, n, g, CAST(COUNT(*) AS BIGINT) AS c
      FROM grams GROUP BY 1, 2, 3),
    tops AS (
      SELECT doc_id, n, c * length(g) AS top_chars,
             ROW_NUMBER() OVER (PARTITION BY doc_id, n
               ORDER BY c DESC, length(g) DESC, g DESC) AS rn
      FROM pg WHERE c >= 2),
    dups AS (
      SELECT doc_id, n,
             COALESCE(SUM(CASE WHEN c >= 2 THEN (c - 1) * length(g) END), 0)
               AS dupchars
      FROM pg GROUP BY 1, 2),
    pn AS (
      SELECT d.doc_id, d.n, t.top_chars, d.dupchars
      FROM dups d LEFT JOIN tops t
        ON t.doc_id = d.doc_id AND t.n = d.n AND t.rn = 1),
    piv AS (
      SELECT doc_id,
             MAX(CASE WHEN n = 2 THEN top_chars END) AS top2,
             MAX(CASE WHEN n = 3 THEN top_chars END) AS top3,
             MAX(CASE WHEN n = 4 THEN top_chars END) AS top4,
             MAX(CASE WHEN n = 5 THEN dupchars END) AS dup5,
             MAX(CASE WHEN n = 6 THEN dupchars END) AS dup6,
             MAX(CASE WHEN n = 7 THEN dupchars END) AS dup7,
             MAX(CASE WHEN n = 8 THEN dupchars END) AS dup8,
             MAX(CASE WHEN n = 9 THEN dupchars END) AS dup9,
             MAX(CASE WHEN n = 10 THEN dupchars END) AS dup10
      FROM pn GROUP BY 1),
    sig AS (
      SELECT l.doc_id, l.n_lines, l.dup_line_frac, l.dup_line_char_frac,
             CASE WHEN p.doc_id IS NOT NULL
                  THEN CAST(COALESCE(p.top2, 0) AS DOUBLE)
                       / nullif(CAST(l.chars AS DOUBLE), 0.0)
             END AS top_2gram_char_frac,
             CASE WHEN p.doc_id IS NOT NULL
                  THEN CAST(COALESCE(p.top3, 0) AS DOUBLE)
                       / nullif(CAST(l.chars AS DOUBLE), 0.0)
             END AS top_3gram_char_frac,
             CASE WHEN p.doc_id IS NOT NULL
                  THEN CAST(COALESCE(p.top4, 0) AS DOUBLE)
                       / nullif(CAST(l.chars AS DOUBLE), 0.0)
             END AS top_4gram_char_frac,
             CASE WHEN p.doc_id IS NOT NULL
                  THEN CAST(COALESCE(p.dup5, 0) AS DOUBLE)
                       / nullif(CAST(l.chars AS DOUBLE), 0.0)
             END AS dup_5gram_char_frac,
             CASE WHEN p.doc_id IS NOT NULL
                  THEN CAST(COALESCE(p.dup6, 0) AS DOUBLE)
                       / nullif(CAST(l.chars AS DOUBLE), 0.0)
             END AS dup_6gram_char_frac,
             CASE WHEN p.doc_id IS NOT NULL
                  THEN CAST(COALESCE(p.dup7, 0) AS DOUBLE)
                       / nullif(CAST(l.chars AS DOUBLE), 0.0)
             END AS dup_7gram_char_frac,
             CASE WHEN p.doc_id IS NOT NULL
                  THEN CAST(COALESCE(p.dup8, 0) AS DOUBLE)
                       / nullif(CAST(l.chars AS DOUBLE), 0.0)
             END AS dup_8gram_char_frac,
             CASE WHEN p.doc_id IS NOT NULL
                  THEN CAST(COALESCE(p.dup9, 0) AS DOUBLE)
                       / nullif(CAST(l.chars AS DOUBLE), 0.0)
             END AS dup_9gram_char_frac,
             CASE WHEN p.doc_id IS NOT NULL
                  THEN CAST(COALESCE(p.dup10, 0) AS DOUBLE)
                       / nullif(CAST(l.chars AS DOUBLE), 0.0)
             END AS dup_10gram_char_frac
      FROM lstats l LEFT JOIN piv p USING (doc_id))
    SELECT *, {_REP_KEEP_SQL} AS rep_keep FROM sig
    """,
    doc="The COMPLETE Gopher repetition-removal rule set (Rae et al. "
    "2021 A1.1, all 11 signals — X178): duplicate-line fraction and "
    "character fraction, top-2/3/4-gram character fractions, and "
    "duplicate-5..10-gram character fractions, each gated at the "
    "published thresholds into one rep_keep verdict. Round-10: dup "
    "line/gram char fractions count REPEAT occurrences only "
    "((c-1)*len) over length(text), matching the reference "
    "implementations so the published thresholds apply as calibrated "
    "(remaining documented deviation: overlapping gram repeats are "
    "all counted where the reference's sequential scan skips n tokens "
    "after a hit — strictly >= the reference value). Lines are "
    "zero-shuffle per-row array HOFs; word n-grams explode ONCE "
    "across n=2..10 and aggregate keyed by doc id only. Every "
    "fraction is a raw IEEE ratio of exact integers.",
)
def curation_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    from legendary_data_pipeline_spark.operators.curation import (
        gopher_repetition_suite,
    )

    # load_distributed: the suite is pure compute-heavy per-row work,
    # and the small single-file local input otherwise arrives as ONE
    # scan partition that serializes it (r10 probe: 9.5 s -> ~1 s).
    docs = load_distributed(spark, sf_dir, "documents")
    return gopher_repetition_suite(docs)

# ---------------------------------------------------------------------------
# X179 FineWeb line-shape signals (round 9)
# ---------------------------------------------------------------------------


@register(
    "curation_fineweb_line_signals",
    f"""
    WITH base AS (
      SELECT doc_id, {_REP_LINES} AS ls FROM documents),
    sig AS (
      SELECT doc_id,
             CAST(len(ls) AS BIGINT) AS n_lines,
             CASE WHEN len(ls) > 0
                  THEN CAST(len(list_filter(ls, __x ->
                         right(__x, 1) IN ('.', '!', '?', '"', '''')))
                       AS DOUBLE) / CAST(len(ls) AS DOUBLE)
             END AS punct_line_frac,
             CASE WHEN len(ls) > 0
                  THEN CAST(len(list_filter(ls, __x -> length(__x) < 30))
                       AS DOUBLE) / CAST(len(ls) AS DOUBLE)
             END AS short_line_frac,
             CASE WHEN len(ls) > 0
                  THEN CAST(len(list_filter(ls, __x ->
                         regexp_matches(__x, '^(-|\\*|•|[0-9]+[.)])')))
                       AS DOUBLE) / CAST(len(ls) AS DOUBLE)
             END AS bullet_line_frac
      FROM base)
    SELECT doc_id, n_lines, punct_line_frac, short_line_frac,
           bullet_line_frac,
           COALESCE(short_line_frac <= 0.67
                    AND punct_line_frac >= 0.12
                    AND bullet_line_frac <= 0.90, FALSE) AS fineweb_keep
    FROM sig
    """,
    doc="FineWeb-style line-shape gates (Penedo et al. 2024 — X179): "
    "terminal-punctuation line fraction, short-line fraction, and "
    "bullet-line fraction with the ablation-tested thresholds. Nav "
    "menus and link farms fail these while passing word-count and "
    "repetition gates. Zero-shuffle array-HOF projection; raw IEEE "
    "ratios of exact line counts.",
)
def curation_fineweb_line_signals(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from legendary_data_pipeline_spark.operators.curation import (
        fineweb_line_signals,
    )

    docs = load_table(spark, sf_dir, "documents")
    return fineweb_line_signals(docs)

# ---------------------------------------------------------------------------
# X180 McNemar paired-gate disagreement test (round 9)
# ---------------------------------------------------------------------------


@register(
    "ht_mcnemar_gate_disagreement",
    f"""
    WITH base AS (
      SELECT doc_id,
             len(list_filter({_TOKS}, __w -> __w <> ''))
               BETWEEN 20 AND 400 AS a,
             {_REP_LINES} AS ls
      FROM documents),
    flags AS (
      SELECT doc_id, a,
             COALESCE(
               (CASE WHEN len(ls) > 0
                     THEN CAST(len(list_filter(ls, __x -> length(__x) < 30))
                          AS DOUBLE) / CAST(len(ls) AS DOUBLE) END) <= 0.67
               AND (CASE WHEN len(ls) > 0
                     THEN CAST(len(list_filter(ls, __x ->
                            right(__x, 1) IN ('.', '!', '?', '"', '''')))
                          AS DOUBLE) / CAST(len(ls) AS DOUBLE) END) >= 0.12
               AND (CASE WHEN len(ls) > 0
                     THEN CAST(len(list_filter(ls, __x ->
                            regexp_matches(__x, '^(-|\\*|•|[0-9]+[.)])')))
                          AS DOUBLE) / CAST(len(ls) AS DOUBLE) END) <= 0.90,
               FALSE) AS b
      FROM base),
    agg AS (
      SELECT
        CAST(SUM(CASE WHEN a AND b THEN 1 ELSE 0 END) AS BIGINT)
          AS both_yes,
        CAST(SUM(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END) AS BIGINT)
          AS both_no,
        CAST(SUM(CASE WHEN a AND NOT b THEN 1 ELSE 0 END) AS BIGINT)
          AS only_a,
        CAST(SUM(CASE WHEN NOT a AND b THEN 1 ELSE 0 END) AS BIGINT)
          AS only_b
      FROM flags)
    SELECT CAST(both_yes + both_no + only_a + only_b AS BIGINT) AS n,
           both_yes, both_no, only_a, only_b,
           CASE WHEN only_a + only_b > 0
                THEN (greatest(abs(CAST(only_a AS DOUBLE)
                                   - CAST(only_b AS DOUBLE)) - 1.0, 0.0)
                      * greatest(abs(CAST(only_a AS DOUBLE)
                                     - CAST(only_b AS DOUBLE)) - 1.0, 0.0))
                     / (CAST(only_a AS DOUBLE) + CAST(only_b AS DOUBLE))
           END AS chi2
    FROM agg
    """,
    doc="McNemar's paired test between two quality gates on the SAME "
    "documents (X180): does the token-length gate (20-400 words) "
    "disagree with the FineWeb line-shape gate beyond chance? The "
    "unpaired two-proportion z is wrong here — the samples are the "
    "same rows; McNemar uses only the discordant counts. Exact "
    "concordance cells from ONE aggregation; continuity-corrected "
    "chi2 is a raw IEEE ratio of exact integers.",
)
def ht_mcnemar_gate_disagreement(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from legendary_data_pipeline_spark.operators.curation import (
        fineweb_line_signals,
    )
    from legendary_data_pipeline_spark.operators.dedup import tokens_expr
    from legendary_data_pipeline_spark.operators.hypotests import (
        mcnemar_test,
    )

    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(tokens_expr("text"), lambda w: w != F.lit(""))
    flag_a = docs.select(
        "doc_id",
        ((F.size(toks) >= 20) & (F.size(toks) <= 400)).alias("a"),
    )
    flag_b = fineweb_line_signals(docs).select(
        "doc_id", F.col("fineweb_keep").alias("b")
    )
    paired = flag_a.join(flag_b, "doc_id")
    return mcnemar_test(paired, F.col("a"), F.col("b"))

# ---------------------------------------------------------------------------
# X185 Cochran's Q across the FineWeb line gates (round 9)
# ---------------------------------------------------------------------------


@register(
    "ht_cochrans_q_line_gates",
    f"""
    WITH base AS (
      SELECT doc_id, {_REP_LINES} AS ls FROM documents),
    sig AS (
      SELECT doc_id,
             CASE WHEN len(ls) > 0
                  THEN CAST(len(list_filter(ls, __x -> length(__x) < 30))
                       AS DOUBLE) / CAST(len(ls) AS DOUBLE) END AS shortf,
             CASE WHEN len(ls) > 0
                  THEN CAST(len(list_filter(ls, __x ->
                         right(__x, 1) IN ('.', '!', '?', '"', '''')))
                       AS DOUBLE) / CAST(len(ls) AS DOUBLE) END AS punctf,
             CASE WHEN len(ls) > 0
                  THEN CAST(len(list_filter(ls, __x ->
                         regexp_matches(__x, '^(-|\\*|•|[0-9]+[.)])')))
                       AS DOUBLE) / CAST(len(ls) AS DOUBLE) END AS bulletf
      FROM base),
    flags AS (
      SELECT CAST(shortf <= 0.67 AS INT) AS f0,
             CAST(punctf >= 0.12 AS INT) AS f1,
             CAST(bulletf <= 0.90 AS INT) AS f2
      FROM sig
      WHERE shortf IS NOT NULL AND punctf IS NOT NULL
        AND bulletf IS NOT NULL),
    agg AS (
      SELECT CAST(COUNT(*) AS HUGEINT) AS n,
             CAST(SUM(f0) AS HUGEINT) AS c0,
             CAST(SUM(f1) AS HUGEINT) AS c1,
             CAST(SUM(f2) AS HUGEINT) AS c2,
             CAST(SUM(f0 + f1 + f2) AS HUGEINT) AS sr,
             CAST(SUM((f0 + f1 + f2) * (f0 + f1 + f2)) AS HUGEINT) AS sr2
      FROM flags)
    SELECT CAST(n AS BIGINT) AS n,
           CAST(3 AS BIGINT) AS k,
           CAST(2 AS BIGINT) AS dof,
           CASE WHEN 3 * (3 * sr - sr2) > 0
                THEN (CAST(2 AS DOUBLE)
                      * CAST((3 * c0 - (c0 + c1 + c2))
                             * (3 * c0 - (c0 + c1 + c2))
                             + (3 * c1 - (c0 + c1 + c2))
                               * (3 * c1 - (c0 + c1 + c2))
                             + (3 * c2 - (c0 + c1 + c2))
                               * (3 * c2 - (c0 + c1 + c2)) AS DOUBLE))
                     / CAST(3 * (3 * sr - sr2) AS DOUBLE)
           END AS q
    FROM agg
    """,
    doc="Cochran's Q across the three FineWeb line gates on the SAME "
    "documents (X185) — the k-gate generalization of McNemar: do the "
    "short-line, punctuation, and bullet rules pass at different "
    "rates? Exact integer row/column sums from one aggregation (the "
    "fractional column mean multiplied out, so numerator and "
    "denominator are pure integers); Q is one raw IEEE division.",
)
def ht_cochrans_q_line_gates(spark: SparkSession, sf_dir: str) -> DataFrame:
    from legendary_data_pipeline_spark.operators.curation import (
        fineweb_line_signals,
    )
    from legendary_data_pipeline_spark.operators.hypotests import cochrans_q

    docs = load_table(spark, sf_dir, "documents")
    fw = fineweb_line_signals(docs)
    flags = fw.select(
        (F.col("short_line_frac") <= 0.67).alias("f0"),
        (F.col("punct_line_frac") >= 0.12).alias("f1"),
        (F.col("bullet_line_frac") <= 0.90).alias("f2"),
    )
    return cochrans_q(flags, ["f0", "f1", "f2"])


# ---------------------------------------------------------------------------
# X222/X223 — quality-classifier health readouts: held-out calibration
# and cross-source score drift for the hashed-NB filter
# ---------------------------------------------------------------------------


def _nb_model_ctes(pos_pred: str, neg_pred: str) -> str:
    """CTE chain ending in `w` (bucket, w) and `prior` (pr): the
    hashed-NB model trained on documents rows matching the two
    predicates — the exact SQL mirror of operators/classifier.train_nb
    (add-one smoothing over the m buckets, integer micro-nat weights,
    HALF_UP prior of ln(max(np,1)) − ln(max(nn,1)))."""
    return f"""
    trt AS (
      SELECT doc_id, unnest({_TOKS}) AS tok,
             CASE WHEN {pos_pred} THEN 1 ELSE 0 END AS is_pos
      FROM documents WHERE ({pos_pred}) OR ({neg_pred})),
    featt AS (
      SELECT is_pos, ({md5_long_sql("tok")}) % {_NB_M} AS bucket,
             COUNT(*) AS cnt
      FROM trt WHERE tok <> '' GROUP BY 1, 2),
    pos_b AS (SELECT bucket, SUM(cnt) AS c FROM featt
              WHERE is_pos = 1 GROUP BY 1),
    neg_b AS (SELECT bucket, SUM(cnt) AS c FROM featt
              WHERE is_pos = 0 GROUP BY 1),
    tot AS (
      SELECT (SELECT COALESCE(SUM(c), 0) FROM pos_b) AS pt,
             (SELECT COALESCE(SUM(c), 0) FROM neg_b) AS nt,
             (SELECT COUNT(*) FROM documents WHERE {pos_pred}) AS np,
             (SELECT COUNT(*) FROM documents WHERE {neg_pred}) AS nn),
    w AS (
      SELECT b.bucket,
             CAST(round((ln((COALESCE(p.c, 0) + 1.0) / (tot.pt + {_NB_M}))
                         - ln((COALESCE(n.c, 0) + 1.0)
                              / (tot.nt + {_NB_M})))
                        * {_NB_SCALE}, 0) AS BIGINT) AS w
      FROM (SELECT unnest(range({_NB_M})) AS bucket) b
      LEFT JOIN pos_b p USING (bucket)
      LEFT JOIN neg_b n USING (bucket)
      CROSS JOIN tot),
    prior AS (
      SELECT CAST(round((ln(greatest(np, 1)) - ln(greatest(nn, 1)))
                        * {_NB_SCALE}, 0) AS BIGINT) AS pr
      FROM tot)"""


def _nb_score_sql(hold_pred: str) -> str:
    """CTE `sc` (doc_id, source, score): hashed-NB scores for documents
    rows matching `hold_pred`, given the `w`/`prior` CTEs (mirror of
    operators/classifier.score_nb — docs with no tokens score exactly
    the prior)."""
    return f"""
    htoks AS (
      SELECT doc_id, unnest({_TOKS}) AS tok
      FROM documents WHERE {hold_pred}),
    hfeat AS (
      SELECT doc_id, ({md5_long_sql("tok")}) % {_NB_M} AS bucket,
             COUNT(*) AS cnt
      FROM htoks WHERE tok <> '' GROUP BY 1, 2),
    sc AS (
      SELECT d.doc_id, d.source,
             CAST(COALESCE(SUM(f.cnt * w.w), 0)
                  + (SELECT pr FROM prior) AS BIGINT) AS score
      FROM (SELECT doc_id, source FROM documents WHERE {hold_pred}) d
      LEFT JOIN hfeat f ON f.doc_id = d.doc_id
      LEFT JOIN w ON w.bucket = f.bucket
      GROUP BY 1, 2)"""


_NB_TRAIN_POS = "source = 'src0' AND doc_id % 2 = 0"
_NB_TRAIN_NEG = "source = 'src1' AND doc_id % 2 = 0"
_NB_HOLDOUT = "source IN ('src0', 'src1') AND doc_id % 2 = 1"


@register(
    "ml_nb_quality_calibration",
    f"""
    WITH {_nb_model_ctes(_NB_TRAIN_POS, _NB_TRAIN_NEG)},
    {_nb_score_sql(_NB_HOLDOUT)},
    pp AS (
      SELECT CASE WHEN source = 'src0' THEN 1 ELSE 0 END AS lab,
             0.5 + 0.5 * ((CAST(score AS DOUBLE) / 1e6)
                          / (1.0 + abs(CAST(score AS DOUBLE) / 1e6)))
               AS p
      FROM sc),
    b AS (SELECT least(CAST(floor(p * 10) AS BIGINT), 9) AS bin, lab
          FROM pp)
    SELECT bin,
           (CAST(bin AS DOUBLE) + 0.5) / 10.0 AS bin_mid,
           CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(lab) AS BIGINT) AS n_pos,
           CAST(round(CAST(SUM(lab) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                      * 1e6) AS BIGINT) AS frac_pos_e6
    FROM b GROUP BY 1
    """,
    doc="Quality-classifier calibration readout (X222): is the "
    "fastText-style hashed-NB filter's confidence honest on held-out "
    "seed docs? Train on the EVEN-doc_id half of the src0/src1 seeds, "
    "score the odd half (label = seed side), map the integer "
    "micro-nat log-odds through the SOFTSIGN link "
    "p = 0.5 + 0.5·s/(1+|s|), s = score/1e6 nats — softsign, not the "
    "logistic, because it is pure IEEE arithmetic (one div, one add, "
    "one abs: bit-identical across engines, where exp() is a libm "
    "call whose last-ulp drift could flip an equal-width bin edge) — "
    "then the standard 10-bin reliability diagram "
    "(operators/mleval.calibration_bins). The classic NB failure this "
    "surfaces: independence double-counting pushes |s| to 5-10 nats, "
    "so the diagram concentrates mass in the outer bins with "
    "frac_pos far from the bin mid = overconfidence, the readout "
    "that decides whether the filter's scores can gate by threshold "
    "or must be rank-ordered. Composes train_nb + score_nb + "
    "calibration_bins; the seed frame is pinned once so the final "
    "plan reads documents once (budget 2: pin fill + the m-row "
    "weight grid side).",
)
def ml_nb_quality_calibration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from legendary_data_pipeline_spark.operators.classifier import (
        score_nb,
        train_nb,
    )
    from legendary_data_pipeline_spark.operators.mleval import (
        calibration_bins,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    # One pin feeds train-pos, train-neg, holdout features AND the
    # holdout label join — without it each consumer replays the scan.
    seed = docs.filter(
        F.col("source").isin("src0", "src1")
    ).localCheckpoint(eager=False)
    even = F.col("doc_id") % 2 == 0
    weights, prior = train_nb(
        seed.filter((F.col("source") == "src0") & even),
        seed.filter((F.col("source") == "src1") & even),
        m=_NB_M,
        scale=_NB_SCALE,
    )
    hold = seed.filter(~even)
    scored = score_nb(hold, weights, prior, m=_NB_M)
    lab = scored.join(hold.select("doc_id", "source"), "doc_id")
    s = F.col("score").cast("double") / F.lit(1e6)
    p = F.lit(0.5) + F.lit(0.5) * (s / (F.lit(1.0) + F.abs(s)))
    frame = lab.select(
        p.alias("p"),
        (F.col("source") == "src0").cast("int").alias("label"),
    )
    return calibration_bins(frame, "p", "label", n_bins=10)


_NB_PSI_BIN_UNATS = 2_000_000  # 2-nat score bins (~10 categories)
_NB_PSI_BASE = "source = 'src2'"
_NB_PSI_CURR = "source = 'src3'"


@register(
    "dq_quality_score_psi_by_source",
    f"""
    WITH {_nb_model_ctes("source = 'src0'", "source = 'src1'")},
    {_nb_score_sql("source IN ('src2', 'src3')")},
    binned AS (
      SELECT source,
             CAST(CAST(floor(CAST(score AS DOUBLE)
                             / {_NB_PSI_BIN_UNATS}.0) AS BIGINT)
                  AS VARCHAR) AS value
      FROM sc),
    b AS (SELECT value, CAST(COUNT(*) AS BIGINT) AS n_base
          FROM binned WHERE {_NB_PSI_BASE} GROUP BY 1),
    c AS (SELECT value, CAST(COUNT(*) AS BIGINT) AS n_current
          FROM binned WHERE {_NB_PSI_CURR} GROUP BY 1),
    j AS (
      SELECT COALESCE(b.value, c.value) AS value,
             CAST(COALESCE(n_base, 0) AS BIGINT) AS n_base,
             CAST(COALESCE(n_current, 0) AS BIGINT) AS n_current
      FROM b FULL OUTER JOIN c ON b.value = c.value),
    t AS (SELECT CAST(SUM(n_base) AS BIGINT) AS tb,
                 CAST(SUM(n_current) AS BIGINT) AS tc,
                 CAST(COUNT(*) AS BIGINT) AS k FROM j),
    terms AS (
      SELECT value, n_base, n_current,
             (CAST(n_base AS DOUBLE) + 0.5)
               / (CAST(tb AS DOUBLE) + 0.5 * CAST(k AS DOUBLE)) AS p,
             (CAST(n_current AS DOUBLE) + 0.5)
               / (CAST(tc AS DOUBLE) + 0.5 * CAST(k AS DOUBLE)) AS q
      FROM j, t),
    rows_ AS (
      SELECT value, n_base, n_current,
             CAST(round(p * 1e6) AS BIGINT) AS p_base_e6,
             CAST(round(q * 1e6) AS BIGINT) AS p_current_e6,
             CAST(round((p - q) * ln(p / q) * 1e6) AS BIGINT)
               AS psi_term_e6,
             (p - q) * ln(p / q) AS t
      FROM terms),
    s AS (SELECT CAST(round(SUM(t) * 1e6) AS BIGINT) AS psi_e6
          FROM rows_)
    SELECT value, n_base, n_current, p_base_e6, p_current_e6,
           psi_term_e6, psi_e6
    FROM rows_, s
    """,
    doc="Quality-score drift monitor (X223): PSI of the hashed-NB "
    "quality score's distribution between two crawl sources (src2 = "
    "reference snapshot, src3 = current), the 'did corpus quality "
    "shift under the trained filter' alarm run before every training "
    "mix refresh — a score drift fires even when no single vocabulary "
    "bucket moves enough to trip the token-level monitors. Scores "
    "bin at 2-nat width (integer micro-nat floor-division — exact, "
    "no quantile estimation), then the standard Laplace-smoothed PSI "
    "over union categories (operators/profiling.psi_drift, e6 "
    "emission). Composes train_nb + score_nb + psi_drift; the scored "
    "frame is pinned so base/current category counts share one "
    "scoring pass. Budget 3: the seed pin, the m-row weight grid, "
    "and psi_drift's two count branches reading the scored pin.",
    scan_budget=3,
)
def dq_quality_score_psi_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from legendary_data_pipeline_spark.operators.classifier import (
        score_nb,
        train_nb,
    )
    from legendary_data_pipeline_spark.operators.profiling import psi_drift

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    seed = docs.filter(
        F.col("source").isin("src0", "src1")
    ).localCheckpoint(eager=False)
    weights, prior = train_nb(
        seed.filter(F.col("source") == "src0"),
        seed.filter(F.col("source") == "src1"),
        m=_NB_M,
        scale=_NB_SCALE,
    )
    rest = docs.filter(
        F.col("source").isin("src2", "src3")
    ).localCheckpoint(eager=False)
    scored = score_nb(rest, weights, prior, m=_NB_M).join(
        rest.select("doc_id", "source"), "doc_id"
    )
    binned = scored.select(
        "source",
        F.floor(
            F.col("score").cast("double") / F.lit(float(_NB_PSI_BIN_UNATS))
        ).cast("long").cast("string").alias("score_bin"),
    ).localCheckpoint(eager=False)
    return psi_drift(
        binned.filter(F.expr(_NB_PSI_BASE)),
        binned.filter(F.expr(_NB_PSI_CURR)),
        "score_bin",
        scaled_e6=True,
    )
