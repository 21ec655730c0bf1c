"""Corpus-curation operators for training-data pipelines (SURVEY.md §2.11):
decontamination (binary + graded), PII scrubbing, quality gates
(Gopher repetition + full document-level rules), boilerplate span
removal, stratified/weighted sampling, sequence packing and chunking,
mixture weighting, and reproducible shuffle-sharding over the
`documents` table.

All expressions stay JVM-side (built-in functions, no Python on the data
plane) and every hash uses the portable md5→60-bit scheme
(`functions.hashing`) so each operator is exactly replayable in DuckDB
for the correctness oracle.

Scale notes (100 TB) per operator are on the functions below; the common
theme: the corpus-sized side never shuffles on anything except the one
key the operator semantically requires, and the auxiliary side
(benchmark shingles, sampling rates, pack budgets) is broadcast.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from legendary_data_pipeline_spark.functions.hashing import (
    md5_long,
    seeded_md5_long,
)
from legendary_data_pipeline_spark.operators.dedup import shingle_sets, tokens_expr

# ---------------------------------------------------------------------------
# decontamination
# ---------------------------------------------------------------------------


def contamination_flags(
    train: DataFrame,
    benchmark: DataFrame,
    shingle_n: int = 3,
) -> DataFrame:
    """Flag training documents sharing any word-`shingle_n`-gram with the
    benchmark set (the standard n-gram-overlap eval-decontamination rule,
    e.g. GPT-3 appendix C / PaLM-style 8-gram checks — n is a knob).

    Returns `train` + `contaminated` boolean.

    100 TB shape: the benchmark side is eval suites — thousands of docs,
    not terabytes — so its distinct shingle set is broadcast and the
    corpus-side probe is a broadcast LEFT SEMI join: no shuffle of the
    training corpus at all. Shingling is one generator pass per side
    (`shingle_sets`, array slices fused in codegen).
    """
    train_sh = shingle_sets(train, "doc_id", "text", shingle_n).select(
        F.col("doc_id"), F.explode("__set").alias("__s")
    )
    bench_sh = (
        shingle_sets(benchmark, "doc_id", "text", shingle_n)
        .select(F.explode("__set").alias("__s"))
        .distinct()
    )
    hit_ids = (
        train_sh.join(F.broadcast(bench_sh), "__s", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("__hit", F.lit(True))
    )
    return train.join(hit_ids, "doc_id", "left").withColumn(
        "contaminated", F.coalesce(F.col("__hit"), F.lit(False))
    ).drop("__hit")


# ---------------------------------------------------------------------------
# PII scrubbing
# ---------------------------------------------------------------------------

#: deliberately RE2-safe patterns (no backrefs/lookaround) so the exact
#: same regex runs in Spark (Java regex) and DuckDB (RE2) oracles.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\b\d{3}-\d{3}-\d{4}\b"
IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


def pii_counts(text: Column) -> dict[str, Column]:
    """Occurrence counts per PII class (regexp_count, JVM-side)."""
    return {
        "emails": F.regexp_count(text, F.lit(EMAIL_RE)),
        "phones": F.regexp_count(text, F.lit(PHONE_RE)),
        "ipv4s": F.regexp_count(text, F.lit(IPV4_RE)),
    }


def scrub_pii(text: Column) -> Column:
    """Mask all PII classes with typed placeholder tokens.

    Order matters: emails first (an email's domain could otherwise be
    clipped by the ipv4 rule for numeric domains), then phones, then
    bare IPs. Pure `regexp_replace` chain — whole-stage codegen, no
    Python, linear scans per pattern.
    """
    out = F.regexp_replace(text, EMAIL_RE, "<EMAIL>")
    out = F.regexp_replace(out, PHONE_RE, "<PHONE>")
    return F.regexp_replace(out, IPV4_RE, "<IP>")


# ---------------------------------------------------------------------------
# repetition / quality (Gopher-style)
# ---------------------------------------------------------------------------


_TOP_TOKEN_MAX_FRAC = 0.20
_DUP_BIGRAM_MAX_FRAC = 0.40


def repetition_stats(df: DataFrame) -> DataFrame:
    """Per-document repetition signals + a keep/drop gate, after the
    Gopher repetition-removal rules (Rae et al. 2021 §A1.1): fraction of
    tokens taken by the single most frequent token, and fraction of
    duplicated bigrams. Docs exceeding either threshold are `low_quality`.

    One explode → one two-level aggregation per signal, merged by id.
    Both signals are map-side combinable counts; the only shuffle key is
    the doc id, and the fan-in per doc is bounded by document length —
    no skew beyond document size itself (cap extreme docs upstream).
    """
    toks = df.select(
        F.col("doc_id"),
        tokens_expr("text").alias("__t"),
    ).filter(F.size("__t") > 0)

    unigram = toks.select(F.col("doc_id"), F.explode("__t").alias("__w"))
    uni_counts = unigram.groupBy("doc_id", "__w").agg(
        F.count(F.lit(1)).alias("__c")
    )
    uni_stats = uni_counts.groupBy("doc_id").agg(
        F.sum("__c").alias("n_tokens"),
        F.max("__c").alias("__top_c"),
    )

    bigrams = toks.filter(F.size("__t") >= 2).select(
        F.col("doc_id"),
        F.explode(
            F.zip_with(
                F.slice(F.col("__t"), 1, F.size("__t") - 1),
                F.slice(F.col("__t"), 2, F.size("__t") - 1),
                lambda a, b: F.concat_ws(" ", a, b),
            )
        ).alias("__bg"),
    )
    bg_counts = bigrams.groupBy("doc_id", "__bg").agg(
        F.count(F.lit(1)).alias("__c")
    )
    bg_stats = bg_counts.groupBy("doc_id").agg(
        F.sum("__c").alias("__n_bg"),
        # a bigram occurring c times contributes c−1 duplicated instances
        F.sum(F.col("__c") - 1).alias("__dup_bg"),
    )

    top_frac = F.col("__top_c").cast("double") / F.col("n_tokens").cast("double")
    dup_frac = F.col("__dup_bg").cast("double") / F.col("__n_bg").cast("double")
    return (
        uni_stats.join(bg_stats, "doc_id", "left")
        .select(
            F.col("doc_id"),
            F.col("n_tokens"),
            top_frac.alias("top_token_frac"),
            F.coalesce(dup_frac, F.lit(0.0)).alias("dup_bigram_frac"),
        )
        .withColumn(
            "low_quality",
            (F.col("top_token_frac") > _TOP_TOKEN_MAX_FRAC)
            | (F.col("dup_bigram_frac") > _DUP_BIGRAM_MAX_FRAC),
        )
    )


# ---------------------------------------------------------------------------
# stratified sampling
# ---------------------------------------------------------------------------


def stratified_hash_sample(
    df: DataFrame,
    rates: Mapping[str, float],
    stratum_col: str = "lang",
    seed: int = 7,
    default_rate: float = 0.0,
) -> DataFrame:
    """Deterministic per-stratum downsampling: keep a row iff
    `seeded_md5(id) mod 10_000 < rate·10_000` for its stratum's rate —
    the corpus-mixing primitive (e.g. up/down-weighting sources or
    languages when composing a training mix).

    Hash-gated (not `sample()`): membership is a pure function of the id,
    so reruns, retries, and other engines (the DuckDB oracle) select the
    IDENTICAL subset — reproducible mixes are non-negotiable for training
    pipelines. Pure column expressions; the rate ladder is a literal
    CASE tree (strata counts are small); zero shuffles added.
    """
    bucket = seeded_md5_long(F.col("doc_id").cast("string"), seed) % 10_000
    # round(), not int(): float products like 0.57*10000 land at
    # 5699.999…, and truncation would silently drop the top bucket the
    # contract says to keep.
    rate_expr: Column = F.lit(int(round(default_rate * 10_000)))
    for stratum, rate in sorted(rates.items()):
        rate_expr = (
            F.when(
                F.col(stratum_col) == stratum, F.lit(int(round(rate * 10_000)))
            ).otherwise(rate_expr)
        )
    return df.withColumn("keep", bucket < rate_expr)


def stratified_take_n(
    df: DataFrame,
    n: int,
    stratum_col: str = "lang",
    id_col: str = "doc_id",
    seed: int = 7,
) -> DataFrame:
    """Exactly min(n, |stratum|) rows per stratum, selected and ordered
    by a seeded hash of the id — the count-based companion to
    `stratified_hash_sample` (rate-based). Use it when the mix recipe
    says "N documents per language/source", not "x% of each".

    Hash-ordering makes the selection a uniform random sample that is a
    pure function of the data: reruns, retries, and other engines pick
    the identical N. One window partitioned by the stratum; the rank is
    evaluated inside the window stage, so each partition does a bounded
    top-N, never a global sort.
    """
    from legendary_data_pipeline_spark.operators.ranking import top_k_per_group

    order = [
        seeded_md5_long(F.col(id_col).cast("string"), seed).asc(),
        F.col(id_col).asc(),
    ]
    return top_k_per_group(df, [stratum_col], order, k=n, rank_col="sample_rank")


# ---------------------------------------------------------------------------
# sequence packing
# ---------------------------------------------------------------------------


def pack_sequences(
    df: DataFrame,
    budget_tokens: int,
    n_shard_buckets: int | None = None,
    shard_seed: int = 7,
) -> DataFrame:
    """Assign documents to fixed-token-budget packs: concat-then-chunk
    packing (the streaming strategy production training pipelines use —
    order documents deterministically, accumulate token counts, cut a
    new pack when the running total crosses the budget).

    pack_id = floor((cumsum(tokens) − tokens) / budget) within each
    shard: a document lands in the pack where its FIRST token falls.
    Documents longer than the budget span packs conceptually; they keep
    the pack of their first token (`chunk_sequences` is the companion
    that splits them across packs).

    `n_shard_buckets` is the 100 TB knob: when set, the shard key
    becomes (lang, shard_bucket) with shard_bucket =
    seeded_md5(id) mod n_shard_buckets — a composite shard (e.g.
    lang × 4096 buckets) sized so each shard's token stream fits one
    task, since the cumulative-sum window sorts WITHIN one partition per
    shard. Packing quality is unaffected (budgets are per shard anyway)
    and the bucket is a pure hash of the id, so the layout is
    reproducible across engines/reruns. Output gains a `shard_bucket`
    column; pack_id is per (shard, bucket). No single-partition stage
    exists in this plan at any setting.
    """
    tokens = F.size(tokens_expr("text"))
    base = df.select(
        F.col("lang"), F.col("doc_id"), tokens.alias("n_tokens")
    )
    if n_shard_buckets is not None:
        bucket = (
            seeded_md5_long(F.col("doc_id").cast("string"), shard_seed)
            % n_shard_buckets
        )
        base = base.withColumn("shard_bucket", bucket)
        w = Window.partitionBy("lang", "shard_bucket").orderBy("doc_id")
    else:
        w = Window.partitionBy("lang").orderBy("doc_id")
    cum = F.sum("n_tokens").over(w)
    return base.withColumn(
        "pack_id",
        F.floor((cum - F.col("n_tokens")) / F.lit(budget_tokens)).cast("long"),
    )


_SHARD_SEED = 7


def chunk_sequences(
    df: DataFrame,
    budget_tokens: int,
    n_shard_buckets: int | None = None,
) -> DataFrame:
    """Pack assignment that SPLITS over-budget documents across packs —
    the other packing strategy real training pipelines use (every pack
    is exactly `budget_tokens` full except each shard's last).

    The concatenated token stream of a shard places each document at
    positions [cum − n_tokens, cum); the document emits one row per
    pack that range overlaps (posexplode over the pack-id sequence),
    with `chunk_tokens` = overlap length and `chunk_idx` numbering the
    doc's chunks from 0. Σ chunk_tokens = n_tokens per doc, and every
    pack's Σ chunk_tokens = budget (except the shard tail) — both are
    assertable invariants.

    Same sharding contract as `pack_sequences`, including the
    `n_shard_buckets` composite-shard knob for 100 TB. The explode adds
    ceil(n_tokens/budget) − 1 extra rows per doc — proportional to the
    data already being read, never quadratic.
    """
    tokens = F.size(tokens_expr("text"))
    base = df.select(
        F.col("lang"), F.col("doc_id"), tokens.alias("n_tokens")
    ).filter(F.col("n_tokens") > 0)
    if n_shard_buckets is not None:
        bucket = (
            seeded_md5_long(F.col("doc_id").cast("string"), _SHARD_SEED)
            % n_shard_buckets
        )
        base = base.withColumn("shard_bucket", bucket)
        w = Window.partitionBy("lang", "shard_bucket").orderBy("doc_id")
        keep_cols = ["lang", "shard_bucket", "doc_id", "n_tokens"]
    else:
        w = Window.partitionBy("lang").orderBy("doc_id")
        keep_cols = ["lang", "doc_id", "n_tokens"]
    spanned = base.withColumn("__end", F.sum("n_tokens").over(w)).withColumn(
        "__start", F.col("__end") - F.col("n_tokens")
    )
    first_pack = F.floor(F.col("__start") / F.lit(budget_tokens))
    last_pack = F.floor((F.col("__end") - 1) / F.lit(budget_tokens))
    chunked = spanned.select(
        *keep_cols,
        "__start",
        "__end",
        F.posexplode(F.sequence(first_pack, last_pack)).alias(
            "chunk_idx", "pack_id"
        ),
    )
    chunk_tokens = F.least(
        F.col("__end"), (F.col("pack_id") + 1) * budget_tokens
    ) - F.greatest(F.col("__start"), F.col("pack_id") * budget_tokens)
    return chunked.select(
        *keep_cols,
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.col("pack_id").cast("long").alias("pack_id"),
        chunk_tokens.cast("long").alias("chunk_tokens"),
    )


# ---------------------------------------------------------------------------
# reproducible global shuffle + sharding
# ---------------------------------------------------------------------------


def shuffle_shard(
    df: DataFrame,
    n_shards: int,
    seed: int = 7,
) -> DataFrame:
    """Reproducible global corpus shuffle: every row gets a (shard,
    position) address that is a pure function of (id, seed) — the step
    that turns a curated corpus into randomized training shards.

    shard = seeded_md5(id) mod n_shards; position = rank of the seeded
    hash within the shard (ties broken by id, so the permutation is
    total even under hash collisions). Reading shards 0..n−1 in position
    order replays one fixed uniform permutation of the corpus —
    identical across reruns, retries, and engines, which `orderBy(rand())`
    can never give.

    Scale (100 TB): one shuffle on the shard key, then a per-shard sort
    — `n_shards` is the knob that bounds sort size (pick shards of a few
    GiB; 100k shards is fine — the shard key is a long). No global sort,
    no single-partition stage, and changing `seed` re-deals every epoch.
    """
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    h = seeded_md5_long(F.col("doc_id").cast("string"), seed)
    w = Window.partitionBy("shard").orderBy(
        F.col("__h").asc(), F.col("doc_id").asc()
    )
    return (
        df.withColumn("__h", h)
        .withColumn("shard", (F.col("__h") % n_shards).cast("long"))
        .withColumn("shard_pos", (F.row_number().over(w) - 1).cast("long"))
        .drop("__h")
    )


# ---------------------------------------------------------------------------
# data mixture: per-stratum repeat weights
# ---------------------------------------------------------------------------


def repeat_by_weight(
    df: DataFrame,
    weights: Mapping[str, float],
    stratum_col: str = "source",
    seed: int = 11,
    default_weight: float = 1.0,
) -> DataFrame:
    """Compose a training mixture by per-stratum REPEAT weights: weight
    2.3 on a source emits every doc twice plus a deterministic 30% of
    docs a third time; weight 0.4 keeps a 40% subset once; weight 0
    drops the stratum. Emitted copies carry `epoch` = 0..k−1 so
    downstream sharding can interleave epochs.

    This is the up/down-weighting step of mixture recipes (à la
    Pile/DoReMi source weights): copies = floor(w) + (seeded_md5(id)
    mod 10000 < frac(w)·10000). The fractional copy is hash-gated on the
    id — a pure function of the data, so the mix is identical across
    reruns, retries, and engines, and the SAME ids get the extra copy
    that `stratified_hash_sample` would select at rate frac(w) (one
    consistent notion of "the first x% of a stratum").

    Scale (100 TB): the weight ladder is a literal CASE tree (strata are
    few); the only data motion is the explode, which multiplies rows by
    the intended mixture factor — no shuffle is added. Feed the result
    to `shuffle_shard` (keyed on id + epoch) to deal the mix into
    shards.
    """
    w10k_expr: Column = F.lit(int(round(default_weight * 10_000)))
    for stratum, wt in sorted(weights.items()):
        if wt < 0:
            raise ValueError(f"negative weight for {stratum!r}: {wt}")
        w10k_expr = F.when(
            F.col(stratum_col) == stratum, F.lit(int(round(wt * 10_000)))
        ).otherwise(w10k_expr)
    bucket = seeded_md5_long(F.col("doc_id").cast("string"), seed) % 10_000
    copies = (w10k_expr / 10_000).cast("long") + (
        bucket < w10k_expr % 10_000
    ).cast("long")
    # sequence(0, -1) would produce a DESCENDING ramp, not an empty
    # array — gate zero-copy rows explicitly.
    epochs = F.when(
        copies > 0, F.sequence(F.lit(0).cast("long"), copies - 1)
    ).otherwise(F.array().cast("array<long>"))
    return df.withColumn("epoch", F.explode(epochs))


# ---------------------------------------------------------------------------
# boilerplate span removal
# ---------------------------------------------------------------------------


def span_frame(
    df: DataFrame,
    span_tokens: int = 16,
) -> DataFrame:
    """(id, span_idx, span_text, span_hash) — each document cut into
    consecutive non-overlapping `span_tokens`-token windows (the last
    span keeps the remainder). The unit of corpus-level boilerplate
    detection: headers, footers, navigation chrome, and license blurbs
    repeat VERBATIM across documents at span granularity even when whole
    documents differ.

    Pure column expressions (split once, `transform(sequence(...))` of
    array slices, one md5 per span) + one posexplode — span building
    adds no shuffle; rows multiply by ~n_tokens/span_tokens.
    """
    if span_tokens < 1:
        raise ValueError(f"span_tokens must be >= 1, got {span_tokens}")
    toks = tokens_expr("text")

    def spans_of(t: Column) -> Column:
        n_spans = F.ceil(F.size(t) / F.lit(float(span_tokens))).cast("int")
        return F.transform(
            F.sequence(F.lit(0), n_spans - 1),
            lambda i: F.concat_ws(
                " ", F.slice(t, i * span_tokens + 1, span_tokens)
            ),
        )

    spans = F.transform(F.array(toks), spans_of)[0]
    exploded = df.select(
        F.col("doc_id"),
        F.posexplode(
            F.when(F.size(toks) > 0, spans).otherwise(
                F.array().cast("array<string>")
            )
        ).alias("span_idx", "span_text"),
    )
    return exploded.select(
        "doc_id",
        F.col("span_idx").cast("long").alias("span_idx"),
        "span_text",
        md5_long(F.col("span_text")).alias("span_hash"),
    )


def boilerplate_span_stats(
    df: DataFrame,
    span_tokens: int = 16,
    min_docs: int = 2,
) -> DataFrame:
    """Per-document boilerplate profile: `n_spans`,
    `n_boilerplate_spans` (spans whose text occurs in ≥ `min_docs`
    DISTINCT documents corpus-wide), and `boilerplate_frac`.

    The CCNet/RefinedWeb-style repeated-block signal, at span instead of
    line granularity (the synthetic corpus has no newlines; on real data
    pass line-split spans). Feed the frac into quality gates alongside
    `repetition_stats` (intra-doc) — this one is the INTER-doc signal.

    Scale (100 TB): span frequency is groupBy(span_hash) with
    count(DISTINCT id) — two-level agg, map-side combinable, keyed on a
    60-bit hash (uniform, no skew); the per-doc rollup shuffles on the
    id. The span frame is built once and reused for both sides of the
    flag join, whose key is again the uniform span_hash.
    """
    # Pin the span frame (it feeds the frequency table AND the flag
    # join — exchange reuse is not a scan guarantee, r11 lesson).
    spans = span_frame(df, span_tokens=span_tokens).localCheckpoint(
        eager=False
    )
    freq = spans.groupBy("span_hash").agg(
        F.count_distinct(F.col("doc_id")).alias("__docs")
    )
    flagged = spans.join(
        freq.filter(F.col("__docs") >= min_docs).select(
            "span_hash", F.lit(True).alias("__boiler")
        ),
        "span_hash",
        "left",
    )
    frac = F.col("n_boilerplate_spans").cast("double") / F.col(
        "n_spans"
    ).cast("double")
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(F.coalesce(F.col("__boiler"), F.lit(False)).cast("long")).alias(
                "n_boilerplate_spans"
            ),
        )
        .select(
            "doc_id",
            "n_spans",
            "n_boilerplate_spans",
            frac.alias("boilerplate_frac"),
        )
    )


def strip_boilerplate(
    df: DataFrame,
    span_tokens: int = 16,
    min_docs: int = 2,
) -> DataFrame:
    """Remove corpus-level boilerplate spans from each document: the
    companion transform to `boilerplate_span_stats` — spans repeated in
    ≥ `min_docs` distinct docs are dropped and the survivors are
    rejoined in original order. Documents that were ALL boilerplate
    come back with an empty string (kept, so the caller decides the
    drop policy).

    Same shuffle profile as the stats pass; the rejoin aggregates
    surviving (span_idx, span_text) structs per doc and sorts WITHIN the
    row (array_sort on the struct — span counts are document-sized, not
    corpus-sized).
    """
    # Pin the span frame: it feeds both the corpus-level frequency
    # table and the survivor anti-join; unpinned, each consumer
    # replays the tokenize+span scan (r13 audit: 3 corpus scans).
    # The pinned frame is ~1x the corpus text (spans partition the
    # tokens) — one materialization in exchange for two avoided
    # full scans + re-tokenizations; at 100 TB this is the standard
    # checkpoint-vs-recompute trade and either side is one knob away
    # (drop the pin to trade local disk for scan bandwidth).
    spans = span_frame(df, span_tokens=span_tokens).localCheckpoint(
        eager=False
    )
    freq = spans.groupBy("span_hash").agg(
        F.count_distinct(F.col("doc_id")).alias("__docs")
    )
    kept = spans.join(
        freq.filter(F.col("__docs") >= min_docs).select("span_hash"),
        "span_hash",
        "left_anti",
    )
    rebuilt = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("span_idx", "span_text"))
                ),
                lambda s: s["span_text"],
            ),
            " ",
        ).alias("clean_text")
    )
    return df.join(rebuilt, "doc_id", "left").withColumn(
        "clean_text", F.coalesce(F.col("clean_text"), F.lit(""))
    )


# ---------------------------------------------------------------------------
# weighted sampling without replacement
# ---------------------------------------------------------------------------


_KEY_DECIMALS = 9


def weighted_sample_n(
    df: DataFrame,
    n: int,
    weight_col: str,
    stratum_col: str | None = None,
    seed: int = 13,
) -> DataFrame:
    """Weighted sampling WITHOUT replacement: exactly min(n, |stratum|)
    rows per stratum (one global stratum when `stratum_col` is None),
    inclusion probability increasing in `weight_col` — e.g. favor long
    or high-quality documents when drawing a fixed-size training subset.

    Efraimidis–Spirakis A-ES keys: key = u^(1/w) with u uniform in
    (0,1]; the n largest keys are a weighted draw without replacement.
    u derives from seeded_md5(id) — NOT rand() — so the draw is a pure
    function of (data, seed): reruns, retries, and the DuckDB oracle
    select the identical rows. Keys are rounded to 9 decimals before
    ranking (ties then broken by id) so the float pow() ranks
    identically across engines — the same rounding contract the cosine
    operators use.

    Rows with NULL or non-positive weight are excluded (w→0 ⇒ key→0
    in the limit, i.e. never preferred; excluding them makes that exact
    instead of float-asymptotic).

    Scale (100 TB): per-stratum window top-N rides WindowGroupLimit
    (bounded heap per partition, no global sort); one shuffle on the
    stratum key. For the unstratified case the window is global — wrap
    with a composite stratum (hash buckets) and re-rank the n·buckets
    survivors if a single reducer is ever the bottleneck.
    """
    from legendary_data_pipeline_spark.operators.ranking import top_k_per_group

    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    u = (
        seeded_md5_long(F.col("doc_id").cast("string"), seed).cast("double")
        + F.lit(1.0)
    ) / F.lit(float(1 << 60))
    w = F.col(weight_col).cast("double")
    key = F.round(F.pow(u, F.lit(1.0) / w), _KEY_DECIMALS)
    filtered = df.filter(w > 0).withColumn("__key", key)
    order = [F.col("__key").desc(), F.col("doc_id").asc()]
    groups = [stratum_col] if stratum_col is not None else []
    return top_k_per_group(
        filtered, groups, order, k=n, rank_col="sample_rank"
    ).drop("__key")


# ---------------------------------------------------------------------------
# contamination scoring (graded companion to contamination_flags)
# ---------------------------------------------------------------------------


def contamination_scores(
    train: DataFrame,
    benchmark: DataFrame,
    shingle_n: int = 3,
    flag_threshold: float = 0.1,
) -> DataFrame:
    """Graded decontamination: per training doc, the FRACTION of its
    distinct word-`shingle_n`-grams that appear anywhere in the
    benchmark set (`contamination_frac`), plus `contaminated` =
    frac ≥ `flag_threshold`.

    The binary `contamination_flags` drops a doc for ONE shared shingle
    — right for exact eval strings, too blunt for long docs that merely
    quote a common phrase. The overlap fraction is what
    threshold-tuning needs (the usual dial in published dedup/decontam
    recipes).

    Scale (100 TB): identical probe shape to `contamination_flags` —
    benchmark shingles are eval-suite-sized, so the probe is a broadcast
    join against the exploded training shingles; counting hits is one
    groupBy(id) with map-side combine. The corpus never shuffles on
    anything but the id.

    Returns (id, n_shingles, n_contaminated, contamination_frac,
    contaminated); docs with fewer than `shingle_n` tokens have no
    shingles and are reported with n_shingles = 0, frac = 0.0.
    """
    train_sh = shingle_sets(train, "doc_id", "text", shingle_n).select(
        F.col("doc_id"), F.explode("__set").alias("__s")
    )
    bench_sh = (
        shingle_sets(benchmark, "doc_id", "text", shingle_n)
        .select(F.explode("__set").alias("__s"))
        .distinct()
        .withColumn("__hit", F.lit(True))
    )
    probed = train_sh.join(F.broadcast(bench_sh), "__s", "left")
    per_doc = probed.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.sum(F.coalesce(F.col("__hit"), F.lit(False)).cast("long")).alias(
            "n_contaminated"
        ),
    )
    frac = (
        F.col("n_contaminated").cast("double")
        / F.col("n_shingles").cast("double")
    )
    ids = train.select(F.col("doc_id"))
    return (
        ids.join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_shingles"), F.lit(0)).alias("n_shingles"),
            F.coalesce(F.col("n_contaminated"), F.lit(0)).alias(
                "n_contaminated"
            ),
            F.coalesce(frac, F.lit(0.0)).alias("contamination_frac"),
        )
        .withColumn(
            "contaminated", F.col("contamination_frac") >= flag_threshold
        )
    )


# ---------------------------------------------------------------------------
# Gopher quality gates (full published rule set)
# ---------------------------------------------------------------------------

#: stopwords for the "contains common words" rule, intersected with the
#: engine's fixture vocabulary so the rule exercises on synthetic data.
GOPHER_STOPWORDS: tuple[str, ...] = ("the", "a", "and", "of", "to")


_MIN_WORDS = 50
_MAX_WORDS = 100_000
_MIN_MEAN_WORD_LEN = 3.0
_MAX_MEAN_WORD_LEN = 10.0
_MAX_SYMBOL_RATIO = 0.1
_MIN_ALPHA_WORD_FRAC = 0.8
_MIN_STOPWORDS = 2


def gopher_gates(
    df: DataFrame,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """The document-level Gopher quality rules (Rae et al. 2021 §A1.1)
    in one pass: word-count bounds, mean word length bounds,
    symbol-to-word ratio (per the paper: OCCURRENCES of '#' and of
    ellipsis — both the ASCII '...' and U+2026 forms — each ratioed
    against the word count, gated on EITHER exceeding the threshold),
    fraction of words containing an alphabetic character, and a
    minimum stopword count. Returns every signal plus per-rule booleans
    and the combined `gopher_keep` — keep the signals, not just the
    verdict, so thresholds stay tunable downstream without recomputing.

    (The published line-level rules — bullet/ellipsis line fractions —
    need line structure this fixture lacks; `repetition_stats` carries
    the repetition rules.) The token array binds ONCE via a named
    column — higher-order functions get no codegen CSE, so inlining it
    into each signal would re-tokenize every row ~6 times. Zero
    shuffles; exactly replayable in DuckDB.
    """
    base = df.withColumn(
        "__words", F.filter(tokens_expr("text"), lambda t: t != F.lit(""))
    )
    words = F.col("__words")
    n_words = F.size(words)
    # Raw IEEE ratios of exact integer counts — bit-stable without a
    # fractional round (round-9 representation audit); the rule
    # thresholds compare the same raw doubles on both engines.
    mean_len = (
        F.aggregate(
            words,
            F.lit(0).cast("long"),
            lambda acc, w: acc + F.length(w),
        ).cast("double")
        / F.nullif(n_words.cast("double"), F.lit(0.0))
    )
    n_hash = F.regexp_count(F.col("text"), F.lit("#"))
    n_ellipsis = F.regexp_count(F.col("text"), F.lit(r"\.\.\.|…"))
    hash_ratio = n_hash.cast("double") / F.nullif(
        n_words.cast("double"), F.lit(0.0)
    )
    ellipsis_ratio = n_ellipsis.cast("double") / F.nullif(
        n_words.cast("double"), F.lit(0.0)
    )
    n_alpha = F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]")))
    alpha_frac = n_alpha.cast("double") / F.nullif(
        n_words.cast("double"), F.lit(0.0)
    )
    stop_arr = F.array(*[F.lit(s) for s in GOPHER_STOPWORDS])
    n_stop = F.size(
        F.filter(words, lambda w: F.array_contains(stop_arr, F.lower(w)))
    )
    out = base.select(
        F.col("doc_id"),
        n_words.cast("long").alias("n_words"),
        mean_len.alias("mean_word_len"),
        hash_ratio.alias("hash_ratio"),
        ellipsis_ratio.alias("ellipsis_ratio"),
        alpha_frac.alias("alpha_word_frac"),
        n_stop.cast("long").alias("n_stopwords"),
        # keep_cols: pass-through columns so downstream gate stages can
        # FUSE into this projection (one corpus scan) instead of
        # re-scanning and joining per gate — additive, default empty.
        *[F.col(c) for c in keep_cols],
    )
    rules = {
        "pass_word_count": (F.col("n_words") >= _MIN_WORDS)
        & (F.col("n_words") <= _MAX_WORDS),
        "pass_mean_word_len": (F.col("mean_word_len") >= _MIN_MEAN_WORD_LEN)
        & (F.col("mean_word_len") <= _MAX_MEAN_WORD_LEN),
        "pass_symbol_ratio": (F.col("hash_ratio") <= _MAX_SYMBOL_RATIO)
        & (F.col("ellipsis_ratio") <= _MAX_SYMBOL_RATIO),
        "pass_alpha_words": F.col("alpha_word_frac") >= _MIN_ALPHA_WORD_FRAC,
        "pass_stopwords": F.col("n_stopwords") >= _MIN_STOPWORDS,
    }
    keep = F.lit(True)
    for name, cond in rules.items():
        cond = F.coalesce(cond, F.lit(False))
        out = out.withColumn(name, cond)
        keep = keep & cond
    return out.withColumn("gopher_keep", keep)


# ---------------------------------------------------------------------------
# percentile winsorization / outlier trim
# ---------------------------------------------------------------------------

def winsorize_outliers(
    df: DataFrame,
    value_col: str,
    group_col: str | None = None,
    lo: float = 0.05,
    hi: float = 0.95,
) -> DataFrame:
    """Per-group percentile outlier gate: annotate each row with the
    group's exact [lo, hi] quantile bounds of `value_col` and a `keep`
    verdict (inside the bounds, inclusive).

    The standard length/score outlier trim of curation pipelines
    (tails of the token-count or quality-score distribution are crawl
    junk), kept as an annotation so thresholds stay tunable without
    recomputation — filter on `keep` to trim.

    Scale (100 TB): exact `percentile()` per group is a sort-based
    aggregate over each group's values — fine for the per-LANG grouping
    this targets (few, large groups; Spark aggregates them in
    parallel). The bounds frame is group-cardinality-sized and
    broadcast back. For percentiles over high-cardinality groups use
    `approx_percentile` and drop the oracle pairing.
    """
    gcols = [group_col] if group_col else []
    v = F.col(value_col).cast("double")
    bounds = df.groupBy(*gcols).agg(
        F.expr(f"percentile({value_col}, {lo})").alias("__lo"),
        F.expr(f"percentile({value_col}, {hi})").alias("__hi"),
    )
    if gcols:
        # Null-safe key: groupBy puts NULL-group rows in their own
        # stratum; a plain equi-join would then silently DROP them
        # (null never equals null) — data loss, not a gate decision.
        joined = df.join(
            F.broadcast(bounds.withColumnRenamed(group_col, "__grp")),
            F.col(group_col).eqNullSafe(F.col("__grp")),
        ).drop("__grp")
    else:
        joined = df.crossJoin(F.broadcast(bounds))
    return joined.select(
        *df.columns,
        F.col("__lo").alias("lo_bound"),
        F.col("__hi").alias("hi_bound"),
        ((v >= F.col("__lo")) & (v <= F.col("__hi"))).alias("keep"),
    )


# ---------------------------------------------------------------------------
# temperature-based domain mixing
# ---------------------------------------------------------------------------

def temperature_mix(
    df: DataFrame,
    alpha: float = 0.5,
    budget_frac: float = 0.5,
    tokens_col: str = "n_tokens",
    seed: int = 11,
) -> DataFrame:
    """Temperature-controlled corpus mixing (the multilingual sampling
    rule of XLM-R / mT5): re-weight strata by `n_d^alpha` so low-resource
    domains are up-weighted relative to their raw share, then derive a
    deterministic per-stratum KEEP rate that hits a total token budget
    of `budget_frac * total_tokens`.

        p_d   = n_d^alpha / sum_e n_e^alpha
        rate_d = min(1, budget_frac * N * p_d / n_d)

    alpha=1 reproduces proportional sampling; alpha=0 gives every
    stratum an equal token share. Rows are gated by the engine's
    reproducible hash convention (`seeded_md5(id) mod 10k <
    round(rate*10k)` — same as `stratified_hash_sample`), so the mix
    replays identically across engines and reruns.

    Scale (100 TB): two map-side-combinable aggregates (per-stratum and
    global token totals — stratum-cardinality frames), broadcast back;
    the gate itself is a pure column expression. No data-sized shuffle.
    """
    # Pin the stratum totals (stratum-cardinality — KiB-scale): they
    # feed both the normalizer agg and the rate projection; unpinned,
    # each consumer replays the corpus scan (r13 audit: 3 scans).
    nd = df.groupBy("lang").agg(
        F.sum(F.col(tokens_col)).cast("double").alias("__nd")
    ).localCheckpoint(eager=False)
    z = nd.agg(
        F.sum(F.pow("__nd", F.lit(float(alpha)))).alias("__z"),
        F.sum("__nd").alias("__n_total"),
    )
    rates = (
        nd.crossJoin(F.broadcast(z))
        .select(
            "lang",
            F.least(
                F.lit(1.0),
                F.lit(float(budget_frac))
                * F.col("__n_total")
                * F.pow("__nd", F.lit(float(alpha)))
                / F.col("__z")
                / F.col("__nd"),
            ).alias("__rate"),
        )
    )
    bucket = seeded_md5_long(F.col("doc_id").cast("string"), seed) % 10_000
    # Null-safe stratum join: a NULL stratum is a stratum (it already
    # contributed to __z/__n_total above); equi-join would drop its rows.
    return (
        df.join(
            F.broadcast(rates.withColumnRenamed("lang", "__strat")),
            F.col("lang").eqNullSafe(F.col("__strat")),
        )
        .drop("__strat")
        .select(
            *df.columns,
            F.round(F.col("__rate"), 6).alias("rate"),
            (bucket < F.round(F.col("__rate") * 10_000, 0).cast("long")).alias(
                "keep"
            ),
        )
    )


def sliding_chunks(
    df: DataFrame,
    size_tokens: int,
    stride_tokens: int,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Sliding-window document chunking with overlap (the HF
    `return_overflowing_tokens` + stride shape): windows of
    `size_tokens` starting every `stride_tokens`, so consecutive chunks
    share `size - stride` tokens of context — how long documents are
    fed to a fixed-context model without losing cross-boundary text.

    Chunk starts run 1, 1+stride, … up to `n − size + stride` (clamped
    to [1, n]), which guarantees full coverage while never emitting a
    tail chunk whose tokens are all contained in the previous chunk.
    The final chunk may be shorter than `size_tokens`.

    Output: (id, *keep_cols, chunk_idx, start_pos, n_chunk_tokens,
    chunk_text). Pure per-row array expressions — the explode emits
    ~n/stride rows per doc (proportional to input, never quadratic),
    zero shuffles.
    """
    if size_tokens < 1 or stride_tokens < 1:
        raise ValueError("size_tokens and stride_tokens must be >= 1")
    toks = tokens_expr("text")
    n = F.size(toks)
    upper = F.least(
        F.greatest(F.lit(1), n - size_tokens + stride_tokens), n
    )
    starts = F.sequence(F.lit(1), upper, F.lit(stride_tokens))
    exploded = df.select(
        F.col("doc_id"),
        *[F.col(c) for c in keep_cols],
        toks.alias("__toks"),
        F.posexplode(
            F.when(n > 0, starts).otherwise(
                F.array().cast("array<int>")
            )
        ).alias("chunk_idx", "start_pos"),
    )
    piece = F.slice(F.col("__toks"), F.col("start_pos"), size_tokens)
    return exploded.select(
        F.col("doc_id"),
        *[F.col(c) for c in keep_cols],
        "chunk_idx",
        "start_pos",
        F.size(piece).alias("n_chunk_tokens"),
        F.array_join(piece, " ").alias("chunk_text"),
    )


def leakage_safe_split(
    df: DataFrame,
    components: DataFrame,
    val_pct: int = 10,
    seed: int = 41,
) -> DataFrame:
    """Near-dup-aware train/val split: every near-duplicate CLUSTER lands
    wholly on one side, so no eval example has a near-copy in training.

    A plain per-doc hash split leaks: two near-duplicate docs hash
    independently and can straddle the boundary — the classic
    train/test-contamination bug that inflates eval numbers. Here the
    split unit is the duplicate group: each doc's split key is its
    connected-component label (from `graph.connected_components` over
    verified near-dup pairs), singletons fall back to their own id, and
    `seeded_md5(key) % 100 < val_pct` routes the whole group to val.

    Engine shape (100 TB): `components` holds every doc that belongs to
    some duplicate pair — on real web corpora that is 30-50% of the
    corpus (C4/RefinedWeb/Gopher dedup rates), i.e. data-sized, NOT
    broadcastable. The component join therefore carries no broadcast
    hint: the key is the doc id, so AQE broadcasts when the frame is
    measured small and falls back to a bounded hash shuffle otherwise.
    The split is a pure
    deterministic function of (data, seed): reruns and engine swaps
    reproduce it bit-for-bit (the DuckDB oracle replays it).

    Returns `df`'s rows with (group_key, split ∈ {'train','val'}).
    """
    # Group keys take the id column's own type (string ids work — the
    # component label from `graph.connected_components` carries the
    # node type through), so no silent long-cast NULLs for non-long ids.
    id_type = df.schema["doc_id"].dataType.simpleString()
    comp = components.select(
        F.col("node").alias("__n"),
        F.col("component").cast(id_type).alias("__c"),
    )
    # No broadcast hint: comp is data-sized at real dup rates (see
    # docstring); AQE chooses the strategy from measured size.
    joined = df.join(
        comp, df["doc_id"] == F.col("__n"), "left"
    )
    group = F.coalesce(F.col("__c"), F.col("doc_id"))
    bucket = seeded_md5_long(group.cast("string"), seed) % 100
    return joined.select(
        *[F.col(c) for c in df.columns],
        group.alias("group_key"),
        F.when(bucket < val_pct, F.lit("val"))
        .otherwise(F.lit("train"))
        .alias("split"),
    )


# ---------------------------------------------------------------------------
# C4 heuristic cleaning rules (Raffel et al. 2020 §2.2)
# ---------------------------------------------------------------------------

#: A retained C4 line must end in a terminal punctuation mark — period,
#: exclamation mark, question mark, or an end quotation mark.
C4_TERMINAL_PUNCT_RE = "[.!?\"”]$"


def c4_gates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_line_words: int = 5,
    min_sentences: int = 3,
    bad_words: tuple[str, ...] = (),
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """The C4 cleaning recipe's line and page rules (Raffel et al. 2020
    §2.2 — the other canonical public filter set next to the Gopher
    gates) in one codegen projection:

    - LINE rules (applied per ``\\n`` line, rebuilding ``clean_text``
      from survivors): keep only lines that end in terminal punctuation
      (``.``, ``!``, ``?``, end quote), contain at least
      `min_line_words` words, and do not mention "javascript"
      (case-insensitive — the paper removes lines with the word
      Javascript, a boilerplate-warning tell).
    - PAGE rules (on the ORIGINAL page, per the paper): drop pages
      containing a curly brace ``{`` (code), the phrase "lorem ipsum"
      (placeholder boilerplate), any `bad_words` entry as a whole word,
      or fewer than `min_sentences` sentences AFTER line filtering.

    Returns every signal (`n_lines`, `n_kept_lines`, `n_sentences`,
    `clean_text`, `clean_len`) plus per-rule booleans and the combined
    `c4_keep` — signals stay tunable downstream without recomputation,
    the same contract as `gopher_gates`. Zero shuffles: one projection
    of higher-order functions over the line array, whole-stage codegen,
    exactly replayable in DuckDB (the oracle replaces the lookbehind
    sentence split with an equivalent replace-then-split, RE2 having no
    lookbehind).

    The 3-sentence-span dedup that completes the C4 recipe is
    `c4_span_stats` (it needs a corpus-wide shuffle; this operator is
    deliberately per-row).
    """
    from legendary_data_pipeline_spark.operators.textstats import (
        split_sentences_expr,
    )

    lines = F.split(F.col(text_col), "\n", -1)

    def line_ok(line: Column) -> Column:
        t = F.trim(line)
        return (
            t.rlike(C4_TERMINAL_PUNCT_RE)
            & (F.size(F.split(t, r"\s+", -1)) >= min_line_words)
            & ~F.lower(t).contains("javascript")
        )

    base = df.withColumn("__lines", lines).withColumn(
        "__kept", F.filter(F.col("__lines"), line_ok)
    )
    clean_text = F.array_join(F.col("__kept"), "\n")
    base = base.withColumn("clean_text", clean_text).withColumn(
        "__sents", split_sentences_expr(F.col("clean_text"))
    )
    out = base.select(
        F.col(id_col),
        F.size("__lines").cast("long").alias("n_lines"),
        F.size("__kept").cast("long").alias("n_kept_lines"),
        F.size("__sents").cast("long").alias("n_sentences"),
        F.col("clean_text"),
        F.length("clean_text").cast("long").alias("clean_len"),
        F.col(text_col).alias("__text"),
        # keep_cols: pass-through so upstream gate signals survive this
        # projection and a multi-gate funnel stays one corpus scan.
        *[F.col(c) for c in keep_cols],
    )
    rules: dict[str, Column] = {
        "pass_min_sentences": F.col("n_sentences") >= min_sentences,
        "pass_no_curly": ~F.col("__text").contains("{"),
        "pass_no_lorem": ~F.lower(F.col("__text")).contains("lorem ipsum"),
    }
    if bad_words:
        import re as _re

        pat = r"\b(" + "|".join(_re.escape(w.lower()) for w in bad_words) + r")\b"
        rules["pass_no_bad_words"] = ~F.lower(F.col("__text")).rlike(pat)
    keep = F.lit(True)
    for name, cond in rules.items():
        cond = F.coalesce(cond, F.lit(False))
        out = out.withColumn(name, cond)
        keep = keep & cond
    return out.withColumn("c4_keep", keep).drop("__text")


def gate_funnel_report(
    df: DataFrame,
    stages: list[tuple[str, Column]],
    weight_col: str | None = None,
) -> DataFrame:
    """Sequential gate-attrition funnel: apply `stages` (ordered
    ``(name, keep_condition)`` pairs over `df`'s rows) cumulatively and
    report, per stage, how many rows (and optionally how much `weight`
    — e.g. tokens, the unit a training budget consumes) enter, drop,
    and survive. This is the pipeline-health readout a curation run
    publishes after every gate change: WHERE the corpus is lost, in
    both document and token units, stage by stage.

    Engine shape (100 TB): all stage conditions are evaluated in ONE
    aggregation over a single pass of `df` (each stage's cumulative
    conjunction is a map-side-combinable indicator sum), then the
    single 1-row result unpivots with `stack` — no per-stage scan, no
    join, no shuffle beyond the one partial-agg fan-in. NULL conditions
    count as drops (a gate that cannot evaluate must not pass a doc).

    Returns one row per stage: ``stage_idx``, ``stage``, ``docs_in``,
    ``docs_dropped``, ``docs_out`` (+ ``tokens_in/dropped/out`` when
    `weight_col` is given) and IEEE survival fractions of the exact
    long counts — bit-reproducible across engines.
    """
    if not stages:
        raise ValueError("gate_funnel_report needs at least one stage")
    # every indicator/weight sum is coalesced to 0: F.sum over an EMPTY
    # input yields NULL, and an empty corpus must report all-zero funnel
    # rows, not NULL docs_dropped/docs_out (r13 advice)
    aggs = [F.count(F.lit(1)).cast("long").alias("__n0")]
    cum = F.lit(True)
    cums: list[Column] = []
    for i, (_, cond) in enumerate(stages, 1):
        cum = cum & F.coalesce(cond, F.lit(False))
        cums.append(cum)
        aggs.append(
            F.coalesce(F.sum(cum.cast("long")), F.lit(0))
            .cast("long")
            .alias(f"__n{i}")
        )
    if weight_col is not None:
        w = F.col(weight_col).cast("long")
        aggs.append(F.coalesce(F.sum(w), F.lit(0)).cast("long").alias("__t0"))
        for i, c in enumerate(cums, 1):
            aggs.append(
                F.coalesce(F.sum(F.when(c, w).otherwise(F.lit(0))), F.lit(0))
                .cast("long")
                .alias(f"__t{i}")
            )
    row = df.agg(*aggs)
    groups = []
    for i, (name, _) in enumerate(stages, 1):
        # stage names are caller-supplied and land inside a SQL string
        # literal — escape backslashes FIRST (Spark's literal parser
        # treats \ as an escape: unescaped, "pass_no_\d" silently
        # loses its backslash and a trailing one eats the closing
        # quote), then double embedded quotes ("can't parse")
        quoted = name.replace("\\", "\\\\").replace("'", "''")
        g = [
            f"CAST({i} AS BIGINT)",
            f"'{quoted}'",
            f"__n{i - 1}",
            f"__n{i - 1} - __n{i}",
            f"__n{i}",
        ]
        if weight_col is not None:
            g += [f"__t{i - 1}", f"__t{i - 1} - __t{i}", f"__t{i}"]
        groups.append(", ".join(g))
    cols = "stage_idx, stage, docs_in, docs_dropped, docs_out"
    if weight_col is not None:
        cols += ", tokens_in, tokens_dropped, tokens_out"
    stacked = row.selectExpr(
        f"stack({len(stages)}, {', '.join(groups)}) AS ({cols})"
    )
    out = stacked.withColumn(
        "doc_survival_frac",
        F.col("docs_out").cast("double")
        / F.nullif(F.col("docs_in").cast("double"), F.lit(0.0)),
    )
    if weight_col is not None:
        out = out.withColumn(
            "token_survival_frac",
            F.col("tokens_out").cast("double")
            / F.nullif(F.col("tokens_in").cast("double"), F.lit(0.0)),
        )
    return out


_C4_SPAN = 3  # sentences per span


def c4_span_stats(df: DataFrame) -> DataFrame:
    """Corpus-wide duplicated three-sentence-span accounting — the
    dedup half of the C4 recipe ("we discarded all but one of any
    three-sentence span occurring more than once in the data set",
    Raffel et al. 2020 §2.2).

    Each doc's sentences are sliced into every consecutive 3-gram;
    the FIRST occurrence of a span (ordered by (id, span position) — a
    total order, so both engines pick the same canonical) is canonical
    and every later occurrence is a duplicate. Returns one row per doc:
    `n_spans`, `n_dup_spans` (occurrences that lost canonicity) and
    `dup_span_frac` — the doc-level removal pressure; docs with fewer
    than three sentences report zero spans.

    Scale shape: explode (×~sentences per doc) → ONE hash-partitioned
    window (row_number per span md5 — no skew beyond genuinely
    duplicated boilerplate, which is exactly what the operator exists
    to find) → per-doc re-aggregation → broadcast-eligible join back to
    the id spine. No collects, no cartesian; the span hash is the only
    wide key. At 100 TB, persist (span_hash → canonical) as an index
    table and the pass becomes incremental, the same pattern as
    `lsh_probe_pairs`.
    """
    from legendary_data_pipeline_spark.operators.textstats import (
        split_sentences_expr,
    )

    sents = split_sentences_expr(F.col("text"))
    n = F.size(sents)
    spans_arr = F.when(
        n >= _C4_SPAN,
        F.transform(
            F.sequence(F.lit(1), n - _C4_SPAN + 1),
            lambda i: F.concat_ws(" ", F.slice(sents, i, _C4_SPAN)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    spans = (
        df.select(F.col("doc_id"), spans_arr.alias("__spans"))
        .select(
            F.col("doc_id"),
            F.posexplode(F.col("__spans")).alias("__i", "__span"),
        )
        .select(
            F.col("doc_id"),
            (F.col("__i") + 1).cast("long").alias("span_idx"),
            F.md5(F.col("__span")).alias("__h"),
        )
    )
    w = Window.partitionBy("__h").orderBy(F.col("doc_id"), F.col("span_idx"))
    ranked = spans.withColumn("__rn", F.row_number().over(w))
    agg = ranked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum((F.col("__rn") > 1).cast("long")).alias("n_dup_spans"),
    )
    ids = df.select(F.col("doc_id"))
    # Raw IEEE ratio of exact integers — bit-stable on any engine; a
    # fractional round(·, 6) would ADD cross-version fragility
    # (round-9 representation audit, NOTES.md §Round-9).
    return ids.join(agg, ["doc_id"], "left").select(
        F.col("doc_id"),
        F.coalesce(F.col("n_spans"), F.lit(0)).alias("n_spans"),
        F.coalesce(F.col("n_dup_spans"), F.lit(0)).alias("n_dup_spans"),
        (
            F.col("n_dup_spans").cast("double")
            / F.nullif(F.col("n_spans").cast("double"), F.lit(0.0))
        ).alias("dup_span_frac"),
    )


def domain_quality_gates(
    scored: DataFrame,
    min_docs: int = 5,
) -> DataFrame:
    """Domain-level curation gate: drop WHOLE domains whose share of
    good documents (``quality_bucket = 'high'``) falls below 95%.

    Per-document filters miss systematic sources — a spam/SEO domain
    where every page individually squeaks past the per-doc gates still
    poisons the corpus (the practice popularized by C4's blocklist and
    RefinedWeb's per-domain statistics: curate the SOURCE, not just the
    page). A domain is flagged when it has at least ``min_docs``
    documents AND its good-bucket share is below the floor, tested in
    exact integer form (``n_good * 100 < n_docs * 95``) so
    the verdict is engine-deterministic. Small domains (< min_docs) are
    never flagged — too few observations to condemn a source.

    Scale: the domain table is domain-count-sized (one aggregation with
    map-side combine) and joins back as a BROADCAST — the corpus
    shuffles zero times. Output: the scored rows plus per-domain
    (n_docs, n_good, domain_flagged) and ``kept = NOT flagged``.
    """
    good = (F.col("quality_bucket") == "high").cast("long")
    dom = scored.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(good).cast("long").alias("n_good"),
    )
    flagged = (F.col("n_docs") >= min_docs) & (
        F.col("n_good") * 100 < F.col("n_docs") * 95
    )
    dom = dom.withColumn("domain_flagged", flagged).withColumnRenamed(
        "source", "__dom"
    )
    # NULL-SAFE verdict join: GROUP BY treats NULL as its own domain, so
    # the join back must too — a plain equi-join would silently drop
    # every NULL-domain row from the output (no verdict, no row).
    joined = scored.join(
        F.broadcast(dom),
        scored["source"].eqNullSafe(dom["__dom"]),
    ).drop("__dom")
    return joined.withColumn("kept", ~F.col("domain_flagged"))


def mixture_allocate(
    sources: DataFrame,
    budget: int,
) -> DataFrame:
    """Capacity-constrained mixture allocation (water-filling): split a
    total document budget across sources in proportion to integer
    target weights, letting sources that run out of documents saturate
    at capacity and redistributing their share among the rest — the
    planning step in front of every "mix 30/30/40 but source B only
    has 2M docs" training-mix decision (`temperature_mix` rescales
    rates; this solves the exact COUNT allocation).

    Greedy-exact algorithm, fully declarative: sort sources by
    capacity/weight ascending (IEEE double ratio — identical order in
    every engine — with the source id as tie-break); a source
    saturates iff its capacity cannot absorb its proportional share of
    what remains after all cheaper sources saturate, an EXACT integer
    cross-product test c_i·SW_{i-1} < w_i·(N − C_{i-1}) held in
    decimal(38,0). Unsaturated sources get floor(w_i·R / SW) of the
    residual R, and the ≤|unsaturated| leftover goes to the largest
    fractional remainders (w_i·R mod SW desc, source asc) — so the
    result is integers, sums to exactly min(budget, Σcapacity), and is
    bit-deterministic.

    Rows with NULL source/capacity/weight or weight ≤ 0 or capacity
    < 0 are dropped. Output:
      (source, capacity, weight, allocation, saturated)

    Plan: windows over the SOURCE-cardinality frame (metadata — a mix
    table has tens of rows); the corpus is never touched.
    """
    n_budget = int(budget)
    c = F.col("capacity").cast("decimal(38,0)")
    w = F.col("weight").cast("decimal(38,0)")
    d = sources.select(
        F.col("source").alias("__src"),
        c.alias("__c"),
        w.alias("__w"),
    ).where(
        F.col("__src").isNotNull()
        & F.col("__c").isNotNull()
        & F.col("__w").isNotNull()
        & (F.col("__w") > 0)
        & (F.col("__c") >= 0)
    )
    ratio = F.col("__c").cast("double") / F.col("__w").cast("double")
    w_ord = Window.orderBy(ratio.asc(), F.col("__src").asc())
    w_before = w_ord.rowsBetween(Window.unboundedPreceding, -1)
    w_all = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    zero = F.lit(0).cast("decimal(38,0)")
    cum_c_prev = F.coalesce(F.sum("__c").over(w_before), zero)
    sw_after = (
        F.sum("__w").over(w_all)
        - F.coalesce(F.sum("__w").over(w_before), zero)
        - F.col("__w")
    )
    n_lit = F.lit(n_budget).cast("decimal(38,0)")
    residual_here = n_lit - cum_c_prev
    # saturate iff the share available when this source's turn comes
    # cannot cover its capacity: c·(sw_after + w) < w·residual
    saturated = (
        F.col("__c") * (sw_after + F.col("__w"))
        < F.col("__w") * residual_here
    )
    ann = d.select(
        "__src", "__c", "__w", saturated.alias("__sat")
    )
    sat_c = F.coalesce(
        F.sum(F.when(F.col("__sat"), F.col("__c"))).over(w_all), zero
    )
    unsat_w = F.coalesce(
        F.sum(F.when(~F.col("__sat"), F.col("__w"))).over(w_all), zero
    )
    r_resid = F.greatest(n_lit - sat_c, zero)
    base_alloc = F.when(F.col("__sat"), F.col("__c")).otherwise(
        F.floor(
            (F.col("__w") * r_resid)
            / F.when(unsat_w > 0, unsat_w).otherwise(F.lit(1))
        ).cast("decimal(38,0)")
    )
    frac_rem = F.when(
        ~F.col("__sat") & (unsat_w > 0),
        (F.col("__w") * r_resid) % unsat_w,
    ).otherwise(F.lit(-1).cast("decimal(38,0)"))
    ann2 = ann.select(
        "__src", "__c", "__w", "__sat",
        base_alloc.alias("__base"),
        frac_rem.alias("__fr"),
        r_resid.alias("__r"),
    )
    leftover = (
        F.col("__r")
        - F.coalesce(
            F.sum(F.when(~F.col("__sat"), F.col("__base"))).over(w_all),
            zero,
        )
    )
    rank_fr = F.row_number().over(
        Window.orderBy(F.col("__fr").desc(), F.col("__src").asc())
    )
    ann3 = ann2.select(
        "*",
        leftover.alias("__left"),
        rank_fr.alias("__rk"),
    )
    alloc = F.when(
        ~F.col("__sat")
        & (F.col("__rk") <= F.col("__left"))
        & (F.col("__fr") >= 0),
        F.col("__base") + 1,
    ).otherwise(F.col("__base"))
    # a +1 must never push past capacity: it cannot (a source whose
    # proportional share reaches capacity is saturated by the test
    # above), but least() documents the invariant defensively
    alloc = F.least(alloc, F.col("__c"))
    return ann3.select(
        F.col("__src").alias("source"),
        F.col("__c").cast("long").alias("capacity"),
        F.col("__w").cast("long").alias("weight"),
        alloc.cast("long").alias("allocation"),
        F.col("__sat").alias("saturated"),
    )


def token_budget_head(
    df: DataFrame,
    budget: int,
    weight_col: str,
    order_col: str,
) -> DataFrame:
    """Curriculum head selection under a global token budget: rank
    documents by ``order_col`` DESCENDING (quality first; ``doc_id``
    ascending breaks ties — a total order) and keep whole documents
    while the running Σ ``weight_col`` stays within ``budget`` — the
    "best N tokens" primitive behind quality-curriculum corpus cuts
    and fixed-budget ablations (complements `mixture_allocate`, which
    splits a budget ACROSS sources; this picks WITHIN one pool).

    All arithmetic is exact integers (weights/cumulative sums as
    BIGINT), so the selection frontier is bit-deterministic.

    Scale: no global sort and no single-partition window. Two
    `distributed_below_counts` passes (stats.py): (1) per-ORDER-VALUE
    weight totals → prefix sums over the distinct-order frame, (2)
    within-order-value prefix sums keyed by id, range-partitioned per
    order class. cum(doc) = better-classes total + within-class
    strictly-below + own weight. The within-class pass uses
    group_cols=[order class], whose offsets frame must stay
    broadcast-sized: intended for COARSE scores (quality points,
    e6-bucketed scores — the common case). ``doc_id`` values must be
    UNIQUE per row (the prefix-sum contract — duplicate (score, id)
    rows would make the within-class order, and thus the selection
    frontier, partition-dependent); for near-unique continuous scores
    pre-bucket the score so classes stay coarse.

    Output: (id, order, weight, cum_weight, selected) — every input
    row, flagged; filter selected for the head.
    """
    from legendary_data_pipeline_spark.operators.stats import (
        distributed_below_counts,
    )

    if budget < 0:
        raise ValueError(f"token_budget_head: budget must be >= 0, got {budget}")
    o = F.col(order_col).cast("long")
    w = F.col(weight_col).cast("long")
    d = df.select(
        F.col("doc_id").alias("__id"),
        o.alias("__o"),
        w.alias("__w"),
    ).where(o.isNotNull() & w.isNotNull())
    # Descending order as an ascending key (below-counts sum ASC).
    d = d.select("__id", "__o", "__w", (-F.col("__o")).alias("__key"))
    # In-plan uniqueness guard (the theil_sen_trend raise_error
    # precedent): the prefix-sum contract REQUIRES id_col unique per
    # row — duplicate (score, id) rows silently make cum_weight and
    # the selected frontier partition-dependent, exactly the
    # determinism class the rest of this operator exists to remove.
    # One window count over the same (__key, __id) grain the
    # within-class pass shuffles on anyway.
    dup_w = Window.partitionBy("__key", "__id")
    d = d.withColumn("__dupn", F.count(F.lit(1)).over(dup_w))
    d = d.withColumn(
        "__w",
        F.when(
            F.col("__dupn") > 1,
            F.raise_error(
                F.concat(
                    F.lit(
                        "token_budget_head: duplicate (order, id) rows "
                        "detected - id_col values must be unique per "
                        "row or the selection frontier is "
                        "partition-dependent; deduplicate or use a "
                        "row-unique id"
                    )
                )
            ).cast("long"),
        ).otherwise(F.col("__w")),
    ).drop("__dupn")
    d = d.localCheckpoint(eager=False)  # two consumers (round-9 rule)
    per_key = d.groupBy("__key").agg(
        F.sum("__w").cast("long").alias("__kw")
    )
    key_below = distributed_below_counts(
        per_key, "__key", ["__kw"], inclusive=False
    ).select("__key", F.col("__kw_cum").cast("long").alias("__above_w"))
    within = distributed_below_counts(
        d.select("__key", "__id", "__w"),
        "__id",
        ["__w"],
        inclusive=False,
        group_cols=["__key"],
    ).select(
        "__key",
        "__id",
        "__w",
        F.col("__w_cum").cast("long").alias("__within_w"),
    )
    cum = (
        F.col("__above_w") + F.col("__within_w") + F.col("__w")
    ).cast("long")
    return within.join(key_below, "__key").select(
        F.col("__id").alias("doc_id"),
        (-F.col("__key")).cast("long").alias(order_col),
        F.col("__w").alias(weight_col),
        cum.alias("cum_weight"),
        (cum <= F.lit(int(budget))).alias("selected"),
    )


#: Gopher §A1.1 repetition thresholds (Rae et al. 2021, Table A1):
#: a document exceeding ANY fraction is repetition-filtered.
GOPHER_REP_THRESHOLDS: dict[str, float] = {
    "dup_line_frac": 0.30,
    "dup_line_char_frac": 0.20,
    "top_2gram_char_frac": 0.20,
    "top_3gram_char_frac": 0.18,
    "top_4gram_char_frac": 0.16,
    "dup_5gram_char_frac": 0.15,
    "dup_6gram_char_frac": 0.14,
    "dup_7gram_char_frac": 0.13,
    "dup_8gram_char_frac": 0.12,
    "dup_9gram_char_frac": 0.11,
    "dup_10gram_char_frac": 0.10,
}


def gopher_repetition_suite(df: DataFrame) -> DataFrame:
    """The COMPLETE Gopher repetition-removal rule set (Rae et al. 2021
    §A1.1) — `repetition_stats` covers the two headline signals; this
    emits all eleven:

    - dup_line_frac / dup_line_char_frac: fraction of (trimmed,
      non-empty, newline-split) lines that are repeats of an earlier
      identical line (Σ(c−1) over duplicated line values / n_lines),
      and the character fraction those REPEAT occurrences hold —
      Σ(c−1)·len over duplicated line values / length(text), matching
      the published reference implementations (occurrences beyond the
      first, full-document denominator) so the paper's calibrated
      thresholds apply as published.
    - top_{2,3,4}gram_char_frac: characters claimed by the single most
      frequent REPEATED word n-gram (ALL occurrences × gram length /
      doc chars, the reference convention for the top gram; a gram
      seen once is not repetition, so a doc with no repeated n-gram
      scores 0.0 — without this, every short document fails the rule
      because its unique top trigram still spans ~25% of its chars).
    - dup_{5..10}gram_char_frac: characters claimed by REPEAT
      occurrences of duplicated word n-grams — Σ(c−1)·len over grams
      occurring more than once / doc chars. Documented deviation from
      the reference scan: the published implementations walk the
      token stream sequentially and skip n tokens after each
      duplicate hit (non-overlapping counting) — an inherently
      sequential algorithm. The engine counts every repeat occurrence
      of every duplicated gram, so on self-overlapping repeats ours
      is ≥ the reference value (slightly STRICTER at the published
      thresholds), and identical whenever repeats don't overlap.

    Exact definitions (engine-canonical): grams join tokens with one
    space and measure string length including those spaces; the doc
    denominator is length(text); the top gram tie-breaks by (count,
    char length, gram string) descending. Every fraction is a RAW IEEE
    ratio of exact integers; `rep_keep` ANDs frac ≤ threshold per
    rule, with NULL signals (no lines / too few tokens / empty text)
    passing — absence of content is the word-count gate's job, not a
    repetition signal.

    Scale: the ENTIRE suite is a zero-shuffle per-row projection.
    Lines are array HOFs (per-doc line counts are small; the duplicate
    scan is O(lines²) within one row). N-gram signals (round-10
    rewrite) never explode: per n the gram array is `array_sort`ed and
    ONE linear `aggregate` pass over the sorted runs accumulates the
    duplicated-char sum and the (count, length)-max top gram —
    O(G log G) per document per n, all inside the JVM, versus the old
    explode → groupBy(doc, n, gram) that shuffled ~9×tokens gram
    STRINGS (measured 9.5 s → ~2 s at sf0.1, 7.3× → linear at a
    synthesized sf1). No join, no shuffle, no skew surface beyond
    document length itself (cap extreme docs upstream).

    Output: id, n_lines, the 11 fractions, rep_keep.
    """
    toks = F.filter(tokens_expr("text"), lambda t: t != F.lit(""))
    total_chars = F.length(F.coalesce(F.col("text"), F.lit("")))
    lines_arr = F.filter(
        F.transform(
            F.split(F.coalesce(F.col("text"), F.lit("")), "\n"),
            lambda x: F.trim(x),
        ),
        lambda x: x != F.lit(""),
    )
    # Single consumer now (the whole suite is one projection) — no pin.
    base = df.select(
        F.col("doc_id"),
        toks.alias("__t"),
        total_chars.alias("__chars"),
        lines_arr.alias("__lines"),
    )

    n_lines = F.size("__lines")
    distinct_lines = F.size(F.array_distinct("__lines"))
    dup_line_frac = F.when(
        n_lines > 0,
        (n_lines - distinct_lines).cast("double") / n_lines.cast("double"),
    )
    # chars held by REPEAT occurrences ((c-1)·len) of duplicated line
    # values, over length(text) — the reference calibration.
    # one count per distinct line (transform binds it), not two — the
    # duplicate scan is the hottest per-row loop in the suite
    dup_line_chars = F.aggregate(
        F.transform(
            F.array_distinct("__lines"),
            lambda val: F.struct(
                F.size(
                    F.filter(F.col("__lines"), lambda x: x == val)
                ).alias("c"),
                F.length(val).alias("l"),
            ),
        ),
        F.lit(0).cast("long"),
        lambda acc, st: acc
        + F.when(
            st["c"] >= 2, (st["c"] - F.lit(1)) * st["l"]
        ).otherwise(F.lit(0)),
    )
    dup_line_char_frac = F.when(
        F.col("__chars") > 0,
        dup_line_chars.cast("double") / F.col("__chars").cast("double"),
    )
    lines_part = base.select(
        "doc_id",
        "__t",
        "__chars",
        n_lines.cast("long").alias("n_lines"),
        dup_line_frac.alias("dup_line_frac"),
        dup_line_char_frac.alias("dup_line_char_frac"),
    )

    zero = F.lit(0).cast("long")
    one = F.lit(1).cast("long")

    def ngram_stats(n: int) -> Column:
        """Per-row (dup_chars, top_chars) for word n-grams: sort the
        gram array so equal grams form contiguous runs, then ONE
        linear aggregate closes each run — dup += (c−1)·len for c ≥ 2,
        top keeps the (count, length)-max duplicated gram (the emitted
        value is count·length, so equal-(c, l) ties emit identically
        regardless of which gram wins). NULL when the doc has < n
        tokens (no n-gram exists — vacuous, not zero repetition)."""
        t = F.col("__t")
        grams = F.when(
            F.size(t) >= n,
            F.array_sort(
                F.transform(
                    F.sequence(F.lit(1), F.size(t) - F.lit(n - 1)),
                    lambda j: F.array_join(F.slice(t, j, n), " "),
                )
            ),
        )
        init = F.struct(
            F.lit("").alias("p"),
            zero.alias("r"),
            zero.alias("dup"),
            zero.alias("tc"),
            zero.alias("tl"),
        )

        def _close(acc):
            """dup/tc/tl after closing the currently-open run."""
            c = acc["r"]
            ln = F.length(acc["p"]).cast("long")
            dup2 = acc["dup"] + F.when(
                c >= 2, (c - one) * ln
            ).otherwise(zero)
            better = (c >= 2) & (
                (c > acc["tc"]) | ((c == acc["tc"]) & (ln > acc["tl"]))
            )
            tc2 = F.when(better, c).otherwise(acc["tc"])
            tl2 = F.when(better, ln).otherwise(acc["tl"])
            return dup2, tc2, tl2

        def merge(acc, x):
            dup2, tc2, tl2 = _close(acc)
            return F.when(
                x == acc["p"],
                F.struct(
                    acc["p"].alias("p"),
                    (acc["r"] + one).alias("r"),
                    acc["dup"].alias("dup"),
                    acc["tc"].alias("tc"),
                    acc["tl"].alias("tl"),
                ),
            ).otherwise(
                F.struct(
                    x.alias("p"),
                    one.alias("r"),
                    dup2.alias("dup"),
                    tc2.alias("tc"),
                    tl2.alias("tl"),
                )
            )

        def finish(acc):
            dup2, tc2, tl2 = _close(acc)
            return F.struct(
                dup2.alias("dup"), (tc2 * tl2).alias("top")
            )

        return F.aggregate(grams, init, merge, finish)

    stats = lines_part.withColumns(
        {f"__st{n}": ngram_stats(n) for n in range(2, 11)}
    )
    chars_d = F.nullif(F.col("__chars").cast("double"), F.lit(0.0))
    out_cols = [
        F.col("doc_id"),
        F.col("n_lines"),
        F.col("dup_line_frac"),
        F.col("dup_line_char_frac"),
    ]
    # A doc with ANY gram (>= 2 tokens) reports 0.0 — not NULL — for
    # the n's it is too short to form (nothing repeats there); a doc
    # with no grams at all reports NULL across the board (vacuous).
    # Same contract as the pre-r10 exploded form and the oracle SQL.
    has_grams = F.size("__t") >= 2
    frac_cols: dict[str, Column] = {}
    for n in (2, 3, 4):
        frac_cols[f"top_{n}gram_char_frac"] = F.when(
            has_grams,
            F.coalesce(F.col(f"__st{n}.top"), zero).cast("double")
            / chars_d,
        )
    for n in range(5, 11):
        frac_cols[f"dup_{n}gram_char_frac"] = F.when(
            has_grams,
            F.coalesce(F.col(f"__st{n}.dup"), zero).cast("double")
            / chars_d,
        )
    for name, col in frac_cols.items():
        out_cols.append(col.alias(name))
    keep = F.lit(True)
    for name, thr in GOPHER_REP_THRESHOLDS.items():
        sig = (
            frac_cols[name]
            if name in frac_cols
            else F.col(name)  # the two line signals
        )
        keep = keep & F.coalesce(sig <= F.lit(float(thr)), F.lit(True))
    out_cols.append(keep.alias("rep_keep"))
    return stats.select(*out_cols)


_MAX_SHORT_LINE_FRAC = 0.67
_MIN_PUNCT_LINE_FRAC = 0.12
_MAX_BULLET_LINE_FRAC = 0.90
_SHORT_LINE_CHARS = 30


def fineweb_line_signals(df: DataFrame) -> DataFrame:
    """FineWeb-style line-shape quality signals (Penedo et al. 2024
    §3.3 — the C4/Gopher-complementary gates that FineWeb's ablations
    found load-bearing): fraction of lines ending in terminal
    punctuation, fraction of short lines, and fraction of bullet-point
    lines. Nav menus, link farms, and scraped tables fail these while
    passing word-count and repetition gates.

    Lines = newline-split, trimmed, non-empty. A line "ends with
    punctuation" if its last character is one of .!?"' — the FineWeb
    terminal set; a "bullet" line starts with -, *, •, or a digit
    followed by ./). All three fractions are raw IEEE ratios of exact
    integer line counts (representation-proof); docs with no lines
    emit NULL signals and fail the gate (nothing to certify).

    Zero-shuffle codegen projection (array HOFs per row) at scan
    parallelism — the cheapest gate in the pipeline; run it first.

    Output: id, n_lines, punct_line_frac, short_line_frac,
    bullet_line_frac, fineweb_keep.
    """
    lines = F.filter(
        F.transform(
            F.split(F.coalesce(F.col("text"), F.lit("")), "\n"),
            lambda x: F.trim(x),
        ),
        lambda x: x != F.lit(""),
    )
    base = df.select(F.col("doc_id"), lines.alias("__ls"))
    n = F.size("__ls")

    def frac_where(pred) -> Column:
        return F.when(
            n > 0,
            F.size(F.filter(F.col("__ls"), pred)).cast("double")
            / n.cast("double"),
        )

    punct = frac_where(
        lambda x: F.substring(x, -1, 1).isin(".", "!", "?", '"', "'")
    )
    short = frac_where(lambda x: F.length(x) < _SHORT_LINE_CHARS)
    bullet = frac_where(
        lambda x: x.rlike(r"^(-|\*|•|[0-9]+[.)])")
    )
    out = base.select(
        "doc_id",
        n.cast("long").alias("n_lines"),
        punct.alias("punct_line_frac"),
        short.alias("short_line_frac"),
        bullet.alias("bullet_line_frac"),
    )
    keep = (
        (F.col("short_line_frac") <= F.lit(_MAX_SHORT_LINE_FRAC))
        & (F.col("punct_line_frac") >= F.lit(_MIN_PUNCT_LINE_FRAC))
        & (F.col("bullet_line_frac") <= F.lit(_MAX_BULLET_LINE_FRAC))
    )
    return out.withColumn(
        "fineweb_keep", F.coalesce(keep, F.lit(False))
    )
