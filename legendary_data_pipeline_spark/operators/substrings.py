"""Exact duplicated-substring detection and removal (ExactSubstr dedup).

The corpus-level companion to document-level MinHash dedup: find every
run of >= `n` consecutive tokens that occurs more than once in the
corpus (across documents OR repeated inside one document) and either
report it (`dup_span_stats`) or cut it out of the text
(`strip_duplicated_substrings`). This is the "exact substring
deduplication" step of modern LLM training pipelines (Lee et al. 2022,
"Deduplicating Training Data Makes Language Models Better"), expressed
Spark-first instead of via a monolithic suffix array:

1. slide an n-token shingle window over each document (per-row array
   expression inside the scan stage — no shuffle),
2. count each shingle's corpus-wide occurrences (map-side-combinable
   groupBy on a uniform 60-bit md5 key),
3. keep positions whose shingle occurs at least twice, and merge
   overlapping windows per document into maximal spans with a
   gaps-and-islands window (partitioned by doc — per-doc state only),
4. strip: subtract covered token positions per row with a higher-order
   filter (the span list per doc is small — no token explode on the
   rebuild path).

Deviation from the suffix-array formulation, on purpose: Lee et al.
keep ONE occurrence of each duplicated substring (the first in a global
scan order). A global "first occurrence" requires a total order over
100 TB of positions — scale-hostile and nondeterministic under
partitioning. We strip EVERY occurrence instead (the strategy several
production pipelines adopt for exactly this reason); documents that
were entirely duplicated text come out empty and can be dropped by a
length gate downstream.

Scale (100 TB): the only wide operations are the shingle-count groupBy
and the count>=2 join, both keyed on the uniform md5 hash (no
skew); the islands window partitions by doc_id and only sees DUP
positions (bounded per doc). Suffix arrays do this with O(corpus)
memory on one machine; this shape needs nothing beyond ordinary
shuffle capacity.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from legendary_data_pipeline_spark.functions.hashing import md5_long
from legendary_data_pipeline_spark.operators.dedup import (
    shingles_expr,
    tokens_expr,
)


def positioned_gram_frame(
    df: DataFrame,
    n: int = 8,
) -> DataFrame:
    """(id, pos, gram_hash) for every sliding n-token window.

    `pos` is the 1-based start token index; `gram_hash` the 60-bit md5
    of the space-joined window. Rows with < n tokens emit nothing.
    """
    return (
        df.select(
            F.col("doc_id"),
            F.posexplode(shingles_expr("text", n)).alias("__i", "__g"),
        )
        .select(
            F.col("doc_id"),
            (F.col("__i") + 1).alias("pos"),
            md5_long(F.col("__g")).alias("gram_hash"),
        )
    )


def duplicated_spans(df: DataFrame, n: int = 8) -> DataFrame:
    """Maximal duplicated-token spans per document.

    Returns (id, span_start, span_end), 1-based inclusive token
    positions. A position is duplicated when some n-gram window
    covering it occurs at least twice corpus-wide; windows whose
    covered token runs overlap OR abut merge into one span, so each
    span is a maximal contiguous run of duplicated tokens.
    """
    # Pin the positioned-gram frame: it feeds BOTH the corpus-frequency
    # count and the duplicated-position join, and exchange reuse is not
    # a scan-multiplicity guarantee (r11 standing lesson) — unpinned,
    # each consumer replays the tokenize+shingle+md5 scan (the r13
    # registry-wide audit measured 3 corpus scans here). The pin IS
    # token-cardinality, but it holds three fixed-width longs per
    # position — narrower than the text it derives from — and the
    # replay it avoids re-runs the md5 fold per gram, the kernel's
    # dominant CPU cost. Contrast contamination_score's by-contract 3
    # scans, where the replayed side is the full text column and a pin
    # WOULD materialize the corpus.
    grams = positioned_gram_frame(df, n=n).localCheckpoint(
        eager=False
    )
    freq = (
        grams.groupBy("gram_hash")
        .agg(F.count(F.lit(1)).alias("__cnt"))
        .filter(F.col("__cnt") >= 2)
        .select("gram_hash")
    )
    dup = grams.join(freq, "gram_hash").select("doc_id", "pos")

    # Gaps-and-islands: a window [pos, pos+n-1] starts a new span iff
    # its tokens neither overlap nor abut the furthest end reached so
    # far (pos > prev_end + 1). End positions are monotone in pos
    # (fixed width), so running-max(end) = running-max(pos) + n - 1.
    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    marked = dup.select(
        "doc_id",
        "pos",
        (
            F.col("pos")
            > F.coalesce(F.max("pos").over(w_prev) + n, F.lit(-1))
        )
        .cast("long")
        .alias("__new"),
    )
    islands = marked.select(
        "doc_id", "pos", F.sum("__new").over(w_run).alias("__gid")
    )
    return islands.groupBy("doc_id", "__gid").agg(
        F.min("pos").alias("span_start"),
        (F.max("pos") + (n - 1)).alias("span_end"),
    ).drop("__gid")


def dup_span_stats(df: DataFrame, n: int = 8) -> DataFrame:
    """Per-document duplicated-substring profile for documents with at
    least one duplicated span: (id, n_tokens, n_dup_spans, dup_tokens,
    dup_frac). `dup_frac` is the fraction of the document's tokens
    covered by corpus-duplicated runs — the gating dial (1.0 = the
    whole document exists elsewhere)."""
    spans = duplicated_spans(df, n=n)
    stats = spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_dup_spans"),
        F.sum(F.col("span_end") - F.col("span_start") + 1)
        .cast("long")
        .alias("dup_tokens"),
    )
    sized = df.select(
        F.col("doc_id"), F.size(tokens_expr()).cast("long").alias("n_tokens")
    )
    return sized.join(stats, "doc_id").select(
        "doc_id",
        "n_tokens",
        "n_dup_spans",
        "dup_tokens",
        (
            F.col("dup_tokens").cast("double")
            / F.col("n_tokens").cast("double")
        ).alias("dup_frac"),
    )


def _keep_tokens(toks: Column, spans: Column) -> Column:
    """Tokens of `toks` whose 1-based position is outside every span."""
    return F.filter(
        toks,
        lambda t, i: ~F.exists(
            spans,
            lambda s: (i + 1 >= s["span_start"]) & (i + 1 <= s["span_end"]),
        ),
    )


def strip_duplicated_substrings(
    df: DataFrame,
    n: int = 8,
    keep_cols: tuple[str, ...] = (),
    normalize_untouched: bool = True,
) -> DataFrame:
    """Corpus with duplicated runs removed: (id, *keep_cols, clean_text,
    n_removed).

    Stripped documents are rebuilt from their whitespace-normalized
    tokens (single-space joined — original whitespace inside a stripped
    doc cannot survive a token-level cut). With `normalize_untouched`
    (default, oracle-friendly: deterministic and engine-portable) the
    SAME normalization applies to documents with no spans; pass False
    to return untouched documents' text byte-for-byte unchanged (the
    CLI path — preserves newlines/paragraph structure wherever nothing
    was removed). Documents that were entirely duplicated text yield
    `clean_text = ''`.

    The rebuild is a two-stage projection: stage one evaluates the
    tokenize + span-filter ONCE per row into a struct (higher-order
    functions are interpreted, no codegen CSE — same trap documented at
    dedup.shingles_expr; CollapseProject keeps non-cheap expressions
    two-stage), stage two extracts the cheap fields.
    """
    spans = duplicated_spans(df, n=n)
    per_doc = spans.groupBy("doc_id").agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("__spans")
    )
    toks = tokens_expr("text")
    sp = F.col("__spans")
    packed = F.transform(
        F.array(toks),
        lambda t: F.struct(
            _keep_tokens(t, sp).alias("k"), F.size(t).alias("n")
        ),
    )[0]
    untouched_text = (
        F.array_join(toks, " ")
        if normalize_untouched
        else F.col("text")
    )
    staged = df.join(per_doc, "doc_id", "left").withColumn("__p", packed)
    return staged.select(
        F.col("doc_id"),
        *[F.col(c) for c in keep_cols],
        F.when(sp.isNull(), untouched_text)
        .otherwise(F.array_join(F.col("__p.k"), " "))
        .alias("clean_text"),
        F.when(sp.isNull(), F.lit(0))
        .otherwise(F.col("__p.n") - F.size("__p.k"))
        .cast("long")
        .alias("n_removed"),
    )
