"""Text analysis operators (SURVEY.md §2.11): language-ID heuristic,
quality scoring, token counting, document fingerprinting.

All pure column expressions (JVM-side); ratios are exact integer
divisions cast to double so results are bit-reproducible in the oracle.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from legendary_data_pipeline_spark.functions.hashing import md5_long
from legendary_data_pipeline_spark.functions.numeric import e6
from legendary_data_pipeline_spark.operators.dedup import tokens_expr

#: generic English-ish stopwords intersected with the corpus vocabulary
STOPWORDS: tuple[str, ...] = ("the", "a")

#: marker-word lists for the n-gram/keyword language-ID heuristic
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "de": ("der", "die", "das", "und", "merge", "window"),
    "en": ("the", "a", "query", "join"),
    "es": ("el", "la", "los", "scan", "filter"),
    "fr": ("le", "la", "les", "sort", "order"),
    "zh": ("hash", "vector", "stream"),
}

FINGERPRINT_MOD = 1_000_000_007


def _count_in(tokens: Column, words: tuple[str, ...]) -> Column:
    return F.size(F.filter(tokens, lambda t: t.isin(*words)))


def token_stats(
    df: DataFrame,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Per-doc token counts + stopword counts (basis for ratios).

    `keep_cols` pass through untouched — lets callers fuse other per-row
    columns into the same projection instead of joining back by id.
    """
    toks = tokens_expr("text")
    return df.withColumn("__toks", toks).select(
        F.col("doc_id"),
        *[F.col(c) for c in keep_cols],
        F.size("__toks").cast("long").alias("token_count"),
        _count_in(F.col("__toks"), STOPWORDS).cast("long").alias("stopword_count"),
        F.length(F.trim(F.col("text"))).cast("long").alias("char_count"),
    )


def quality_score(
    df: DataFrame,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Integer quality score (0-100) from length / stopword / shape
    heuristics, with a high/medium/low bucket.

    Thresholds compare exact int-ratio doubles, so scoring is
    deterministic across engines.
    """
    stats = token_stats(df, keep_cols=keep_cols)
    tc = F.col("token_count").cast("double")
    stop_ratio = F.col("stopword_count").cast("double") / tc
    chars_per_tok = F.col("char_count").cast("double") / tc
    length_pts = F.when(
        (F.col("token_count") >= 20) & (F.col("token_count") <= 400), 40
    ).otherwise(10)
    stop_pts = F.when((stop_ratio >= 0.02) & (stop_ratio <= 0.6), 30).otherwise(10)
    shape_pts = F.when((chars_per_tok >= 3.0) & (chars_per_tok <= 12.0), 30).otherwise(
        10
    )
    score = (length_pts + stop_pts + shape_pts).cast("int")
    bucket = (
        F.when(score >= 80, "high").when(score >= 50, "medium").otherwise("low")
    )
    return stats.select(
        "doc_id",
        *keep_cols,
        "token_count",
        score.alias("quality_score"),
        bucket.alias("quality_bucket"),
    )


def lang_id(
    df: DataFrame,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Keyword-profile language ID: count marker hits per language,
    predict the argmax (ties → alphabetically first language).

    A real deployment would use char-n-gram profiles per language; the
    operator shape (N profile scores → deterministic argmax) is the same.
    """
    out = df.withColumn("__toks", tokens_expr("text"))
    langs = sorted(LANG_MARKERS)
    for lang in langs:
        out = out.withColumn(
            f"score_{lang}",
            _count_in(F.col("__toks"), LANG_MARKERS[lang]).cast("long"),
        )
    predicted: Column | None = None
    # Alphabetical order + >= gives ties to the alphabetically-first lang.
    for lang in langs:
        cond = None
        for other in langs:
            if other == lang:
                continue
            clause = F.col(f"score_{lang}") >= F.col(f"score_{other}")
            cond = clause if cond is None else cond & clause
        predicted = (
            F.when(cond, lang) if predicted is None else predicted.when(cond, lang)
        )
    assert predicted is not None
    return out.select(
        "doc_id",
        *keep_cols,
        *[F.col(f"score_{lang}") for lang in langs],
        predicted.otherwise(langs[-1]).alias("predicted_lang"),
    )


def fingerprint(df: DataFrame) -> DataFrame:
    """Order-insensitive bag-of-words fingerprint:
    sum(md5_60bit(token) mod p) mod p, p = 1e9+7 — overflow-safe in
    signed 64-bit even for million-token documents."""
    toks = df.select(
        F.col("doc_id"), F.explode(tokens_expr("text")).alias("__tok")
    )
    h = md5_long(F.col("__tok")) % FINGERPRINT_MOD
    return toks.groupBy("doc_id").agg(
        (F.sum(h) % FINGERPRINT_MOD).alias("fingerprint"),
        F.count(F.lit(1)).alias("token_count"),
    )


# ---------------------------------------------------------------------------
# Unicode normalization (NFC + accent folding)
# ---------------------------------------------------------------------------


def normalize_unicode(df: DataFrame) -> DataFrame:
    """Unicode hygiene for crawled corpora: NFC-compose the text, then
    derive a fold (accent-stripped + lowercased) for matching/dedup.

    Returns (id, nfc_text, folded_text, composed) where `composed` is
    TRUE when NFC changed the string (decomposed sequences present) —
    web text mixes composed and decomposed forms of the same glyphs, and
    unnormalized corpora silently split token statistics, dedup groups,
    and shingle hashes for visually identical strings.

    The codepoint transforms (NFC, NFD-and-drop-combining-marks) have no
    JVM builtin, so they run in an Arrow-batched pandas UDF (vectorized
    `Series.str.normalize`); the fold's lowercase stays JVM-side. One
    projection, no shuffle — this belongs in the first scan pass of a
    curation pipeline, before anything hashes text. Exactly replayable
    in DuckDB (`nfc_normalize`, `strip_accents`, `lower`) for the
    oracle.
    """
    import unicodedata

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def nfc(s: pd.Series) -> pd.Series:
        return s.str.normalize("NFC")

    @pandas_udf("string")
    def strip_marks(s: pd.Series) -> pd.Series:
        def fold(x):
            if x is None:
                return None
            return "".join(
                c
                for c in unicodedata.normalize("NFD", x)
                if not unicodedata.combining(c)
            )

        return s.map(fold)

    nfc_text = nfc(F.col("text"))
    return df.select(
        F.col("doc_id"),
        nfc_text.alias("nfc_text"),
        F.lower(strip_marks(F.col("text"))).alias("folded_text"),
        (nfc_text != F.col("text")).alias("composed"),
    )


def collocations(
    df: DataFrame,
    min_pair_docs: int = 2,
    top_k: int = 50,
) -> DataFrame:
    """Document-level collocation mining: adjacent word pairs that
    co-occur in more documents than their parts predict.

    Association is measured by LIFT — n_docs·df(w1,w2) / (df(w1)·df(w2))
    — not PMI: lift is the same ordering (PMI = log lift) computed with
    one multiply/divide over EXACT document-frequency counts, so it is
    bit-identical across engines where log-based scores inherit libm
    rounding. Document frequency (not raw term frequency) keeps one
    spammy document from minting a collocation.

    Output: (w1, w2, pair_docs, w1_docs, w2_docs, lift), top_k by
    (lift desc, pair_docs desc, w1, w2) — fully tie-broken.

    Scale: bigram and unigram doc-frequency tables are vocabulary-sized
    aggregations (partial-aggregable); the pair table joins the unigram
    table twice on single words — broadcast-eligible — and top-k is
    TakeOrderedAndProject. `min_pair_docs` prunes the bigram tail
    before the joins, where virtually all of the mass is.
    """
    from legendary_data_pipeline_spark.operators.dedup import tokens_expr

    toks = df.select(
        F.col("doc_id").alias("__id"), tokens_expr("text").alias("__t")
    ).filter(F.size("__t") >= 2).localCheckpoint(
        eager=False
    )  # n_docs + unigram + bigram consumers (r11 scan audit: 4 scans)
    n_docs = toks.select(F.count_distinct("__id").alias("__n"))
    # .distinct() on (doc, word): array_distinct dedupes within one
    # ROW, but a doc_id ingested twice must still count once toward
    # document frequency (mirrors the oracle's SELECT DISTINCT).
    uni = (
        toks.select(
            "__id", F.explode(F.array_distinct("__t")).alias("w")
        )
        .distinct()
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("w_docs"))
    )
    pairs = (
        toks.select(
            "__id",
            F.explode(
                F.array_distinct(
                    F.zip_with(
                        F.slice("__t", 1, F.size("__t") - 1),
                        F.slice("__t", 2, F.size("__t") - 1),
                        lambda a, b: F.struct(
                            a.alias("w1"), b.alias("w2")
                        ),
                    )
                )
            ).alias("p"),
        )
        .select("__id", "p.w1", "p.w2")
        .distinct()  # duplicate doc_id rows count once (see uni)
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("pair_docs"))
        .filter(F.col("pair_docs") >= min_pair_docs)
    )
    u1 = uni.select(F.col("w").alias("w1"), F.col("w_docs").alias("w1_docs"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("w_docs").alias("w2_docs"))
    lift = (
        F.col("__n").cast("double") * F.col("pair_docs").cast("double")
    ) / (
        F.col("w1_docs").cast("double") * F.col("w2_docs").cast("double")
    )
    return (
        pairs.join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "w1", "w2", "pair_docs", "w1_docs", "w2_docs",
            lift.alias("lift"),
        )
        .orderBy(
            F.col("lift").desc(),
            F.col("pair_docs").desc(),
            F.col("w1").asc(),
            F.col("w2").asc(),
        )
        .limit(top_k)
    )


# ---------------------------------------------------------------------------
# sentence segmentation — JVM column expression (hot path) + Python UDTF
# (Spark 4 table-function surface, with character offsets)
# ---------------------------------------------------------------------------

def readability(df: DataFrame) -> DataFrame:
    """Flesch reading-ease per document (heuristic syllable counting).

    FRE = 206.835 − 1.015·(words/sentences) − 84.6·(syllables/words),
    with counts from portable regexes: words = non-empty whitespace
    tokens, sentences = runs of terminal punctuation ``[.!?]+``
    (floored at 1), syllables ≈ vowel-group runs ``[aeiouy]+`` in the
    lowercased text (the standard cheap approximation; floored at 1).
    All three counts are exact integers; the formula is a fixed IEEE
    double tree over identical literals, so the score is bit-identical
    across engines. Zero-word documents are dropped.

    Zero shuffles — a pure projection at scan parallelism; the corpus
    quality-gate sibling of `quality_score` for human-readability
    filtering (e.g. drop FRE < 0 boilerplate/code pages).
    """
    words = F.size(
        F.filter(tokens_expr("text"), lambda x: x != F.lit(""))
    ).cast("long")
    sents = F.greatest(
        F.lit(1).cast("long"),
        F.regexp_count(F.col("text"), F.lit(r"[.!?]+")).cast("long"),
    )
    syl = F.greatest(
        F.lit(1).cast("long"),
        F.regexp_count(F.lower(F.col("text")), F.lit("[aeiouy]+")).cast(
            "long"
        ),
    )
    out = df.select(
        F.col("doc_id"),
        words.alias("n_words"),
        sents.alias("n_sentences"),
        syl.alias("n_syllables"),
    ).where(F.col("n_words") > 0)
    fre = (
        F.lit(206.835)
        - F.lit(1.015)
        * (F.col("n_words").cast("double") / F.col("n_sentences").cast("double"))
        - F.lit(84.6)
        * (F.col("n_syllables").cast("double") / F.col("n_words").cast("double"))
    )
    # raw IEEE tree over exact integer counts — bit-stable without a
    # fractional round (the round-9 representation audit).
    return out.withColumn("flesch", fre)


def keywords_tf_rarity(
    df: DataFrame,
    top_k: int = 3,
) -> DataFrame:
    """Top-k distinctive terms per document, ranked (tf desc, df asc).

    TF-IDF's ordering without its floats: a term beats another when its
    in-document frequency is higher, ties broken by LOWER corpus
    document frequency (rarer = more distinctive), then by the term
    itself — a total order over exact integers, so the selection is
    deterministic and engine-identical (log-based tf·idf scores would
    inherit libm rounding). Stopwords need no list: their huge df sorts
    them last among equals.

    Plan: explode → (doc, term) tf aggregation → vocabulary-sized df
    aggregation → equi-join on term → per-document top-k window. All
    shuffles key on term or doc id; the window partitions by document.

    Output: (doc_id, term, tf, df_docs, rank), rank 1..top_k.
    """
    toks = df.select(
        F.col("doc_id").alias("__id"),
        F.explode(
            F.filter(tokens_expr("text"), lambda x: x != F.lit(""))
        ).alias("__w"),
    )
    tf = toks.groupBy("__id", "__w").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    dfreq = tf.groupBy("__w").agg(
        F.count(F.lit(1)).cast("long").alias("df_docs")
    )
    w = Window.partitionBy("__id").orderBy(
        F.col("tf").desc(), F.col("df_docs").asc(), F.col("__w").asc()
    )
    return (
        tf.join(dfreq, "__w")
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= top_k)
        .select(
            F.col("__id").alias("doc_id"),
            F.col("__w").alias("term"),
            "tf",
            "df_docs",
            "rank",
        )
    )


#: split AFTER terminal punctuation, consuming the whitespace run.
#: ASCII whitespace only — identical semantics in Java and Python regex
#: engines (Java's \s is ASCII-only by default; spelling the class out
#: keeps the UDTF and the column expression in exact parity).
SENTENCE_SPLIT_REGEX = r"(?<=[.!?])[ \t\r\n\f]+"


def split_sentences_expr(text: Column) -> Column:
    """array<string> of sentences — pure JVM regex split, the hot-path
    form (whole-stage codegen, no Python). Sentence boundary = ASCII
    whitespace run preceded by `.`, `!` or `?`.

    Empty pieces are removed to match the UDTF exactly: text ending in
    terminal punctuation + whitespace (the common ``.\\n`` doc tail)
    would otherwise leave a trailing ``""`` element (``F.split`` uses
    limit -1) and inflate sentence counts; the UDTF skips empty pieces.
    """
    return F.array_remove(F.split(text, SENTENCE_SPLIT_REGEX), "")


def make_sentences_udtf():
    """Spark 4 Python UDTF emitting one row per sentence WITH character
    offsets: (sent_idx, sentence, start_char, n_chars).

    The UDTF form exists for what the column expression can't return —
    positions into the original text (for span-level provenance,
    highlight anchors, downstream slicing). It is row-at-a-time Python:
    per the engine's UDF policy it belongs on bounded/derived frames,
    not the raw-corpus hot path — there, use `split_sentences_expr`
    (parity between the two is pinned by test). Register via
    `register_udtfs(spark)` (ships the package first — the class
    pickles by reference).
    """
    import re

    from pyspark.sql.functions import udtf

    pat = re.compile(SENTENCE_SPLIT_REGEX)

    @udtf(returnType="sent_idx int, sentence string, start_char int, n_chars int")
    class SplitSentences:
        def eval(self, text: str):
            if text is None:
                return
            cursor = 0
            idx = 0
            for m in list(pat.finditer(text)) + [None]:
                end = m.start() if m is not None else len(text)
                piece = text[cursor:end]
                if piece != "":
                    yield idx, piece, cursor, len(piece)
                    idx += 1
                cursor = m.end() if m is not None else end

    return SplitSentences


def register_udtfs(spark) -> None:
    """Register the engine's UDTFs for SQL use (LATERAL joins), shipping
    the package so executors can unpickle the classes."""
    from legendary_data_pipeline_spark.session import ship_package

    ship_package(spark)
    spark.udtf.register("split_sentences", make_sentences_udtf())


def ngram_novelty(
    df: DataFrame,
    shingle_n: int = 3,
) -> DataFrame:
    """Per-document n-gram NOVELTY: what fraction of a doc's distinct
    word n-grams appear in NO other document? The inverse signal of
    near-duplication — boilerplate-heavy docs score near 0, genuinely
    novel text near 1 — and the standard "synthetic-data diversity"
    probe (is the generator producing new n-grams or recombining the
    corpus?).

    novelty = |{s ∈ shingles(d) : df(s) = 1}| / |shingles(d)|
    where df counts DOCUMENTS containing the shingle (distinct per doc
    before counting, so internal repetition doesn't mask reuse).

    Output: (id, n_shingles, n_novel, novelty); docs with < n tokens
    have no shingles and return n_shingles = 0 with NULL novelty.

    Scale: explode → distinct(doc, shingle) → shingle-keyed df count
    (map-side combinable) → join back on shingle → per-doc re-agg. Two
    shingle-keyed shuffles, both over (doc, shingle) pairs — the same
    volume every shingle-dedup op here moves; hot shingles are exactly
    the df>1 ones, and AQE's skew split covers the join-back. Exact
    integer counts; one final division.
    """
    from legendary_data_pipeline_spark.operators.dedup import shingles_expr

    # Pin the distinct (doc, shingle) frame: it feeds the document-
    # frequency count AND the join-back — unpinned, each consumer
    # replays the explode+distinct corpus scan AND its shuffle (the
    # distinct is itself an exchange) — r13 audit: 3 scans. The pin is
    # the same (doc, shingle) volume every shingle-dedup op here
    # already moves through one shuffle; materializing it once beats
    # re-deriving it twice (scan + explode + distinct exchange each).
    pairs = (
        df.select(
            F.col("doc_id"), F.explode(shingles_expr("text", shingle_n)).alias("__s")
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    dfreq = pairs.groupBy("__s").agg(
        F.count(F.lit(1)).cast("long").alias("__df")
    )
    per_doc = (
        pairs.join(dfreq, "__s")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            F.sum(F.when(F.col("__df") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_novel"),
        )
    )
    base = df.select("doc_id")
    out = base.join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_shingles", F.lit(0)).cast("long").alias("n_shingles"),
        F.coalesce("n_novel", F.lit(0)).cast("long").alias("n_novel"),
        F.when(
            F.coalesce("n_shingles", F.lit(0)) > 0,
            F.col("n_novel").cast("double")
            / F.col("n_shingles").cast("double"),
        ).alias("novelty"),
    )
    return out


#: (name, regex character class) — explicit codepoint ranges, identical
#: semantics in Java regex (Spark) and RE2 (DuckDB) via the \x{...}
#: hex form BOTH engines accept (RE2 rejects \uXXXX); \p{Script=...}
#: names differ across engines, ranges do not.
SCRIPT_CLASSES: tuple[tuple[str, str], ...] = (
    ("latin", "[A-Za-z\\x{00C0}-\\x{024F}]"),
    ("cyrillic", "[\\x{0400}-\\x{04FF}]"),
    ("greek", "[\\x{0370}-\\x{03FF}]"),
    ("arabic", "[\\x{0600}-\\x{06FF}]"),
    ("cjk", "[\\x{3040}-\\x{30FF}\\x{4E00}-\\x{9FFF}]"),
    ("hangul", "[\\x{AC00}-\\x{D7AF}]"),
    ("digit", "[0-9]"),
    ("space", "[ \\t\\r\\n]"),
)


def script_profile(df: DataFrame) -> DataFrame:
    """Per-document Unicode-script composition — the multilingual-corpus
    primitive under mixing decisions and mojibake detection: a document
    claiming lang='en' that is 40% Cyrillic is mislabeled or corrupted;
    a 'zh' doc with zero CJK chars is junk.

    Counts characters per script class (explicit codepoint ranges —
    engine-portable, unlike \\p{Script=...} names) via the
    length-minus-stripped identity, plus `other` (anything unclassed)
    and `dominant_script` — the class with the most hits, ties to the
    class order above, 'other' only when nothing matched. Zero-shuffle
    projection: every count is `length(text) - length(regexp_replace(
    text, class, ''))` inside whole-stage codegen; no tokenization, no
    Python. NULL text profiles as zero counts with NULL dominant.
    """
    t = F.coalesce(F.col("text"), F.lit(""))
    n_chars = F.length(t)
    counts = {
        name: (n_chars - F.length(F.regexp_replace(t, cls, "")))
        .cast("long")
        .alias(name)
        for name, cls in SCRIPT_CLASSES
    }
    out = df.select(F.col("doc_id"), n_chars.cast("long").alias("n_chars"),
                    *counts.values())
    classified = None
    for name, _ in SCRIPT_CLASSES:
        c = F.col(name)
        classified = c if classified is None else classified + c
    dominant = None
    for name, _ in SCRIPT_CLASSES:
        cond = None
        for other, _ in SCRIPT_CLASSES:
            if other == name:
                continue
            clause = F.col(name) >= F.col(other)
            cond = clause if cond is None else cond & clause
        cond = cond & (F.col(name) > 0)
        dominant = (
            F.when(cond, name) if dominant is None else dominant.when(cond, name)
        )
    return out.select(
        "doc_id",
        "n_chars",
        *[name for name, _ in SCRIPT_CLASSES],
        (F.col("n_chars") - classified).cast("long").alias("other"),
        F.when(F.col("n_chars") > 0, dominant.otherwise("other")).alias(
            "dominant_script"
        ),
    )


def vocab_richness(df: DataFrame) -> DataFrame:
    """Vocabulary-richness estimators per corpus slice — "how much
    vocabulary have we NOT seen yet?", the coverage question behind
    corpus-growth and tokenizer-vocab decisions:

    - hapax / doubletons: counts of once- and twice-seen word types
      (Zipf's tail mass — a high hapax share means sampling is far
      from saturated).
    - chao1: the Chao1 lower-bound estimate of TRUE vocabulary size,
      V + f1²/(2·f2); the bias-corrected form V + f1(f1−1)/2 applies
      when f2 = 0 (both exact-integer ratios → one IEEE division).
    - gt_unseen: the Good–Turing estimate of unseen probability mass,
      f1/N — the chance the NEXT token is a new type.

    All counts are exact integers from one (group, token) groupBy +
    one group re-aggregation — map-side combinable, the only shuffle
    keys are (group, token) then group; estimator ratios are exact
    IEEE divisions of exact integers emitted RAW (the representation
    rule). Empty slices yield no row; V ≥ 1 always has N ≥ 1.

    Output per source: n_tokens, vocab, hapax, doubletons, chao1,
    gt_unseen.
    """
    toks = F.filter(tokens_expr("text"), lambda t: t != F.lit(""))
    tok = df.select("source", F.explode(toks).alias("__w"))
    counts = tok.groupBy("source", "__w").agg(
        F.count(F.lit(1)).cast("long").alias("__c")
    )
    agg = counts.groupBy("source").agg(
        F.sum("__c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("vocab"),
        F.sum(F.when(F.col("__c") == 1, 1).otherwise(0))
        .cast("long")
        .alias("hapax"),
        F.sum(F.when(F.col("__c") == 2, 1).otherwise(0))
        .cast("long")
        .alias("doubletons"),
    )
    v = F.col("vocab").cast("double")
    f1 = F.col("hapax").cast("double")
    f2 = F.col("doubletons").cast("double")
    chao1 = F.when(
        F.col("doubletons") > 0, v + f1 * f1 / (F.lit(2.0) * f2)
    ).otherwise(v + f1 * (f1 - F.lit(1.0)) / F.lit(2.0))
    gt_unseen = f1 / F.col("n_tokens").cast("double")
    return agg.select(
        "source",
        "n_tokens",
        "vocab",
        "hapax",
        "doubletons",
        chao1.alias("chao1"),
        gt_unseen.alias("gt_unseen"),
    )


def corpus_entropy(df: DataFrame) -> DataFrame:
    """Unigram/bigram Shannon entropy per corpus slice (nats) — the
    diversity/compressibility profile: low entropy = templated or
    repetitive text, a falling conditional entropy across snapshots =
    the corpus is converging on boilerplate.

    - h1: unigram token entropy, ln N − (Σ c·ln c)/N over the
      (group, token) counts.
    - h2: entropy of the within-document adjacent-bigram distribution.
    - h_cond: H(w₂ | w₁) = h2 − entropy of the bigram first-word
      marginal — next-token uncertainty given one token of context
      (computed on the SAME bigram sample space, so it is a true
      conditional entropy, always ≥ 0 up to quantization).
    - redundancy: 1 − h1/ln V (0 = uniform vocabulary use, → 1 =
      concentrated); NULL when V < 2.

    Exactness: counts are exact integers; each entropy is a fixed
    expression whose only float accumulation is Σ c·ln c — per-term
    1-ulp noise sums to ≪ 1 micro-nat at any realistic vocabulary, so
    the *_e6 BIGINT emission is stable (the BM25/MI float-sum
    precedent; exact-integer emission is impossible for libm terms).

    Scale: one (group, token) and one (group, bigram) groupBy — the
    bigram table is the big one (corpus-sized fan-in bounded by doc
    length); both map-side combinable, final re-agg is group-sized.

    Output per source: n_tokens, n_bigrams, h1_e6, h2_e6, h_cond_e6,
    redundancy_e6.
    """
    toks = F.filter(tokens_expr("text"), lambda t: t != F.lit(""))
    base = df.select("source", toks.alias("__t"))

    def entropy_over(counts: DataFrame, cnt: str, out: str) -> DataFrame:
        """group rows → (source, n_<out>, sum c·ln c) aggregated."""
        return counts.groupBy("source").agg(
            F.sum(F.col(cnt)).cast("long").alias(f"__n_{out}"),
            F.sum(
                F.col(cnt).cast("double")
                * F.log(F.col(cnt).cast("double"))
            ).alias(f"__s_{out}"),
        )

    uni = base.select("source", F.explode("__t").alias("__w"))
    uni_counts = uni.groupBy("source", "__w").agg(
        F.count(F.lit(1)).cast("long").alias("__c")
    )
    # vocab for redundancy comes from the same distinct frame
    uni_agg = uni_counts.groupBy("source").agg(
        F.sum("__c").cast("long").alias("__n_uni"),
        F.sum(
            F.col("__c").cast("double") * F.log(F.col("__c").cast("double"))
        ).alias("__s_uni"),
        F.count(F.lit(1)).cast("long").alias("__v"),
    )
    bi = base.where(F.size("__t") >= 2).select(
        "source",
        F.explode(
            F.zip_with(
                F.slice(F.col("__t"), 1, F.size("__t") - 1),
                F.slice(F.col("__t"), 2, F.size("__t") - 1),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("__bg"),
    )
    bi_counts = bi.groupBy(
        "source", F.col("__bg.w1").alias("__w1"), F.col("__bg.w2").alias("__w2")
    ).agg(F.count(F.lit(1)).cast("long").alias("__c"))
    # Pin: the bigram count frame feeds both the joint entropy and the
    # first-word marginal (r9 multi-consumer rule).
    bi_counts = bi_counts.localCheckpoint(eager=False)
    bi_agg = entropy_over(bi_counts, "__c", "bi")
    ctx_counts = bi_counts.groupBy("source", "__w1").agg(
        F.sum("__c").cast("long").alias("__c")
    )
    ctx_agg = entropy_over(ctx_counts, "__c", "ctx")

    def attach(left: DataFrame, right: DataFrame) -> DataFrame:
        rr = right.select(
            F.col("source").alias("__rg_source"),
            *[c for c in right.columns if c != "source"],
        )
        cond = F.col("source").eqNullSafe(F.col("__rg_source"))
        return left.join(rr, cond, "left").drop("__rg_source")

    j = attach(attach(uni_agg, bi_agg), ctx_agg)

    def h(n_col: str, s_col: str) -> Column:
        n = F.col(n_col).cast("double")
        return F.when(
            F.col(n_col) > 0, F.log(n) - F.col(s_col) / n
        )

    h1 = h("__n_uni", "__s_uni")
    h2 = h("__n_bi", "__s_bi")
    hctx = h("__n_ctx", "__s_ctx")
    red = F.when(
        F.col("__v") >= 2, F.lit(1.0) - h1 / F.log(F.col("__v").cast("double"))
    )
    return j.select(
        "source",
        F.col("__n_uni").alias("n_tokens"),
        F.coalesce(F.col("__n_bi"), F.lit(0)).alias("n_bigrams"),
        e6(h1).alias("h1_e6"),
        e6(h2).alias("h2_e6"),
        e6(h2 - hctx).alias("h_cond_e6"),
        e6(red).alias("redundancy_e6"),
    )


def vocab_coverage_points(
    df: DataFrame,
    targets_ppm: tuple[int, ...] = (500_000, 900_000, 990_000),
) -> DataFrame:
    """Vocabulary coverage points per corpus slice: the SMALLEST number
    of word types (taken most-frequent-first) whose occurrences cover
    ≥ p of all tokens, for p = 50/90/99% — the tokenizer-vocab-size /
    head-heaviness readout ("how top-heavy is this slice?"; a tiny
    types_p90 means boilerplate).

    EXACT everywhere: the distinct-type frame compresses to COUNT
    CLASSES (count value c, m types with that count); descending
    prefixes over classes come from one distributed below-counts pass
    on −c; the crossing class for target T_p = ⌈p·N⌉ satisfies
    above(c) < T_p ≤ above(c) + c·m and the answer is
    types_above(c) + ⌈(T_p − tokens_above(c))/c⌉ — all integer
    arithmetic, bit-deterministic, no per-type ranking window at all
    (the frame that matters is CLASS-sized: ≤ distinct count values).

    Output per source: n_tokens, vocab, types_p50, types_p90,
    types_p99 (column per target, ppm-labeled).
    """
    from legendary_data_pipeline_spark.operators.stats import (
        bigint_mul_div,
        distributed_below_counts,
    )

    toks = F.filter(tokens_expr("text"), lambda t: t != F.lit(""))
    tok = df.select("source", F.explode(toks).alias("__w"))
    type_counts = tok.groupBy("source", "__w").agg(
        F.count(F.lit(1)).cast("long").alias("__c")
    )
    classes = type_counts.groupBy("source", "__c").agg(
        F.count(F.lit(1)).cast("long").alias("__m")
    )
    classes = classes.withColumn("__negc", -F.col("__c")).withColumn(
        "__tok", (F.col("__c") * F.col("__m")).cast("long")
    )
    joined = distributed_below_counts(
        classes, "__negc", ["__m", "__tok"], inclusive=False,
        group_cols=["source"],
    ).select(
        "source",
        "__c",
        "__m",
        F.col("__m_cum").alias("__types_above"),
        F.col("__tok_cum").alias("__tokens_above"),
        F.col("__tok_total").alias("n_tokens"),
        F.col("__m_total").alias("vocab"),
    )
    targets = sorted(set(int(p) for p in targets_ppm))
    names = [f"types_p{p // 10_000}" for p in targets]
    if len(set(names)) != len(names):
        raise ValueError(
            "vocab_coverage_points: two targets_ppm land in the same "
            f"10k-ppm output-name band ({targets}) — duplicate column "
            "names would corrupt the schema; space the targets"
        )
    agg_cols = [
        F.max("n_tokens").alias("n_tokens"),
        F.max("vocab").alias("vocab"),
    ]
    for p in targets:
        # T_p = ceil(p·N/1e6) exactly — BIGINT integer DIV, never a
        # decimal round-half-up cast, and exact for every BIGINT N
        joined = joined.withColumn(
            f"__tp_{p}", bigint_mul_div("n_tokens", p, 1_000_000, ceil=True)
        )
        crossing = (F.col("__tokens_above") < F.col(f"__tp_{p}")) & (
            F.col(f"__tp_{p}")
            <= F.col("__tokens_above") + F.col("__c") * F.col("__m")
        )
        # ceil((T_p − tokens_above)/c) for positive operands via DIV
        need = F.col("__types_above") + F.expr(
            f"CAST((__tp_{p} - __tokens_above + __c - 1) DIV __c "
            "AS BIGINT)"
        )
        agg_cols.append(
            F.min(F.when(crossing, need)).alias(f"types_p{p // 10_000}")
        )
    return joined.groupBy("source").agg(*agg_cols)


def zipf_fit(df: DataFrame) -> DataFrame:
    """Binned Zipf rank-frequency fit per corpus slice: weighted OLS of
    ln(frequency) on ln(rank) with one point per COUNT CLASS at its
    midpoint rank, weighted by the class's type count — the standard
    log-binned fit (reduces the low-count tail bias of per-type fits)
    and the engine-canonical form: no per-type ranking window exists
    anywhere, so the plan touches only the class-sized frame. Natural
    text lands near slope ≈ −1; templated/boilerplate slices flatten
    (more uniform head) or steepen (giant head token).

    Class midpoint rank: types with count c occupy ranks
    (types_above(c), types_above(c) + m]; x = ln((lo + hi)/2) via the
    doubled-integer midrank (lo + hi is exact), y = ln c, weight = m.
    Sums run over ≤ |distinct count values| classes — float noise
    ≪ 1e-6, the e6 emission absorbs it (the MI/BM25 precedent).

    Output per source: n_classes, vocab, slope_e6, intercept_e6, r2_e6
    (NULL fit when < 2 classes).
    """
    from legendary_data_pipeline_spark.operators.stats import (
        distributed_below_counts,
    )

    toks = F.filter(tokens_expr("text"), lambda t: t != F.lit(""))
    tok = df.select("source", F.explode(toks).alias("__w"))
    type_counts = tok.groupBy("source", "__w").agg(
        F.count(F.lit(1)).cast("long").alias("__c")
    )
    classes = type_counts.groupBy("source", "__c").agg(
        F.count(F.lit(1)).cast("long").alias("__m")
    ).withColumn("__negc", -F.col("__c"))
    cum = distributed_below_counts(
        classes, "__negc", ["__m"], inclusive=False, group_cols=["source"]
    ).select(
        "source",
        "__c",
        "__m",
        F.col("__m_cum").cast("long").alias("__above"),
    )
    # doubled midrank: lo + hi = 2·above + m + 1
    mid2 = (
        F.lit(2) * F.col("__above") + F.col("__m") + F.lit(1)
    ).cast("double")
    x = F.log(mid2 / F.lit(2.0))
    y = F.log(F.col("__c").cast("double"))
    w = F.col("__m").cast("double")
    agg = cum.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_classes"),
        F.sum("__m").cast("long").alias("vocab"),
        F.sum(w).alias("__sw"),
        F.sum(w * x).alias("__swx"),
        F.sum(w * y).alias("__swy"),
        F.sum(w * x * x).alias("__swxx"),
        F.sum(w * y * y).alias("__swyy"),
        F.sum(w * x * y).alias("__swxy"),
    )
    sw = F.col("__sw")
    num = sw * F.col("__swxy") - F.col("__swx") * F.col("__swy")
    den_x = sw * F.col("__swxx") - F.col("__swx") * F.col("__swx")
    den_y = sw * F.col("__swyy") - F.col("__swy") * F.col("__swy")
    slope = num / F.nullif(den_x, F.lit(0.0))
    intercept = (F.col("__swy") - slope * F.col("__swx")) / sw
    r2 = (num * num) / F.nullif(den_x * den_y, F.lit(0.0))
    ok = F.col("n_classes") >= 2
    return agg.select(
        "source",
        "n_classes",
        "vocab",
        F.when(ok, e6(slope)).alias("slope_e6"),
        F.when(ok, e6(intercept)).alias("intercept_e6"),
        F.when(ok, e6(r2)).alias("r2_e6"),
    )


def source_cosine_matrix(df: DataFrame) -> DataFrame:
    """Pairwise cosine similarity between corpus slices' unigram
    count vectors — the WEIGHTED companion to the vocabulary-overlap
    Jaccard (which ignores frequencies): "how alike do these sources
    actually read?" — the source-drift / mixture-redundancy readout.

        cos(i, j) = Σ_w c_iw·c_jw / (‖c_i‖·‖c_j‖)

    Dot products and squared norms are EXACT integers (decimal(38,0)
    sums of int64 count products); each cosine is one fixed IEEE tree
    emitted as cos_e6 BIGINT. The emitted `dot` is BIGINT with a
    documented envelope (the kendall convention): dot ≤ N_a·N_b, so it
    is int64-safe while the PRODUCT of the two slices' token counts
    stays under 9.2×10¹⁸ (e.g. two 3×10⁹-token slices) — beyond that,
    shard the slices or drop the dot column; the cosine itself is
    computed from the decimal sums and unaffected. Pairs are emitted
    once (source_a < source_b by natural order); pairs sharing NO
    token are absent (their cosine is exactly 0 and the token-keyed
    join never sees them — sparse-matrix semantics, deliberate).

    Scale: one (group, token) groupBy, then a token-keyed self-join of
    the per-group count vectors — groups are FEW by contract (sources/
    langs), so the pair fan-out per token is ≤ k²; norms come from the
    same count frame (pinned, r9 rule). Nothing data-sized funnels
    anywhere.

    Output per pair: source_a, source_b, dot, cos_e6.
    """
    g = F.col("source")
    toks = F.filter(tokens_expr("text"), lambda t: t != F.lit(""))
    tok = df.select(g.alias("__g"), F.explode(toks).alias("__w"))
    counts = tok.groupBy("__g", "__w").agg(
        F.count(F.lit(1)).cast("long").alias("__c")
    ).localCheckpoint(eager=False)  # join sides + norms (r9 rule)
    norms = counts.groupBy("__g").agg(
        F.sum((F.col("__c") * F.col("__c")).cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("__nrm2")
    )
    left = counts.select(
        F.col("__g").alias("__ga"), "__w", F.col("__c").alias("__ca")
    )
    right = counts.select(
        F.col("__g").alias("__gb"),
        F.col("__w").alias("__wb"),
        F.col("__c").alias("__cb"),
    )
    dots = (
        left.join(
            right,
            (F.col("__w") == F.col("__wb"))
            & (F.col("__ga") < F.col("__gb")),
        )
        .groupBy("__ga", "__gb")
        .agg(
            F.sum((F.col("__ca") * F.col("__cb")).cast("decimal(38,0)"))
            .cast("decimal(38,0)")
            .alias("__dot")
        )
    )
    na = norms.select(
        F.col("__g").alias("__ga"), F.col("__nrm2").alias("__na2")
    )
    nb = norms.select(
        F.col("__g").alias("__gb"), F.col("__nrm2").alias("__nb2")
    )
    j = dots.join(F.broadcast(na), "__ga").join(F.broadcast(nb), "__gb")
    cos = F.col("__dot").cast("double") / F.nullif(
        F.sqrt(F.col("__na2").cast("double"))
        * F.sqrt(F.col("__nb2").cast("double")),
        F.lit(0.0),
    )
    return j.select(
        F.col("__ga").alias("source_a"),
        F.col("__gb").alias("source_b"),
        F.col("__dot").cast("long").alias("dot"),
        e6(cos).alias("cos_e6"),
    )
