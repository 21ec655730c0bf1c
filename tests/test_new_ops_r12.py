"""Hand-computed contracts for the round-12 composite readouts
(X220–X223): tokenizer-aware dedup savings, BPE-subword near-dup
pairs, NB calibration readout, NB score-drift PSI."""

from __future__ import annotations

from pyspark.sql import functions as F

# the registry package must initialize before any queries_* submodule
# is imported directly (rotation-time import-order contract)
import legendary_data_pipeline_spark.queries  # noqa: F401


# ---------------------------------------------------------------------------
# frozen-BPE spaced segmentation (feeds X220/X221)
# ---------------------------------------------------------------------------


def _py_bpe_segments(word: str) -> list[str]:
    """Independent pure-Python replay of the frozen table's sequential
    merge application (the subword-nmt original form the SQL/JVM
    string-replace pipeline implements)."""
    from legendary_data_pipeline_spark.queries_llm import (
        _BPE_MERGES_FROZEN,
    )

    syms = list(word) + ["</w>"]
    for a, b in _BPE_MERGES_FROZEN:
        out: list[str] = []
        i = 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


def test_bpe_fixed_spaced_matches_python_reference(spark):
    from legendary_data_pipeline_spark.queries_llm import (
        _bpe_fixed_spaced,
        _bpe_fixed_token_count,
    )

    words = ["slow", "parts", "filter", "aggg", "x", "lines", "small"]
    df = spark.createDataFrame([(w,) for w in words], "w string")
    rows = df.select(
        "w",
        _bpe_fixed_spaced(F.col("w")).alias("spaced"),
        _bpe_fixed_token_count(F.col("w")).alias("n"),
    ).collect()
    for r in rows:
        expect = _py_bpe_segments(r.w)
        assert r.spaced.split(" ") == expect, (r.w, r.spaced, expect)
        assert r.n == len(expect)


# ---------------------------------------------------------------------------
# X220 — dedup_token_savings_report identities vs keep_canonical
# ---------------------------------------------------------------------------


def test_token_savings_consistent_with_keep_canonical(spark, sf_dir):
    from legendary_data_pipeline_spark.queries_llm import (
        dedup_keep_canonical,
        dedup_token_savings_report,
    )

    sav = {
        r.source: r
        for r in dedup_token_savings_report(spark, sf_dir).collect()
    }
    keep = {r.source: r for r in dedup_keep_canonical(spark, sf_dir).collect()}
    assert set(sav) == set(keep)
    for src, k in keep.items():
        s = sav[src]
        assert s.n_docs == k.n_docs
        assert s.n_docs_removed == k.n_docs - k.n_kept
        assert 0 <= s.bpe_tokens_removed <= s.bpe_tokens_total
        if s.n_docs_removed == 0:
            assert s.bpe_tokens_removed == 0
            assert s.token_savings_frac == 0.0


# ---------------------------------------------------------------------------
# X221 — BPE-subword near-dup pairs: supersets word-level dups
# ---------------------------------------------------------------------------


def test_bpe_ngram_jaccard_catches_word_level_dups(spark, sf_dir):
    from legendary_data_pipeline_spark.queries_llm import (
        dedup_bpe_ngram_jaccard,
        dedup_ngram_jaccard,
    )

    bpe = dedup_bpe_ngram_jaccard(spark, sf_dir).collect()
    word_dups = {
        (r.id_a, r.id_b)
        for r in dedup_ngram_jaccard(spark, sf_dir).collect()
        if r.is_dup
    }
    bpe_dups = {(r.id_a, r.id_b) for r in bpe if r.is_dup}
    # word-3-gram near-identical docs are near-identical in subword
    # space too: the tokenizer-aware pass must not LOSE true dups
    assert word_dups <= bpe_dups
    for r in bpe:
        assert 0.0 < r.jaccard <= 1.0


def test_bpe_ngram_jaccard_sees_through_word_boundary_edit(spark):
    """The motivating case: a spacing edit ('now here' vs 'nowhere'-
    style) guts word-level 3-gram overlap entirely (every gram
    straddles an edited boundary → word jaccard 0.0, the pair never
    even becomes a candidate) while BPE-subword 4-grams keep ~0.36
    overlap (letters chosen outside every frozen merge, hand-checked
    against the pure-Python reference) — comfortably above the 0.2
    candidate floor, so the tokenizer-aware pass SURFACES the pair
    word-level dedup cannot see."""
    from legendary_data_pipeline_spark.operators.dedup import (
        ngram_jaccard_blocked,
    )
    from legendary_data_pipeline_spark.queries_llm import (
        _bpe_fixed_spaced,
        _bpe_words_col,
    )

    base = "jjj kkk qqq vvv jjj kkk qqq vvv"
    # every second word boundary removed
    fused = "jjjkkk qqqvvv jjjkkk qqqvvv"
    docs = spark.createDataFrame(
        [(1, base, "en", len(base)), (2, fused, "en", len(fused))],
        "doc_id long, text string, lang string, n_chars long",
    )
    word_pairs = ngram_jaccard_blocked(docs).collect()
    assert word_pairs == []  # zero overlap: not even a candidate
    bpe_text = F.concat_ws(
        " ", F.transform(_bpe_words_col(), _bpe_fixed_spaced)
    )
    bpe_docs = docs.select(
        "doc_id", "lang", "n_chars", bpe_text.alias("text")
    )
    bpe_pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_blocked(
            bpe_docs, shingle_n=4, min_jaccard=0.2
        ).collect()
    }
    assert (1, 2) in bpe_pairs, bpe_pairs
    assert abs(bpe_pairs[(1, 2)] - 4.0 / 11.0) < 1e-12


# ---------------------------------------------------------------------------
# X222 — NB calibration readout identities
# ---------------------------------------------------------------------------


def test_nb_calibration_bins_identities(spark, sf_dir):
    from legendary_data_pipeline_spark.catalog import load_table
    from legendary_data_pipeline_spark.queries_curation import (
        ml_nb_quality_calibration,
    )

    rows = ml_nb_quality_calibration(spark, sf_dir).collect()
    assert rows, "holdout produced no bins"
    n_hold = (
        load_table(spark, sf_dir, "documents")
        .filter(
            F.col("source").isin("src0", "src1")
            & (F.col("doc_id") % 2 == 1)
        )
        .count()
    )
    assert sum(r.n for r in rows) == n_hold
    import decimal

    for r in rows:
        assert 0 <= r.bin <= 9
        assert abs(r.bin_mid - (r.bin + 0.5) / 10.0) < 1e-15
        assert 0 <= r.n_pos <= r.n
        # HALF_UP like Spark's F.round — Python round() is banker's
        # and would flip an exact .5 micro-tie to the even neighbor
        expect = int(
            (
                decimal.Decimal(r.n_pos) * 1_000_000 / decimal.Decimal(r.n)
            ).quantize(0, rounding=decimal.ROUND_HALF_UP)
        )
        assert r.frac_pos_e6 == expect


def test_softsign_link_bins_scores(spark):
    # score 0 → p = 0.5 exactly → bin 5; saturating scores hit the
    # outer bins; the link is monotone in the score
    s = F.col("score").cast("double") / F.lit(1e6)
    p = F.lit(0.5) + F.lit(0.5) * (s / (F.lit(1.0) + F.abs(s)))
    df = spark.createDataFrame(
        [(-100_000_000,), (-1_000_000,), (0,), (1_000_000,), (100_000_000,)],
        "score long",
    )
    got = [
        (r.p, r.bin)
        for r in df.select(
            p.alias("p"),
            F.least(
                F.floor(p * 10).cast("long"), F.lit(9)
            ).alias("bin"),
        ).collect()
    ]
    ps = [g[0] for g in got]
    assert ps == sorted(ps)
    assert got[2] == (0.5, 5)
    assert got[0][1] == 0 and got[-1][1] == 9
    assert got[1] == (0.25, 2) and got[3] == (0.75, 7)


# ---------------------------------------------------------------------------
# X223 — NB score PSI: identities + floor-binning of negatives
# ---------------------------------------------------------------------------


def test_quality_psi_identities(spark, sf_dir):
    from legendary_data_pipeline_spark.catalog import load_table
    from legendary_data_pipeline_spark.queries_curation import (
        dq_quality_score_psi_by_source,
    )

    rows = dq_quality_score_psi_by_source(spark, sf_dir).collect()
    assert rows
    docs = load_table(spark, sf_dir, "documents")
    n2 = docs.filter(F.col("source") == "src2").count()
    n3 = docs.filter(F.col("source") == "src3").count()
    assert sum(r.n_base for r in rows) == n2
    assert sum(r.n_current for r in rows) == n3
    psis = {r.psi_e6 for r in rows}
    assert len(psis) == 1  # feature-level total on every row
    # PSI is a sum of (p-q)·ln(p/q) ≥ 0 terms; e6 rounding can only
    # shave a term to -0-ish, never below -1
    assert psis.pop() >= 0
    assert all(r.psi_term_e6 >= -1 for r in rows)


def test_score_bin_floor_divides_negatives(spark):
    # floor semantics, NOT truncation: -3.5e6/2e6 → bin -2 (truncate
    # would give -1 and silently merge the two bins around zero)
    df = spark.createDataFrame(
        [(-3_500_000,), (-2_000_000,), (-1,), (0,), (1_999_999,), (2_000_000,)],
        "score long",
    )
    bins = [
        r.b
        for r in df.select(
            F.floor(F.col("score").cast("double") / F.lit(2e6))
            .cast("long")
            .alias("b")
        ).collect()
    ]
    assert bins == [-2, -1, -1, 0, 0, 1]


# ---------------------------------------------------------------------------
# X224 — ER blocking health report identities
# ---------------------------------------------------------------------------


def test_er_blocking_health_identities(spark, sf_dir):
    from legendary_data_pipeline_spark.queries_analytics import (
        er_blocking_health_report,
        er_fuzzy_pairs_part_names,
        er_sorted_neighborhood,
    )

    r = er_blocking_health_report(spark, sf_dir).collect()
    assert len(r) == 1
    r = r[0]
    assert r.total_pairs == r.n_records * (r.n_records - 1) // 2
    assert 0 <= r.cand_pairs_block <= r.total_pairs
    assert 0 <= r.cand_pairs_sn <= r.total_pairs
    assert r.max_block_size <= r.n_records
    assert r.matched_both <= min(r.matched_block, r.matched_sn)
    # the summary must agree with the per-pair frames it decides over
    assert r.matched_block == er_fuzzy_pairs_part_names(
        spark, sf_dir
    ).count()
    sn = er_sorted_neighborhood(spark, sf_dir)
    assert r.cand_pairs_sn == sn.count()
    assert abs(
        r.reduction_ratio_block
        - (1.0 - r.cand_pairs_block / r.total_pairs)
    ) < 1e-15


# ---------------------------------------------------------------------------
# X225 — dedup threshold sensitivity identities
# ---------------------------------------------------------------------------


def test_threshold_sensitivity_identities(spark, sf_dir):
    from legendary_data_pipeline_spark.queries_llm import (
        dedup_threshold_sensitivity,
        dedup_token_savings_report,
    )

    rows = {
        r.threshold: r
        for r in dedup_threshold_sensitivity(spark, sf_dir).collect()
    }
    assert set(rows) == {0.5, 0.7, 0.9}
    for r in rows.values():
        # keep-one-per-cluster accounting: removals = members − clusters
        assert r.n_docs_removed == r.n_dup_docs - r.n_clusters
        assert 0 <= r.bpe_tokens_removed <= r.bpe_tokens_corpus
    # lower threshold ⇒ superset dup graph ⇒ monotone savings
    assert (
        rows[0.5].n_docs_removed
        >= rows[0.7].n_docs_removed
        >= rows[0.9].n_docs_removed
    )
    assert (
        rows[0.5].bpe_tokens_removed
        >= rows[0.7].bpe_tokens_removed
        >= rows[0.9].bpe_tokens_removed
    )
    # the 0.5 row IS the per-source savings report, corpus-aggregated
    sav = dedup_token_savings_report(spark, sf_dir).collect()
    assert rows[0.5].n_docs_removed == sum(r.n_docs_removed for r in sav)
    assert rows[0.5].bpe_tokens_removed == sum(
        r.bpe_tokens_removed for r in sav
    )
    assert rows[0.5].bpe_tokens_corpus == sum(
        r.bpe_tokens_total for r in sav
    )


# ---------------------------------------------------------------------------
# X226 — ANN recall@k readout
# ---------------------------------------------------------------------------


def test_ivf_recall_readout_identities(spark, sf_dir):
    import decimal

    from legendary_data_pipeline_spark.queries_llm import (
        _IVFX_K,
        sim_ivf_recall_at_k,
    )

    rows = sim_ivf_recall_at_k(spark, sf_dir).collect()
    assert rows
    means = {r.mean_recall_e6 for r in rows}
    assert len(means) == 1
    th = sum(r.n_hits for r in rows)
    expect_mean = int(
        (
            decimal.Decimal(th) * 1_000_000
            / (decimal.Decimal(len(rows)) * _IVFX_K)
        ).quantize(0, rounding=decimal.ROUND_HALF_UP)
    )
    # double rounding vs decimal: one division of exact ints — equal
    assert means.pop() == expect_mean
    for r in rows:
        assert 0 <= r.n_hits <= _IVFX_K
        assert 0 <= r.recall_e6 <= 1_000_000


def test_ivf_recall_perfect_when_probing_all_lists(spark, sf_dir):
    """Probing every list makes fixed-IVF exhaustive, so recall@k vs
    global brute force must be exactly 1.0 for every query — the
    pigeonhole sanity proof of the whole readout's plumbing."""
    from pyspark.sql import functions as F

    from legendary_data_pipeline_spark.catalog import load_distributed
    from legendary_data_pipeline_spark.operators import similarity as S
    from legendary_data_pipeline_spark.queries_llm import (
        _IVFX_K,
        _IVFX_NC,
    )

    emb = load_distributed(spark, sf_dir, "embeddings")
    qf = F.col("vec_id") % 5 == 0
    truth = {
        (r.query_id, r.neighbor_id)
        for r in S.cosine_topk(
            emb,
            k=_IVFX_K,
            query_filter=qf,
            block_on_label=False,
            scaled_e6=True,  # the readout's shared ranking key
        ).collect()
    }
    full = {
        (r.query_id, r.neighbor_id)
        for r in S.ivf_fixed_topk(
            emb,
            n_centroids=_IVFX_NC,
            n_probe=_IVFX_NC,
            k=_IVFX_K,
            query_filter=qf,
        ).collect()
    }
    assert truth == full


# ---------------------------------------------------------------------------
# X227 — winnowing fingerprints (MOSS)
# ---------------------------------------------------------------------------


def _py_winnow(tokens, k=4, window=4):
    """Independent pure-Python winnowing reference (rightmost-min per
    window, distinct positions), on the engine's md5→60-bit hash."""
    import hashlib

    grams = [
        " ".join(tokens[i : i + k]) for i in range(len(tokens) - k + 1)
    ]
    H = [
        int(hashlib.md5(g.encode()).hexdigest()[:15], 16) for g in grams
    ]
    sel = set()
    for j in range(0, len(H) - window + 1):
        win = H[j : j + window]
        m = min(win)
        # rightmost occurrence of the min
        p = j + (window - 1) - win[::-1].index(m)
        sel.add(p)
    return {(p + 1, H[p]) for p in sel}  # 1-based positions


def test_winnow_matches_python_reference(spark):
    from legendary_data_pipeline_spark.operators.dedup import (
        winnow_fingerprints,
    )

    texts = [
        "a b c d e f g h i j k",
        "one two three four five six seven",
        "x y z w",          # exactly k tokens → 1 gram < window → none
        "p q r",            # < k tokens → no grams
        "t t t t t t t t",  # all-equal hashes → rightmost-min ties
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got: dict[int, set] = {}
    for r in winnow_fingerprints(df).collect():
        got.setdefault(r.doc_id, set()).add((r.pos, r.fp))
    for i, t in enumerate(texts):
        assert got.get(i, set()) == _py_winnow(t.split()), (i, t)


def test_winnow_coverage_guarantee(spark):
    """The winnowing theorem: a shared token run of length >=
    window + k - 1 guarantees >= 1 shared fingerprint — regardless of
    the surrounding (disjoint-vocabulary) context."""
    from legendary_data_pipeline_spark.operators.dedup import (
        winnow_fingerprints,
        winnow_pairs,
    )

    run = "m1 m2 m3 m4 m5 m6 m7"  # window + k - 1 = 7 tokens
    docs = spark.createDataFrame(
        [
            (1, f"aa bb cc dd {run} ee ff gg"),
            (2, f"pp qq rr {run} ss tt uu vv ww"),
            (3, "n1 n2 n3 n4 n5 n6 n7 n8 n9 n10"),  # unrelated
        ],
        "doc_id long, text string",
    )
    fps = winnow_fingerprints(docs)
    pairs = {
        (r.id_a, r.id_b): r.shared_fps
        for r in winnow_pairs(fps, min_shared=1).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] >= 1
    assert not any(3 in p for p in pairs)


def test_winnow_density_and_bucket_guard(spark, sf_dir):
    from legendary_data_pipeline_spark.catalog import load_table
    from legendary_data_pipeline_spark.operators.dedup import (
        winnow_fingerprints,
        winnow_pairs,
    )
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    fps = winnow_fingerprints(docs)
    per_doc = (
        fps.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
        .join(
            docs.select(
                "doc_id",
                (F.size(F.split(F.trim("text"), r"\s+")) - 3).alias("m"),
            ),
            "doc_id",
        )
        .collect()
    )
    assert per_doc
    for r in per_doc:
        nwin = r.m - 3
        assert 1 <= r.n <= max(nwin, 1)  # at most one pick per window
    # max_bucket=1 drops every shared fingerprint → no pairs survive
    # (a fingerprint held by 2+ docs always exceeds the bucket cap)
    assert winnow_pairs(fps, min_shared=1, max_bucket=1).count() == 0
