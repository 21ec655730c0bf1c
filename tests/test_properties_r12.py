"""Property-based python-reference tests for the round-12 composites
(X220–X223), following the r11 pattern: hypothesis drives data
generation driver-side, Spark evaluates the operator, and an
independent pure-Python model checks the result."""

from __future__ import annotations

import math

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

import legendary_data_pipeline_spark.queries  # noqa: F401  (init order)
from tests.test_new_ops_r12 import _py_bpe_segments

# alphabet biased toward merge-participating characters so the frozen
# table actually fires (pure a-z words would mostly skip the merges)
_BPE_ALPHABET = "aberlostwinfgpy"


def test_bpe_spaced_property_matches_python(spark):
    from legendary_data_pipeline_spark.queries_llm import (
        _bpe_fixed_spaced,
        _bpe_fixed_token_count,
    )

    words_strategy = st.lists(
        st.text(alphabet=_BPE_ALPHABET, min_size=1, max_size=12),
        min_size=1,
        max_size=60,
    )

    @settings(max_examples=15, deadline=None)
    @given(words_strategy)
    def check(words):
        df = spark.createDataFrame([(w,) for w in words], "w string")
        rows = df.select(
            "w",
            _bpe_fixed_spaced(F.col("w")).alias("spaced"),
            _bpe_fixed_token_count(F.col("w")).alias("n"),
        ).collect()
        for r in rows:
            expect = _py_bpe_segments(r.w)
            assert r.spaced.split(" ") == expect, (r.w, r.spaced)
            assert r.n == len(expect)

    check()


def test_token_savings_property_exact_clusters(spark):
    """Plant exact-clone clusters in an otherwise-unrelated corpus:
    the savings report must equal the pure-Python accounting
    (clusters = text-equality groups, canonical = min doc_id, savings
    = non-canonical members' token counts). Texts are built from
    disjoint per-doc vocabularies so no cross-cluster near-dup can
    form (verified MinHash pairs are then exactly the clone pairs)."""
    from legendary_data_pipeline_spark.queries_llm import (
        dedup_token_savings_report,
    )

    shape = st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=4),   # cluster size
            st.integers(min_value=6, max_value=12),  # words per doc
            st.sampled_from(["s0", "s1", "s2"]),     # source
        ),
        min_size=3,
        max_size=10,
    )

    @settings(max_examples=5, deadline=None)
    @given(shape)
    def check(clusters):
        rows = []
        doc_id = 0
        expected: dict[str, dict[str, int]] = {}
        for ci, (size, n_words, source) in enumerate(clusters):
            # disjoint vocabulary per cluster → zero cross-cluster overlap
            text = " ".join(f"w{ci}x{j}" for j in range(n_words))
            n_tok = sum(len(_py_bpe_segments(w)) for w in text.split())
            for m in range(size):
                e = expected.setdefault(
                    source,
                    {"n_docs": 0, "rm": 0, "tok": 0, "tok_rm": 0},
                )
                e["n_docs"] += 1
                e["tok"] += n_tok
                if m > 0:  # canonical = min doc_id = first member
                    e["rm"] += 1
                    e["tok_rm"] += n_tok
                rows.append((doc_id, text, "en", source, len(text)))
                doc_id += 1
        df = spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, "
            "n_chars long"
        )
        import tempfile

        with tempfile.TemporaryDirectory() as d:
            df.coalesce(1).write.mode("overwrite").parquet(
                f"{d}/documents.parquet"
            )
            got = {
                r.source: r
                for r in dedup_token_savings_report(spark, d).collect()
            }
        assert set(got) == set(expected)
        for src, e in expected.items():
            g = got[src]
            assert g.n_docs == e["n_docs"]
            assert g.n_docs_removed == e["rm"]
            assert g.bpe_tokens_total == e["tok"]
            assert g.bpe_tokens_removed == e["tok_rm"]

    check()


def test_calibration_bins_property_matches_python(spark):
    """calibration_bins over softsign-linked integer scores must match
    a pure-Python binning model exactly (counts are integers; the link
    and bin edge are deterministic IEEE expressions)."""
    from legendary_data_pipeline_spark.operators.mleval import (
        calibration_bins,
    )

    data = st.lists(
        st.tuples(
            st.integers(min_value=-(10**9), max_value=10**9),
            st.integers(min_value=0, max_value=1),
        ),
        min_size=1,
        max_size=300,
    )

    @settings(max_examples=10, deadline=None)
    @given(data)
    def check(pairs):
        df = spark.createDataFrame(pairs, "score long, label int")
        s = F.col("score").cast("double") / F.lit(1e6)
        p = F.lit(0.5) + F.lit(0.5) * (s / (F.lit(1.0) + F.abs(s)))
        got = {
            r.bin: r
            for r in calibration_bins(
                df.select(p.alias("p"), "label"),
                "p",
                "label",
                n_bins=10,
            ).collect()
        }
        ref: dict[int, list[int]] = {}
        for score, lab in pairs:
            sv = score / 1e6
            pv = 0.5 + 0.5 * (sv / (1.0 + abs(sv)))
            b = min(int(math.floor(pv * 10)), 9)
            ref.setdefault(b, [0, 0])
            ref[b][0] += 1
            ref[b][1] += lab
        assert set(got) == set(ref)
        for b, (n, pos) in ref.items():
            assert got[b].n == n
            assert got[b].n_pos == pos
            # HALF_UP e6 of an exact integer ratio
            import decimal

            e6 = int(
                (
                    decimal.Decimal(pos) * 1_000_000 / decimal.Decimal(n)
                ).quantize(0, rounding=decimal.ROUND_HALF_UP)
            )
            assert got[b].frac_pos_e6 == e6

    check()


def test_psi_drift_property_matches_python(spark):
    """psi_drift vs a pure-Python PSI model over random category
    counts (±1 e6 tolerance for float-sum association order)."""
    from legendary_data_pipeline_spark.operators.profiling import psi_drift

    counts = st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=8),
            st.integers(min_value=0, max_value=8),
        ),
        min_size=2,
        max_size=8,
    ).filter(
        lambda cs: sum(a for a, _ in cs) > 0 and sum(b for _, b in cs) > 0
    )

    @settings(max_examples=10, deadline=None)
    @given(counts)
    def check(cs):
        base_rows = []
        cur_rows = []
        for i, (na, nb) in enumerate(cs):
            base_rows += [(f"c{i}",)] * na
            cur_rows += [(f"c{i}",)] * nb
        base = spark.createDataFrame(base_rows, "v string")
        cur = spark.createDataFrame(cur_rows, "v string")
        rows = psi_drift(base, cur, "v", scaled_e6=True).collect()
        tb = sum(a for a, b in cs if a + b > 0)
        tc = sum(b for a, b in cs if a + b > 0)
        k = sum(1 for a, b in cs if a + b > 0)
        psi_ref = 0.0
        for a, b in cs:
            if a + b == 0:  # category absent from both snapshots
                continue
            pp = (a + 0.5) / (tb + 0.5 * k)
            qq = (b + 0.5) / (tc + 0.5 * k)
            psi_ref += (pp - qq) * math.log(pp / qq)
        assert len(rows) == k
        got_psi = rows[0].psi_e6
        assert abs(got_psi - round(psi_ref * 1e6)) <= 1
        for r in rows:
            assert r.psi_e6 == got_psi
            assert r.psi_term_e6 >= -1

    check()
