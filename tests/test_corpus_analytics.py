"""Unit contracts: collocations, calendar gaps, Benford audit."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from legendary_data_pipeline_spark.operators.profiling import (
    BENFORD_P,
    benford_audit,
    calendar_gaps,
)
from legendary_data_pipeline_spark.operators.textstats import collocations


# ---------------------------------------------------------------------------
# collocations
# ---------------------------------------------------------------------------


def test_collocations_lift_and_doc_frequency(spark):
    # "new york" always together (3 docs); "the cat" co-occur but 'the'
    # is everywhere, diluting its lift; repeated bigram inside one doc
    # counts ONCE (document frequency).
    docs = spark.createDataFrame(
        [
            (1, "new york new york the cat"),
            (2, "new york the dog"),
            (3, "new york the"),
            (4, "the cat"),
        ],
        "doc_id long, text string",
    )
    rows = collocations(docs, min_pair_docs=2, top_k=10).collect()
    got = {(r.w1, r.w2): r for r in rows}
    ny = got[("new", "york")]
    # df(new)=3, df(york)=3, df(new york)=3, n=4 → lift 4*3/9
    assert (ny.pair_docs, ny.w1_docs, ny.w2_docs) == (3, 3, 3)
    assert ny.lift == pytest.approx(4 * 3 / 9)
    cat = got[("the", "cat")]
    # df(the)=4, df(cat)=2, df(the cat)=2 → lift 4*2/8 = 1.0
    assert cat.lift == pytest.approx(1.0)
    assert rows[0].w1 == "new"  # highest lift first


def test_collocations_min_docs_prunes_singletons(spark):
    docs = spark.createDataFrame(
        [(1, "rare pair"), (2, "other text")], "doc_id long, text string"
    )
    assert collocations(docs, min_pair_docs=2).count() == 0
    assert (
        collocations(docs, min_pair_docs=1).count() == 2
    )  # both docs' single bigram


# ---------------------------------------------------------------------------
# calendar_gaps
# ---------------------------------------------------------------------------


def test_calendar_gaps_finds_missing_days(spark):
    df = spark.createDataFrame(
        [("a", 10), ("a", 11), ("a", 14), ("b", 5), ("b", 6)],
        "g string, day long",
    )
    got = {
        (r.g, r.missing_day)
        for r in calendar_gaps(df, F.col("day"), ["g"]).collect()
    }
    assert got == {("a", 12), ("a", 13)}


def test_calendar_gaps_complete_feed_is_empty(spark):
    df = spark.createDataFrame(
        [("a", d) for d in range(5, 9)], "g string, day long"
    )
    assert calendar_gaps(df, F.col("day"), ["g"]).count() == 0


def test_calendar_gaps_single_day_group(spark):
    df = spark.createDataFrame([("a", 7)], "g string, day long")
    assert calendar_gaps(df, F.col("day"), ["g"]).count() == 0


# ---------------------------------------------------------------------------
# benford_audit
# ---------------------------------------------------------------------------


def test_benford_first_significant_digit(spark):
    df = spark.createDataFrame(
        [(123.4,), (0.052,), (9000.0,), (0.9,), (-30.0,), (0.0,), (None,)],
        "v double",
    )
    got = {r.digit: r.n for r in benford_audit(df, F.col("v")).collect()}
    # -30 and 0/None are excluded; 0.052 → 5, 0.9 → 9
    assert got == {1: 1, 5: 1, 9: 2}


def test_benford_conforming_sample_low_chisq(spark):
    # synthesize counts exactly proportional to Benford: chisq ≈ 0
    rows = []
    for d, p in BENFORD_P.items():
        rows += [(float(d),)] * round(p * 10000)
    df = spark.createDataFrame(rows, "v double")
    out = benford_audit(df, F.col("v")).collect()
    total_chisq = sum(r.chisq_contrib for r in out)
    assert total_chisq < 1.0  # rounding noise only; χ²(8) p99 ≈ 20
    for r in out:
        assert r.p_observed == pytest.approx(r.p_expected, abs=1e-4)


def test_collocations_duplicate_doc_rows_count_once(spark):
    # a re-ingested doc_id (two rows, same text) must not inflate
    # document frequencies (review finding: per-row vs per-doc counts)
    docs = spark.createDataFrame(
        [(7, "red widget"), (7, "red widget"), (8, "red widget")],
        "doc_id long, text string",
    )
    rows = collocations(docs, min_pair_docs=1, top_k=5).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.pair_docs, r.w1_docs, r.w2_docs) == (2, 2, 2)
    assert r.lift == pytest.approx(2 * 2 / 4)


def test_benford_unextractable_digits_excluded(spark):
    # 1e-11 rounds to zero at decimal scale 10 → no first significant
    # digit → excluded (review finding: NULL-digit row leaked through)
    df = spark.createDataFrame([(1e-11,), (123.0,)], "v double")
    rows = benford_audit(df, F.col("v")).collect()
    assert {r.digit for r in rows} == {1}
    assert rows[0].n == 1
    assert rows[0].p_observed == 1.0


def test_drift_empty_side_raises(spark):
    from legendary_data_pipeline_spark.operators.profiling import (
        categorical_drift,
    )

    base = spark.createDataFrame([], "v string")
    cur = spark.createDataFrame([("a",)], "v string")
    with pytest.raises(ValueError, match="base snapshot is empty"):
        categorical_drift(base, cur, "v")
    with pytest.raises(ValueError, match="current snapshot is empty"):
        categorical_drift(cur, base, "v")
    # opt-out path still returns a (documented) all-NULL frame lazily
    out = categorical_drift(base, cur, "v", require_nonempty=False)
    assert out.collect()[0].chisq_contrib is None


def test_source_vocab_overlap_shapes(spark):
    # gate-membership-agnostic lookup (rotations move names in and out
    # of GATE freely)
    from legendary_data_pipeline_spark.queries import ALL_QUERIES

    spec = ALL_QUERIES["an_source_vocab_overlap"]
    df = spec.spark_fn(spark, "/root/testdata/sf0.001")
    rows = df.collect()
    assert rows
    for r in rows:
        assert r["source_a"] < r["source_b"]
        union = r["terms_a"] + r["terms_b"] - r["inter"]
        assert 10 * r["inter"] >= 3 * union
        assert 0 < r["jaccard"] <= 1
