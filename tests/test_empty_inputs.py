"""Empty/degenerate-input hygiene for the round-5 operators: every op
must return an EMPTY, correctly-schema'd frame (or a stable no-op) —
not throw — when fed zero rows, because at 100 TB some partition,
stratum, or date-slice is always empty.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from legendary_data_pipeline_spark.operators.curation import (
    boilerplate_span_stats,
    contamination_scores,
    strip_boilerplate,
    weighted_sample_n,
)
from legendary_data_pipeline_spark.operators.graph import pagerank
from legendary_data_pipeline_spark.operators.similarity import (
    label_centroid_cosine,
)
from legendary_data_pipeline_spark.operators.upsert import scd2_apply


def _empty_docs(spark):
    return spark.createDataFrame(
        [], "doc_id long, text string, lang string, n_chars long"
    )


def test_curation_ops_on_empty_corpus(spark):
    docs = _empty_docs(spark)
    assert boilerplate_span_stats(docs).count() == 0
    assert strip_boilerplate(docs).count() == 0
    assert weighted_sample_n(
        docs, 5, weight_col="n_chars", stratum_col="lang"
    ).count() == 0
    scored = contamination_scores(docs, docs)
    assert scored.count() == 0
    assert "contamination_frac" in scored.columns


def test_contamination_scores_empty_benchmark(spark):
    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps", "en", 25)],
        "doc_id long, text string, lang string, n_chars long",
    )
    out = contamination_scores(docs, _empty_docs(spark)).collect()
    assert len(out) == 1
    assert out[0]["n_contaminated"] == 0
    assert out[0]["contaminated"] is False


def test_pagerank_empty_and_single_edge(spark):
    empty = spark.createDataFrame([], "src long, dst long")
    assert pagerank(empty).count() == 0
    one = pagerank(
        spark.createDataFrame([(1, 2)], "src long, dst long"),
        max_iterations=30,
    ).collect()
    total = sum(r["rank"] for r in one)
    assert abs(total - 1.0) < 1e-9
    ranks = {r["node"]: r["rank"] for r in one}
    assert ranks[2] > ranks[1]  # the sink receives the source's mass


def test_scd2_empty_updates_is_identity(spark):
    dim = spark.createDataFrame(
        [(1, 100, "2024-01-01", None, True)],
        "k int, price int, valid_from string, valid_to string,"
        " is_current boolean",
    )
    empty_updates = spark.createDataFrame(
        [], "k int, price int, effective_date string"
    )
    out = scd2_apply(dim, empty_updates, ["k"], ["price"])
    assert [tuple(r) for r in out.collect()] == [
        (1, 100, "2024-01-01", None, True)
    ]


def test_centroid_cosine_empty_embeddings(spark):
    emb = spark.createDataFrame(
        [], "vec_id long, embedding array<float>, label int"
    )
    out = label_centroid_cosine(emb)
    assert out.count() == 0
    assert set(out.columns) == {
        "vec_id",
        "label",
        "cos_to_centroid",
        "is_outlier",
    }


def test_z_order_empty_frame_writes_empty_table(spark, tmp_path):
    from legendary_data_pipeline_spark.sources.layout import write_z_ordered

    empty = spark.createDataFrame([], "a long, b double")
    path = str(tmp_path / "z_empty")
    write_z_ordered(empty, path, ["a", "b"], 4)
    assert spark.read.parquet(path).count() == 0


def test_continuation_ops_on_empty_inputs(spark):
    """Round-5 continuation operators: substrings, winsorize, mix,
    funnel/retention/transitions, aHash, JL projection, best_member."""
    from legendary_data_pipeline_spark.operators.curation import (
        temperature_mix,
        winsorize_outliers,
    )
    from legendary_data_pipeline_spark.operators.funnel import (
        event_transitions,
        funnel_report,
        funnel_times,
        retention_cohorts,
    )
    from legendary_data_pipeline_spark.operators.graph import (
        best_member,
        connected_components,
    )
    from legendary_data_pipeline_spark.operators.multimodal import (
        ahash_images,
        ahash_pairs,
    )
    from legendary_data_pipeline_spark.operators.similarity import (
        random_projection,
    )
    from legendary_data_pipeline_spark.operators.substrings import (
        dup_span_stats,
        duplicated_spans,
        strip_duplicated_substrings,
    )

    docs = _empty_docs(spark)
    assert duplicated_spans(docs).count() == 0
    assert dup_span_stats(docs).count() == 0
    stripped = strip_duplicated_substrings(docs)
    assert stripped.count() == 0
    assert stripped.columns == ["doc_id", "clean_text", "n_removed"]

    sized = spark.createDataFrame([], "doc_id long, lang string, n_tokens long")
    assert winsorize_outliers(sized, "n_tokens", group_col="lang").count() == 0
    assert temperature_mix(sized).count() == 0

    ev = spark.createDataFrame(
        [], "event_id long, user_id long, ts long, event_type string"
    )
    assert funnel_times(ev, ["view", "click"], 3600).count() == 0
    report = funnel_report(ev, ["view", "click"], 3600)
    assert {r["n_users"] for r in report.collect()} == {0}  # zero-count steps
    assert retention_cohorts(ev).count() == 0
    assert event_transitions(ev).count() == 0

    media = spark.createDataFrame(
        [], "media_id long, kind string, mime string, payload binary"
    )
    hashes = ahash_images(media)
    assert hashes.count() == 0
    assert ahash_pairs(hashes).count() == 0

    emb = spark.createDataFrame(
        [], "vec_id long, embedding array<float>, label int"
    )
    proj = random_projection(emb)
    assert proj.count() == 0 and proj.columns == ["vec_id", "label", "proj"]

    edges = spark.createDataFrame([], "id_a long, id_b long")
    comps = connected_components(edges)
    assert comps.count() == 0
    attrs = spark.createDataFrame([], "doc_id long, n_chars long")
    assert best_member(
        comps, attrs, [F.col("n_chars").desc(), F.col("node").asc()]
    ).count() == 0


# ---------------------------------------------------------------------------
# round-6 operators
# ---------------------------------------------------------------------------


def test_round6_ops_on_empty_inputs(spark):
    from datetime import date  # noqa: F401

    from legendary_data_pipeline_spark.operators.curation import (
        c4_gates,
        c4_span_stats,
    )
    from legendary_data_pipeline_spark.operators.graph import triangle_count
    from legendary_data_pipeline_spark.operators.html import html_extract
    from legendary_data_pipeline_spark.operators.profiling import table_diff
    from legendary_data_pipeline_spark.operators.stats import (
        chi_square_independence,
        correlation_matrix,
        gap_fill_daily,
        mutual_information,
        rfm_scores,
    )

    docs = _empty_docs(spark)
    assert c4_gates(docs).count() == 0
    assert c4_span_stats(docs).count() == 0
    html = spark.createDataFrame([], "doc_id long, raw_html string")
    assert html_extract(html).count() == 0
    edges = spark.createDataFrame([], "id_a long, id_b long")
    r = triangle_count(edges).first()
    assert r["n_edges"] == 0 and r["n_triangles"] == 0
    num = spark.createDataFrame([], "x double, y double")
    r = correlation_matrix(num, ["x", "y"]).first()
    assert r["n"] == 0 and r["corr"] is None
    cat = spark.createDataFrame([], "a string, b string")
    r = chi_square_independence(cat, "a", "b").first()
    assert r["n"] is None or r["n"] == 0
    assert r["chi2_e6"] is None
    r = mutual_information(cat, "a", "b").first()
    assert r["mi_e6"] is None or r["mi_e6"] == 0
    ts = spark.createDataFrame([], "g string, d date, v long")
    assert gap_fill_daily(ts, "d", ["v"], ["g"]).count() == 0
    orders = spark.createDataFrame([], "c long, d date, amt double")
    assert rfm_scores(
        orders, "c", "d",
        F.round(F.col("amt").cast("decimal(18,2)") * 100, 0).cast("long"),
    ).count() == 0
    t = spark.createDataFrame([], "k long, v long")
    assert table_diff(t, t, ["k"]).count() == 0


def test_round7_operators_on_empty_inputs(spark):
    """Every round-7 operator must yield an empty (or well-defined
    1-row NULL-stat) result on empty input, never raise."""
    from pyspark.sql import functions as F

    from legendary_data_pipeline_spark.operators.clustering import (
        cluster_fixed_balanced_take_n,
        fixed_codebook_assign,
    )
    from legendary_data_pipeline_spark.operators.curation import (
        mixture_allocate,
    )
    from legendary_data_pipeline_spark.operators.intervals import (
        interval_coverage,
        merge_intervals,
    )
    from legendary_data_pipeline_spark.operators.lm import (
        unigram_surprisal_gate,
    )
    from legendary_data_pipeline_spark.operators.mleval import (
        two_proportion_test,
        woe_iv,
    )
    from legendary_data_pipeline_spark.operators.profiling import (
        ks_two_sample,
        psi_drift,
    )
    from legendary_data_pipeline_spark.operators.scd import (
        scd2_apply_changelog,
        scd2_from_changelog,
    )
    from legendary_data_pipeline_spark.operators.similarity import (
        embedding_quality_report,
        semdedup_fixed,
    )
    from legendary_data_pipeline_spark.operators.stats import (
        cusum_curve,
        gini_concentration,
        kaplan_meier,
        kendall_tau_b,
        logrank_test,
        spearman_matrix,
    )
    from legendary_data_pipeline_spark.operators.textstats import (
        ngram_novelty,
        script_profile,
    )

    num = spark.createDataFrame([], "x double, y double")
    r = spearman_matrix(num, ["x", "y"]).first()
    assert r["n"] == 0 and r["rho"] is None
    ab = spark.createDataFrame([], "a long, b long")
    r = kendall_tau_b(ab, "a", "b").first()
    assert r["tau_b"] is None
    v = spark.createDataFrame([], "v long")
    r = gini_concentration(v, "v").first()  # global form: 1 summary row
    assert r["gini"] is None and (r["n"] is None or r["n"] == 0)
    cat = spark.createDataFrame([], "cat string, lab int")
    assert woe_iv(cat, "cat", "lab").count() == 0
    r = two_proportion_test(cat, "cat", "lab", "a", "b").first()
    assert r["n_a"] == 0 and r["z_e6"] is None
    te = spark.createDataFrame([], "t long, e int")
    assert kaplan_meier(te, "t", "e").count() == 0
    ge = spark.createDataFrame([], "g string, t long, e int")
    r = logrank_test(ge, "t", "e", "g", "a", "b").first()
    assert r["z_e6"] is None
    dv = spark.createDataFrame([], "day long, v long")
    assert cusum_curve(dv, "day", "v").count() == 0
    sp = spark.createDataFrame([], "k string, start long, end long")
    assert merge_intervals(sp, ["k"]).count() == 0
    assert interval_coverage(sp, ["k"]).count() == 0
    docs = spark.createDataFrame([], "doc_id long, text string")
    assert ngram_novelty(docs).count() == 0
    assert script_profile(docs).count() == 0
    emb = spark.createDataFrame(
        [], "vec_id long, label string, embedding array<double>"
    )
    assert embedding_quality_report(emb, expected_dim=2).count() == 0
    assert fixed_codebook_assign(emb, 4).count() == 0
    assert cluster_fixed_balanced_take_n(emb, 5, 4).count() == 0
    assert semdedup_fixed(emb, 4).count() == 0
    log = spark.createDataFrame([], "k string, t long, s string")
    scd = scd2_from_changelog(log, ["k"], "t", ["s"])
    assert scd.count() == 0
    assert scd2_apply_changelog(scd, log, ["k"], "t", ["s"]).count() == 0
    src = spark.createDataFrame(
        [], "source string, capacity long, weight long"
    )
    assert mixture_allocate(src, 100).count() == 0
    trusted = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    assert unigram_surprisal_gate(docs, trusted, 10**9).count() == 0
    # psi/ks deliberately RAISE on empty sides (the alert contract)
    import pytest as _pytest

    one = spark.createDataFrame([("a",)], "v string")
    with _pytest.raises(ValueError):
        psi_drift(one, one.filter(F.lit(False)), "v")
    with _pytest.raises(ValueError):
        ks_two_sample(one.selectExpr("1 as n"), one.selectExpr("1 as n").filter(F.lit(False)), F.col("n"))


def test_round9_operators_on_empty_inputs(spark):
    """Round-9 second-session sweep (X166-X182): empty in, empty (or
    stable 1-row NULL-stat) out — never a throw."""
    from legendary_data_pipeline_spark.operators.curation import (
        fineweb_line_signals,
        gopher_repetition_suite,
        token_budget_head,
    )
    from legendary_data_pipeline_spark.operators.entity import (
        survivorship_fuse,
    )
    from legendary_data_pipeline_spark.operators.graph import (
        link_prediction_topk,
    )
    from legendary_data_pipeline_spark.operators.hypotests import (
        anova_oneway,
        kruskal_wallis,
        mann_whitney_u,
        mcnemar_test,
        welch_t_test,
    )
    from legendary_data_pipeline_spark.operators.lm import (
        bigram_surprisal_gate,
    )
    from legendary_data_pipeline_spark.operators.profiling import (
        js_divergence_pairs,
    )
    from legendary_data_pipeline_spark.operators.retrieval import rbo_at_k
    from legendary_data_pipeline_spark.operators.stats import (
        equal_freq_bins,
        ewma_anomalies,
        theil_sen_trend,
    )

    gv = spark.createDataFrame([], "g string, v long")
    # 1-row NULL-stat contracts
    mwu = mann_whitney_u(gv, "v", "g", "a", "b").collect()[0]
    assert mwu.n_a == 0 and mwu.z_e6 is None
    kw = kruskal_wallis(gv, "v", "g").collect()[0]
    assert kw.n == 0 and kw.h_e6 is None
    wt = welch_t_test(gv, "v", "g", "a", "b").collect()[0]
    assert wt.n_a == 0 and wt.t_e6 is None
    an = anova_oneway(gv, "v", "g").collect()[0]
    assert an.n == 0 and an.f_e6 is None
    ab = spark.createDataFrame([], "a boolean, b boolean")
    mc = mcnemar_test(ab, F.col("a"), F.col("b")).collect()[0]
    assert mc.n == 0 and mc.chi2 is None

    # empty-frame contracts
    ser = spark.createDataFrame([], "g string, t long, v long")
    assert theil_sen_trend(ser, "t", "v", group_cols=["g"]).count() == 0
    assert ewma_anomalies(ser, "t", "v", group_cols=["g"]).count() == 0
    assert equal_freq_bins(gv, "v", group_cols=["g"]).count() == 0

    docs = _empty_docs(spark)
    assert fineweb_line_signals(docs).count() == 0
    assert gopher_repetition_suite(docs).count() == 0
    gate = bigram_surprisal_gate(docs, docs, max_mean_micro=1)
    assert gate.count() == 0 and "kept" in gate.columns

    scored = spark.createDataFrame(
        [], "doc_id long, quality_score long, token_count long"
    )
    assert token_budget_head(
        scored, budget=100, weight_col="token_count",
        order_col="quality_score",
    ).count() == 0

    edges = spark.createDataFrame([], "id_a long, id_b long")
    assert link_prediction_topk(edges, top_k=5).count() == 0

    recs = spark.createDataFrame(
        [], "k long, name string, ts long, amount long"
    )
    assert survivorship_fuse(
        recs, ["k"], most_frequent=["name"], latest_by="ts",
        latest_cols=["name"], max_cols=["amount"],
    ).count() == 0

    items = spark.createDataFrame([], "g string, w string")
    assert js_divergence_pairs(items, "g", "w").count() == 0

    ranking = spark.createDataFrame(
        [], "query_id long, neighbor_id long, rank int"
    )
    assert rbo_at_k(ranking, ranking).count() == 0
