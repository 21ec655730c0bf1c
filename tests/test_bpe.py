"""BPE tokenizer contracts: merge-table learning, round-trip fidelity,
determinism, and actual compression over the corpus sample.
"""

from __future__ import annotations

from legendary_data_pipeline_spark.operators.bpe import (
    EOW,
    _encode_word,
    apply_bpe,
    sample_texts,
    train_bpe,
)


def test_train_learns_frequent_pairs_first():
    # Word 'aab' x3: pairs (a,a), (a,b), (b,</w>) all tie at 3 — the
    # deterministic tie-break picks the lexicographically smallest.
    merges = train_bpe(["aab aab aab"], n_merges=1, min_pair_count=2)
    assert merges == [("a", "a")]
    # Clear majority wins over the tie-break.
    merges = train_bpe(["xy xy xy", "xz"], n_merges=1, min_pair_count=2)
    assert merges == [("x", "y")]


def test_encode_round_trips_and_uses_merges():
    merges = train_bpe(["hello hello hello help"], n_merges=50, min_pair_count=2)
    ranks = {p: i for i, p in enumerate(merges)}
    toks = _encode_word("hello", ranks)
    assert "".join(toks) == "hello" + EOW  # lossless
    assert len(toks) < len("hello") + 1  # actually compressed
    # Unseen word still encodes (falls back toward characters).
    toks2 = _encode_word("zzq", ranks)
    assert "".join(toks2) == "zzq" + EOW


def test_training_is_deterministic():
    texts = ["the quick brown fox", "the quick red fox", "the slow fox"]
    assert train_bpe(texts, n_merges=30) == train_bpe(texts, n_merges=30)


def test_apply_bpe_compresses_corpus(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sample = sample_texts(docs)
    assert sample
    merges = train_bpe(sample, n_merges=150)
    out = apply_bpe(docs, merges)
    rows = out.collect()
    assert len(rows) == docs.count()
    # Sanity: token counts are positive and bounded by char counts.
    chars = {
        r["doc_id"]: r["n_chars"]
        for r in docs.select("doc_id", "n_chars").collect()
    }
    for r in rows:
        assert 0 < r["n_bpe_tokens"] <= chars[r["doc_id"]] + r["n_words"]
    # The corpus vocabulary is tiny, so BPE must compress hard: well
    # under 2 subword tokens per word on average (chars-per-word ≈ 4).
    avg = sum(r["bpe_per_word"] * r["n_words"] for r in rows) / sum(
        r["n_words"] for r in rows
    )
    assert avg < 2.0, f"bpe_per_word {avg:.2f} — merges not applied?"
    # Rerun is value-identical (sample, training, application all
    # deterministic).
    again = {r["doc_id"]: r["n_bpe_tokens"] for r in apply_bpe(docs, merges).collect()}
    assert again == {r["doc_id"]: r["n_bpe_tokens"] for r in rows}


def test_frozen_sequential_replay_matches_priority_apply(spark, sf_dir):
    """The registered text_bpe_segment query applies the FROZEN merge
    table via sequential rank-order string replaces (JVM codegen, SQL-
    replayable); operators/bpe.apply_bpe applies the same table with
    the priority-queue form. The two orders can differ only when a
    later merge re-creates an earlier merge's pair — pin that this
    table has no such interaction on the real corpus."""
    import legendary_data_pipeline_spark.queries  # noqa: F401 (registry first)
    from legendary_data_pipeline_spark.catalog import load_table
    from legendary_data_pipeline_spark.operators.bpe import apply_bpe
    from legendary_data_pipeline_spark.queries_llm import (
        _BPE_MERGES_FROZEN,
        text_bpe_segment,
    )

    docs = load_table(spark, sf_dir, "documents")
    seq = {
        r["doc_id"]: (r["n_words"], r["n_bpe_tokens"])
        for r in text_bpe_segment(spark, sf_dir).collect()
    }
    pri = {
        r["doc_id"]: (r["n_words"], r["n_bpe_tokens"])
        for r in apply_bpe(docs, list(_BPE_MERGES_FROZEN)).collect()
    }
    assert seq == pri


def test_sanitizer_line_terminators_cross_engine(spark, tmp_path):
    """Round-9 advice: Java's '(.)' per-char wrap skips line
    terminators (\\r, NEL, LS, PS) that RE2's '.' matches, and Java \\s
    eats \\x0B where RE2's does not — unless the shared sanitize class
    strips them first, n_words/n_bpe_tokens diverge between engines.
    Pin the frozen-table query against its DuckDB oracle on text
    containing every such character."""
    import duckdb
    import pandas as pd

    import legendary_data_pipeline_spark.queries as Q  # registry first

    rows = [
        (1, "slow parting words here"),
        # every divergence char: \x0b, \r, NEL, LS, PS
        (2, "a" + chr(0x0B) + "b" + chr(0x0D) + "c" + chr(0x85)
            + "d" + chr(0x2028) + "e" + chr(0x2029) + "f"),
        (3, "  " + chr(0x0B) + chr(0x0D) + chr(0x85)
            + chr(0x2028) + chr(0x2029)),  # terminators only
        (4, "plain filtered text"),
    ]
    pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
    p = str(tmp_path / "documents.parquet")
    pdf.to_parquet(p)

    spec = Q.ALL_QUERIES["text_bpe_segment"]
    got = {
        r["doc_id"]: (r["n_words"], r["n_bpe_tokens"])
        for r in spec.spark_fn(spark, str(tmp_path)).collect()
    }

    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{p}'")
    want = {
        d: (nw, nt)
        for d, nw, nt, _ in con.sql(spec.oracle).fetchall()
    }
    assert got == want
    # terminators-only text must sanitize to zero words on BOTH sides
    assert got[3] == (0, 0)
