"""LLM-data-pipeline extension queries (SURVEY.md §2.11): dedup,
similarity search, text analysis over `documents` / `embeddings`.

Every hash-based operator uses the portable md5→60-bit scheme
(`functions.hashing`) so even MinHash/SimHash are fully oracle-checked
in DuckDB — the oracle SQL for the 16-seed / 60-bit variants is
generated by the helpers below to keep both sides provably identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from legendary_data_pipeline_spark.catalog import load_distributed, load_table
from legendary_data_pipeline_spark.functions.hashing import (
    affine31_sql,
    base31_sql,
    hash_family_params,
    md5_long_sql,
    seeded_md5_long_sql,
)
from legendary_data_pipeline_spark.functions.numeric import e6
from legendary_data_pipeline_spark.operators import dedup as D
from legendary_data_pipeline_spark.operators import similarity as S
from legendary_data_pipeline_spark.operators import textstats as T
from legendary_data_pipeline_spark.queries import register

# ---------------------------------------------------------------------------
# SQL fragment generators (mirror the Spark operators exactly)
# ---------------------------------------------------------------------------

_TOKS = "regexp_split_to_array(trim(text), '\\s+')"


def _in_list(words: tuple[str, ...]) -> str:
    return ", ".join(f"'{w}'" for w in words)


def _stop_count_sql(toks: str, words: tuple[str, ...]) -> str:
    return f"len(list_filter({toks}, __x -> __x IN ({_in_list(words)})))"


def _shingle_cte() -> str:
    """CTE producing (doc_id, s) word-3-gram shingles, docs with ≥3 tokens."""
    return f"""
    toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    sh AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(t) - 1),
                    __j -> t[__j] || ' ' || t[__j + 1] || ' ' || t[__j + 2])) AS s
      FROM toks WHERE len(t) >= 3)
    """


_NUM_HASHES = 16
_BANDS = 4
_ROWS_PER_BAND = _NUM_HASHES // _BANDS


def _verified_dup_pairs(docs: DataFrame) -> DataFrame:
    """MinHash-LSH candidate pairs verified by exact shingle-set
    Jaccard — the shared front half of every dedup endpoint in this
    module. ONE cached shingling pass feeds both signatures and
    verification."""
    hsets = D.hashed_shingle_sets(docs).cache()
    sigs = D.minhash_signatures(docs, num_hashes=_NUM_HASHES, hsets=hsets)
    pairs = D.lsh_candidate_pairs(sigs, num_hashes=_NUM_HASHES, bands=_BANDS)
    return D.jaccard_pairs(docs, pairs, hsets=hsets)


def _dup_components(docs: DataFrame) -> DataFrame:
    """Near-dup closure: verified pairs at jaccard >= 0.5 → connected
    components (node, component)."""
    from legendary_data_pipeline_spark.operators import graph as G

    return G.connected_components(
        _verified_dup_pairs(docs).filter(F.col("jaccard") >= 0.5)
    )


def _minhash_sig_sql() -> str:
    """CTE `sig`: doc_id + h0..h15 minhash columns (affine 31-bit family
    over one md5 base hash per shingle — mirrors operators.dedup)."""
    params = hash_family_params(_NUM_HASHES)
    mins = ",\n             ".join(
        f"MIN({affine31_sql('hb', a, b)}) AS h{i}"
        for i, (a, b) in enumerate(params)
    )
    return f"""
    {_shingle_cte()},
    shb AS (SELECT doc_id, {base31_sql('s')} AS hb FROM sh),
    sig AS (
      SELECT doc_id,
             {mins}
      FROM shb GROUP BY doc_id)
    """


def _band_key_sql(b: int) -> str:
    concat = " || '_' || ".join(
        f"CAST(h{b * _ROWS_PER_BAND + r} AS VARCHAR)" for r in range(_ROWS_PER_BAND)
    )
    return md5_long_sql(concat)


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

@register(
    "dedup_exact_sha",
    """
    SELECT sha256(text) AS text_sha,
           min(doc_id) AS keeper_id,
           COUNT(*) AS dup_count
    FROM documents GROUP BY sha256(text)
    """,
    doc="Exact near-zero-cost dedup: group documents by content hash, keep "
    "the min-id row. One shuffle on the 256-bit hash — at 100 TB, hash "
    "first so the shuffle carries 32 bytes + id instead of full text.",
)
def dedup_exact_sha(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_distributed(spark, sf_dir, "documents")
    return D.exact_dedup_groups(docs)


# ---------------------------------------------------------------------------
# minhash signatures (fully oracle-checked)
# ---------------------------------------------------------------------------

@register(
    "dedup_minhash_signatures",
    f"""
    WITH {_minhash_sig_sql()}
    SELECT * FROM sig
    """,
    doc="16-hash MinHash signatures over word-3-gram shingles: one md5 per "
    "shingle, explode, then ONE groupBy with 16 map-side-combinable min "
    "aggregates (measured 3x faster than the per-row array-HOF shape, "
    "whose transform/array_min passes are interpreted); the md5-based "
    "hash family keeps signatures engine-portable.",
)
def dedup_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_distributed(spark, sf_dir, "documents")
    return D.minhash_signatures(docs, num_hashes=_NUM_HASHES)


# ---------------------------------------------------------------------------
# minhash LSH candidates + exact-Jaccard verification
# ---------------------------------------------------------------------------

_BANDED_SQL = " UNION ALL ".join(
    f"SELECT doc_id, {b} AS band_idx, {_band_key_sql(b)} AS band_key FROM sig"
    for b in range(_BANDS)
)


@register(
    "dedup_minhash_lsh_pairs",
    f"""
    WITH {_minhash_sig_sql()},
    banded AS ({_BANDED_SQL}),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM banded a JOIN banded b
        ON a.band_idx = b.band_idx AND a.band_key = b.band_key
      WHERE a.doc_id < b.doc_id),
    sets AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(t) - 1),
                    __j -> t[__j] || ' ' || t[__j + 1] || ' ' || t[__j + 2])) AS ss
      FROM toks WHERE len(t) >= 3)
    SELECT c.id_a, c.id_b,
           CAST(len(list_intersect(sa.ss, sb.ss)) AS DOUBLE) /
           CAST(len(list_distinct(list_concat(sa.ss, sb.ss))) AS DOUBLE) AS jaccard,
           (CAST(len(list_intersect(sa.ss, sb.ss)) AS DOUBLE) /
            CAST(len(list_distinct(list_concat(sa.ss, sb.ss))) AS DOUBLE)) >= 0.5 AS is_dup
    FROM cand c
    JOIN sets sa ON sa.doc_id = c.id_a
    JOIN sets sb ON sb.doc_id = c.id_b
    """,
    doc="MinHash-LSH near-dup detection: band signatures (4 bands × 4 rows), "
    "bucket-join for candidate pairs, then EXACT shingle-set Jaccard "
    "verification of candidates only — the classic scalable shape: the "
    "quadratic step runs inside tiny hash buckets.",
)
def dedup_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_distributed(spark, sf_dir, "documents")
    verified = _verified_dup_pairs(docs)
    return verified.select(
        "id_a", "id_b", "jaccard", (F.col("jaccard") >= 0.5).alias("is_dup")
    )


# ---------------------------------------------------------------------------
# multimodal: audio windowing
# ---------------------------------------------------------------------------


@register(
    "mm_audio_windows",
    """
    WITH hashed AS (
      SELECT doc_id AS media_id, sha256(text) AS sha
      FROM documents WHERE doc_id % 3 = 1),
    durs AS (
      SELECT media_id,
             1 + CAST(('0x' || substr(sha, 5, 2)) AS INTEGER) % 120 AS dur
      FROM hashed),
    w AS (
      SELECT media_id, dur,
             CAST(unnest(range(0, dur, 5)) AS INTEGER) AS start_s
      FROM durs)
    SELECT media_id, start_s,
           CAST(LEAST(start_s + 5, dur) AS INTEGER) AS end_s
    FROM w
    """,
    doc="Audio segmentation: fixed 5s windows over each audio row's "
    "decoded duration — metadata via Arrow mapInPandas, window "
    "explode as pure column expressions (mirrors the video "
    "frame-sampling plan). Exactly oracle-checked because the "
    "stand-in codec's duration replays from sha256.",
)
def mm_audio_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from legendary_data_pipeline_spark.operators.multimodal import (
        audio_window_offsets,
        media_from_documents,
    )

    docs = load_distributed(spark, sf_dir, "documents", partitions=8)
    media = media_from_documents(docs)
    return audio_window_offsets(media, window_s=5)


# ---------------------------------------------------------------------------
# dedup clusters: pairs closed into connected components
# ---------------------------------------------------------------------------

@register(
    "dedup_cluster_components",
    f"""
    WITH RECURSIVE {_minhash_sig_sql()},
    banded AS ({_BANDED_SQL}),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM banded a JOIN banded b
        ON a.band_idx = b.band_idx AND a.band_key = b.band_key
      WHERE a.doc_id < b.doc_id),
    sets AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(t) - 1),
                    __j -> t[__j] || ' ' || t[__j + 1] || ' ' || t[__j + 2])) AS ss
      FROM toks WHERE len(t) >= 3),
    dup AS (
      SELECT c.id_a, c.id_b
      FROM cand c
      JOIN sets sa ON sa.doc_id = c.id_a
      JOIN sets sb ON sb.doc_id = c.id_b
      WHERE CAST(len(list_intersect(sa.ss, sb.ss)) AS DOUBLE) /
            CAST(len(list_distinct(list_concat(sa.ss, sb.ss))) AS DOUBLE)
            >= 0.5),
    e2 AS (
      SELECT id_a AS s, id_b AS d FROM dup
      UNION
      SELECT id_b, id_a FROM dup),
    reach AS (
      SELECT s AS node, s AS r FROM e2
      UNION
      SELECT e.s, r.r FROM e2 e JOIN reach r ON e.d = r.node)
    SELECT node AS doc_id, CAST(MIN(r) AS BIGINT) AS component
    FROM reach GROUP BY node
    """,
    doc="Duplicate-group closure: verified MinHash near-dup pairs closed "
    "into connected components (component = min reachable doc id) via "
    "iterative min-label propagation — the step that turns pairwise "
    "near-dup hits into keep-one-per-group dedup decisions. The DuckDB "
    "oracle replays the closure with a recursive transitive-reachability "
    "CTE, so even the graph algorithm is hash-checked. Rounds = cluster "
    "diameter (near-cliques: 1-3); per round one shuffle join + one "
    "aggregation over (node,label) pairs, lineage truncated each round.",
)
def dedup_cluster_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_distributed(spark, sf_dir, "documents")
    comps = _dup_components(docs)
    return comps.select(
        F.col("node").alias("doc_id"), F.col("component").cast("long").alias("component")
    )


# The components CTE chain, reused by the keep-canonical endpoint below.
_CLUSTER_SQL_CTES = f"""
    {_minhash_sig_sql()},
    banded AS ({_BANDED_SQL}),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM banded a JOIN banded b
        ON a.band_idx = b.band_idx AND a.band_key = b.band_key
      WHERE a.doc_id < b.doc_id),
    sets AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(t) - 1),
                    __j -> t[__j] || ' ' || t[__j + 1] || ' ' || t[__j + 2])) AS ss
      FROM toks WHERE len(t) >= 3),
    dup AS (
      SELECT c.id_a, c.id_b
      FROM cand c
      JOIN sets sa ON sa.doc_id = c.id_a
      JOIN sets sb ON sb.doc_id = c.id_b
      WHERE CAST(len(list_intersect(sa.ss, sb.ss)) AS DOUBLE) /
            CAST(len(list_distinct(list_concat(sa.ss, sb.ss))) AS DOUBLE)
            >= 0.5),
    e2 AS (
      SELECT id_a AS s, id_b AS d FROM dup
      UNION
      SELECT id_b, id_a FROM dup),
    reach AS (
      SELECT s AS node, s AS r FROM e2
      UNION
      SELECT e.s, r.r FROM e2 e JOIN reach r ON e.d = r.node),
    comp AS (SELECT node, MIN(r) AS component FROM reach GROUP BY node)
"""


@register(
    "dedup_keep_canonical",
    f"""
    WITH RECURSIVE {_CLUSTER_SQL_CTES},
    drops AS (SELECT node FROM comp WHERE node <> component)
    SELECT d.source,
           COUNT(*) AS n_docs,
           CAST(COUNT(*) - COALESCE(
             SUM(CASE WHEN dr.node IS NOT NULL THEN 1 ELSE 0 END), 0)
             AS BIGINT) AS n_kept
    FROM documents d LEFT JOIN drops dr ON d.doc_id = dr.node
    GROUP BY d.source
    """,
    doc="The dedup ENDPOINT: near-dup pairs -> components -> keep the "
    "canonical (min-id) member of each duplicate group, drop the rest, "
    "pass singletons through. This is the decision a curation pipeline "
    "actually applies to the corpus; the pairwise and cluster queries "
    "are its observable intermediates. Per-source keep counts for a "
    "compact hash-checkable result. The drop set is NOT force-broadcast: "
    "on real web corpora dedup removes 30-50% of documents, so the drop "
    "set is data-sized at scale — the join key is an id, so AQE picks "
    "broadcast when the set is actually small and a bounded hash "
    "shuffle otherwise.",
)
def dedup_keep_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_distributed(spark, sf_dir, "documents")
    comps = _dup_components(docs)
    drops = comps.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias("__drop_id")
    )
    kept_flag = F.col("__drop_id").isNull()
    # No broadcast hint: the drop set scales with the corpus dup rate
    # (30-50% on real web corpora), so a forced broadcast OOMs at the
    # operator's own target scale. AQE broadcasts when actually small.
    return (
        docs.join(
            drops, docs["doc_id"] == F.col("__drop_id"), "left"
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(kept_flag.cast("long")).alias("n_kept"),
        )
    )


# ---------------------------------------------------------------------------
# simhash (fully oracle-checked, 60 bits)
# ---------------------------------------------------------------------------

_SIMHASH_SUMS = ",\n           ".join(
    f"SUM((hh >> {b}) & 1) AS s{b}" for b in range(D.SIMHASH_BITS)
)
_SIMHASH_VALUE = " + ".join(
    f"(CASE WHEN s{b} * 2 > n THEN (CAST(1 AS BIGINT) << {b}) ELSE CAST(0 AS BIGINT) END)"
    for b in range(D.SIMHASH_BITS)
)


@register(
    "dedup_simhash",
    f"""
    WITH tok AS (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents),
    h AS (SELECT doc_id, {md5_long_sql('tok')} AS hh FROM tok),
    c AS (SELECT doc_id, COUNT(*) AS n,
           {_SIMHASH_SUMS}
          FROM h GROUP BY doc_id)
    SELECT doc_id,
           CASE WHEN n <= 65535 THEN CAST({_SIMHASH_VALUE} AS BIGINT) END AS simhash,
           CAST(n AS BIGINT) AS token_count
    FROM c
    """,
    doc="60-bit SimHash fingerprint per document: token-hash bit majorities, "
    "all 60 bits in one groupBy (map-side partial agg). Near-dups are then "
    "hamming-close fingerprints. Contract: docs beyond the packed-counter "
    "capacity (65,535 tokens at the default pack=4) get a NULL fingerprint "
    "rather than a silently corrupted one (oracle mirrors the CASE).",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_distributed(spark, sf_dir, "documents")
    return D.simhash(docs)


# ---------------------------------------------------------------------------
# simhash near-dup pairs (banded candidates + hamming verify)
# ---------------------------------------------------------------------------

_SIMHASH_BANDS = 4
_SIMHASH_BAND_BITS = D.SIMHASH_BITS // _SIMHASH_BANDS
_SIMHASH_MAX_HAMMING = 3

_SIMHASH_BANDED_SQL = " UNION ALL ".join(
    f"SELECT doc_id, fp, {b} AS band_idx, "
    f"(fp >> {b * _SIMHASH_BAND_BITS}) & {(1 << _SIMHASH_BAND_BITS) - 1} AS band_val "
    "FROM fps"
    for b in range(_SIMHASH_BANDS)
)


@register(
    "dedup_simhash_pairs",
    f"""
    WITH tok AS (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents),
    h AS (SELECT doc_id, {md5_long_sql('tok')} AS hh FROM tok),
    c AS (SELECT doc_id, COUNT(*) AS n,
           {_SIMHASH_SUMS}
          FROM h GROUP BY doc_id),
    fps AS (
      SELECT doc_id, CAST({_SIMHASH_VALUE} AS BIGINT) AS fp
      FROM c WHERE n <= 65535),
    banded AS ({_SIMHASH_BANDED_SQL}),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(bit_count(xor(a.fp, b.fp)) AS INTEGER) AS hamming
      FROM banded a JOIN banded b
        ON a.band_idx = b.band_idx AND a.band_val = b.band_val
      WHERE a.doc_id < b.doc_id)
    SELECT id_a, id_b, hamming
    FROM cand WHERE hamming <= {_SIMHASH_MAX_HAMMING}
    """,
    doc="SimHash near-dup PAIRS: band the 60-bit fingerprint into 4 × 15-bit "
    "slices, bucket-join on (band_idx, band_val) for candidates, verify "
    "with exact bit_count(xor) hamming ≤ 3. Pigeonhole guarantees perfect "
    "recall at the threshold (3 differing bits can't touch all 4 bands); "
    "the verify is one XOR+popcount per candidate — the cheapest of the "
    "near-dup family. Complements MinHash-LSH (set overlap) with "
    "bit-level similarity.",
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_distributed(spark, sf_dir, "documents")
    fps = D.simhash(docs)
    return D.simhash_band_pairs(
        fps,
        bands=_SIMHASH_BANDS,
        max_hamming=_SIMHASH_MAX_HAMMING,
    ).select("id_a", "id_b", "hamming")


# ---------------------------------------------------------------------------
# n-gram Jaccard near-dup (blocked exact similarity)
# ---------------------------------------------------------------------------

@register(
    "dedup_ngram_jaccard",
    f"""
    WITH toks AS (SELECT doc_id, lang, n_chars, {_TOKS} AS t FROM documents),
    sets AS (
      SELECT doc_id, lang, n_chars // 25 AS bkt,
             list_distinct(list_transform(range(1, len(t) - 1),
                    __j -> t[__j] || ' ' || t[__j + 1] || ' ' || t[__j + 2])) AS ss
      FROM toks WHERE len(t) >= 3),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             len(list_intersect(a.ss, b.ss)) AS inter,
             len(a.ss) AS sa, len(b.ss) AS sb
      FROM sets a JOIN sets b
        ON a.lang = b.lang AND a.doc_id < b.doc_id
       AND abs(a.bkt - b.bkt) <= 1)
    SELECT id_a, id_b,
           CAST(inter AS DOUBLE) / CAST(sa + sb - inter AS DOUBLE) AS jaccard,
           (CAST(inter AS DOUBLE) / CAST(sa + sb - inter AS DOUBLE)) >= 0.5 AS is_dup
    -- jaccard >= 0.1 in exact integer form (11·inter >= sa+sb)
    FROM pairs WHERE inter * 11 >= sa + sb
    """,
    doc="Exact word-3-gram Jaccard near-dup pairs with (lang, length-bucket) "
    "blocking: candidates limited to same-language docs whose char-length "
    "buckets differ by ≤1, so the quadratic compare runs inside small "
    "blocks — the exact-similarity complement to MinHash-LSH.",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_distributed(spark, sf_dir, "documents")
    return D.ngram_jaccard_blocked(docs)


# ---------------------------------------------------------------------------
# embedding-cosine near-dup
# ---------------------------------------------------------------------------

@register(
    "dedup_embedding_cosine",
    """
    WITH base AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           CAST(round(round(list_cosine_similarity(a.e, b.e), 6) * 1e6)
                AS BIGINT) AS cos_sim_e6
    FROM base a JOIN base b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE round(list_cosine_similarity(a.e, b.e), 6) >= 0.35
    """,
    doc="Embedding-cosine near-dup pairs (label-blocked, threshold 0.35): "
    "semantic dedup over the embedding column. At 100 TB the label block "
    "becomes an LSH/IVF bucket; each block's cosines come from the "
    "fold-exact pair kernel (the JVM fold's order, column by column).",
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_distributed(spark, sf_dir, "embeddings")
    pairs = S.embedding_cosine_pairs(emb, threshold=0.35)
    # e6 integer emission (round-9 representation convention): the
    # 6-dp rounded cosine stays the RANKING/threshold key; the OUTPUT
    # leaves as a BIGINT no harness canonicalization can bend.
    return pairs.select(
        "id_a", "id_b",
        e6(F.col("cos_sim")).alias("cos_sim_e6"),
    )


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------

@register(
    "sim_topk_bruteforce",
    """
    WITH base AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    q AS (SELECT vec_id AS query_id, label, e FROM base WHERE vec_id % 5 = 0),
    pairs AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
             round(list_cosine_similarity(q.e, c.e), 6) AS cos_sim
      FROM q JOIN base c ON q.label = c.label AND c.vec_id <> q.query_id),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) AS rn
      FROM pairs)
    SELECT query_id, neighbor_id, CAST(rn AS BIGINT) AS knn_rank,
           CAST(round(cos_sim * 1e6) AS BIGINT) AS cos_sim_e6
    FROM ranked WHERE rn <= 3
    """,
    doc="Brute-force exact cosine top-k (label-blocked): the ANN baseline. "
    "Each label block is scored by the fold-exact pair kernel (dot "
    "products in the JVM fold's order, column by column); similarity is "
    "rounded before ranking so the selected top-k is engine-stable.",
)
def sim_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_distributed(spark, sf_dir, "embeddings")
    out = S.cosine_topk(
        emb, k=3, query_filter=(F.col("vec_id") % 5 == 0), block_on_label=True
    )
    return out.select(
        "query_id",
        "neighbor_id",
        F.col("rank").cast("long").alias("knn_rank"),
        e6(F.col("cos_sim")).alias("cos_sim_e6"),
    )


@register(
    "sim_ivf_topk",
    None,  # STAYS rows-only: the Lloyd-trained codebook is engine-side
    # float state a SQL engine cannot re-derive (k-means is iterative
    # float math over a driver sample), so no SQL expression can name
    # the same lists. The hash-oracle-able twin is sim_ivf_fixed_topk
    # (frozen codebook); THIS form keeps the
    # recall-floor contracts (tests/test_similarity_recall.py).
    doc="IVF approximate nearest neighbors: a driver-trained (bounded "
    "sample, numpy Lloyd) coarse-quantizer codebook builds inverted "
    "lists via one Arrow-batched assignment pass; each query probes its "
    "6 nearest lists. Recall@3 vs sim_topk_bruteforce is floor-asserted "
    "in tests/test_similarity_recall.py. n_centroids is sized ~sqrt(N) "
    "for this corpus; at 100 TB raise it with the corpus, keeping "
    "n_probe/n_centroids the knob for the recall/cost trade.",
)
def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_distributed(spark, sf_dir, "embeddings")
    return S.ivf_topk(
        emb, n_centroids=16, n_probe=6, query_filter=(F.col("vec_id") % 5 == 0)
    )


def _lsh_sign_array_sql(plane: int, dim: int = 64) -> str:
    """The operator's deterministic ±1 sign vector for one hyperplane,
    as a DuckDB array literal (same md5 derivation as similarity.py)."""
    import hashlib

    signs = []
    for d in range(dim):
        h = int(hashlib.md5(f"{plane}:{d}".encode()).hexdigest()[:15], 16)
        signs.append("1.0" if h % 2 == 0 else "-1.0")
    return "[" + ", ".join(signs) + "]"


_LSH_PLANES = 6
_LSH_BUCKET_SQL = " + ".join(
    f"(CASE WHEN list_dot_product(e, {_lsh_sign_array_sql(p)}) >= 0 "
    f"THEN {2**p} ELSE 0 END)"
    for p in range(_LSH_PLANES)
)


@register(
    "sim_lsh_bucket_topk",
    f"""
    WITH base AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
             {_LSH_BUCKET_SQL} AS bucket
      FROM embeddings),
    q AS (SELECT vec_id AS query_id, bucket, e FROM base WHERE vec_id % 5 = 0),
    pairs AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
             CAST(round(list_cosine_similarity(q.e, c.e) * 1e6) AS BIGINT)
               AS cos_sim_e6
      FROM q JOIN base c ON q.bucket = c.bucket AND c.vec_id <> q.query_id),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cos_sim_e6 DESC, neighbor_id ASC)
        AS rn
      FROM pairs)
    SELECT query_id, neighbor_id, CAST(rn AS BIGINT) AS rank, cos_sim_e6
    FROM ranked WHERE rn <= 3
    """,
    doc="Scale-path ANN: deterministic random-hyperplane sign buckets, "
    "top-k within buckets. The sign matrix is md5-derived, so the whole "
    "bucketing replays bit-for-bit in DuckDB — approximate relative to "
    "exact kNN, but still fully hash-checked.",
)
def sim_lsh_bucket_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_distributed(spark, sf_dir, "embeddings")
    out = S.lsh_bucket_topk(
        emb, planes=_LSH_PLANES, k=3,
        query_filter=(F.col("vec_id") % 5 == 0),
    )
    return out.select(
        "query_id", "neighbor_id", F.col("rank").cast("long").alias("rank"),
        "cos_sim_e6",
    )


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------

@register(
    "text_token_stats_by_lang",
    f"""
    WITH t AS (SELECT lang, n_chars, {_TOKS} AS toks FROM documents)
    SELECT lang,
           COUNT(*) AS docs,
           CAST(SUM(len(toks)) AS BIGINT) AS total_tokens,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM({_stop_count_sql('toks', T.STOPWORDS)}) AS BIGINT) AS stop_tokens,
           CAST(SUM(len(toks)) AS DOUBLE) / COUNT(*) AS avg_tokens,
           CAST(SUM({_stop_count_sql('toks', T.STOPWORDS)}) AS DOUBLE) /
             CAST(SUM(len(toks)) AS DOUBLE) AS stopword_ratio
    FROM t GROUP BY lang
    """,
    doc="Corpus token statistics per language tag: counts, averages, "
    "stopword ratio (exact integer arithmetic, ratio as double).",
)
def text_token_stats_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_distributed(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    stop = F.size(F.filter(toks, lambda t: t.isin(*T.STOPWORDS)))
    per_doc = docs.select(
        "lang",
        "n_chars",
        F.size(toks).cast("long").alias("ntok"),
        stop.cast("long").alias("nstop"),
    )
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum("ntok").alias("total_tokens"),
        F.sum("n_chars").alias("total_chars"),
        F.sum("nstop").alias("stop_tokens"),
        (F.sum("ntok").cast("double") / F.count(F.lit(1))).alias("avg_tokens"),
        (F.sum("nstop").cast("double") / F.sum("ntok").cast("double")).alias(
            "stopword_ratio"
        ),
    )


_QUALITY_SQL_STATS = f"""
    s AS (SELECT doc_id,
                 CAST(len({_TOKS}) AS BIGINT) AS token_count,
                 CAST({_stop_count_sql(_TOKS, T.STOPWORDS)} AS BIGINT) AS stopword_count,
                 CAST(length(trim(text)) AS BIGINT) AS char_count
          FROM documents)
"""


@register(
    "text_quality_score",
    f"""
    WITH {_QUALITY_SQL_STATS},
    sc AS (
      SELECT doc_id, token_count,
             (CASE WHEN token_count BETWEEN 20 AND 400 THEN 40 ELSE 10 END
            + CASE WHEN CAST(stopword_count AS DOUBLE) / CAST(token_count AS DOUBLE)
                        BETWEEN 0.02 AND 0.6 THEN 30 ELSE 10 END
            + CASE WHEN CAST(char_count AS DOUBLE) / CAST(token_count AS DOUBLE)
                        BETWEEN 3.0 AND 12.0 THEN 30 ELSE 10 END) AS q
      FROM s)
    SELECT doc_id, token_count, CAST(q AS INTEGER) AS quality_score,
           CASE WHEN q >= 80 THEN 'high' WHEN q >= 50 THEN 'medium'
                ELSE 'low' END AS quality_bucket
    FROM sc
    """,
    doc="Per-document quality scoring from length / stopword-ratio / "
    "character-shape heuristics with deterministic integer points.",
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_distributed(spark, sf_dir, "documents")
    return T.quality_score(docs)


_LANG_SCORES_SQL = ",\n           ".join(
    f"CAST({_stop_count_sql('toks', T.LANG_MARKERS[lang])} AS BIGINT) AS score_{lang}"
    for lang in sorted(T.LANG_MARKERS)
)


def _langid_case_sql() -> str:
    langs = sorted(T.LANG_MARKERS)
    whens = []
    for lang in langs[:-1]:
        conds = " AND ".join(
            f"score_{lang} >= score_{other}" for other in langs if other != lang
        )
        whens.append(f"WHEN {conds} THEN '{lang}'")
    return "CASE " + " ".join(whens) + f" ELSE '{langs[-1]}' END"


@register(
    "text_langid",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    scored AS (
      SELECT doc_id,
           {_LANG_SCORES_SQL}
      FROM t)
    SELECT doc_id, score_de, score_en, score_es, score_fr, score_zh,
           {_langid_case_sql()} AS predicted_lang
    FROM scored
    """,
    doc="Keyword-profile language ID: marker-hit scores per language, "
    "deterministic argmax (ties to alphabetically-first).",
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_distributed(spark, sf_dir, "documents")
    return T.lang_id(docs)


_BPE_PATTERN = r"[A-Za-z]+|[0-9]{1,3}|[^A-Za-z0-9\s]"


@register(
    "text_bpe_token_count",
    f"""
    SELECT doc_id,
           CAST(len({_TOKS}) AS BIGINT) AS ws_tokens,
           CAST(len(regexp_extract_all(text, '{_BPE_PATTERN}')) AS BIGINT)
             AS bpe_tokens,
           CAST(len(regexp_extract_all(text, '{_BPE_PATTERN}')) AS DOUBLE) /
             CAST(len({_TOKS}) AS DOUBLE) AS tokens_per_word
    FROM documents
    """,
    doc="Token counting two ways: whitespace words and a BPE-ish regex "
    "(letter runs | 1-3 digit runs | single punctuation) approximating "
    "subword segmentation — the tokens_per_word ratio is a standard "
    "pretraining-corpus quality signal.",
)
def text_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_distributed(spark, sf_dir, "documents")
    ws = F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long")
    bpe = F.size(
        F.regexp_extract_all(F.col("text"), F.lit(_BPE_PATTERN), F.lit(0))
    ).cast("long")
    return docs.select(
        "doc_id",
        ws.alias("ws_tokens"),
        bpe.alias("bpe_tokens"),
        (bpe.cast("double") / ws.cast("double")).alias("tokens_per_word"),
    )


@register(
    "text_fingerprint",
    f"""
    WITH tok AS (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents)
    SELECT doc_id,
           CAST(SUM({md5_long_sql('tok')} % 1000000007) % 1000000007 AS BIGINT)
             AS fingerprint,
           COUNT(*) AS token_count
    FROM tok GROUP BY doc_id
    """,
    doc="Bag-of-words document fingerprint: sum of token hashes mod 1e9+7 "
    "(overflow-safe, order-insensitive, engine-portable).",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_distributed(spark, sf_dir, "documents")
    return T.fingerprint(docs)


# ---------------------------------------------------------------------------
# multimodal: binary-column metadata extraction via mapInPandas
# ---------------------------------------------------------------------------

@register(
    "mm_media_meta",
    """
    WITH hashed AS (
      -- payload is the utf-8 encoding of text; DuckDB's sha256(VARCHAR)
      -- hashes the same bytes.
      SELECT doc_id AS media_id,
             CASE WHEN doc_id % 3 = 0 THEN 'image'
                  WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
             CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
             sha256(text) AS sha256
      FROM documents)
    SELECT media_id, kind, n_bytes, sha256,
           CAST(64 + CAST(('0x' || substr(sha256, 1, 2)) AS INTEGER) % 192 AS INTEGER) AS width,
           CAST(64 + CAST(('0x' || substr(sha256, 3, 2)) AS INTEGER) % 192 AS INTEGER) AS height,
           CAST(CASE WHEN kind = 'image' THEN 1
                ELSE 1 + CAST(('0x' || substr(sha256, 5, 2)) AS INTEGER) % 120
            END AS INTEGER) AS n_frames
    FROM hashed
    """,
    doc="Multimodal metadata extraction: binary payload column → Arrow-batched "
    "mapInPandas decode (operators/multimodal.py). The deterministic stand-in "
    "codec derives dimensions from the payload sha256, so the ENTIRE "
    "Python-UDF path — schema contract, batch shape, byte round-trip — is "
    "hash-verified against the DuckDB oracle, not just rows-counted.",
)
def mm_media_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from legendary_data_pipeline_spark.operators.multimodal import (
        extract_media_meta,
        media_from_documents,
    )

    # Python worker SPIN-UP dominates small mapInPandas runs (32 cold
    # workers ≈ 6 s for <1 s of work) — cap partitions locally. A real
    # 100 TB table arrives with thousands of splits and amortizes the
    # startup, so this cap applies to the testdata path only.
    docs = load_distributed(spark, sf_dir, "documents", partitions=8)
    media = media_from_documents(docs)
    return extract_media_meta(media)


@register(
    "corpus_curation_pipeline",
    f"""
    WITH keepers AS (
      SELECT min(doc_id) AS doc_id FROM documents GROUP BY sha256(text)),
    {_QUALITY_SQL_STATS.strip().rstrip()},
    sc AS (
      SELECT doc_id,
             (CASE WHEN token_count BETWEEN 20 AND 400 THEN 40 ELSE 10 END
            + CASE WHEN CAST(stopword_count AS DOUBLE) / CAST(token_count AS DOUBLE)
                        BETWEEN 0.02 AND 0.6 THEN 30 ELSE 10 END
            + CASE WHEN CAST(char_count AS DOUBLE) / CAST(token_count AS DOUBLE)
                        BETWEEN 3.0 AND 12.0 THEN 30 ELSE 10 END) AS q,
             token_count
      FROM s),
    tk AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    langs AS (
      SELECT doc_id,
             {_LANG_SCORES_SQL}
      FROM tk),
    curated AS (
      SELECT k.doc_id,
             {_langid_case_sql()} AS predicted_lang,
             CASE WHEN sc.q >= 80 THEN 'high' WHEN sc.q >= 50 THEN 'medium'
                  ELSE 'low' END AS quality_bucket,
             sc.token_count
      FROM keepers k
      JOIN sc ON sc.doc_id = k.doc_id
      JOIN langs ON langs.doc_id = k.doc_id
      WHERE sc.q >= 50)
    SELECT predicted_lang, quality_bucket,
           COUNT(*) AS docs,
           CAST(SUM(token_count) AS BIGINT) AS total_tokens
    FROM curated GROUP BY 1, 2
    """,
    doc="End-to-end corpus curation: exact-dedup keepers → quality gate "
    "(score ≥ 50) → language ID → per-(lang, quality) corpus stats. The "
    "composition flagship: three LLM-pipeline operators fused into one "
    "DataFrame plan — dedup shuffle on the content hash, everything "
    "else per-row, one final aggregation.",
)
def corpus_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_distributed(spark, sf_dir, "documents")
    keepers = D.exact_dedup(docs)
    # lang_id keeps all input columns, so quality_score fuses on top with
    # predicted_lang passed through — per-row all the way, NO join-back
    # by id (one scan, one dedup shuffle, one final aggregation).
    enriched = T.lang_id(keepers, keep_cols=("text",))
    curated = T.quality_score(
        enriched, keep_cols=("predicted_lang",)
    ).filter(F.col("quality_score") >= 50)
    return curated.groupBy("predicted_lang", "quality_bucket").agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum("token_count").alias("total_tokens"),
    )


@register(
    "a1_approx_scale_variant",
    None,  # percentile_approx / approx_count_distinct: approximate by design
    doc="The 100 TB substitution for a1 made concrete: percentile_approx "
    "(mergeable sketch) + approx_count_distinct (HLL) in one groupBy — "
    "bounded memory per group regardless of cardinality. Rows-only "
    "check (approximation is engine-specific by design). Quartiles are "
    "projected to scalar q25/q50/q75 columns so the driver's rows-only "
    "canonicalization (pandas sort) never sees an array cell.",
)
def a1_approx_scale_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.expr(
            "percentile_approx(l_extendedprice, array(0.25, 0.5, 0.75), 10000)"
        ).alias("quartiles"),
        F.approx_count_distinct("l_partkey").alias("approx_parts"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    return agg.select(
        "l_returnflag",
        "l_linestatus",
        F.col("quartiles")[0].alias("q25"),
        F.col("quartiles")[1].alias("q50"),
        F.col("quartiles")[2].alias("q75"),
        "approx_parts",
        "n_rows",
    )


@register(
    "mm_frame_sample",
    """
    WITH hashed AS (
      SELECT doc_id AS media_id, sha256(text) AS sha
      FROM documents WHERE doc_id % 3 = 2),
    frames AS (
      SELECT media_id,
             1 + CAST(('0x' || substr(sha, 5, 2)) AS INTEGER) % 120 AS n_frames
      FROM hashed)
    SELECT media_id, CAST(unnest(range(0, n_frames, 10)) AS INTEGER) AS frame_idx
    FROM frames
    """,
    doc="Deterministic video frame sampling: decode metadata via "
    "mapInPandas, then explode every 10th frame index — the Spark-side "
    "plan a frame-extraction stage hangs off. Exactly oracle-checked "
    "because the stand-in codec's frame count replays from sha256.",
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from legendary_data_pipeline_spark.operators.multimodal import (
        media_from_documents,
        sample_frame_offsets,
    )

    docs = load_distributed(spark, sf_dir, "documents", partitions=8)
    media = media_from_documents(docs)
    return sample_frame_offsets(media, every_n=10)


# ---------------------------------------------------------------------------
# as-of join (timeseries): latest click preceding each purchase
# ---------------------------------------------------------------------------

@register(
    "t1_asof_purchase_click",
    """
    WITH c0 AS (
      SELECT user_id, event_id, epoch_us(ts) AS t FROM events
      WHERE event_type = 'click'),
    c AS (
      SELECT user_id, event_id AS click_event_id, t AS click_ts,
             ROW_NUMBER() OVER (PARTITION BY user_id, t ORDER BY event_id DESC) AS rn
      FROM c0),
    clicks AS (SELECT user_id, click_event_id, click_ts FROM c WHERE rn = 1),
    p AS (
      SELECT user_id, event_id AS purchase_event_id, epoch_us(ts) AS purchase_ts
      FROM events WHERE event_type = 'purchase')
    SELECT p.user_id, p.purchase_event_id, p.purchase_ts,
           clicks.click_event_id, clicks.click_ts,
           p.purchase_ts - clicks.click_ts AS gap_us
    FROM p ASOF LEFT JOIN clicks
      ON p.user_id = clicks.user_id AND p.purchase_ts >= clicks.click_ts
    """,
    doc="As-of join: each purchase matched to the user's latest click at "
    "or before it (attribution shape; microsecond epochs — DuckDB's "
    "epoch_ns truncates). Spark lacks ASOF natively — the "
    "operator is union + ONE carry-forward window per key (no range "
    "join explosion); DuckDB's native ASOF JOIN is the oracle.",
)
def t1_asof_purchase_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    from legendary_data_pipeline_spark.operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("click_event_id"),
        F.expr("ts DIV 1000").alias("click_ts"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_event_id"),
        F.expr("ts DIV 1000").alias("purchase_ts"),
    )
    joined = asof_join(
        purchases,
        clicks,
        on=["user_id"],
        left_ts="purchase_ts",
        right_ts="click_ts",
        right_payload=["click_event_id", "click_ts"],
        right_tiebreak=F.col("click_event_id"),
    )
    return joined.select(
        "user_id",
        "purchase_event_id",
        "purchase_ts",
        "click_event_id",
        "click_ts",
        (F.col("purchase_ts") - F.col("click_ts")).alias("gap_us"),
    )


_SESSION_GAP_S = 6 * 3600


# ---------------------------------------------------------------------------
# range join: purchases located inside their containing session interval
# ---------------------------------------------------------------------------

_SESSION_CTE = """
    ev AS (
      SELECT user_id, event_id, epoch_us(ts) AS t_us FROM events),
    flagged AS (
      SELECT *,
             CASE WHEN t_us - lag(t_us) OVER w > {gap_us}
                  OR lag(t_us) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
      FROM ev
      WINDOW w AS (PARTITION BY user_id ORDER BY t_us, event_id)),
    numbered AS (
      SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY t_us, event_id
                    ROWS UNBOUNDED PRECEDING) AS session_idx
      FROM flagged),
    sessions AS (
      SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
             CAST(MIN(t_us) AS BIGINT) AS session_start_us,
             CAST(MAX(t_us) AS BIGINT) AS session_end_us
      FROM numbered GROUP BY user_id, session_idx)
"""


@register(
    "t3_asof_forward_next_purchase",
    """
    WITH p0 AS (
      SELECT user_id, event_id, epoch_us(ts) AS t FROM events
      WHERE event_type = 'purchase'),
    p1 AS (
      SELECT user_id, event_id AS purchase_event_id, t AS purchase_ts,
             ROW_NUMBER() OVER (PARTITION BY user_id, t ORDER BY event_id DESC) AS rn
      FROM p0),
    purchases AS (SELECT user_id, purchase_event_id, purchase_ts FROM p1 WHERE rn = 1),
    c AS (
      SELECT user_id, event_id AS click_event_id, epoch_us(ts) AS click_ts
      FROM events WHERE event_type = 'click')
    SELECT c.user_id, c.click_event_id, c.click_ts,
           purchases.purchase_event_id, purchases.purchase_ts,
           purchases.purchase_ts - c.click_ts AS gap_us
    FROM c ASOF LEFT JOIN purchases
      ON c.user_id = purchases.user_id AND c.click_ts <= purchases.purchase_ts
    """,
    doc="Forward as-of join: each click matched to the user's EARLIEST "
    "purchase at or after it (time-to-conversion shape). Same union + "
    "one-window plan as the backward operator, ordered descending so "
    "the carry runs backward in time; DuckDB's native forward ASOF "
    "(<= comparison) is the oracle.",
)
def t3_asof_forward_next_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from legendary_data_pipeline_spark.operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_event_id"),
        F.expr("ts DIV 1000").alias("purchase_ts"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("click_event_id"),
        F.expr("ts DIV 1000").alias("click_ts"),
    )
    joined = asof_join(
        clicks,
        purchases,
        on=["user_id"],
        left_ts="click_ts",
        right_ts="purchase_ts",
        right_payload=["purchase_event_id", "purchase_ts"],
        right_tiebreak=F.col("purchase_event_id"),
        direction="forward",
    )
    return joined.select(
        "user_id",
        "click_event_id",
        "click_ts",
        "purchase_event_id",
        "purchase_ts",
        (F.col("purchase_ts") - F.col("click_ts")).alias("gap_us"),
    )


@register(
    "t2_range_join_purchase_session",
    f"""
    WITH {_SESSION_CTE.format(gap_us=_SESSION_GAP_S * 1_000_000)},
    p AS (
      SELECT user_id, event_id AS purchase_event_id, epoch_us(ts) AS t_us
      FROM events WHERE event_type = 'purchase')
    SELECT p.user_id, p.purchase_event_id, p.t_us AS purchase_ts,
           s.session_idx, s.session_start_us, s.session_end_us
    FROM p JOIN sessions s
      ON p.user_id = s.user_id
     AND p.t_us BETWEEN s.session_start_us AND s.session_end_us
    """,
    doc="Range (point-in-interval) join: each purchase located inside its "
    "containing session window. Spark-side uses bucketized candidate "
    "generation (explode intervals over day buckets, equi-join on "
    "(key, bucket), exact BETWEEN after) instead of a per-key "
    "nested-loop theta join.",
)
def t2_range_join_purchase_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    from legendary_data_pipeline_spark.operators.rangejoin import range_join

    sessions = e_sessionize_batch(spark, sf_dir).select(
        "user_id", "session_idx", "session_start_us", "session_end_us"
    )
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_event_id"),
        F.expr("ts DIV 1000").alias("t_us"),
    )
    joined = range_join(
        purchases,
        sessions,
        on=["user_id"],
        point_ts="t_us",
        interval_start="session_start_us",
        interval_end="session_end_us",
        bucket=86_400_000_000,  # 1 day in µs ≈ typical session span upper bound
    )
    return joined.select(
        "user_id",
        "purchase_event_id",
        F.col("t_us").alias("purchase_ts"),
        "session_idx",
        "session_start_us",
        "session_end_us",
    )


# ---------------------------------------------------------------------------
# sessionization (batch form of the stateful streaming operator)
# ---------------------------------------------------------------------------


@register(
    "e_sessionize_batch",
    f"""
    WITH ev AS (
      -- DuckDB reads ts as TIMESTAMP_NS; Spark (nanosAsLong) as integer
      -- nanos — epoch microseconds are identical in both.
      SELECT user_id, event_id,
             epoch_us(ts) AS t_us,
             CAST(round(CAST(value AS DECIMAL(18,2)) * 100, 0) AS BIGINT) AS v_cents
      FROM events),
    flagged AS (
      SELECT *,
             CASE WHEN t_us - lag(t_us) OVER w > {_SESSION_GAP_S * 1_000_000}
                  OR lag(t_us) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
      FROM ev
      WINDOW w AS (PARTITION BY user_id ORDER BY t_us, event_id)),
    numbered AS (
      SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY t_us, event_id
                    ROWS UNBOUNDED PRECEDING) AS session_idx
      FROM flagged)
    SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
           CAST(MIN(t_us) AS BIGINT) AS session_start_us,
           CAST(MAX(t_us) AS BIGINT) AS session_end_us,
           COUNT(*) AS n_events,
           CAST(SUM(COALESCE(v_cents, 0)) AS BIGINT) AS total_value_cents
    FROM numbered GROUP BY user_id, session_idx
    """,
    doc="Gap-based sessionization, batch form (lag → gap flag → running "
    "sum = session id → one groupBy; a single shuffle on user_id). The "
    "same semantics run continuously in streaming/sessions.py via "
    "applyInPandasWithState — this entry makes the logic hash-checkable. "
    "Money as integer cents so totals are order-insensitive.",
)
def e_sessionize_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.expr("ts DIV 1000").alias("t_us"),
        F.round(F.col("value").cast("decimal(18,2)") * 100, 0)
        .cast("long")
        .alias("v_cents"),
    )
    w = Window.partitionBy("user_id").orderBy("t_us", "event_id")
    prev = F.lag("t_us").over(w)
    flagged = ev.withColumn(
        "new_session",
        F.when(
            prev.isNull() | ((F.col("t_us") - prev) > _SESSION_GAP_S * 1_000_000),
            1,
        ).otherwise(0),
    ).withColumn(
        "session_idx",
        F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return flagged.groupBy("user_id", "session_idx").agg(
        F.min("t_us").alias("session_start_us"),
        F.max("t_us").alias("session_end_us"),
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.coalesce(F.col("v_cents"), F.lit(0))).alias("total_value_cents"),
    )


# ---------------------------------------------------------------------------
# streaming analogue (batch form): tumbling daily event rollup
# ---------------------------------------------------------------------------

@register(
    "e_daily_event_rollup",
    """
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           event_type,
           COUNT(*) AS events,
           CAST(SUM(CAST(round(CAST(value AS DECIMAL(18,2)) * 100, 0) AS BIGINT)) AS BIGINT)
             AS total_value_cents,
           COUNT(DISTINCT user_id) AS unique_users
    FROM events
    GROUP BY 1, 2
    """,
    doc="Tumbling-day event rollup — the batch equivalent of the streaming "
    "daily snapshot (streaming/snapshots.py runs the same logic with "
    "watermark + window). Event time derives from integer nanos: "
    "epoch_day = ts DIV 86_400e9, exact in both engines.",
)
def e_daily_event_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    day = F.date_format(
        F.expr("date_add(DATE '1970-01-01', CAST(ts DIV 86400000000000 AS INT))"),
        "yyyy-MM-dd",
    )
    cents = F.round(F.col("value").cast("decimal(18,2)") * 100, 0).cast("long")
    return ev.groupBy(day.alias("day"), "event_type").agg(
        F.count(F.lit(1)).alias("events"),
        F.sum(cents).alias("total_value_cents"),
        F.countDistinct("user_id").alias("unique_users"),
    )


# ---------------------------------------------------------------------------
# incremental exact dedup (new batch vs existing corpus index)
# ---------------------------------------------------------------------------

# The fixture corpus has no exact dups by construction, so dup structure
# is SYNTHESIZED deterministically from doc_id (the PII-injection
# precedent): batch docs with doc_id%10==0 share their key with a corpus
# partner (doc_id%10==1) -> corpus_dup; docs with doc_id%10==5 form
# batch-internal triples (same doc_id//30) -> one unique + two
# batch_dups; corpus keeps everything else under unique 'z' keys. All
# three statuses are exercised at every SF.
_INCR_KEY_SQL = """
         CASE WHEN doc_id % 10 IN (0, 1)
                THEN 'x' || CAST(doc_id // 10 AS VARCHAR)
              WHEN doc_id % 10 = 5
                THEN 'y' || CAST(doc_id // 30 AS VARCHAR)
              ELSE 'z' || CAST(doc_id AS VARCHAR) END
"""


@register(
    "dedup_incremental_exact",
    f"""
    WITH keyed AS (
      SELECT doc_id, {_INCR_KEY_SQL} AS ktext FROM documents),
    corpus AS (
      SELECT DISTINCT sha256(ktext) AS text_sha
      FROM keyed WHERE doc_id % 5 <> 0),
    batch AS (
      SELECT doc_id, sha256(ktext) AS text_sha
      FROM keyed WHERE doc_id % 5 = 0),
    ranked AS (
      SELECT b.doc_id, b.text_sha,
             c.text_sha IS NOT NULL AS in_corpus,
             ROW_NUMBER() OVER (
               PARTITION BY b.text_sha ORDER BY b.doc_id) AS rn
      FROM batch b LEFT JOIN corpus c USING (text_sha))
    SELECT doc_id, text_sha,
           CASE WHEN in_corpus THEN 'corpus_dup'
                WHEN rn > 1 THEN 'batch_dup'
                ELSE 'unique' END AS dedup_status
    FROM ranked
    """,
    doc="Incremental exact dedup: an arriving batch is classified against "
    "the PERSISTED corpus hash index (corpus_dup) and within itself "
    "(batch_dup / unique, min-id keeper) without touching corpus text — "
    "at 100 TB the corpus contributes 32 bytes per distinct doc and "
    "only the batch shuffles. This is how production ingestion dedups; "
    "re-grouping the full corpus per batch would read 100 TB to admit "
    "a few GB.",
)
def dedup_incremental_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_distributed(spark, sf_dir, "documents")
    key = F.expr(
        "CASE WHEN doc_id % 10 IN (0, 1)"
        "       THEN 'x' || CAST(doc_id DIV 10 AS STRING)"
        "     WHEN doc_id % 10 = 5"
        "       THEN 'y' || CAST(doc_id DIV 30 AS STRING)"
        "     ELSE 'z' || CAST(doc_id AS STRING) END"
    )
    keyed = docs.select("doc_id", key.alias("ktext"))
    corpus = keyed.filter("doc_id % 5 <> 0")
    batch = keyed.filter("doc_id % 5 = 0")
    index = D.corpus_hash_index(corpus, text_col="ktext")
    out = D.incremental_exact_dedup(batch, index, text_col="ktext")
    return out.select("doc_id", "text_sha", "dedup_status")


# ---------------------------------------------------------------------------
# embedding hygiene: cosine-to-label-centroid outliers
# ---------------------------------------------------------------------------


@register(
    "emb_centroid_outliers",
    """
    WITH base AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
      FROM embeddings),
    pos AS (
      SELECT label, unnest(e) AS v, generate_subscripts(e, 1) AS pos
      FROM base),
    cent AS (
      SELECT label, pos, avg(v) AS c FROM pos GROUP BY label, pos),
    centv AS (
      SELECT label, list(c ORDER BY pos) AS cv FROM cent GROUP BY label)
    SELECT b.vec_id, b.label,
           CAST(round(round(list_cosine_similarity(b.e, cv), 6) * 1e6)
                AS BIGINT) AS cos_to_centroid_e6,
           round(list_cosine_similarity(b.e, cv), 6) < 0.5 AS is_outlier
    FROM base b JOIN centv USING (label)
    """,
    doc="Embedding hygiene: each vector's cosine to its label's mean "
    "centroid, flagging out-of-cluster/mislabeled vectors before they "
    "reach contrastive or retrieval training. Centroids are label x "
    "dim (KiB) so the corpus joins a BROADCAST centroid frame and the "
    "cosine is one JVM fold per row — the corpus is never exploded and "
    "never shuffles; only the centroid build aggregates (map-side "
    "combined to labels x dim partials per task).",
)
def emb_centroid_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_distributed(spark, sf_dir, "embeddings")
    out = S.label_centroid_cosine(emb, outlier_threshold=0.5)
    return out.select(
        "vec_id", "label",
        e6(F.col("cos_to_centroid")).alias("cos_to_centroid_e6"),
        "is_outlier",
    )


# ---------------------------------------------------------------------------
# similarity: IVF-PQ (memory-compressed ANN; rows-only)
# ---------------------------------------------------------------------------


@register(
    "sim_ivf_pq_topk",
    None,  # STAYS rows-only: PQ subspace codebooks are seeded-numpy
    # k-means state (float iteration on the driver), and reconstruction
    # error depends on every codebook float — not replayable as SQL.
    # Quantization-quality + recall contracts: tests/test_ivf_pq.py;
    # the exact-scoring ANN surface is hash-checked via
    # sim_ivf_fixed_topk.
    doc="IVF + Product Quantization ANN with exact refine: candidates "
    "are searched as 8 one-byte codes + a stored norm (~16x smaller "
    "than the float vectors — at 100 TB the index fitting executor "
    "memory IS the feature), scored per inverted list via ADC lookup "
    "tables, and the k*rerank shortlist is rescored with exact "
    "broadcast-joined cosines. Recall@3 vs brute force is "
    "floor-asserted in tests/test_similarity_recall.py (~0.86 at "
    "defaults on this worst-case unstructured fixture).",
)
def sim_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_distributed(spark, sf_dir, "embeddings")
    return S.ivf_pq_topk(emb, query_filter=(F.col("vec_id") % 5 == 0))


# ---------------------------------------------------------------------------
# text: unicode normalization / folding
# ---------------------------------------------------------------------------


@register(
    "text_unicode_fold",
    r"""
    WITH inj AS (
      -- the fixture corpus is pure ASCII, so decomposed accent
      -- sequences (base + U+0301) are grafted on deterministically;
      -- the operator must re-compose (NFC) and fold them back
      SELECT doc_id,
             regexp_replace(trim(text), 'a', 'a' || chr(769), 'g') AS itext
      FROM documents)
    SELECT doc_id,
           nfc_normalize(itext) AS nfc_text,
           lower(strip_accents(itext)) AS folded_text,
           nfc_normalize(itext) <> itext AS composed
    FROM inj
    """,
    doc="Unicode hygiene: NFC composition plus an accent-stripped "
    "lowercase fold — web corpora mix composed and decomposed forms of "
    "identical glyphs, silently splitting dedup groups and token "
    "statistics until normalization runs FIRST. Codepoint transforms "
    "are Arrow-batched pandas UDFs (no JVM builtin); one projection, "
    "no shuffle; exactly replayed by DuckDB's nfc_normalize/"
    "strip_accents.",
)
def text_unicode_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_distributed(spark, sf_dir, "documents")
    injected = docs.select(
        "doc_id",
        # DECOMPOSED on purpose (base + combining U+0301) so NFC has
        # work to do; written as an escape because an editor could
        # silently re-compose a literal.
        F.regexp_replace(F.trim(F.col("text")), "a", "a\u0301").alias("text"),
    )
    return T.normalize_unicode(injected)


# ---------------------------------------------------------------------------
# text: BPE segmentation with a FROZEN merge table (full hash oracle)
# ---------------------------------------------------------------------------

# Production tokenizers are frozen artifacts: trained once, versioned,
# then applied unchanged to every corpus (retraining per-query would
# change every token budget downstream). This table was trained with
# operators/bpe.train_bpe (n_merges=32) on the sf0.01 documents sample
# and frozen — the X142 fixed-codebook move, which is what makes the
# query hash-oracle-able: a fixed table replays exactly in DuckDB
# string ops, where sample-trained tables are engine-side state.
_BPE_MERGES_FROZEN: list[tuple[str, str]] = [
    ("e", "</w>"), ("e", "r"), ("o", "w"), ("ow", "</w>"), ("s", "t"),
    ("i", "n"), ("er", "</w>"), ("o", "r"), ("g", "</w>"), ("a", "l"),
    ("t", "a"), ("a", "r"), ("p", "ar"), ("t", "</w>"), ("h", "</w>"),
    ("n", "</w>"), ("y", "</w>"), ("l", "ow</w>"), ("s", "low</w>"),
    ("a", "g"), ("ag", "g</w>"), ("in", "e</w>"), ("l", "ine</w>"),
    ("b", "i"), ("bi", "g</w>"), ("al", "l"), ("all", "</w>"),
    ("m", "all</w>"), ("s", "mall</w>"), ("f", "i"), ("fi", "l"),
    ("fil", "t"),
]

# Symbol-sequence encoding for exact string-op replay: every symbol is
# wrapped \x01sym\x02, so a merge (a, b) is ONE plain (non-regex)
# replace of "\x01a\x02\x01b\x02" with "\x01ab\x02" — the wrappers
# make cross-symbol false matches impossible ("\x01a\x02" can never
# start mid-symbol) and let one left-to-right non-overlapping replace
# pass merge a run of k repeats into floor(k/2) pairs, exactly the
# leftmost-first BPE order. Token count = count of \x01.
_S, _E = "\x01", "\x02"

# Characters stripped before word-splitting, as LITERAL class members
# (no regex escape syntax, so Java and RE2 read the class identically):
# the wrapper sentinels, plus the line terminators Java's '(.)' skips
# (\r, NEL, LS, PS) and \x0B, which Java \s eats but RE2's does not —
# any of these in text would desync n_words/n_bpe_tokens across
# engines (round-9 advice).
_BPE_SANITIZE_CLS = "[\x01\x02\x0b\r\u0085\u2028\u2029]"


def _bpe_fixed_encode(w):
    """JVM-only \\x01sym\\x02 symbol-sequence encoding of one word under
    the frozen table: sequential rank-order merge application
    (subword-nmt's original apply form — each merge is one replace
    pass, in training order). Equivalence with the priority-queue form
    (operators/bpe.apply_bpe) on real corpora is pinned in
    tests/test_bpe.py; the two can differ only when a later merge
    re-creates an earlier merge's pair, which requires
    duplicate-producing merge tables this trainer never emits for
    small n_merges."""
    e = F.concat(
        F.regexp_replace(w, "(.)", f"{_S}$1{_E}"),
        F.lit(f"{_S}</w>{_E}"),
    )
    for a, b in _BPE_MERGES_FROZEN:
        e = F.replace(
            e, F.lit(f"{_S}{a}{_E}{_S}{b}{_E}"), F.lit(f"{_S}{a}{b}{_E}")
        )
    return e


def _bpe_fixed_token_count(w):
    """Token count of one word under the frozen table = count of
    \\x01 markers in its encoded form."""
    e = _bpe_fixed_encode(w)
    return (
        F.length(e) - F.length(F.replace(e, F.lit(_S), F.lit("")))
    ).cast("long")


def _bpe_fixed_spaced(w):
    """One word's frozen-table subword sequence as a space-joined
    string: inter-symbol boundaries \\x02\\x01 become single spaces,
    the two outer markers drop (symbols never contain the markers —
    the sanitize class strips them from text first). Feeds the
    tokenizer-aware dedup shingle space."""
    e = _bpe_fixed_encode(w)
    return F.translate(
        F.replace(e, F.lit(_E + _S), F.lit(" ")), _S + _E, ""
    )


def _bpe_enc_sql_expr() -> str:
    """DuckDB expression encoding one word `w` under the frozen table
    (shared by the per-doc segment oracle and the fertility oracle)."""
    enc = (
        r"regexp_replace(w, '(.)', chr(1) || '\1' || chr(2), 'g')"
        " || chr(1) || '</w>' || chr(2)"
    )
    for a, b in _BPE_MERGES_FROZEN:
        pat = f"{_S}{a}{_E}{_S}{b}{_E}".replace("'", "''")
        rep = f"{_S}{a}{b}{_E}".replace("'", "''")
        enc = f"replace({enc}, '{pat}', '{rep}')"
    return enc


def _bpe_spaced_sql_expr() -> str:
    """DuckDB mirror of `_bpe_fixed_spaced`: one word `w` as its
    space-joined frozen-table subword sequence."""
    enc = _bpe_enc_sql_expr()
    return (
        f"replace(replace(replace({enc}, chr(2) || chr(1), ' '), "
        "chr(1), ''), chr(2), '')"
    )


def _bpe_words_sql(extra_cols: str = "") -> str:
    """CTE body fragment: sanitized, empty-filtered word list per doc
    (the exact mirror of the Spark-side `words` projection used by the
    frozen-BPE queries)."""
    cols = f"{extra_cols}, " if extra_cols else ""
    return f"""
      SELECT doc_id, {cols}
             list_filter(
               regexp_split_to_array(
                 trim(regexp_replace(coalesce(text, ''),
                                     '{_BPE_SANITIZE_CLS}', '', 'g')),
                 '\\s+'),
               w -> w <> '') AS words
      FROM documents"""


def _bpe_fixed_oracle_sql() -> str:
    enc = _bpe_enc_sql_expr()
    return f"""
    WITH ws AS (
      SELECT doc_id,
             list_filter(
               regexp_split_to_array(
                 trim(regexp_replace(coalesce(text, ''),
                                     '{_BPE_SANITIZE_CLS}', '', 'g')),
                 '\\s+'),
               w -> w <> '') AS words
      FROM documents),
    encs AS (
      SELECT doc_id, len(words) AS nw,
             list_transform(words, w -> {enc}) AS es
      FROM ws),
    cnt AS (
      SELECT doc_id, nw,
             coalesce(list_sum(list_transform(es,
               e -> length(e) - length(replace(e, chr(1), '')))), 0)
               AS nt
      FROM encs)
    SELECT doc_id,
           CAST(nw AS BIGINT) AS n_words,
           CAST(nt AS BIGINT) AS n_bpe_tokens,
           CAST(nt AS DOUBLE) / nullif(CAST(nw AS DOUBLE), 0.0)
             AS bpe_per_word
    FROM cnt
    """


@register(
    "text_bpe_segment",
    _bpe_fixed_oracle_sql(),
    doc="Word-level BPE subword budgets under a FROZEN 32-merge table "
    "(trained once with operators/bpe.train_bpe, then versioned — the "
    "production-tokenizer contract). Applied corpus-wide as a pure "
    "JVM codegen projection: each word becomes a \\x01/\\x02-wrapped "
    "symbol sequence and each merge is one plain string replace in "
    "training order (subword-nmt's original sequential apply), so "
    "DuckDB replays the segmentation EXACTLY — full hash oracle, no "
    "Python in the hot path. The sample-training + Arrow-memo apply "
    "pipeline remains in operators/bpe.py (contracts in test_bpe.py) "
    "for when a corpus-specific table must be learned in-flight.",
)
def text_bpe_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_distributed(spark, sf_dir, "documents")
    words = F.filter(
        F.split(
            F.trim(
                F.regexp_replace(
                    F.coalesce(F.col("text"), F.lit("")),
                    _BPE_SANITIZE_CLS,
                    ""
                )
            ),
            r"\s+",
        ),
        lambda w: w != F.lit(""),
    )
    base = docs.select("doc_id", words.alias("__ws"))
    n_words = F.size("__ws").cast("long")
    n_bpe = F.aggregate(
        F.transform("__ws", _bpe_fixed_token_count),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    out = base.select(
        "doc_id", n_words.alias("n_words"), n_bpe.alias("n_bpe_tokens")
    )
    per_word = F.col("n_bpe_tokens").cast("double") / F.nullif(
        F.col("n_words").cast("double"), F.lit(0.0)
    )
    # Raw IEEE ratio of exact integers — bit-stable on any engine
    # (round-9 representation audit).
    return out.select(
        "doc_id", "n_words", "n_bpe_tokens",
        per_word.alias("bpe_per_word"),
    )


# ---------------------------------------------------------------------------
# click→purchase attribution (batch form of the stream-stream join)
# ---------------------------------------------------------------------------


@register(
    "t4_click_attribution",
    """
    WITH ev AS (
      SELECT event_id, user_id, event_type, epoch_us(ts) AS t_us
      FROM events),
    c AS (SELECT event_id AS click_event_id, user_id, t_us AS click_us
          FROM ev WHERE event_type = 'click'),
    p AS (SELECT event_id AS purchase_event_id, user_id, t_us AS purchase_us
          FROM ev WHERE event_type = 'purchase'),
    pairs AS (
      SELECT p.purchase_event_id, p.user_id, c.click_event_id,
             p.purchase_us - c.click_us AS lag_us
      FROM p JOIN c ON p.user_id = c.user_id
        AND c.click_us <= p.purchase_us
        AND c.click_us >= p.purchase_us - 3600000000),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY purchase_event_id
        ORDER BY lag_us ASC, click_event_id ASC) AS rn
      FROM pairs)
    SELECT purchase_event_id, user_id, click_event_id, lag_us
    FROM ranked WHERE rn = 1
    """,
    doc="Last-click attribution: every purchase joined to its preceding "
    "clicks within a 1-hour horizon (the batch form of the watermarked "
    "stream-stream interval join in streaming/attribution.py), then "
    "one deterministic winner per purchase (smallest lag, id "
    "tiebreak). Interval predicate on integer microseconds — exact in "
    "both engines.",
)
def t4_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from legendary_data_pipeline_spark.operators.ranking import (
        top_k_per_group,
    )
    from legendary_data_pipeline_spark.streaming.attribution import (
        attribute_purchases,
        split_clicks_purchases,
    )

    ev = load_table(spark, sf_dir, "events")
    clicks, purchases = split_clicks_purchases(ev)
    pairs = attribute_purchases(clicks, purchases, horizon_minutes=60)
    best = top_k_per_group(
        pairs,
        ["purchase_event_id"],
        [F.col("lag_us").asc(), F.col("click_event_id").asc()],
        k=1,
    )
    return best.select(
        "purchase_event_id", "user_id", "click_event_id", "lag_us"
    )


# ---------------------------------------------------------------------------
# retrieval: BM25 top-k
# ---------------------------------------------------------------------------

_BM25_K1, _BM25_B, _BM25_K = 1.2, 0.75, 5


@register(
    "ret_bm25_topk",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest({_TOKS}) AS term FROM documents),
    tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
    dl AS (
      SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
    stats AS (
      SELECT (SELECT COUNT(*) FROM documents) AS n,
             (SELECT CAST(SUM(dl) AS DOUBLE) FROM dl)
               / (SELECT COUNT(*) FROM documents) AS avgdl),
    df AS (
      SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    q AS (
      SELECT doc_id AS query_id,
             unnest(list_distinct(({_TOKS})[1:6])) AS term
      FROM documents WHERE doc_id % 100 = 0),
    scored AS (
      SELECT q.query_id, tf.doc_id,
             round(SUM(
               ln(1.0 + (stats.n - df.df + 0.5) / (df.df + 0.5))
               * tf.tf * ({_BM25_K1} + 1.0)
               / (tf.tf + {_BM25_K1}
                  * (1.0 - {_BM25_B} + {_BM25_B} * dl.dl / stats.avgdl))
             ), 6) AS score
      FROM tf
      JOIN q ON q.term = tf.term
      JOIN df ON df.term = tf.term
      JOIN dl ON dl.doc_id = tf.doc_id
      CROSS JOIN stats
      GROUP BY q.query_id, tf.doc_id),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rn
      FROM scored)
    SELECT query_id, doc_id, CAST(rn AS INT) AS rank,
           CAST(round(score * 1e6) AS BIGINT) AS score_e6
    FROM ranked WHERE rn <= {_BM25_K}
    """,
    doc="BM25 lexical top-k: the retrieval primitive curation uses to "
    "find documents matching a quality seed set or eval prompt. Term "
    "stats are two map-side-combinable aggregations over the exploded "
    "corpus; the (tiny) query side and its df slice broadcast; scores "
    "round before a WindowGroupLimit top-k so both engines select the "
    "identical ranking. Queries here = first 6 tokens of every 100th "
    "document; on this ~30-word shared vocabulary such queries are "
    "deliberately NON-discriminative (short docs with high tf of the "
    "common terms outrank the source doc) — the check is the exact "
    "DuckDB hash match of the full ranking, not a retrieval metric.",
)
def ret_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from legendary_data_pipeline_spark.operators.retrieval import bm25_topk

    docs = load_table(spark, sf_dir, "documents")
    queries = docs.filter(F.col("doc_id") % 100 == 0).select(
        F.col("doc_id").alias("query_id"),
        F.array_join(
            F.slice(F.split(F.trim(F.col("text")), r"\s+"), 1, 6), " "
        ).alias("query_text"),
    )
    out = bm25_topk(docs, queries, k=_BM25_K, k1=_BM25_K1, b=_BM25_B)
    return out.select(
        "query_id", "doc_id", F.col("rank").cast("int").alias("rank"),
        e6(F.col("score")).alias("score_e6"),
    )


# ---------------------------------------------------------------------------
# semantic dedup in embedding space
# ---------------------------------------------------------------------------
# Trained/fixed pair (the ivf_topk / ivf_fixed_topk division of labor):
# the TRAINED SemDeDup (seeded k-means codebook + sequential greedy
# keeper) keeps its collapse/keeper/determinism contracts in
# test_similarity_recall.py but — round 7 — no longer occupies a
# rows-only registry row; the FIXED variant below replays assignment,
# threshold arithmetic, and keeper bookkeeping end-to-end in DuckDB
# under the hash oracle.

_SDF_NC = 16
_SDF_TAU = 0.35  # synthetic embeddings are near-orthogonal; 0.35 ≈ p99 of
# within-cluster cosine at sf0.01, so the dup path is actually exercised
# (production semantic dedup runs at ~0.9+ — the threshold is a knob)


def dedup_semdedup_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic near-duplicate removal in
    embedding space — coarse k-means clusters bound the quadratic step,
    then a greedy within-cluster cosine pass (ids ascending, min-id
    keeper). Kept callable for pipelines/tests; correctness is
    contract-pinned in test_similarity_recall.py rather than
    oracle-paired."""
    emb = load_distributed(spark, sf_dir, "embeddings")
    return S.semdedup(emb, n_clusters=16, tau=0.9)


@register(
    "dedup_semdedup_fixed",
    f"""
    WITH base AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    cents AS (
      SELECT vec_id AS cid, v AS cv FROM base WHERE vec_id < {_SDF_NC}),
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
    pairs AS (
      SELECT a.vec_id AS ia, b.vec_id AS ib
      FROM asg a JOIN asg b
        ON a.cluster = b.cluster AND a.vec_id < b.vec_id
      JOIN base ba ON ba.vec_id = a.vec_id
      JOIN base bb ON bb.vec_id = b.vec_id
      WHERE round(list_cosine_similarity(ba.v, bb.v), 6) >= {_SDF_TAU}),
    dups AS (
      SELECT ib AS vec_id, MIN(ia) AS dup_of FROM pairs GROUP BY 1)
    SELECT asg.vec_id, asg.cluster,
           dups.dup_of IS NULL AS keep, dups.dup_of
    FROM asg LEFT JOIN dups ON asg.vec_id = dups.vec_id
    """,
    doc="Fixed-codebook SemDeDup (X151) — the hash-oracle-able twin of "
    "the trained greedy form: frozen 16-vector codebook (ivf_fixed "
    "convention), min-id-anchor keeper rule (b is dup iff some lower-id "
    "same-cluster vector has round(cos,6) >= tau, dup_of = smallest "
    "such anchor) — a pure join/aggregation, so the whole operator "
    "replays in DuckDB. The quadratic step is bounded by cluster size "
    "exactly as in SemDeDup; no corpus-wide cartesian.",
)
def dedup_semdedup_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_distributed(spark, sf_dir, "embeddings")
    return S.semdedup_fixed(emb, n_centroids=_SDF_NC, tau=_SDF_TAU)


# ---------------------------------------------------------------------------
# JL random projection
# ---------------------------------------------------------------------------

_JL_DIMS = 8
_JL_SCALE = _JL_DIMS ** -0.5
# Oracle and Spark side are BOTH pinned to the embeddings fixture width:
# the SQL bakes 64-element sign literals, and the query fn passes
# dim=_JL_DIM so the operator cannot silently adapt to a different
# width while the oracle stays at 64.
_JL_DIM = 64


def _jl_rows_sql() -> list[str]:
    """DuckDB array literals for every JL direction (same md5
    derivation as similarity.jl_signs; matrix computed once)."""
    from legendary_data_pipeline_spark.operators.similarity import jl_signs

    return [
        "[" + ", ".join("1.0" if v > 0 else "-1.0" for v in row) + "]"
        for row in jl_signs(_JL_DIMS, _JL_DIM)
    ]


_JL_PROJ_COLS_SQL = ", ".join(
    f"CAST(round(list_dot_product(e, {row_sql}) * {_JL_SCALE!r} * 1e6) "
    f"AS BIGINT) AS p{j}_e6"
    for j, row_sql in enumerate(_jl_rows_sql())
)


@register(
    "emb_random_projection",
    f"""
    WITH base AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
    SELECT vec_id, label, {_JL_PROJ_COLS_SQL}
    FROM base
    """,
    doc="Johnson-Lindenstrauss random projection (Achlioptas +-1 matrix, "
    "md5-derived): 64-dim embeddings down to 8 deterministic components. "
    "Distance-preserving in expectation -- the cheap front end for "
    "SemDeDup / IVF / cosine dedup at 100 TB; the sign matrix is "
    "stateless so the projection replays bit-for-bit in DuckDB.",
)
def emb_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_distributed(spark, sf_dir, "embeddings")
    proj = S.random_projection(emb, out_dims=_JL_DIMS, dim=_JL_DIM)
    return proj.select(
        "vec_id",
        "label",
        *[
            e6(F.col("proj")[j]).alias(f"p{j}_e6") for j in range(_JL_DIMS)
        ],
    )


@register(
    "dedup_keep_longest",
    f"""
    WITH RECURSIVE {_CLUSTER_SQL_CTES},
    mem AS (
      SELECT c.node, c.component, d.n_chars
      FROM comp c JOIN documents d ON d.doc_id = c.node),
    ranked AS (
      SELECT component, node, n_chars,
             ROW_NUMBER() OVER (PARTITION BY component
                                ORDER BY n_chars DESC, node ASC) AS rn,
             COUNT(*) OVER (PARTITION BY component) AS n_members
      FROM mem)
    SELECT component, node AS keep_id, n_chars AS keep_chars,
           CAST(n_members AS BIGINT) AS n_members
    FROM ranked WHERE rn = 1
    """,
    doc="Quality-aware dedup keeper: near-dup components keep their "
    "LONGEST member (n_chars desc, id tie-break) instead of the min-id "
    "canonical — the policy that preserves the most complete variant "
    "of each duplicate group. One window exchange on the component key.",
)
def dedup_keep_longest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from legendary_data_pipeline_spark.operators import graph as G

    docs = load_distributed(spark, sf_dir, "documents")
    comps = _dup_components(docs)
    best = G.best_member(
        comps,
        docs.select("doc_id", "n_chars"),
        [F.col("n_chars").desc(), F.col("node").asc()],
    )
    return best.select(
        F.col("component").cast("long").alias("component"),
        F.col("node").alias("keep_id"),
        F.col("n_chars").alias("keep_chars"),
        F.col("n_members").cast("long").alias("n_members"),
    )


# ---------------------------------------------------------------------------
# X229 — duplicate-cluster size profile
# ---------------------------------------------------------------------------


@register(
    "dedup_cluster_size_profile",
    f"""
    WITH RECURSIVE {_CLUSTER_SQL_CTES},
    sizes AS (
      SELECT component, CAST(COUNT(*) AS BIGINT) AS cluster_size
      FROM comp GROUP BY component)
    SELECT cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(COUNT(*) * cluster_size AS BIGINT) AS n_docs,
           CAST(COUNT(*) * (cluster_size - 1) AS BIGINT) AS n_droppable
    FROM sizes GROUP BY cluster_size
    """,
    doc="X229 duplicate-cluster size histogram: for each near-dup "
    "cluster SIZE, how many clusters, how many member docs, and how "
    "many docs a keep-one policy would drop. The first diagnostic a "
    "curation run reads after dedup: a heavy tail here (giant "
    "boilerplate cliques) means the pair threshold or the shingle "
    "size is wrong, and n_droppable totals the corpus shrink before "
    "any keeper policy runs. Composes the shared verified-pair "
    "closure; past the closure everything is component-cardinality "
    "aggregation (two map-side-combinable groupBys), so the readout "
    "adds no corpus-scale work.",
)
def dedup_cluster_size_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_distributed(spark, sf_dir, "documents")
    comps = _dup_components(docs)
    sizes = comps.groupBy("component").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    )
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters"),
        (F.count(F.lit(1)) * F.col("cluster_size"))
        .cast("long")
        .alias("n_docs"),
        (F.count(F.lit(1)) * (F.col("cluster_size") - 1))
        .cast("long")
        .alias("n_droppable"),
    )


# ---------------------------------------------------------------------------
# X230 — keeper-policy delta report (min-id canonical vs keep-longest)
# ---------------------------------------------------------------------------


@register(
    "dedup_keeper_policy_delta",
    f"""
    WITH RECURSIVE {_CLUSTER_SQL_CTES},
    mem AS (
      SELECT c.node, c.component, d.n_chars
      FROM comp c JOIN documents d ON d.doc_id = c.node),
    ranked AS (
      SELECT component, node, n_chars,
             ROW_NUMBER() OVER (PARTITION BY component
                                ORDER BY n_chars DESC, node ASC) AS rn,
             ROW_NUMBER() OVER (PARTITION BY component
                                ORDER BY node ASC) AS rn_canon
      FROM mem),
    pol AS (
      SELECT component,
             MAX(CASE WHEN rn = 1 THEN node END) AS longest_id,
             MAX(CASE WHEN rn = 1 THEN n_chars END) AS longest_chars,
             MAX(CASE WHEN rn_canon = 1 THEN node END) AS canonical_id,
             MAX(CASE WHEN rn_canon = 1 THEN n_chars END)
               AS canonical_chars
      FROM ranked GROUP BY component)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(SUM(CASE WHEN longest_id <> canonical_id
                         THEN 1 ELSE 0 END) AS BIGINT)
             AS n_keeper_differs,
           CAST(SUM(canonical_chars) AS BIGINT) AS chars_canonical_policy,
           CAST(SUM(longest_chars) AS BIGINT) AS chars_longest_policy,
           CAST(SUM(longest_chars - canonical_chars) AS BIGINT)
             AS chars_gained,
           CAST(SUM(CASE WHEN longest_id <> canonical_id
                         THEN 1 ELSE 0 END) AS DOUBLE)
             / nullif(CAST(COUNT(*) AS DOUBLE), 0.0)
             AS frac_clusters_differ
    FROM pol
    """,
    doc="X230 keeper-policy delta: before committing a dedup keeper "
    "rule, quantify what switching from the min-id canonical to the "
    "keep-longest policy changes — how many clusters pick a different "
    "keeper, and how many characters of surviving text each policy "
    "retains. Composes the shared closure with ONE component-keyed "
    "window pass computing both keepers (rank by n_chars desc and by "
    "id asc share the partition key — a single exchange), then a "
    "metadata-scale rollup. frac is an IEEE division of exact longs.",
)
def dedup_keeper_policy_delta(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Window

    docs = load_distributed(spark, sf_dir, "documents")
    comps = _dup_components(docs)
    w = Window.partitionBy("component")
    mem = (
        comps.join(
            docs.select(F.col("doc_id").alias("node"), "n_chars"), "node"
        )
        .withColumn(
            "rn",
            F.row_number().over(
                w.orderBy(F.col("n_chars").desc(), F.col("node").asc())
            ),
        )
        .withColumn(
            "rn_canon",
            F.row_number().over(w.orderBy(F.col("node").asc())),
        )
    )
    pol = mem.groupBy("component").agg(
        F.max(F.when(F.col("rn") == 1, F.col("node"))).alias("longest_id"),
        F.max(F.when(F.col("rn") == 1, F.col("n_chars"))).alias(
            "longest_chars"
        ),
        F.max(F.when(F.col("rn_canon") == 1, F.col("node"))).alias(
            "canonical_id"
        ),
        F.max(F.when(F.col("rn_canon") == 1, F.col("n_chars"))).alias(
            "canonical_chars"
        ),
    )
    differs = (F.col("longest_id") != F.col("canonical_id")).cast("long")
    return pol.agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters"),
        F.sum(differs).cast("long").alias("n_keeper_differs"),
        F.sum("canonical_chars").cast("long").alias("chars_canonical_policy"),
        F.sum("longest_chars").cast("long").alias("chars_longest_policy"),
        F.sum(F.col("longest_chars") - F.col("canonical_chars"))
        .cast("long")
        .alias("chars_gained"),
        (
            F.sum(differs).cast("double")
            / F.nullif(F.count(F.lit(1)).cast("double"), F.lit(0.0))
        ).alias("frac_clusters_differ"),
    )


# ---------------------------------------------------------------------------
# ordered funnel + retention cohorts (operators/funnel.py)
# ---------------------------------------------------------------------------

_FUNNEL_STEPS = ("view", "click", "purchase")
_FUNNEL_HORIZON_S = 24 * 3600


@register(
    "e_funnel_conversion",
    f"""
    WITH s1 AS (
      SELECT user_id, MIN(ts) AS t1 FROM events
      WHERE event_type = '{_FUNNEL_STEPS[0]}' GROUP BY user_id),
    s2 AS (
      SELECT s1.user_id, s1.t1, MIN(e.ts) AS t2
      FROM s1 LEFT JOIN events e
        ON e.user_id = s1.user_id AND e.event_type = '{_FUNNEL_STEPS[1]}'
       AND e.ts > s1.t1
       AND e.ts <= s1.t1 + INTERVAL {_FUNNEL_HORIZON_S} SECONDS
      GROUP BY 1, 2),
    s3 AS (
      SELECT s2.user_id, s2.t1, s2.t2, MIN(e.ts) AS t3
      FROM s2 LEFT JOIN events e
        ON e.user_id = s2.user_id AND e.event_type = '{_FUNNEL_STEPS[2]}'
       AND e.ts > s2.t2
       AND e.ts <= s2.t1 + INTERVAL {_FUNNEL_HORIZON_S} SECONDS
      GROUP BY 1, 2, 3),
    counts AS (
      SELECT COUNT(t1) AS n1, COUNT(t2) AS n2, COUNT(t3) AS n3 FROM s3)
    SELECT step_idx, step, n_users,
           CAST(n_users AS DOUBLE) / CAST(n1 AS DOUBLE) AS conversion
    FROM counts, (VALUES (1), (2), (3)) AS v(step_idx),
    LATERAL (SELECT CASE step_idx WHEN 1 THEN '{_FUNNEL_STEPS[0]}'
                                  WHEN 2 THEN '{_FUNNEL_STEPS[1]}'
                                  ELSE '{_FUNNEL_STEPS[2]}' END AS step,
                    CASE step_idx WHEN 1 THEN n1 WHEN 2 THEN n2
                                  ELSE n3 END AS n_users)
    """,
    doc="First-touch ordered funnel (view -> click -> purchase, 24 h "
    "conversion window): earliest step-1 event per user, each later "
    "step strictly after the previous and inside the window. Built as "
    "a chain of conditional-min aggregations on the user key — ONE "
    "shuffle key end to end and no per-user event arrays, so power "
    "users cannot OOM a task (the sorted-collect funnel antipattern).",
)
def e_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from legendary_data_pipeline_spark.operators.funnel import funnel_report

    ev = load_table(spark, sf_dir, "events")
    return funnel_report(ev, list(_FUNNEL_STEPS), _FUNNEL_HORIZON_S)


@register(
    "e_retention_cohorts",
    """
    WITH days AS (
      SELECT DISTINCT user_id,
             CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day
      FROM events),
    cohort AS (SELECT user_id, MIN(day) AS c FROM days GROUP BY user_id),
    sizes AS (SELECT c, COUNT(DISTINCT user_id) AS cohort_size
              FROM cohort GROUP BY c),
    act AS (
      SELECT d.user_id, co.c, d.day - co.c AS k
      FROM days d JOIN cohort co USING (user_id)),
    ret AS (
      SELECT c, k, COUNT(DISTINCT user_id) AS n_active
      FROM act WHERE k IN (0, 1, 3, 7, 14) GROUP BY c, k)
    SELECT strftime(DATE '1970-01-01' + c * INTERVAL 1 DAY, '%Y-%m-%d')
             AS cohort_day,
           k AS day_offset, n_active, s.cohort_size,
           CAST(n_active AS DOUBLE) / CAST(s.cohort_size AS DOUBLE)
             AS retention
    FROM ret JOIN sizes s USING (c)
    """,
    doc="Day-cohort retention matrix: users cohorted by first active "
    "UTC day, activity probed at offsets {0,1,3,7,14}. Day indexes are "
    "integer nanos DIV 86400e9 (exact — float division would misplace "
    "boundaries past 2^53). Every stage keys on user_id or the "
    "day-cardinality cohort key.",
)
def e_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from legendary_data_pipeline_spark.operators.funnel import (
        retention_cohorts,
    )

    ev = load_table(spark, sf_dir, "events")
    return retention_cohorts(ev)


@register(
    "e_event_transitions",
    """
    WITH seq AS (
      SELECT event_type AS from_type,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS to_type
      FROM events),
    counts AS (
      SELECT from_type, to_type, COUNT(*) AS n_transitions
      FROM seq WHERE to_type IS NOT NULL GROUP BY 1, 2)
    SELECT from_type, to_type, n_transitions,
           CAST(n_transitions AS DOUBLE) /
             CAST(SUM(n_transitions) OVER (PARTITION BY from_type)
                  AS DOUBLE) AS p
    FROM counts
    """,
    doc="First-order event transition matrix (user-path Markov counts, "
    "row-normalized): the lead window partitions by user (bounded "
    "state), the matrix aggregate is TYPE^2-sized. Within-user order is "
    "total (ts, event_id), so the matrix is layout-independent.",
)
def e_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from legendary_data_pipeline_spark.operators.funnel import (
        event_transitions,
    )

    ev = load_table(spark, sf_dir, "events")
    return event_transitions(ev)


@register(
    "mm_phash_dedup",
    None,  # STAYS rows-only: the aHash fingerprint is a numpy byte-
    # resample over opaque binary payloads (stand-in for a real codec —
    # multimodal.py's honest stub); SQL engines have no bit-identical
    # image/byte resample, so only row counts + pytest contracts
    # (tests/test_multimodal.py banded-hamming properties) apply.
    doc="Perceptual-hash image dedup (LAION-style): aHash fingerprints "
    "over image payloads (Arrow-batched numpy; a real codec would swap "
    "the byte resample for decode+8x8 luma in the same batch loop), "
    "then 8-band candidates + exact JVM popcount verify at "
    "hamming <= 16 — identical shape to SimHash text dedup, so the "
    "quadratic step stays inside hash buckets. Contracts (identical -> "
    "0, near -> small, unrelated -> unpaired, non-image excluded) are "
    "pinned in tests/test_phash.py.",
)
def mm_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from legendary_data_pipeline_spark.operators.multimodal import (
        ahash_images,
        ahash_pairs,
        media_from_documents,
    )

    docs = load_table(spark, sf_dir, "documents")
    media = media_from_documents(docs).coalesce(8)
    return ahash_pairs(ahash_images(media), max_hamming=16, bands=8)


# ---------------------------------------------------------------------------
# leakage-safe train/val split (dedup-aware holdout)
# ---------------------------------------------------------------------------

_SPLIT_SEED = 41
_SPLIT_VAL_PCT = 10


@register(
    "curation_leakage_safe_split",
    f"""
    WITH RECURSIVE {_CLUSTER_SQL_CTES},
    asg AS (
      SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS group_key
      FROM documents d LEFT JOIN comp c ON d.doc_id = c.node)
    SELECT doc_id, CAST(group_key AS BIGINT) AS group_key,
           CASE WHEN ({seeded_md5_long_sql('CAST(group_key AS VARCHAR)', _SPLIT_SEED)})
                     % 100 < {_SPLIT_VAL_PCT}
                THEN 'val' ELSE 'train' END AS split
    FROM asg
    """,
    doc="Leakage-safe train/val split: the split unit is the verified "
    "near-dup CLUSTER (connected component), not the document — a "
    "per-doc hash split lets two near-copies straddle the boundary and "
    "contaminate eval. Component labels join on doc_id with no "
    "broadcast hint (the frame is data-sized at real dup rates; AQE "
    "decides); singletons key on their own id; "
    "the val gate is seeded_md5(group) % 100, deterministic across "
    "reruns and engines — the oracle replays pairs → recursive closure "
    "→ split end-to-end.",
)
def curation_leakage_safe_split(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from legendary_data_pipeline_spark.operators.curation import (
        leakage_safe_split,
    )

    docs = load_distributed(spark, sf_dir, "documents")
    comps = _dup_components(docs)
    out = leakage_safe_split(
        docs, comps, val_pct=_SPLIT_VAL_PCT, seed=_SPLIT_SEED
    )
    return out.select("doc_id", "group_key", "split")


# ---------------------------------------------------------------------------
# late-interaction (multi-vector) retrieval — ColBERT MaxSim
# ---------------------------------------------------------------------------

_MAXSIM_NV = 8  # 64-dim embedding → 8 token-vectors of 8 dims
_MAXSIM_K = 3


@register(
    "ret_maxsim_topk",
    f"""
    WITH mv AS (
      SELECT vec_id, label,
             list_transform(range(0, {_MAXSIM_NV}),
                            i -> CAST(list_slice(embedding,
                                                 i * 8 + 1, i * 8 + 8)
                                      AS DOUBLE[])) AS vecs
      FROM embeddings),
    q AS (SELECT vec_id AS qid, label, vecs AS qv FROM mv
          WHERE vec_id < {_MAXSIM_K}),
    scored AS (
      SELECT qid, c.vec_id AS nid,
             CAST(round(list_sum(list_transform(qv,
                     qq -> list_max(list_transform(c.vecs,
                             dd -> list_inner_product(qq, dd))))) * 1e6)
                  AS BIGINT) AS maxsim_e6
      FROM q JOIN mv c ON q.label = c.label AND qid <> c.vec_id),
    ranked AS (
      SELECT qid AS query_id, nid AS neighbor_id, maxsim_e6,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY maxsim_e6 DESC, nid ASC) AS rn
      FROM scored)
    SELECT query_id, neighbor_id, CAST(rn AS INT) AS rank, maxsim_e6
    FROM ranked WHERE rn <= {_MAXSIM_K}
    """,
    doc="Late-interaction retrieval (ColBERT MaxSim): docs carry "
    "multi-vector columns (here the 64-dim embedding reshaped to 8×8 "
    "token-vectors); score = Σ_q max_d ⟨q,d⟩. Exact label-blocked "
    "baseline with sequential-fold float math so DuckDB replays it "
    "bit-for-bit; at scale the same scorer runs on first-stage "
    "candidate sets (BM25/ANN shortlist-then-refine, the ivf_pq "
    "shape), never all pairs.",
)
def ret_maxsim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from legendary_data_pipeline_spark.operators.retrieval import (
        maxsim_topk,
        multivec_from_embedding,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    mv = multivec_from_embedding(emb, _MAXSIM_NV)
    return maxsim_topk(
        mv, k=_MAXSIM_K, query_filter=F.col("vec_id") < _MAXSIM_K,
    )


# ---------------------------------------------------------------------------
# contrastive hard-negative mining
# ---------------------------------------------------------------------------


#: Bounded anchor-sample size for the exact hard-negative baseline —
#: same rationale as _RECALL_MAX_Q: the exact scorer is anchors ×
#: corpus by definition, so a fixed FRACTION of anchors re-quadratizes
#: it (r14 early probe: 18× wall at 10× vectors with the old 10%
#: anchor filter), while a fixed SAMPLE keeps it linear in the corpus.
_HARDNEG_MAX_ANCHORS = 256


@register(
    "sim_hard_negatives",
    f"""
    WITH base AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    q AS (SELECT vec_id AS anchor_id, label, e FROM (
            SELECT vec_id, label, e, ROW_NUMBER() OVER (
              ORDER BY {md5_long_sql("CAST(vec_id AS VARCHAR)")} ASC,
                       vec_id ASC) AS qrn
            FROM base WHERE vec_id % 10 = 0)
          WHERE qrn <= {_HARDNEG_MAX_ANCHORS}),
    pairs AS (
      SELECT q.anchor_id, c.vec_id AS negative_id,
             c.label AS negative_label,
             round(list_cosine_similarity(q.e, c.e), 6) AS cos_sim
      FROM q JOIN base c ON q.label <> c.label),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY anchor_id
        ORDER BY cos_sim DESC, negative_id ASC) AS rn
      FROM pairs)
    SELECT anchor_id, negative_id, negative_label,
           CAST(rn AS INT) AS rank,
           CAST(round(cos_sim * 1e6) AS BIGINT) AS cos_sim_e6
    FROM ranked WHERE rn <= 3
    """,
    doc="Contrastive hard-negative mining: per anchor, the 3 most "
    "cosine-similar vectors with a DIFFERENT label — the near-misses "
    "that define the decision boundary in embedding/reranker training. "
    "Exact cross-label baseline with the engine-stable rounded cosine, "
    "evaluated on a BOUNDED deterministic anchor sample (the "
    f"{_HARDNEG_MAX_ANCHORS} md5-first eligible vectors — the "
    "sim_ivf_recall_at_k convention): a fixed anchor FRACTION would "
    "make the exact scorer quadratic in the corpus (the r14 early "
    "probe read 18× at 10× vectors), while the bounded sample keeps "
    "it linear. The ≤-sample-size id pull is the one driver action. "
    "Mining negatives for EVERY anchor at 100 TB uses the ANN "
    "shortlist form instead (hard_negatives_ivf — shortlist-then-"
    "refine, the ivf_pq contract); this exact form is the baseline "
    "that validates it.",
)
def sim_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    from legendary_data_pipeline_spark.functions.hashing import md5_long

    emb = load_distributed(spark, sf_dir, "embeddings")
    # Bounded md5-first anchor pull via orderBy().limit() — a
    # distributed TakeOrderedAndProject, not a global rank window.
    anchor_ids = [
        r.vec_id
        for r in emb.filter(F.col("vec_id") % 10 == 0)
        .select("vec_id")
        .orderBy(
            md5_long(F.col("vec_id").cast("string")).asc(),
            F.col("vec_id").asc(),
        )
        .limit(_HARDNEG_MAX_ANCHORS)
        .collect()
    ]
    out = S.hard_negatives(
        emb, k=3, query_filter=F.col("vec_id").isin(anchor_ids)
    )
    return out.select(
        "anchor_id",
        "negative_id",
        "negative_label",
        F.col("rank").cast("int").alias("rank"),
        e6(F.col("cos_sim")).alias("cos_sim_e6"),
    )


# ---------------------------------------------------------------------------
# X132 readability scoring / X133 keyword extraction (round 6)
# ---------------------------------------------------------------------------

@register(
    "tx_readability",
    """
    WITH base AS (
      SELECT doc_id,
             len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                             __x -> __x != '')) AS n_words,
             greatest(1, len(regexp_extract_all(text, '[.!?]+')))
               AS n_sentences,
             greatest(1, len(regexp_extract_all(lower(text), '[aeiouy]+')))
               AS n_syllables
      FROM documents)
    SELECT doc_id,
           CAST(n_words AS BIGINT) AS n_words,
           CAST(n_sentences AS BIGINT) AS n_sentences,
           CAST(n_syllables AS BIGINT) AS n_syllables,
           206.835
             - 1.015 * (CAST(n_words AS DOUBLE)
                        / CAST(n_sentences AS DOUBLE))
             - 84.6 * (CAST(n_syllables AS DOUBLE)
                       / CAST(n_words AS DOUBLE)) AS flesch
    FROM base WHERE n_words > 0
    """,
    doc="Flesch reading-ease per document: exact integer word / "
    "sentence-run / vowel-group counts from portable regexes, then the "
    "classic formula as a fixed IEEE double tree over shared literals. "
    "Zero-shuffle projection at scan parallelism — the readability "
    "quality gate of a curation pass (drop negative-FRE boilerplate).",
)
def tx_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_distributed(spark, sf_dir, "documents")
    return T.readability(docs)


@register(
    "tx_keywords_tf_rarity",
    """
    WITH toks AS (
      SELECT doc_id,
             unnest(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                                __x -> __x != '')) AS w
      FROM documents),
    tf AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf
           FROM toks GROUP BY 1, 2),
    dfreq AS (SELECT w, CAST(count(*) AS BIGINT) AS df_docs
              FROM tf GROUP BY 1),
    r AS (
      SELECT tf.doc_id, tf.w AS term, tf.tf, dfreq.df_docs,
             CAST(ROW_NUMBER() OVER (PARTITION BY tf.doc_id
                    ORDER BY tf.tf DESC, dfreq.df_docs ASC, tf.w ASC)
                  AS BIGINT) AS rank
      FROM tf JOIN dfreq USING (w))
    SELECT doc_id, term, tf, df_docs, rank FROM r WHERE rank <= 3
    """,
    doc="Top-3 distinctive keywords per document by (term frequency "
    "desc, corpus document frequency asc, term) — TF-IDF's ordering as "
    "a total order over exact integers, no libm floats, so the "
    "selection is engine-identical. Stopwords sort themselves out via "
    "huge df. Shuffles key on term (vocab-sized df table) and doc id "
    "(per-doc window) only.",
)
def tx_keywords_tf_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_distributed(spark, sf_dir, "documents")
    return T.keywords_tf_rarity(docs, top_k=3)


# ---------------------------------------------------------------------------
# X137 domain-level quality gating (round 6)
# ---------------------------------------------------------------------------

@register(
    "curation_domain_gates",
    f"""
    WITH {_QUALITY_SQL_STATS},
    sc AS (
      SELECT s.doc_id, d.source,
             (CASE WHEN token_count BETWEEN 20 AND 400 THEN 40 ELSE 10 END
            + CASE WHEN CAST(stopword_count AS DOUBLE)
                        / CAST(token_count AS DOUBLE)
                        BETWEEN 0.02 AND 0.6 THEN 30 ELSE 10 END
            + CASE WHEN CAST(char_count AS DOUBLE)
                        / CAST(token_count AS DOUBLE)
                        BETWEEN 3.0 AND 12.0 THEN 30 ELSE 10 END) AS q
      FROM s JOIN documents d USING (doc_id)),
    b AS (
      SELECT doc_id, source,
             CASE WHEN q >= 80 THEN 'high' WHEN q >= 50 THEN 'medium'
                  ELSE 'low' END AS quality_bucket
      FROM sc),
    dom AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(SUM(CASE WHEN quality_bucket = 'high' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_good
      FROM b GROUP BY 1),
    dg AS (
      SELECT source, n_docs, n_good,
             (n_docs >= 5 AND n_good * 100 < n_docs * 95)
               AS domain_flagged
      FROM dom)
    SELECT b.doc_id, b.source, b.quality_bucket,
           dg.n_docs, dg.n_good, dg.domain_flagged,
           NOT dg.domain_flagged AS kept
    FROM b JOIN dg ON b.source IS NOT DISTINCT FROM dg.source
    """,
    doc="Domain-level curation gate (C4-blocklist / RefinedWeb "
    "per-domain statistics practice): a domain with >= 5 docs whose "
    "high-quality share drops below 95% is dropped WHOLE — per-doc "
    "filters miss systematically bad sources. The verdict is exact "
    "integer arithmetic (n_good*100 < n_docs*95); the domain table is "
    "domain-count-sized and broadcast back, so the corpus never "
    "shuffles.",
)
def curation_domain_gates(spark: SparkSession, sf_dir: str) -> DataFrame:
    from legendary_data_pipeline_spark.operators.curation import (
        domain_quality_gates,
    )

    docs = load_distributed(spark, sf_dir, "documents")
    scored = T.quality_score(docs, keep_cols=("source",))
    out = domain_quality_gates(scored)
    return out.select(
        "doc_id",
        "source",
        "quality_bucket",
        "n_docs",
        "n_good",
        "domain_flagged",
        "kept",
    )


# ---------------------------------------------------------------------------
# X142 fixed-codebook IVF: the hash-oracle-able ANN variant (round 6)
# ---------------------------------------------------------------------------

_IVFX_NC = 16
_IVFX_NPROBE = 2
_IVFX_K = 3


@register(
    "sim_ivf_fixed_topk",
    f"""
    WITH base AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    cents AS (
      SELECT vec_id AS cid, v AS cv FROM base WHERE vec_id < {_IVFX_NC}),
    ad AS (
      SELECT b.vec_id, c.cid,
             list_inner_product(b.v, b.v)
               + list_inner_product(c.cv, c.cv)
               - 2.0 * list_inner_product(b.v, c.cv) AS d2
      FROM base b, cents c),
    corpus AS (
      SELECT vec_id AS neighbor_id, cid FROM (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                 ORDER BY d2 ASC, cid ASC) AS rn
        FROM ad) WHERE rn = 1),
    qsel AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                 ORDER BY d2 ASC, cid ASC) AS rn
        FROM ad WHERE vec_id % 5 = 0) WHERE rn <= {_IVFX_NPROBE}),
    cand AS (
      SELECT DISTINCT q.vec_id AS query_id, co.neighbor_id
      FROM qsel q JOIN corpus co USING (cid)
      WHERE co.neighbor_id <> q.vec_id),
    scored AS (
      SELECT c.query_id, c.neighbor_id,
             CAST(round(list_cosine_similarity(bq.v, bn.v) * 1e6) AS BIGINT)
               AS cos_sim_e6
      FROM cand c JOIN base bq ON bq.vec_id = c.query_id
                  JOIN base bn ON bn.vec_id = c.neighbor_id),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY cos_sim_e6 DESC, neighbor_id ASC) AS rn
      FROM scored)
    SELECT query_id, neighbor_id, CAST(rn AS BIGINT) AS knn_rank, cos_sim_e6
    FROM ranked WHERE rn <= {_IVFX_K}
    """,
    doc="IVF approximate top-k with a FIXED seed codebook (corpus "
    "vectors with the 16 smallest ids): assignments, probe lists, and "
    "ranking are all declarative sequential-fold arithmetic, so the "
    "ENTIRE index replays in DuckDB under the hash oracle — the "
    "correctness twin of the trained `sim_ivf_topk` (whose Lloyd "
    "codebook is rows-only + recall-bounded). Probing every list "
    "reproduces exact brute-force top-k (pinned in tests). Plan: the "
    "16-row codebook copied into each hash block of the corpus for "
    "assignment, then one pair-kernel block per probed list — no "
    "cartesian over the corpus.",
)
def sim_ivf_fixed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_distributed(spark, sf_dir, "embeddings")
    out = S.ivf_fixed_topk(
        emb,
        n_centroids=_IVFX_NC,
        n_probe=_IVFX_NPROBE,
        k=_IVFX_K,
        query_filter=(F.col("vec_id") % 5 == 0),
    )
    return out.select(
        "query_id",
        "neighbor_id",
        F.col("rank").cast("long").alias("knn_rank"),
        "cos_sim_e6",
    )


# ---------------------------------------------------------------------------
# X232 — IVF inverted-list balance profile
# ---------------------------------------------------------------------------


@register(
    "sim_ivf_list_balance",
    f"""
    WITH base AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    cents AS (
      SELECT vec_id AS cid, v AS cv FROM base WHERE vec_id < {_IVFX_NC}),
    ad AS (
      SELECT b.vec_id, c.cid,
             list_inner_product(b.v, b.v)
               + list_inner_product(c.cv, c.cv)
               - 2.0 * list_inner_product(b.v, c.cv) AS d2
      FROM base b, cents c),
    corpus AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                 ORDER BY d2 ASC, cid ASC) AS rn
        FROM ad) WHERE rn = 1),
    sizes AS (
      SELECT c.cid,
             CAST(COALESCE(s.n, 0) AS BIGINT) AS list_size
      FROM cents c LEFT JOIN (
        SELECT cid, COUNT(*) AS n FROM corpus GROUP BY cid) s
      USING (cid)),
    tot AS (SELECT CAST(SUM(list_size) AS BIGINT) AS n FROM sizes)
    SELECT cid, list_size,
           CAST(round(CAST(list_size AS DOUBLE) / CAST(t.n AS DOUBLE)
                      * 1e6) AS BIGINT) AS share_e6,
           CAST(round(CAST(list_size AS DOUBLE) * {float(_IVFX_NC)!r}
                      / CAST(t.n AS DOUBLE) * 1e6) AS BIGINT)
             AS load_factor_e6
    FROM sizes CROSS JOIN tot t
    """,
    doc="X232 IVF list-balance profile: per inverted list, its size, "
    "e6 corpus share, and load factor (1e6 = perfectly balanced) — "
    "the index-health readout before trusting probe latencies, since "
    "overloaded lists make every probe routed to them scan a "
    "disproportionate corpus slice and dead centroids waste probes. "
    "Same fixed-codebook assignment arithmetic as sim_ivf_fixed_topk "
    "(whole readout replays in DuckDB); one corpus scan, broadcast "
    "codebook, per-vector top-1 window, centroid-sized rollup.",
)
def sim_ivf_list_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_distributed(spark, sf_dir, "embeddings")
    return S.ivf_fixed_list_profile(emb, n_centroids=_IVFX_NC)


# ---------------------------------------------------------------------------
# X144 language-ID confusion matrix + exact Cohen's kappa (round 6)
# ---------------------------------------------------------------------------

@register(
    "ml_langid_confusion",
    f"""
    WITH t AS (SELECT doc_id, lang, {_TOKS} AS toks FROM documents),
    scored AS (
      SELECT doc_id, lang,
           {_LANG_SCORES_SQL}
      FROM t),
    p AS (SELECT lang AS true_lang,
                 {_langid_case_sql()} AS predicted_lang
          FROM scored),
    cells AS (
      SELECT true_lang, predicted_lang, CAST(count(*) AS BIGINT) AS n
      FROM p GROUP BY 1, 2),
    r AS (SELECT true_lang AS k, SUM(n) AS rn FROM cells GROUP BY 1),
    c AS (SELECT predicted_lang AS k, SUM(n) AS cn FROM cells GROUP BY 1),
    pe AS (SELECT COALESCE(SUM(rn * cn), 0) AS pe
           FROM r JOIN c USING (k)),
    ag AS (SELECT COALESCE(SUM(n), 0) AS agree FROM cells
           WHERE true_lang = predicted_lang),
    tot AS (SELECT COALESCE(SUM(n), 0) AS nt FROM cells),
    stats AS (
      SELECT CAST(nt AS BIGINT) AS n_total,
             CAST(agree AS BIGINT) AS n_agree,
             CASE WHEN nt > 0
                  THEN CAST(round(CAST(agree AS DOUBLE)
                                  / CAST(nt AS DOUBLE) * 1e6) AS BIGINT)
             END AS accuracy_e6,
             CASE WHEN nt * nt - pe != 0
                  THEN CAST(round(CAST(nt * agree - pe AS DOUBLE)
                             / CAST(nt * nt - pe AS DOUBLE) * 1e6)
                       AS BIGINT)
             END AS kappa_e6
      FROM tot, ag, pe)
    SELECT cells.true_lang, cells.predicted_lang, cells.n,
           stats.n_total, stats.n_agree, stats.accuracy_e6, stats.kappa_e6
    FROM cells, stats
    """,
    doc="The eval suite turned on the engine's own lang-ID heuristic: "
    "confusion cells per (true, predicted) language plus exact Cohen's "
    "kappa — chance agreement kept as INTEGER marginal cross-products, "
    "kappa = (N*trace - sum r_i*c_i)/(N^2 - sum r_i*c_i), one final "
    "division. Cells are one keyed aggregation; marginals re-aggregate "
    "the class-count-sized cells, never the corpus.",
)
def ml_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from legendary_data_pipeline_spark.operators.mleval import (
        confusion_stats,
    )

    docs = load_distributed(spark, sf_dir, "documents")
    pred = T.lang_id(docs, keep_cols=("lang",)).select(
        F.col("lang").alias("true_lang"), F.col("predicted_lang")
    )
    return confusion_stats(pred, "true_lang", "predicted_lang")


# ---------------------------------------------------------------------------
# X154 per-document n-gram novelty (round 7)
# ---------------------------------------------------------------------------


@register(
    "tx_ngram_novelty",
    f"""
    WITH {_shingle_cte().strip().rstrip()},
    ds AS (SELECT DISTINCT doc_id, s FROM sh),
    dfc AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS df FROM ds GROUP BY 1),
    per AS (
      SELECT ds.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_shingles,
             CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_novel
      FROM ds JOIN dfc USING (s) GROUP BY 1)
    SELECT d.doc_id,
           CAST(COALESCE(n_shingles, 0) AS BIGINT) AS n_shingles,
           CAST(COALESCE(n_novel, 0) AS BIGINT) AS n_novel,
           CASE WHEN COALESCE(n_shingles, 0) > 0
                THEN CAST(n_novel AS DOUBLE)
                     / CAST(n_shingles AS DOUBLE)
           END AS novelty
    FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
    """,
    doc="Per-document word-3-gram novelty: the fraction of a doc's "
    "distinct shingles appearing in NO other document (X154) — the "
    "inverse signal of near-duplication and the standard synthetic-"
    "data diversity probe. Distinct (doc, shingle) pairs → shingle-"
    "keyed document-frequency count → join back → per-doc ratio; "
    "exact integers, one final division. Two shingle-keyed shuffles "
    "(the volume every shingle-dedup op moves), AQE skew split covers "
    "hot boilerplate shingles.",
)
def tx_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_distributed(spark, sf_dir, "documents")
    return T.ngram_novelty(docs, shingle_n=3)


# ---------------------------------------------------------------------------
# X155 embedding-column hygiene report (round 7)
# ---------------------------------------------------------------------------

_EMBQ_DIM = 64


@register(
    "emb_quality_report",
    f"""
    WITH base AS (
      SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    flags AS (
      SELECT label,
             v IS NULL AS is_null,
             v IS NOT NULL AND len(v) <> {_EMBQ_DIM} AS wrong_dim,
             v IS NOT NULL AND len(v) = {_EMBQ_DIM}
               AND len(list_filter(v, __x -> isnan(__x) OR isinf(__x))) > 0
               AS nonfinite,
             sqrt(list_inner_product(v, v)) AS norm
      FROM base),
    en AS (
      SELECT label, is_null, wrong_dim, nonfinite,
             NOT is_null AND NOT wrong_dim AND NOT nonfinite AS clean,
             CASE WHEN NOT is_null AND NOT wrong_dim AND NOT nonfinite
                  THEN CAST(floor(norm * 1000000.0) AS BIGINT) END
               AS micro
      FROM flags)
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n_vectors,
           CAST(SUM(CASE WHEN is_null THEN 1 ELSE 0 END) AS BIGINT)
             AS n_null_vec,
           CAST(SUM(CASE WHEN wrong_dim THEN 1 ELSE 0 END) AS BIGINT)
             AS n_wrong_dim,
           CAST(SUM(CASE WHEN nonfinite THEN 1 ELSE 0 END) AS BIGINT)
             AS n_nonfinite,
           CAST(SUM(CASE WHEN clean AND micro = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_zero_norm,
           MIN(micro) AS min_norm_micro,
           MAX(micro) AS max_norm_micro,
           CASE WHEN SUM(CASE WHEN clean THEN 1 ELSE 0 END) > 0
                THEN CAST(floor(CAST(SUM(micro) AS DOUBLE)
                     / CAST(SUM(CASE WHEN clean THEN 1 ELSE 0 END)
                            AS DOUBLE)) AS BIGINT)
           END AS avg_norm_micro
    FROM en GROUP BY 1
    """,
    doc="Embedding-column hygiene per label (X155): NULL vectors, "
    "wrong dimensionality, non-finite elements, zero norms — the "
    "pre-flight check before any cosine/IVF job (NaN propagates "
    "through dot products; zero norms divide by zero; mixed dims "
    "crash zip_with mid-job). Norm stats over clean vectors only, as "
    "integer fixed-point micro-units with a floored mean — every "
    "cell an exact integer. One map-side-combinable label-keyed "
    "aggregation over a single projection.",
)
def emb_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_distributed(spark, sf_dir, "embeddings")
    return S.embedding_quality_report(emb, expected_dim=_EMBQ_DIM)


# ---------------------------------------------------------------------------
# X158 Unicode script composition profile (round 7)
# ---------------------------------------------------------------------------


def _script_sql_counts() -> str:
    from legendary_data_pipeline_spark.operators.textstats import (
        SCRIPT_CLASSES,
    )

    parts = []
    for name, cls in SCRIPT_CLASSES:
        # identical length-minus-stripped identity; 'g' = global replace
        parts.append(
            f"CAST(length(t) - length(regexp_replace(t, '{cls}', '', 'g'))"
            f" AS BIGINT) AS {name}"
        )
    return ",\n             ".join(parts)


def _script_dominant_sql() -> str:
    from legendary_data_pipeline_spark.operators.textstats import (
        SCRIPT_CLASSES,
    )

    names = [n for n, _ in SCRIPT_CLASSES]
    arms = []
    for name in names:
        conds = [f"{name} >= {o}" for o in names if o != name]
        conds.append(f"{name} > 0")
        arms.append(f"WHEN {' AND '.join(conds)} THEN '{name}'")
    return (
        "CASE WHEN n_chars > 0 THEN (CASE "
        + " ".join(arms)
        + " ELSE 'other' END) END"
    )


@register(
    "tx_script_profile",
    f"""
    WITH base AS (
      SELECT doc_id, COALESCE(text, '') AS t FROM documents),
    c AS (
      SELECT doc_id, CAST(length(t) AS BIGINT) AS n_chars,
             {_script_sql_counts()}
      FROM base)
    SELECT doc_id, n_chars,
           latin, cyrillic, greek, arabic, cjk, hangul, digit, space,
           CAST(n_chars - (latin + cyrillic + greek + arabic + cjk
                           + hangul + digit + space) AS BIGINT) AS other,
           {_script_dominant_sql()} AS dominant_script
    FROM c
    """,
    doc="Per-document Unicode script composition (X158): counts per "
    "explicit codepoint-range class (Latin/Cyrillic/Greek/Arabic/CJK/"
    "Hangul/digits/whitespace — ranges are engine-portable where "
    "script NAMES are not), an `other` remainder, and the dominant "
    "script — the multilingual mixing / mojibake-detection primitive "
    "(an 'en' doc that is 40% Cyrillic is mislabeled or corrupted). "
    "Zero-shuffle whole-stage-codegen projection via the length-minus-"
    "stripped identity.",
)
def tx_script_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_distributed(spark, sf_dir, "documents")
    return T.script_profile(docs)

# ---------------------------------------------------------------------------
# X173 token-budget curriculum head + X174 tokenizer fertility (round 9)
# ---------------------------------------------------------------------------

_BUDGET_TOKENS = 12_000  # ≈ half the corpus tokens at both test SFs


@register(
    "curation_token_budget_head",
    f"""
    WITH {_QUALITY_SQL_STATS},
    sc AS (
      SELECT doc_id, token_count,
             (CASE WHEN token_count BETWEEN 20 AND 400 THEN 40 ELSE 10 END
            + CASE WHEN CAST(stopword_count AS DOUBLE) / CAST(token_count AS DOUBLE)
                        BETWEEN 0.02 AND 0.6 THEN 30 ELSE 10 END
            + CASE WHEN CAST(char_count AS DOUBLE) / CAST(token_count AS DOUBLE)
                        BETWEEN 3.0 AND 12.0 THEN 30 ELSE 10 END) AS q
      FROM s),
    r AS (
      SELECT doc_id, CAST(q AS BIGINT) AS quality_score,
             CAST(token_count AS BIGINT) AS token_count,
             CAST(SUM(token_count) OVER (
               ORDER BY q DESC, doc_id ASC
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_weight
      FROM sc)
    SELECT doc_id, quality_score, token_count, cum_weight,
           cum_weight <= {_BUDGET_TOKENS} AS selected
    FROM r
    """,
    doc="Token-budget curriculum head (X173): rank documents by "
    "quality score (doc_id tiebreak — total order) and keep whole "
    "documents while the running token sum stays within a fixed "
    "budget — the 'best N tokens' corpus cut behind quality-curriculum "
    "training sets. Exact integer cumulative weights; NO global sort "
    "or single-partition window — two distributed prefix-sum passes "
    "(across score classes, then within each class keyed by id).",
)
def curation_token_budget_head(spark: SparkSession, sf_dir: str) -> DataFrame:
    from legendary_data_pipeline_spark.operators.curation import (
        token_budget_head,
    )

    docs = load_distributed(spark, sf_dir, "documents")
    scored = T.quality_score(docs)
    return token_budget_head(
        scored,
        budget=_BUDGET_TOKENS,
        weight_col="token_count",
        order_col="quality_score",
    )


@register(
    "tx_bpe_fertility_by_lang",
    f"""
    WITH ws AS (
      SELECT lang,
             list_filter(
               regexp_split_to_array(
                 trim(regexp_replace(coalesce(text, ''),
                                     '{_BPE_SANITIZE_CLS}', '', 'g')),
                 '\\s+'),
               w -> w <> '') AS words
      FROM documents),
    perdoc AS (
      SELECT lang, len(words) AS nw,
             coalesce(list_sum(list_transform(words,
               w -> length({_bpe_enc_sql_expr()})
                    - length(replace({_bpe_enc_sql_expr()}, chr(1), ''))
             )), 0) AS nt,
             coalesce(list_sum(list_transform(words, w -> length(w))), 0)
               AS nc
      FROM ws)
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(nw) AS BIGINT) AS n_words,
           CAST(SUM(nt) AS BIGINT) AS n_bpe_tokens,
           CAST(SUM(nc) AS BIGINT) AS n_word_chars,
           CAST(SUM(nt) AS DOUBLE) / nullif(CAST(SUM(nw) AS DOUBLE), 0.0)
             AS fertility,
           CAST(SUM(nc) AS DOUBLE) / nullif(CAST(SUM(nt) AS DOUBLE), 0.0)
             AS chars_per_token
    FROM perdoc GROUP BY lang
    """,
    doc="Tokenizer fertility audit by language (X174): corpus-level "
    "BPE-tokens-per-word and chars-per-token under the frozen 32-merge "
    "table — the 'is the tokenizer efficient for THIS language' check "
    "that decides vocab budgets in multilingual training mixes. Exact "
    "integer word/token/char sums (zero-shuffle projection + one "
    "lang groupBy); ratios are raw IEEE divisions of exact integers.",
)
def tx_bpe_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_distributed(spark, sf_dir, "documents")
    words = F.filter(
        F.split(
            F.trim(
                F.regexp_replace(
                    F.coalesce(F.col("text"), F.lit("")),
                    _BPE_SANITIZE_CLS,
                    ""
                )
            ),
            r"\s+",
        ),
        lambda w: w != F.lit(""),
    )
    base = docs.select("lang", words.alias("__ws"))
    n_words = F.size("__ws").cast("long")
    n_bpe = F.aggregate(
        F.transform("__ws", _bpe_fixed_token_count),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    n_chars = F.aggregate(
        F.transform("__ws", lambda w: F.length(w).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    perdoc = base.select(
        "lang",
        n_words.alias("__nw"),
        n_bpe.alias("__nt"),
        n_chars.alias("__nc"),
    )
    agg = perdoc.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("__nw").cast("long").alias("n_words"),
        F.sum("__nt").cast("long").alias("n_bpe_tokens"),
        F.sum("__nc").cast("long").alias("n_word_chars"),
    )
    return agg.select(
        "lang", "n_docs", "n_words", "n_bpe_tokens", "n_word_chars",
        (
            F.col("n_bpe_tokens").cast("double")
            / F.nullif(F.col("n_words").cast("double"), F.lit(0.0))
        ).alias("fertility"),
        (
            F.col("n_word_chars").cast("double")
            / F.nullif(F.col("n_bpe_tokens").cast("double"), F.lit(0.0))
        ).alias("chars_per_token"),
    )

# ---------------------------------------------------------------------------
# X182 rank-biased overlap: exact vs LSH retrieval (round 9)
# ---------------------------------------------------------------------------

_RBO_K = 10
_RBO_P = 0.9


def _rbo_oracle_sql() -> str:
    from legendary_data_pipeline_spark.operators.retrieval import rbo_suffix

    lcm, suffix = rbo_suffix(_RBO_K, _RBO_P)
    case = " ".join(
        f"WHEN {m} THEN CAST('{suffix[m - 1]}' AS DECIMAL(28,12))"
        for m in range(1, _RBO_K + 1)
    )
    return f"""
    WITH base AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
             {_LSH_BUCKET_SQL} AS bucket
      FROM embeddings),
    q AS (SELECT vec_id AS query_id, e, bucket FROM base
          WHERE vec_id % 5 = 0),
    ea AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
             round(list_cosine_similarity(q.e, c.e), 6) AS cs
      FROM q JOIN base c ON c.vec_id <> q.query_id),
    ra AS (
      SELECT query_id, neighbor_id,
             ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY cs DESC, neighbor_id ASC) AS r
      FROM ea),
    eb AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
             CAST(round(list_cosine_similarity(q.e, c.e) * 1e6) AS BIGINT)
               AS cse6
      FROM q JOIN base c ON q.bucket = c.bucket AND c.vec_id <> q.query_id),
    rb AS (
      SELECT query_id, neighbor_id,
             ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY cse6 DESC, neighbor_id ASC) AS r
      FROM eb),
    m AS (
      SELECT a.query_id, a.neighbor_id,
             greatest(a.r, b.r) AS md
      FROM (SELECT * FROM ra WHERE r <= {_RBO_K}) a
      JOIN (SELECT * FROM rb WHERE r <= {_RBO_K}) b
        ON a.query_id = b.query_id AND a.neighbor_id = b.neighbor_id),
    per AS (
      SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_overlap,
             SUM(CASE md {case} END) AS s
      FROM m GROUP BY 1)
    SELECT q.query_id,
           CAST(COALESCE(per.n_overlap, 0) AS BIGINT) AS n_overlap,
           COALESCE(CAST(per.s AS DOUBLE) / {float(lcm)!r}, 0.0) AS rbo
    FROM (SELECT DISTINCT query_id FROM ra) q
    LEFT JOIN per USING (query_id)
    """


@register(
    "ret_rbo_exact_vs_lsh",
    _rbo_oracle_sql(),
    doc="Rank-biased overlap (Webber et al. 2010) between the EXACT "
    "cosine top-10 and the LSH-bucket top-10 for every query (X182) — "
    "the per-query 'how faithful is the ANN' score the recall@k "
    "contracts summarize away. Each matched item contributes the "
    "exact-decimal SUFFIX sum of its max-rank depth (the MRR LCM "
    "trick fused with NDCG's shared 12-dp literals); per-query sums "
    "are exact decimal and RBO is one final double division.",
)
def ret_rbo_exact_vs_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from legendary_data_pipeline_spark.operators.retrieval import rbo_at_k

    emb = load_distributed(spark, sf_dir, "embeddings")
    exact = S.cosine_topk(
        emb, k=_RBO_K, query_filter=(F.col("vec_id") % 5 == 0),
        block_on_label=False,
    )
    lsh = S.lsh_bucket_topk(
        emb, planes=_LSH_PLANES, k=_RBO_K,
        query_filter=(F.col("vec_id") % 5 == 0),
    )
    return rbo_at_k(
        exact, lsh, "query_id", "neighbor_id", "rank",
        k=_RBO_K, p=_RBO_P,
    )

# ---------------------------------------------------------------------------
# X183 semantic (embedding-space) decontamination (round 9)
# ---------------------------------------------------------------------------

_SEMDECON_TAU_E6 = 330_000  # ~p90 of the max-cos distribution at sf0.01


@register(
    "curation_semantic_decontamination",
    f"""
    WITH base AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    b AS (SELECT vec_id AS bid, e FROM base WHERE vec_id % 20 = 0),
    t AS (SELECT vec_id, e FROM base WHERE vec_id % 20 <> 0),
    scored AS (
      SELECT t.vec_id, b.bid,
             CAST(round(round(list_cosine_similarity(t.e, b.e), 6) * 1e6)
                  AS BIGINT) AS cos_e6
      FROM t, b),
    ranked AS (
      SELECT vec_id, bid, cos_e6,
             ROW_NUMBER() OVER (PARTITION BY vec_id
               ORDER BY cos_e6 DESC, bid DESC) AS rn
      FROM scored)
    SELECT vec_id, cos_e6 AS max_cos_e6, bid AS nearest_benchmark_id,
           COALESCE(cos_e6 >= {_SEMDECON_TAU_E6}, FALSE) AS contaminated
    FROM ranked WHERE rn = 1
    """,
    doc="Semantic decontamination (X183): flag training vectors whose "
    "max cosine to the benchmark slice (vec_id % 20 = 0) reaches tau "
    "— the embedding-space complement of n-gram contamination "
    "scoring (paraphrased eval leakage shares no shingles). The "
    "benchmark side is eval-suite-sized by contract, so it BROADCASTS "
    "and the corpus never shuffles; arg-max is deterministic by "
    "(rounded cosine, benchmark id).",
)
def curation_semantic_decontamination(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from legendary_data_pipeline_spark.operators.similarity import (
        semantic_decontamination,
    )

    emb = load_distributed(spark, sf_dir, "embeddings")
    bench = emb.where(F.col("vec_id") % 20 == 0)
    train = emb.where(F.col("vec_id") % 20 != 0)
    return semantic_decontamination(
        train, bench, tau_e6=_SEMDECON_TAU_E6
    )


# ---------------------------------------------------------------------------
# X191 vocabulary richness + X192 corpus entropy (round 10)
# ---------------------------------------------------------------------------

_RICH_TOKS = "list_filter(regexp_split_to_array(trim(text), '\\s+'), __w -> __w <> '')"


@register(
    "tx_vocab_richness",
    f"""
    WITH tok AS (
      SELECT source, unnest({_RICH_TOKS}) AS w FROM documents),
    counts AS (
      SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c
      FROM tok GROUP BY 1, 2),
    agg AS (
      SELECT source,
             CAST(SUM(c) AS BIGINT) AS n_tokens,
             CAST(COUNT(*) AS BIGINT) AS vocab,
             CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS hapax,
             CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS doubletons
      FROM counts GROUP BY 1)
    SELECT source, n_tokens, vocab, hapax, doubletons,
           CASE WHEN doubletons > 0
                THEN CAST(vocab AS DOUBLE)
                     + CAST(hapax AS DOUBLE) * CAST(hapax AS DOUBLE)
                       / (2.0 * CAST(doubletons AS DOUBLE))
                ELSE CAST(vocab AS DOUBLE)
                     + CAST(hapax AS DOUBLE)
                       * (CAST(hapax AS DOUBLE) - 1.0) / 2.0
           END AS chao1,
           CAST(hapax AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS gt_unseen
    FROM agg
    """,
    doc="Vocabulary-richness estimators per source (X191): hapax/"
    "doubleton type counts, the Chao1 lower bound on TRUE vocabulary "
    "size (bias-corrected form when f2 = 0), and the Good-Turing "
    "unseen-mass estimate f1/N — 'how much vocabulary have we not "
    "seen yet', the corpus-growth/tokenizer-vocab sizing signal. One "
    "(source, token) groupBy + one source re-agg, all exact integers; "
    "estimator ratios are exact IEEE divisions emitted RAW.",
)
def tx_vocab_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_distributed(spark, sf_dir, "documents")
    return T.vocab_richness(docs)


@register(
    "tx_corpus_entropy",
    f"""
    WITH base AS (
      SELECT source, {_RICH_TOKS} AS t FROM documents),
    uc AS (
      SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c
      FROM (SELECT source, unnest(t) AS w FROM base) GROUP BY 1, 2),
    ua AS (
      SELECT source, CAST(SUM(c) AS BIGINT) AS n_uni,
             SUM(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))) AS s_uni,
             CAST(COUNT(*) AS BIGINT) AS v
      FROM uc GROUP BY 1),
    bi AS (
      SELECT source,
             unnest(list_transform(range(1, len(t)),
               __j -> struct_pack(w1 := t[__j], w2 := t[__j + 1]))) AS bg
      FROM base WHERE len(t) >= 2),
    bc AS (
      SELECT source, bg.w1 AS w1, bg.w2 AS w2,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM bi GROUP BY 1, 2, 3),
    ba AS (
      SELECT source, CAST(SUM(c) AS BIGINT) AS n_bi,
             SUM(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))) AS s_bi
      FROM bc GROUP BY 1),
    ca AS (
      SELECT source, CAST(SUM(c) AS BIGINT) AS n_ctx,
             SUM(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))) AS s_ctx
      FROM (SELECT source, w1, CAST(SUM(c) AS BIGINT) AS c
            FROM bc GROUP BY 1, 2) GROUP BY 1)
    SELECT u.source,
           u.n_uni AS n_tokens,
           COALESCE(b.n_bi, 0) AS n_bigrams,
           CASE WHEN u.n_uni > 0 THEN
             CAST(round((ln(CAST(u.n_uni AS DOUBLE))
                   - u.s_uni / CAST(u.n_uni AS DOUBLE)) * 1e6) AS BIGINT)
           END AS h1_e6,
           CASE WHEN b.n_bi > 0 THEN
             CAST(round((ln(CAST(b.n_bi AS DOUBLE))
                   - b.s_bi / CAST(b.n_bi AS DOUBLE)) * 1e6) AS BIGINT)
           END AS h2_e6,
           CAST(round(((CASE WHEN b.n_bi > 0 THEN
                   ln(CAST(b.n_bi AS DOUBLE))
                   - b.s_bi / CAST(b.n_bi AS DOUBLE) END)
                 - (CASE WHEN c.n_ctx > 0 THEN
                   ln(CAST(c.n_ctx AS DOUBLE))
                   - c.s_ctx / CAST(c.n_ctx AS DOUBLE) END)) * 1e6)
             AS BIGINT) AS h_cond_e6,
           CASE WHEN u.v >= 2 THEN
             CAST(round((1.0 - (ln(CAST(u.n_uni AS DOUBLE))
                   - u.s_uni / CAST(u.n_uni AS DOUBLE))
                   / ln(CAST(u.v AS DOUBLE))) * 1e6) AS BIGINT)
           END AS redundancy_e6
    FROM ua u LEFT JOIN ba b USING (source) LEFT JOIN ca c USING (source)
    """,
    doc="Unigram/bigram Shannon entropy per source (X192, nats as "
    "*_e6): token entropy h1, adjacent-bigram entropy h2, conditional "
    "next-token entropy H(w2|w1) = h2 - first-word-marginal entropy, "
    "and redundancy 1 - h1/ln(V) — the diversity/compressibility "
    "profile (templated or boilerplate-converging slices show low and "
    "falling conditional entropy). Exact integer counts; the only "
    "float accumulation is sum(c*ln c) whose sub-micro-nat noise the "
    "e6 emission absorbs (the BM25/MI precedent).",
)
def tx_corpus_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_distributed(spark, sf_dir, "documents")
    return T.corpus_entropy(docs)


@register(
    "tx_vocab_coverage_points",
    f"""
    WITH tok AS (
      SELECT source, unnest({_RICH_TOKS}) AS w FROM documents),
    tc AS (
      SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c
      FROM tok GROUP BY 1, 2),
    cls AS (
      SELECT source, c, CAST(COUNT(*) AS BIGINT) AS m
      FROM tc GROUP BY 1, 2),
    cum AS (
      SELECT source, c, m,
             COALESCE(SUM(m) OVER w, 0) AS types_above,
             COALESCE(SUM(c * m) OVER w, 0) AS tokens_above
      FROM cls WINDOW w AS (PARTITION BY source ORDER BY c DESC
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
    tot AS (
      SELECT source, CAST(SUM(c * m) AS BIGINT) AS n_tokens,
             CAST(SUM(m) AS BIGINT) AS vocab
      FROM cls GROUP BY 1),
    j AS (
      SELECT cum.*, t.n_tokens, t.vocab,
             (CAST(t.n_tokens AS HUGEINT) * 500000 + 999999)
               // 1000000 AS tp50,
             (CAST(t.n_tokens AS HUGEINT) * 900000 + 999999)
               // 1000000 AS tp90,
             (CAST(t.n_tokens AS HUGEINT) * 990000 + 999999)
               // 1000000 AS tp99
      FROM cum JOIN tot t USING (source))
    SELECT source, MAX(n_tokens) AS n_tokens, MAX(vocab) AS vocab,
           MIN(CASE WHEN tokens_above < tp50
                     AND tp50 <= tokens_above + c * m
                THEN CAST(types_above
                     + (tp50 - tokens_above + c - 1) // c AS BIGINT)
               END) AS types_p50,
           MIN(CASE WHEN tokens_above < tp90
                     AND tp90 <= tokens_above + c * m
                THEN CAST(types_above
                     + (tp90 - tokens_above + c - 1) // c AS BIGINT)
               END) AS types_p90,
           MIN(CASE WHEN tokens_above < tp99
                     AND tp99 <= tokens_above + c * m
                THEN CAST(types_above
                     + (tp99 - tokens_above + c - 1) // c AS BIGINT)
               END) AS types_p99
    FROM j GROUP BY source
    """,
    doc="Vocabulary coverage points per source (X195): the smallest "
    "number of word types, most-frequent-first, covering >= 50/90/99% "
    "of all tokens — the head-heaviness / tokenizer-vocab-size "
    "readout. Exact integer arithmetic end to end over the COUNT-"
    "CLASS frame (no per-type ranking window anywhere): descending "
    "prefixes via one distributed below-counts pass on -count, "
    "crossing class + ceil-division in integers.",
)
def tx_vocab_coverage_points(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_distributed(spark, sf_dir, "documents")
    return T.vocab_coverage_points(docs)


@register(
    "tx_zipf_fit",
    f"""
    WITH tok AS (
      SELECT source, unnest({_RICH_TOKS}) AS w FROM documents),
    tc AS (
      SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c
      FROM tok GROUP BY 1, 2),
    cls AS (
      SELECT source, c, CAST(COUNT(*) AS BIGINT) AS m
      FROM tc GROUP BY 1, 2),
    cum AS (
      SELECT source, c, m,
             COALESCE(SUM(m) OVER (PARTITION BY source ORDER BY c DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS above
      FROM cls),
    pts AS (
      SELECT source, c, m,
             ln(CAST(2 * above + m + 1 AS DOUBLE) / 2.0) AS x,
             ln(CAST(c AS DOUBLE)) AS y,
             CAST(m AS DOUBLE) AS w
      FROM cum),
    agg AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_classes,
             CAST(SUM(m) AS BIGINT) AS vocab,
             SUM(w) AS sw, SUM(w * x) AS swx, SUM(w * y) AS swy,
             SUM(w * x * x) AS swxx, SUM(w * y * y) AS swyy,
             SUM(w * x * y) AS swxy
      FROM pts GROUP BY 1)
    SELECT source, n_classes, vocab,
           CASE WHEN n_classes >= 2 THEN
             CAST(round((sw * swxy - swx * swy)
                  / nullif(sw * swxx - swx * swx, 0.0) * 1e6) AS BIGINT)
           END AS slope_e6,
           CASE WHEN n_classes >= 2 THEN
             CAST(round((swy - (sw * swxy - swx * swy)
                    / nullif(sw * swxx - swx * swx, 0.0) * swx) / sw
                  * 1e6) AS BIGINT)
           END AS intercept_e6,
           CASE WHEN n_classes >= 2 THEN
             CAST(round(((sw * swxy - swx * swy) * (sw * swxy - swx * swy))
                  / nullif((sw * swxx - swx * swx)
                           * (sw * swyy - swy * swy), 0.0) * 1e6)
               AS BIGINT)
           END AS r2_e6
    FROM agg
    """,
    doc="Binned Zipf rank-frequency fit per source (X196): weighted "
    "OLS of ln(frequency) on ln(midpoint rank) with one point per "
    "count class weighted by its type count — the log-binned fit "
    "that avoids per-type ranking windows entirely (class-sized "
    "frame only) and reduces low-count tail bias. Natural text "
    "lands near slope -1; boilerplate flattens or steepens it. "
    "slope/intercept/r2 as e6 BIGINTs.",
)
def tx_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_distributed(spark, sf_dir, "documents")
    return T.zipf_fit(docs)


@register(
    "tx_source_cosine_matrix",
    f"""
    WITH tok AS (
      SELECT source, unnest({_RICH_TOKS}) AS w FROM documents),
    counts AS (
      SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c
      FROM tok GROUP BY 1, 2),
    norms AS (
      SELECT source,
             CAST(SUM(CAST(c AS HUGEINT) * c) AS HUGEINT) AS nrm2
      FROM counts GROUP BY 1),
    dots AS (
      SELECT a.source AS source_a, b.source AS source_b,
             CAST(SUM(CAST(a.c AS HUGEINT) * b.c) AS HUGEINT) AS dot
      FROM counts a JOIN counts b
        ON a.w = b.w AND a.source < b.source
      GROUP BY 1, 2)
    SELECT d.source_a, d.source_b, CAST(d.dot AS BIGINT) AS dot,
           CAST(round(CAST(d.dot AS DOUBLE)
                / nullif(sqrt(CAST(na.nrm2 AS DOUBLE))
                         * sqrt(CAST(nb.nrm2 AS DOUBLE)), 0.0) * 1e6)
             AS BIGINT) AS cos_e6
    FROM dots d
    JOIN norms na ON na.source = d.source_a
    JOIN norms nb ON nb.source = d.source_b
    """,
    doc="Pairwise cosine similarity between sources' unigram count "
    "vectors (X200) - the frequency-weighted companion to the "
    "vocabulary-overlap Jaccard (an_source_vocab_overlap): how alike "
    "do these sources actually read? Exact integer dot products and "
    "squared norms (decimal(38,0)); cosine as cos_e6 BIGINT; pairs "
    "once by natural source order; token-keyed join whose per-token "
    "fan-out is bounded by the source count.",
)
def tx_source_cosine_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_distributed(spark, sf_dir, "documents")
    return T.source_cosine_matrix(docs)


# ---------------------------------------------------------------------------
# tokenizer-aware dedup (X220/X221): savings measured in BPE tokens,
# near-dup pairs shingled in BPE-subword space
# ---------------------------------------------------------------------------

def _bpe_words_col():
    """Spark-side sanitized, empty-filtered word array (the exact
    mirror of `_bpe_words_sql`; shared by the frozen-BPE queries)."""
    return F.filter(
        F.split(
            F.trim(
                F.regexp_replace(
                    F.coalesce(F.col("text"), F.lit("")),
                    _BPE_SANITIZE_CLS,
                    "",
                )
            ),
            r"\s+",
        ),
        lambda w: w != F.lit(""),
    )


@register(
    "dedup_token_savings_report",
    f"""
    WITH RECURSIVE {_CLUSTER_SQL_CTES},
    drops AS (SELECT node FROM comp WHERE node <> component),
    bt AS (
      SELECT doc_id, source,
             coalesce(list_sum(list_transform(words,
               w -> length({_bpe_enc_sql_expr()})
                    - length(replace({_bpe_enc_sql_expr()}, chr(1), ''))
             )), 0) AS nt
      FROM ({_bpe_words_sql("source")}) w),
    agg AS (
      SELECT b.source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(COALESCE(SUM(CASE WHEN dr.node IS NOT NULL
                                    THEN 1 ELSE 0 END), 0) AS BIGINT)
               AS n_docs_removed,
             CAST(SUM(nt) AS BIGINT) AS bpe_tokens_total,
             CAST(COALESCE(SUM(CASE WHEN dr.node IS NOT NULL
                                    THEN nt ELSE 0 END), 0) AS BIGINT)
               AS bpe_tokens_removed
      FROM bt b LEFT JOIN drops dr ON b.doc_id = dr.node
      GROUP BY b.source)
    SELECT source, n_docs, n_docs_removed, bpe_tokens_total,
           bpe_tokens_removed,
           CAST(bpe_tokens_removed AS DOUBLE)
             / nullif(CAST(bpe_tokens_total AS DOUBLE), 0.0)
             AS token_savings_frac
    FROM agg
    """,
    doc="Tokenizer-aware dedup savings report (X220): the number a "
    "training-data team actually reads — how many TOKENIZER tokens "
    "(frozen 32-merge BPE table, the text_bpe_segment contract) does "
    "keep-one-per-near-dup-group dedup remove, per source? Composes "
    "the verified MinHash near-dup components (dedup_cluster_"
    "components' closure, canonical = min doc id) with the frozen-BPE "
    "token counter: docs removed / BPE tokens removed / savings "
    "fraction per source. Doc-count savings (dedup_keep_canonical) "
    "misprice dedup when dup length skews — token units are what the "
    "training budget consumes. Plan: one corpus scan feeds the "
    "pair+closure side, one the token-count side (budget 2); the drop "
    "set join carries no broadcast hint (data-sized at real dup rates; "
    "AQE decides); per-source rollup is "
    "metadata-scale. The oracle replays pairs, recursive-CTE closure, "
    "AND the BPE segmentation exactly.",
)
def dedup_token_savings_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_distributed(spark, sf_dir, "documents")
    comps = _dup_components(docs)
    drops = comps.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias("__drop_id")
    )
    nt = F.aggregate(
        F.transform(_bpe_words_col(), _bpe_fixed_token_count),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    per_doc = docs.select(
        "doc_id", "source", nt.alias("__nt")
    )
    dropped = F.col("__drop_id").isNotNull()
    # Drop set is data-sized at real dup rates — no broadcast hint.
    agg = (
        per_doc.join(
            drops,
            per_doc["doc_id"] == F.col("__drop_id"),
            "left",
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(dropped.cast("long")).cast("long")
            .alias("n_docs_removed"),
            F.sum("__nt").cast("long").alias("bpe_tokens_total"),
            F.sum(F.when(dropped, F.col("__nt")).otherwise(F.lit(0)))
            .cast("long").alias("bpe_tokens_removed"),
        )
    )
    frac = F.col("bpe_tokens_removed").cast("double") / F.nullif(
        F.col("bpe_tokens_total").cast("double"), F.lit(0.0)
    )
    return agg.select(
        "source", "n_docs", "n_docs_removed", "bpe_tokens_total",
        "bpe_tokens_removed", frac.alias("token_savings_frac"),
    )


_BPE_SHINGLE_N = 4


@register(
    "dedup_bpe_ngram_jaccard",
    f"""
    WITH ws AS ({_bpe_words_sql("lang, n_chars")}),
    bt AS (
      SELECT doc_id, lang, n_chars // 25 AS bkt,
             regexp_split_to_array(
               trim(array_to_string(
                 list_transform(words, w -> {_bpe_spaced_sql_expr()}),
                 ' ')),
               '\\s+') AS t
      FROM ws),
    sets AS (
      SELECT doc_id, lang, bkt,
             list_distinct(list_transform(range(1, len(t) - 2),
                    __j -> t[__j] || ' ' || t[__j + 1] || ' '
                           || t[__j + 2] || ' ' || t[__j + 3])) AS ss
      FROM bt WHERE len(t) >= {_BPE_SHINGLE_N}),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             len(list_intersect(a.ss, b.ss)) AS inter,
             len(a.ss) AS sa, len(b.ss) AS sb
      FROM sets a JOIN sets b
        ON a.lang = b.lang AND a.doc_id < b.doc_id
       AND abs(a.bkt - b.bkt) <= 1)
    SELECT id_a, id_b,
           CAST(inter AS DOUBLE) / CAST(sa + sb - inter AS DOUBLE)
             AS jaccard,
           (CAST(inter AS DOUBLE) / CAST(sa + sb - inter AS DOUBLE))
             >= 0.5 AS is_dup
    -- jaccard >= 0.2 in exact integer form (6*inter >= sa+sb)
    FROM pairs WHERE inter * 6 >= sa + sb
    """,
    doc="Tokenizer-aware near-dup pairs (X221): exact Jaccard over "
    "BPE-SUBWORD 4-gram shingles (frozen 32-merge table, </w> marks "
    "kept as word-boundary symbols) instead of whole-word 3-grams — "
    "the shingle space the model actually trains on. Subword shingles "
    "see through word-boundary edits (spacing/hyphenation variants "
    "re-segment into mostly-identical subword runs, where word-level "
    "shingles lose every straddling gram). The min-jaccard floor is "
    "0.2, not the word-space 0.1: a 32-merge vocabulary is mostly "
    "single characters, so unrelated same-language docs share ~0.15 "
    "of their subword 4-grams (measured sf0.01: 3213 background "
    "pairs in 0.1-0.2 vs 9 above 0.2) — the floor must clear the "
    "noise band or candidate output grows quadratically in corpus "
    "size. Same (lang, length-bucket) blocking + exact-integer "
    "threshold + cogrouped one-hot matmul kernel as "
    "dedup_ngram_jaccard (operators/dedup.py:413) — only the "
    "projection feeding it changes, so the 100 TB shape is "
    "unchanged: per-row JVM string ops, bounded blocks, never "
    "all-pairs. Budget 1 scan.",
    scan_budget=1,
)
def dedup_bpe_ngram_jaccard(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_distributed(spark, sf_dir, "documents")
    bpe_text = F.concat_ws(
        " ", F.transform(_bpe_words_col(), _bpe_fixed_spaced)
    )
    base = docs.select(
        "doc_id", "lang", "n_chars", bpe_text.alias("text")
    )
    return D.ngram_jaccard_blocked(
        base, shingle_n=_BPE_SHINGLE_N, min_jaccard=0.2
    )


# ---------------------------------------------------------------------------
# X225 — dedup threshold sensitivity: the "pick your aggressiveness"
# curve (docs/tokens removed at each candidate dup threshold)
# ---------------------------------------------------------------------------

_SENS_THRESHOLDS = (0.5, 0.7, 0.9)


def _sens_closure_sql(t: float) -> str:
    """Recursive-closure CTE trio for one threshold (names suffixed
    with the threshold's digits, e.g. 0.7 → e2_07/reach_07/comp_07)."""
    s = str(t).replace("0.", "0")
    return f"""
    e2_{s} AS (
      SELECT id_a AS s, id_b AS d FROM scored
      WHERE j >= CAST({t} AS DOUBLE)
      UNION
      SELECT id_b, id_a FROM scored WHERE j >= CAST({t} AS DOUBLE)),
    reach_{s} AS (
      SELECT s AS node, s AS r FROM e2_{s}
      UNION
      SELECT e.s, r.r FROM e2_{s} e JOIN reach_{s} r ON e.d = r.node),
    comp_{s} AS (
      SELECT node, MIN(r) AS component FROM reach_{s} GROUP BY node)"""


def _sens_row_sql(t: float) -> str:
    s = str(t).replace("0.", "0")
    return f"""
      SELECT CAST({t} AS DOUBLE) AS threshold,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM comp_{s})
               AS n_dup_docs,
             (SELECT CAST(COUNT(DISTINCT component) AS BIGINT)
              FROM comp_{s}) AS n_clusters,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM comp_{s}
              WHERE node <> component) AS n_docs_removed,
             (SELECT CAST(COALESCE(SUM(bt.nt), 0) AS BIGINT)
              FROM comp_{s} c JOIN bt ON bt.doc_id = c.node
              WHERE c.node <> c.component) AS bpe_tokens_removed"""


@register(
    "dedup_threshold_sensitivity",
    f"""
    WITH RECURSIVE {_minhash_sig_sql()},
    banded AS ({_BANDED_SQL}),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM banded a JOIN banded b
        ON a.band_idx = b.band_idx AND a.band_key = b.band_key
      WHERE a.doc_id < b.doc_id),
    sets AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(t) - 1),
                    __j -> t[__j] || ' ' || t[__j + 1] || ' ' || t[__j + 2])) AS ss
      FROM toks WHERE len(t) >= 3),
    scored AS (
      SELECT c.id_a, c.id_b,
             CAST(len(list_intersect(sa.ss, sb.ss)) AS DOUBLE)
               / CAST(len(list_distinct(list_concat(sa.ss, sb.ss)))
                      AS DOUBLE) AS j
      FROM cand c
      JOIN sets sa ON sa.doc_id = c.id_a
      JOIN sets sb ON sb.doc_id = c.id_b),
    bt AS (
      SELECT doc_id,
             coalesce(list_sum(list_transform(words,
               w -> length({_bpe_enc_sql_expr()})
                    - length(replace({_bpe_enc_sql_expr()}, chr(1), ''))
             )), 0) AS nt
      FROM ({_bpe_words_sql()}) w),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs_corpus,
             CAST(SUM(nt) AS BIGINT) AS bpe_tokens_corpus
      FROM bt),
    {",".join(_sens_closure_sql(t) for t in _SENS_THRESHOLDS)},
    rows_ AS ({" UNION ALL ".join(_sens_row_sql(t) for t in _SENS_THRESHOLDS)})
    SELECT threshold, n_dup_docs, n_clusters, n_docs_removed,
           bpe_tokens_removed, tot.n_docs_corpus, tot.bpe_tokens_corpus,
           CAST(bpe_tokens_removed AS DOUBLE)
             / nullif(CAST(tot.bpe_tokens_corpus AS DOUBLE), 0.0)
             AS token_savings_frac
    FROM rows_, tot
    """,
    doc="Dedup threshold sensitivity curve (X225): the decision table "
    "behind picking dup_threshold — one row per candidate threshold "
    "(0.5/0.7/0.9) with dup-graph size, cluster count, docs removed "
    "and frozen-BPE tokens removed (keep-min-id canonical), plus the "
    "corpus-wide savings fraction. ONE verified-pair pass (the pinned "
    "MinHash+verify frame) feeds all three closures — the thresholds "
    "only refilter the metadata-sized pair list, the corpus is never "
    "rescanned per threshold; the token frame is computed once and "
    "drop sets broadcast into it. Each closure is hash-checked "
    "against its own recursive-CTE replay. Budget 2: the pair/hsets "
    "pass and the token-count pass.",
)
def dedup_threshold_sensitivity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from legendary_data_pipeline_spark.operators import graph as G

    docs = load_distributed(spark, sf_dir, "documents")
    pairs = _verified_dup_pairs(docs).localCheckpoint(eager=False)
    nt = F.aggregate(
        F.transform(_bpe_words_col(), _bpe_fixed_token_count),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    per_doc = docs.select("doc_id", nt.alias("__nt")).localCheckpoint(
        eager=False
    )
    totals = per_doc.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs_corpus"),
        F.sum("__nt").cast("long").alias("bpe_tokens_corpus"),
    )
    out = None
    for thr in _SENS_THRESHOLDS:
        comps = G.connected_components(
            pairs.filter(F.col("jaccard") >= F.lit(thr))
        )
        stats = comps.agg(
            F.count(F.lit(1)).cast("long").alias("n_dup_docs"),
            F.countDistinct("component").cast("long").alias("n_clusters"),
        )
        drops = comps.filter(F.col("node") != F.col("component")).select(
            F.col("node").alias("__drop_id")
        )
        # Drop set is data-sized at real dup rates — no broadcast hint.
        rm = per_doc.join(
            drops,
            per_doc["doc_id"] == F.col("__drop_id"),
        ).agg(
            F.count(F.lit(1)).cast("long").alias("n_docs_removed"),
            F.coalesce(F.sum("__nt"), F.lit(0)).cast("long")
            .alias("bpe_tokens_removed"),
        )
        row = stats.crossJoin(rm).select(
            F.lit(thr).alias("threshold"),
            "n_dup_docs", "n_clusters", "n_docs_removed",
            "bpe_tokens_removed",
        )
        out = row if out is None else out.unionByName(row)
    frac = F.col("bpe_tokens_removed").cast("double") / F.nullif(
        F.col("bpe_tokens_corpus").cast("double"), F.lit(0.0)
    )
    return out.crossJoin(totals).select(
        "threshold", "n_dup_docs", "n_clusters", "n_docs_removed",
        "bpe_tokens_removed", "n_docs_corpus", "bpe_tokens_corpus",
        frac.alias("token_savings_frac"),
    )


# ---------------------------------------------------------------------------
# X226 — ANN recall@k readout: fixed-codebook IVF vs exact brute force
# ---------------------------------------------------------------------------


_RECALL_MAX_Q = 256


@register(
    "sim_ivf_recall_at_k",
    f"""
    WITH base AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    q AS (SELECT vec_id AS query_id, v FROM (
            SELECT vec_id, v, ROW_NUMBER() OVER (
              ORDER BY {md5_long_sql("CAST(vec_id AS VARCHAR)")} ASC,
                       vec_id ASC) AS qrn
            FROM base WHERE vec_id % 5 = 0)
          WHERE qrn <= {_RECALL_MAX_Q}),
    tp AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
             CAST(round(list_cosine_similarity(q.v, c.v) * 1e6)
                  AS BIGINT) AS cs
      FROM q JOIN base c ON c.vec_id <> q.query_id),
    tr AS (SELECT query_id, neighbor_id FROM (
             SELECT query_id, neighbor_id, ROW_NUMBER() OVER (
               PARTITION BY query_id
               ORDER BY cs DESC, neighbor_id ASC) AS rn
             FROM tp) WHERE rn <= {_IVFX_K}),
    cents AS (
      SELECT vec_id AS cid, v AS cv FROM base WHERE vec_id < {_IVFX_NC}),
    ad AS (
      SELECT b.vec_id, c.cid,
             list_inner_product(b.v, b.v)
               + list_inner_product(c.cv, c.cv)
               - 2.0 * list_inner_product(b.v, c.cv) AS d2
      FROM base b, cents c),
    corpus AS (
      SELECT vec_id AS neighbor_id, cid FROM (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                 ORDER BY d2 ASC, cid ASC) AS rn
        FROM ad) WHERE rn = 1),
    qsel AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                 ORDER BY d2 ASC, cid ASC) AS rn
        FROM ad WHERE vec_id IN (SELECT query_id FROM q))
      WHERE rn <= {_IVFX_NPROBE}),
    cand AS (
      SELECT DISTINCT q2.vec_id AS query_id, co.neighbor_id
      FROM qsel q2 JOIN corpus co USING (cid)
      WHERE co.neighbor_id <> q2.vec_id),
    scored AS (
      SELECT c.query_id, c.neighbor_id,
             CAST(round(list_cosine_similarity(bq.v, bn.v) * 1e6)
                  AS BIGINT) AS cse6
      FROM cand c JOIN base bq ON bq.vec_id = c.query_id
                  JOIN base bn ON bn.vec_id = c.neighbor_id),
    iv AS (SELECT query_id, neighbor_id FROM (
             SELECT query_id, neighbor_id, ROW_NUMBER() OVER (
               PARTITION BY query_id
               ORDER BY cse6 DESC, neighbor_id ASC) AS rn
             FROM scored) WHERE rn <= {_IVFX_K}),
    hits AS (
      SELECT t.query_id,
             CAST(SUM(CASE WHEN i.neighbor_id IS NOT NULL
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
      FROM tr t LEFT JOIN iv i
        ON i.query_id = t.query_id AND i.neighbor_id = t.neighbor_id
      GROUP BY 1),
    m AS (SELECT CAST(SUM(n_hits) AS BIGINT) AS th,
                 CAST(COUNT(*) AS BIGINT) AS nq FROM hits)
    SELECT query_id, n_hits,
           CAST(round(CAST(n_hits AS DOUBLE) * 1e6 / {_IVFX_K}.0)
             AS BIGINT) AS recall_e6,
           CAST(round(CAST(m.th AS DOUBLE) * 1e6
                      / (CAST(m.nq AS DOUBLE) * {_IVFX_K}.0))
             AS BIGINT) AS mean_recall_e6
    FROM hits, m
    """,
    doc="ANN index-health readout (X226): per-query and corpus-mean "
    "recall@k of the fixed-codebook IVF (n_probe "
    f"{_IVFX_NPROBE}/{_IVFX_NC} lists) against GLOBAL exact "
    "brute-force cosine top-k — the 'is my index any good' number "
    "that decides n_probe before anyone trusts approximate search. "
    "Both sides rank by the same 6-dp-rounded cosine with id "
    "tie-break, so the compared sets are engine-deterministic and "
    "the WHOLE readout (truth, index, recall arithmetic) replays "
    "under the hash oracle — unlike the trained-IVF recall floors, "
    "which live in pytest because Lloyd codebooks cannot be named in "
    "SQL. The query set is a BOUNDED deterministic sample (the "
    f"{_RECALL_MAX_Q} md5-first eligible vectors): the exact truth "
    "side is queries × corpus by definition, so recall at scale is "
    "always measured on a fixed query sample — a fixed FRACTION "
    "would re-quadratize the evaluation (first probe read 47× at "
    "10× vectors; sampled, the truth side is linear in the corpus). "
    "The ≤-sample-size id pull is the one driver action. "
    "mean_recall_e6 is ONE division of exact integer sums. "
    "Budget 2: each side pins its own parsed-vector frame.",
)
def sim_ivf_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from legendary_data_pipeline_spark.functions.hashing import md5_long

    emb = load_distributed(spark, sf_dir, "embeddings")
    # Top-256 by (md5, id) via orderBy().limit() — a distributed
    # TakeOrderedAndProject, NOT a global row_number window (the
    # single-partition rank trap; r12 code review).
    qids = [
        r.vec_id
        for r in emb.filter(F.col("vec_id") % 5 == 0)
        .select("vec_id")
        .orderBy(
            md5_long(F.col("vec_id").cast("string")).asc(),
            F.col("vec_id").asc(),
        )
        .limit(_RECALL_MAX_Q)
        .collect()
    ]
    qf = F.col("vec_id").isin(qids)
    # scaled_e6 on BOTH sides: truth and index must share one rounded
    # ranking key, or tie classes at the k boundary can differ between
    # the double 6-dp round and the e6 integer round (r12 code review).
    truth = S.cosine_topk(
        emb,
        k=_IVFX_K,
        query_filter=qf,
        block_on_label=False,
        scaled_e6=True,
    ).select("query_id", "neighbor_id")
    approx = S.ivf_fixed_topk(
        emb,
        n_centroids=_IVFX_NC,
        n_probe=_IVFX_NPROBE,
        k=_IVFX_K,
        query_filter=qf,
    ).select("query_id", "neighbor_id", F.lit(1).alias("__hit"))
    hits = (
        truth.join(approx, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
            .cast("long")
            .alias("n_hits")
        )
    )
    w_all = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    recall = F.round(
        F.col("n_hits").cast("double") * F.lit(1e6) / F.lit(float(_IVFX_K))
    ).cast("long")
    mean = F.round(
        F.sum("n_hits").over(w_all).cast("double") * F.lit(1e6)
        / (
            F.count(F.lit(1)).over(w_all).cast("double")
            * F.lit(float(_IVFX_K))
        )
    ).cast("long")
    return hits.select(
        "query_id",
        "n_hits",
        recall.alias("recall_e6"),
        mean.alias("mean_recall_e6"),
    )


# ---------------------------------------------------------------------------
# X227 — winnowing fingerprint near-dup pairs (MOSS)
# ---------------------------------------------------------------------------

_WINNOW_K = 4
_WINNOW_W = 4
_WINNOW_MIN_SHARED = 2
_WINNOW_MAX_BUCKET = 64
_WINNOW_GRAM = (
    "t[__j] || ' ' || t[__j + 1] || ' ' || t[__j + 2] || ' ' || t[__j + 3]"
)


@register(
    "dedup_winnow_pairs",
    f"""
    WITH toks AS (
      SELECT doc_id, {_TOKS} AS t FROM documents),
    g AS (
      SELECT doc_id,
             list_transform(range(1, len(t) - 2),
               __j -> {md5_long_sql(_WINNOW_GRAM)}) AS H
      FROM toks WHERE len(t) >= {_WINNOW_K}),
    sel AS (
      SELECT doc_id, H,
             list_distinct(list_transform(
               range(1, greatest(len(H) - {_WINNOW_W - 1}, 0) + 1),
               j -> j + ({_WINNOW_W} - list_position(
                      list_reverse(list_slice(H, j, j + {_WINNOW_W - 1})),
                      list_min(list_slice(H, j, j + {_WINNOW_W - 1})))))) AS ps
      FROM g),
    fps AS (
      SELECT DISTINCT doc_id, H[p] AS fp
      FROM (SELECT doc_id, H, unnest(ps) AS p FROM sel)),
    sized AS (
      SELECT doc_id, fp FROM (
        SELECT doc_id, fp, COUNT(*) OVER (PARTITION BY fp) AS n
        FROM fps) WHERE n <= {_WINNOW_MAX_BUCKET})
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(COUNT(*) AS BIGINT) AS shared_fps
    FROM sized a JOIN sized b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY 1, 2 HAVING COUNT(*) >= {_WINNOW_MIN_SHARED}
    """,
    doc="Winnowing fingerprint near-dup pairs (X227 — the MOSS "
    "algorithm, Schleimer/Wilkerson/Aiken SIGMOD'03): token 4-gram "
    "hashes, rightmost-minimum selection per 4-hash window, pairs "
    "sharing >= 2 winnowed fingerprints. The GUARANTEED complement "
    "to MinHash: any shared token run of length >= window+k-1 (= 7 "
    "tokens) produces at least one shared fingerprint (coverage "
    "theorem — property-pinned in tests), at a fixed ~2/(window+1) "
    "selection density, where MinHash recall is probabilistic and "
    "exact-substring dedup stores every gram. Selection is pure "
    "per-row JVM array arithmetic replayed exactly by DuckDB list "
    "ops; candidates come from a fingerprint-keyed bucket join with "
    "a max-bucket boilerplate guard — never all-pairs. Budget 1 "
    "scan.",
    scan_budget=1,
)
def dedup_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_distributed(spark, sf_dir, "documents")
    fps = D.winnow_fingerprints(
        docs, k=_WINNOW_K, window=_WINNOW_W
    )
    return D.winnow_pairs(
        fps,
        min_shared=_WINNOW_MIN_SHARED,
        max_bucket=_WINNOW_MAX_BUCKET,
    )
