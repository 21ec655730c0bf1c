"""Document deduplication operators (SURVEY.md §2.11, north-star mandate).

Beyond-reference operators for LLM-training-data pipelines, over the
`documents` table (`doc_id, text, lang, source, n_chars`):

- exact dedup       — sha256 grouping (one shuffle on the hash)
- MinHash + LSH     — word-shingle → portable minhash signature → banded
                      bucketing → candidate pairs → exact-Jaccard verify
- SimHash           — 60-bit sign fingerprint over token hashes
- n-gram Jaccard    — exact set similarity on candidate (or all) pairs
- incremental dedup — new batch vs a persisted corpus hash/band index

Scale design (100 TB): signatures hash each shingle ONCE (md5 in the
scan stage), then explode + one groupBy whose `num_hashes` min
aggregates combine map-side — the shuffle carries 16 longs per doc
(measured 3x faster than per-row array-HOF variants, which are
interpreted). The other shuffles are (a) the band-bucket self-join,
whose bucket sizes LSH keeps small for non-duplicate data (capped +
sampled for pathological corpora), and (b) the final pair dedup.
Per-PAIR math (exact-Jaccard verify) runs batch-vectorized in
Arrow/numpy, never in interpreted array expressions. Hash functions
are md5-based (`functions.hashing`) so every step stays
bit-reproducible in DuckDB/Postgres for oracle checking — swap in
xxhash64 for raw speed once cross-engine checking isn't needed.
"""

from __future__ import annotations

from fractions import Fraction

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from legendary_data_pipeline_spark.functions.hashing import md5_long

# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def exact_dedup_groups(df: DataFrame) -> DataFrame:
    """One row per distinct text: content hash, keeper id (min), dup count."""
    return df.groupBy(F.sha2(F.col("text"), 256).alias("text_sha")).agg(
        F.min("doc_id").alias("keeper_id"),
        F.count(F.lit(1)).alias("dup_count"),
    )


def exact_dedup(df: DataFrame) -> DataFrame:
    """Keep exactly the min-id row per distinct text (deterministic)."""
    from pyspark.sql import Window

    window = Window.partitionBy(F.sha2(F.col("text"), 256)).orderBy(
        F.col("doc_id").asc()
    )
    return (
        df.withColumn("__rn", F.row_number().over(window))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


# ---------------------------------------------------------------------------
# shingling + minhash (portable hashes; array ops — no explode)
# ---------------------------------------------------------------------------

def tokens_expr(text_col: str = "text") -> Column:
    return F.split(F.trim(F.col(text_col)), r"\s+")


def shingles_expr(text_col: str = "text", n: int = 3) -> Column:
    """Word n-gram shingles as an array column (rows with <n tokens → empty).

    Pure array expression: `transform(sequence(...))` over the token array,
    evaluated per-row inside the scan stage.
    """
    toks = tokens_expr(text_col)

    # Bind the token array as a lambda variable so the regex split is
    # evaluated ONCE per row (higher-order fns are interpreted — no
    # codegen CSE; transform(array(toks), t -> ...)[0] forces a single
    # evaluation point). Shingles are built from n shifted slices folded
    # with zip_with — sequential array passes, ~4x faster than
    # per-position element_at indexing in the interpreted evaluator.
    def grams_of(t: Column) -> Column:
        m = F.size(t) - (n - 1)
        acc = F.slice(t, 1, m)
        for k in range(1, n):
            shifted = F.slice(t, k + 1, m)
            acc = F.zip_with(
                acc, shifted, lambda a, b: F.concat(a, F.lit(" "), b)
            )
        return acc

    grams = F.transform(F.array(toks), grams_of)[0]
    # Guard: sequence(0, negative) would count downward; emit empty array.
    return F.when(F.size(toks) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def shingle_sets(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
) -> DataFrame:
    """(id, set) distinct-shingle frame — the shared input of MinHash
    signatures AND exact-Jaccard verification. Cache it when both
    consumers run in one pipeline (the shingling pass is the hot cost)."""
    return df.select(
        F.col(id_col),
        F.array_distinct(shingles_expr(text_col, shingle_n)).alias("__set"),
    ).filter(F.size("__set") > 0)


def hashed_shingle_sets(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
) -> DataFrame:
    """(id, __hset) frame: each document's distinct shingles as a SORTED
    array of their 60-bit md5 hashes.

    This is the preferred shared representation for the similarity
    pipeline: MinHash signatures derive from it by explode + mod (the
    md5 is computed exactly once per shingle), and the exact-Jaccard
    verify stage intersects the int64 arrays in vectorized numpy instead
    of Spark's interpreted string `array_intersect` — per-PAIR work in
    Arrow, per-ROW work (this hashing pass) in the JVM scan stage.

    Set sizes and intersection counts match the string-set versions
    exactly unless two distinct shingles of one document collide in 60
    bits (birthday bound ~2^30 shingles per doc — not a real corpus).
    """
    return shingle_sets(df, id_col, text_col, shingle_n).select(
        F.col(id_col),
        F.array_sort(F.transform("__set", md5_long)).alias("__hset"),
    )


def _intersect_sizes_udf():
    """pandas_udf: per-row |a ∩ b| for two array<long> columns whose
    elements are distinct within each row.

    Vectorized across the whole Arrow batch: pairs are flattened to
    (row_idx, value) tuples, lexsorted once, and intersections counted
    as adjacent duplicates — no per-pair Python beyond array collection.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("int")
    def inter_size(a: pd.Series, b: pd.Series) -> pd.Series:
        n = len(a)
        if n == 0:
            return pd.Series([], dtype="int32")
        av = [np.asarray(x, dtype=np.int64) for x in a]
        bv = [np.asarray(x, dtype=np.int64) for x in b]
        la = np.array([x.size for x in av], dtype=np.int64)
        lb = np.array([x.size for x in bv], dtype=np.int64)
        total = int(la.sum() + lb.sum())
        if total == 0:
            return pd.Series(np.zeros(n, dtype="int32"))
        idx = np.concatenate(
            [np.repeat(np.arange(n), la), np.repeat(np.arange(n), lb)]
        )
        val = np.concatenate(av + bv)
        order = np.lexsort((val, idx))
        si, sv = idx[order], val[order]
        dup = (si[1:] == si[:-1]) & (sv[1:] == sv[:-1])
        counts = np.bincount(si[1:][dup], minlength=n)
        return pd.Series(counts.astype("int32"))

    return inter_size


def minhash_signatures(
    df: DataFrame,
    num_hashes: int = 16,
    hsets: DataFrame | None = None,
) -> DataFrame:
    """doc_id + h0..h{num_hashes-1} minhash signature columns.

    One md5 per shingle (the expensive part), then the affine 31-bit
    family generates all `num_hashes` permutation hashes arithmetically.
    Shape: explode shingles → hash → ONE groupBy with `num_hashes` min
    aggregates. The mins are plain arithmetic inside whole-stage codegen
    and combine map-side, so the shuffle carries `num_hashes` longs per
    doc — this beats array-lambda variants, which Catalyst's projection
    collapse makes recompute the hash array per output column.
    Rows with fewer than 3 tokens are dropped (no shingles).

    Pass `hsets` (a `hashed_shingle_sets` frame — the md5s are already
    done and signatures reduce to explode + mod + min), ideally cached,
    to share the shingling/hashing pass with other consumers — min over
    DISTINCT shingles is identical to min over all shingles.
    Without it the shingles are built and hashed here.
    """
    from legendary_data_pipeline_spark.functions.hashing import (
        MERSENNE_P,
        hash_family_params,
        md5_long,
    )

    if hsets is not None:
        based = hsets.select(
            F.col("doc_id"), F.explode(F.col("__hset")).alias("__h")
        ).select(F.col("doc_id"), (F.col("__h") % MERSENNE_P).alias("__hb"))
    else:
        exploded = shingle_sets(df).select(
            F.col("doc_id"), F.explode(F.col("__set")).alias("__s")
        )
        based = exploded.select(
            F.col("doc_id"), (md5_long(F.col("__s")) % MERSENNE_P).alias("__hb")
        )
    aggs = [
        F.min((F.col("__hb") * F.lit(a) + F.lit(b)) % MERSENNE_P).alias(f"h{i}")
        for i, (a, b) in enumerate(hash_family_params(num_hashes))
    ]
    return based.groupBy("doc_id").agg(*aggs)


def banded_keys(
    signatures: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """(id, band_idx, band_key) rows — each doc's `bands` LSH bucket
    keys, the persistable form of an LSH index. Store this frame
    (partitioned/bucketed by (band_idx, band_key)) to support
    incremental probing of new batches via `lsh_probe_pairs` without
    re-signaturing the corpus."""
    rows_per_band = num_hashes // bands
    band_structs = []
    for b in range(bands):
        member_cols = [
            F.col(f"h{b * rows_per_band + r}") for r in range(rows_per_band)
        ]
        band_key = md5_long(F.concat_ws("_", *[c.cast("string") for c in member_cols]))
        band_structs.append(
            F.struct(F.lit(b).alias("band_idx"), band_key.alias("band_key"))
        )
    return signatures.select(
        F.col("doc_id"), F.explode(F.array(*band_structs)).alias("band")
    ).select("doc_id", "band.band_idx", "band.band_key")


def _cap_band_buckets(
    banded: DataFrame, id_col: str, max_bucket_size: int
) -> DataFrame:
    """Deterministically sample each (band_idx, band_key) bucket down to
    `max_bucket_size` members — the cap-many rows with the smallest
    hashed id survive, a uniform layout-independent draw. row_number ≤
    cap rides Spark's WindowGroupLimit: each bucket does a bounded
    top-cap, never a full sort materialization."""
    from pyspark.sql import Window

    w = Window.partitionBy("band_idx", "band_key").orderBy(
        md5_long(F.col(id_col).cast("string")).asc(), F.col(id_col).asc()
    )
    return (
        banded.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= max_bucket_size)
        .drop("__rn")
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Banded LSH: docs sharing any full band of the signature become a
    candidate pair (id_a < id_b, distinct).

    One explode (×bands), one shuffle on (band_idx, band_key), then a
    within-bucket self-join.

    `max_bucket_size` guards the B² self-join blowup on pathological
    buckets (a boilerplate/duplicated corpus can put thousands of docs
    in one band bucket — at 100 TB that single bucket IS the job's
    runtime). Buckets above the cap are SAMPLED down to the cap — the
    cap-many members with the smallest hashed id survive (a uniform,
    deterministic draw; buckets at or under the cap are untouched) — so
    the per-bucket join cost is bounded at cap² while recall inside the
    bucket degrades gracefully instead of cliffing to zero. Near-dups
    whose only shared band is over-cap can still be missed; identical
    bands at that multiplicity usually mean near-identical docs, which
    exact dedup (`dedup_exact_sha`-style) catches at a fraction of the
    cost — run it first on such corpora.
    """
    # The band self-join probes `signatures` twice; cache the (tiny:
    # num_hashes longs per doc) signature frame so the upstream shingle
    # pipeline isn't recomputed per join side.
    signatures = signatures.cache()
    banded = banded_keys(signatures, num_hashes=num_hashes, bands=bands)
    if max_bucket_size is not None:
        banded = _cap_band_buckets(banded, "doc_id", max_bucket_size)

    left = banded.select(
        F.col("doc_id").alias("id_a"), "band_idx", "band_key"
    )
    right = banded.select(
        F.col("doc_id").alias("id_b"), "band_idx", "band_key"
    )
    return (
        left.join(right, ["band_idx", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame,
    hsets: DataFrame | None = None,
    max_cache_rows: int = 1_000_000,
    allow_large_cache: bool = False,
) -> DataFrame:
    """Exact shingle-set Jaccard for the given candidate pairs.

    Verification runs on HASHED shingle sets: the candidate join carries
    sorted int64 arrays, and |A ∩ B| is computed batch-vectorized in
    numpy (`_intersect_sizes_udf`) — Spark's string `array_intersect` is
    interpreted per pair and was the engine's top bench cost. Jaccard =
    inter / (|A| + |B| − inter), identical to the string-set value
    (collision odds are negligible; see `hashed_shingle_sets`).

    Pass a cached `hashed_shingle_sets` frame via `hsets` to share the
    shingling/hashing pass with signature computation in the same
    pipeline. The convenience path (no `hsets`) `.cache()`s a corpus-sized hashed-
    shingle frame — fine for notebooks and tests, a memory hazard at
    corpus scale — so it is GUARDED: above `max_cache_rows` input rows
    it raises unless `allow_large_cache=True`, directing callers to the
    staging-table pattern the fused pipelines already use (round 8).
    """
    if hsets is None:
        # Probed twice (both pair sides) — cache so shingling runs
        # once. At scale, prefer a staging table keyed by id.
        if not allow_large_cache:
            # limit(N+1).count() short-circuits: small inputs stop
            # scanning at the threshold instead of paying a full
            # input count before any work (round-9 advice).
            n = df.limit(max_cache_rows + 1).count()
            if n > max_cache_rows:
                raise ValueError(
                    f"jaccard_pairs convenience path would .cache() a "
                    f">{max_cache_rows}-row hashed-shingle frame "
                    f"(max_cache_rows={max_cache_rows}). Pass hsets= "
                    "(a staged hashed_shingle_sets frame — the fused-"
                    "pipeline pattern), raise max_cache_rows, or opt "
                    "in with allow_large_cache=True."
                )
        hsets = hashed_shingle_sets(df, "doc_id", "text").cache()
    hs = hsets.select(F.col("doc_id").alias("__id"), F.col("__hset"))
    a = hs.select(
        F.col("__id").alias("id_a"),
        F.col("__hset").alias("hset_a"),
        F.size("__hset").alias("__sa"),
    )
    b = hs.select(
        F.col("__id").alias("id_b"),
        F.col("__hset").alias("hset_b"),
        F.size("__hset").alias("__sb"),
    )
    inter_size = _intersect_sizes_udf()
    joined = (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("__inter", inter_size("hset_a", "hset_b"))
    )
    union = F.col("__sa") + F.col("__sb") - F.col("__inter")
    return joined.select(
        "id_a",
        "id_b",
        (F.col("__inter").cast("double") / union.cast("double")).alias(
            "jaccard"
        ),
    )


def ngram_jaccard_blocked(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    block_col: str = "lang",
    length_col: str = "n_chars",
    length_bucket: int = 25,
    min_jaccard: float = 0.1,
    dup_threshold: float = 0.5,
    max_onehot_cells: int = 64_000_000,
    max_block_docs: int = 16_384,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs with scalable blocking.

    Candidate pairs are restricted to docs sharing `block_col` whose
    length buckets (`length_col DIV length_bucket`) differ by at most 1 —
    near-duplicates have near-identical length, so block sizes stay
    bounded while true dups can't straddle a boundary unseen. The
    quadratic Jaccard step then runs only inside these small blocks; at
    100 TB the block key becomes the shuffle/bucketing key and bucket
    width tunes block size.

    Verification is the IVF cogrouped shape, NOT a pair join: a pair
    join would ship each doc's shingle set once per candidate pair
    (at sf0.1 that is ~180× duplication — ~56M array elements through
    Arrow for a 300k-shingle corpus), and Spark's own string
    `array_intersect` evaluates interpreted per pair. Instead each doc's
    sorted int64 hash set crosses to Python ONCE per group (docs are
    exploded into groups g = bkt and bkt+1; a pair with |Δbkt| ≤ 1 is
    scored in exactly the one group where max(bkt_a, bkt_b) == g), and
    ALL pairwise intersection counts inside a group come from a single
    one-hot matmul (X @ X.T — float32 is exact for these counts). The
    min-Jaccard threshold is applied inside the kernel as EXACT integer
    math (jaccard ≥ p/q ⟺ inter·(p+q) ≥ p·(|A|+|B|)), so only
    surviving pairs return to the JVM.

    Per-group memory is n_docs × distinct_shingles one-hot floats; the
    blocking contract (length buckets inside a language) is what bounds
    it — shrink `length_bucket` if a block outgrows a task. Two guards
    back that contract up instead of trusting it: a group whose one-hot
    would exceed `max_onehot_cells` floats (default 64M ≈ 256 MB f32)
    falls back to a row-chunked matmul with the same exact results at
    bounded peak memory, and a group with more than `max_block_docs`
    docs (whose n×n intersection matrix itself becomes the hazard)
    auto-falls back to a STREAMING chunk-filtered kernel: the same exact
    matmul per chunk pair, thresholded immediately, so the n×n matrix is
    never materialized and peak memory stays O(chunk·|shingles| + chunk²)
    at any block size — identical surviving pairs, no executor OOM, no
    manual retune loop.

    NULL handling: rows whose `block_col` is NULL are dropped before
    grouping — NULL is "language unknown", not a language, and the
    join-based blocking this kernel replaced never paired them either
    (NULL = NULL is false in a join key). `id_col` may be any orderable
    primitive type (string ids included); the output pair columns keep
    its type.
    """
    frac = Fraction(str(min_jaccard)).limit_denominator(1_000_000)
    p, q = frac.numerator, frac.denominator
    id_type = df.schema[id_col].dataType.simpleString()

    sets_df = df.filter(F.col(block_col).isNotNull()).select(
        F.col(id_col).alias("__id"),
        F.col(block_col).alias("__blk"),
        F.floor(F.col(length_col).cast("long") / length_bucket).cast("long").alias("__bkt"),
        F.array_sort(
            F.transform(
                F.array_distinct(shingles_expr(text_col, shingle_n)), md5_long
            )
        ).alias("__hset"),
    ).filter(F.size("__hset") > 0)
    grouped = sets_df.select(
        "__id",
        "__bkt",
        "__hset",
        "__blk",
        F.explode(F.array(F.col("__bkt"), F.col("__bkt") + 1)).alias("__g"),
    )

    def _score_block(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "id_a": pd.Series(dtype=object),
                "id_b": pd.Series(dtype=object),
                "inter": pd.Series(dtype="int64"),
                "size_a": pd.Series(dtype="int64"),
                "size_b": pd.Series(dtype="int64"),
            }
        )
        n = len(pdf)
        if n < 2:
            return empty
        g = int(pdf["__g"].iloc[0])
        ids = pdf["__id"].to_numpy()
        bkts = pdf["__bkt"].to_numpy()
        hsets = [np.asarray(x, dtype=np.int64) for x in pdf["__hset"]]
        lens = np.array([x.size for x in hsets], dtype=np.int64)
        flat = np.concatenate(hsets)
        uniq, inv = np.unique(flat, return_inverse=True)
        starts = np.concatenate(([0], np.cumsum(lens)))

        def onehot(lo: int, hi: int) -> np.ndarray:
            Xc = np.zeros((hi - lo, uniq.size), dtype=np.float32)
            seg = inv[starts[lo] : starts[hi]]
            rows = np.repeat(np.arange(hi - lo), lens[lo:hi])
            Xc[rows, seg] = 1.0
            return Xc

        def survivors(gi, gj, itr_b):
            # Exact integer threshold + dedup-to-one-group mask.
            return (np.maximum(bkts[gi], bkts[gj]) == g) & (
                itr_b * (p + q) >= p * (lens[gi] + lens[gj])
            )

        if n > max_block_docs:
            # Auto-fallback for a block that outgrew the blocking
            # contract: the hazard there is the n×n intersection matrix
            # itself, so NEVER materialize it — run the same exact
            # chunked matmul but filter each chunk-pair to surviving
            # pairs immediately. Peak memory is O(chunk·|shingles| +
            # chunk²) regardless of n; only the (few) pairs above
            # min_jaccard accumulate. Slower per pair than the full
            # matmul, but completes instead of raising — the manual
            # "shrink length_bucket" retune loop is gone.
            chunk = max(
                1, min(max_onehot_cells // (2 * max(uniq.size, 1)), 4096)
            )
            out_i: list[np.ndarray] = []
            out_j: list[np.ndarray] = []
            out_itr: list[np.ndarray] = []
            for lo in range(0, n, chunk):
                hi = min(lo + chunk, n)
                Xa = onehot(lo, hi)
                for lo2 in range(lo, n, chunk):
                    hi2 = min(lo2 + chunk, n)
                    Xb = Xa if lo2 == lo else onehot(lo2, hi2)
                    blockv = np.rint(Xa @ Xb.T).astype(np.int64)
                    if lo2 == lo:
                        bi, bj = np.triu_indices(hi - lo, k=1)
                    else:
                        bi = np.repeat(np.arange(hi - lo), hi2 - lo2)
                        bj = np.tile(np.arange(hi2 - lo2), hi - lo)
                    gi, gj = bi + lo, bj + lo2
                    itr_b = blockv[bi, bj]
                    keep_b = survivors(gi, gj, itr_b)
                    if keep_b.any():
                        out_i.append(gi[keep_b])
                        out_j.append(gj[keep_b])
                        out_itr.append(itr_b[keep_b])
            if not out_i:
                return empty
            iu = np.concatenate(out_i)
            ju = np.concatenate(out_j)
            itr = np.concatenate(out_itr)
        else:
            if n * uniq.size <= max_onehot_cells:
                X = np.zeros((n, uniq.size), dtype=np.float32)
                X[np.repeat(np.arange(n), lens), inv] = 1.0
                inter = np.rint(X @ X.T).astype(np.int64)
            else:
                # Oversized one-hot (but in-cap doc count): same exact
                # matmul, built a row-chunk at a time so peak memory is
                # 2 chunks + the n×n result instead of the full one-hot.
                chunk = max(1, max_onehot_cells // (2 * max(uniq.size, 1)))
                inter = np.zeros((n, n), dtype=np.int64)
                for lo in range(0, n, chunk):
                    hi = min(lo + chunk, n)
                    Xa = onehot(lo, hi)
                    for lo2 in range(lo, n, chunk):
                        hi2 = min(lo2 + chunk, n)
                        Xb = Xa if lo2 == lo else onehot(lo2, hi2)
                        blockv = np.rint(Xa @ Xb.T).astype(np.int64)
                        inter[lo:hi, lo2:hi2] = blockv
                        if lo2 != lo:
                            inter[lo2:hi2, lo:hi] = blockv.T
            iu, ju = np.triu_indices(n, k=1)
            itr = inter[iu, ju]
            keep = survivors(iu, ju, itr)
            iu, ju, itr = iu[keep], ju[keep], itr[keep]
        if iu.size == 0:
            return empty
        swap = ids[iu] > ids[ju]
        a_idx = np.where(swap, ju, iu)
        b_idx = np.where(swap, iu, ju)
        return pd.DataFrame(
            {
                "id_a": ids[a_idx],
                "id_b": ids[b_idx],
                "inter": itr,
                "size_a": lens[a_idx],
                "size_b": lens[b_idx],
            }
        )

    scored = grouped.groupBy("__blk", "__g").applyInPandas(
        _score_block,
        f"id_a {id_type}, id_b {id_type}, inter long, size_a long, size_b long",
    )
    jac = F.col("inter").cast("double") / (
        F.col("size_a") + F.col("size_b") - F.col("inter")
    ).cast("double")
    return scored.select("id_a", "id_b", jac.alias("jaccard")).withColumn(
        "is_dup", F.col("jaccard") >= dup_threshold
    )


# ---------------------------------------------------------------------------
# simhash
# ---------------------------------------------------------------------------

SIMHASH_BITS = 60  # md5_long yields 60-bit values


_SIMHASH_PACK = 4  # bit-counters per packed long (16 bits each)


def simhash(df: DataFrame) -> DataFrame:
    """60-bit SimHash per document (frequency-weighted sign fingerprint).

    Explodes tokens then computes all 60 bit-majorities in ONE groupBy.
    The counters are PACKED four per long (16 bits each): 16
    aggregate columns instead of 61 keeps whole-stage codegen small — the
    naive 61-agg plan spent multiple seconds just COMPILING. The
    fingerprint is reconstructed post-agg with one array higher-order
    pass (5k rows × 60 elements — negligible interpreted work) instead
    of a 60-term when() chain.

    Overflow guard: the TOP packed field owns the long's sign bit, so
    the carry-free capacity is 2^15−1 = 32,767 tokens — one more and the
    running sum crosses Long.MAX. Under Spark 4's ANSI default a plain
    `sum` would then throw ARITHMETIC_OVERFLOW and kill the whole query,
    so the packed counters use `try_sum` (NULL on overflow) and the
    fingerprint is NULLed for any document whose token_count exceeds the
    capacity (token_count is still reported). Long-document corpora
    would need two counters per long, at twice the aggregate columns.
    """
    counter_bits = 64 // _SIMHASH_PACK
    # The top field's high bit is the long's sign bit: capacity is one
    # bit less than the field width, so every per-counter total (each
    # bounded by token_count) keeps the full packed sum below Long.MAX.
    capacity = (1 << (counter_bits - 1)) - 1
    groups = -(-SIMHASH_BITS // _SIMHASH_PACK)  # ceil
    toks = df.select(
        F.col("doc_id"), F.explode(tokens_expr()).alias("__tok")
    ).withColumn("__h", md5_long(F.col("__tok")))

    aggs = [F.count(F.lit(1)).alias("__n")]
    for g in range(groups):
        contrib = None
        for i in range(_SIMHASH_PACK):
            b = g * _SIMHASH_PACK + i
            if b >= SIMHASH_BITS:
                break
            term = F.shiftleft(
                F.shiftright(F.col("__h"), b).bitwiseAND(F.lit(1)),
                i * counter_bits,
            )
            contrib = term if contrib is None else contrib + term
        # try_sum: NULL instead of ANSI ARITHMETIC_OVERFLOW for docs past
        # capacity — the <= capacity guard below NULLs their fingerprint.
        aggs.append(F.try_sum(contrib).alias(f"__g{g}"))
    counted = toks.groupBy("doc_id").agg(*aggs)

    mask = (1 << counter_bits) - 1
    counts = F.array(
        *[
            F.shiftright(
                F.col(f"__g{b // _SIMHASH_PACK}"),
                (b % _SIMHASH_PACK) * counter_bits,
            )
            .bitwiseAND(F.lit(mask))
            for b in range(SIMHASH_BITS)
        ]
    )
    with_counts = counted.withColumn("__c", counts)
    fingerprint = F.aggregate(
        F.zip_with(
            F.col("__c"),
            F.sequence(F.lit(0), F.lit(SIMHASH_BITS - 1)),
            # shiftleft needs a literal bit count; pow(2, b) is exact for
            # powers of two in doubles, so this is 1<<b for b ≤ 62.
            lambda c, b: F.when(
                c * 2 > F.col("__n"), F.pow(F.lit(2.0), b).cast("long")
            ).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return with_counts.select(
        F.col("doc_id"),
        F.when(F.col("__n") <= capacity, fingerprint).alias("simhash"),
        F.col("__n").alias("token_count"),
    )


def hamming_distance(a: Column, b: Column) -> Column:
    """Hamming distance between two simhash longs."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_band_pairs(
    fingerprints: DataFrame,
    bands: int = 4,
    max_hamming: int = 3,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """SimHash near-dup pairs: banded candidate generation + exact
    hamming verification.

    The 60-bit fingerprint splits into `bands` equal bit-slices
    (4 × 15 bits by default). Two fingerprints within hamming distance
    `max_hamming` < `bands` differ in fewer bits than there are bands, so
    by pigeonhole they agree on at least one FULL band — banding has
    perfect recall at the threshold while the quadratic compare runs
    only inside (band_idx, band_val) buckets. The verify step is one
    bit_count(xor) per candidate — cheaper than the MinHash pipeline's
    array intersections by orders of magnitude.

    `max_bucket_size` guards the B² self-join blowup on pathological
    buckets (e.g. a boilerplate corpus where thousands of docs share a
    band): over-cap buckets are sampled down to the cap (hash-smallest
    ids survive — deterministic, layout-independent; buckets at or under
    the cap are untouched), bounding the per-bucket join at cap² with
    gracefully degrading recall instead of a cliff. Full near-dup mining
    on such clusters still belongs to exact dedup (identical band ⇒
    likely identical text) or a re-banding pass with more bits. NULL
    fingerprints (overflow guard) never pair.
    """
    bits_per_band = SIMHASH_BITS // bands
    band_mask = (1 << bits_per_band) - 1
    fp = fingerprints.select(
        F.col("doc_id"), F.col("simhash").alias("__fp")
    ).filter(F.col("__fp").isNotNull())
    fp = fp.cache()
    banded = fp.select(
        F.col("doc_id"),
        F.col("__fp"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        F.shiftright(F.col("__fp"), b * bits_per_band)
                        .bitwiseAND(F.lit(band_mask))
                        .alias("band_val"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "__fp", "band.band_idx", "band.band_val")
    if max_bucket_size is not None:
        from pyspark.sql import Window

        w = Window.partitionBy("band_idx", "band_val").orderBy(
            md5_long(F.col("doc_id").cast("string")).asc(), F.col("doc_id").asc()
        )
        banded = (
            banded.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= max_bucket_size)
            .drop("__rn")
        )
    left = banded.select(
        F.col("doc_id").alias("id_a"),
        F.col("__fp").alias("fp_a"),
        "band_idx",
        "band_val",
    )
    right = banded.select(
        F.col("doc_id").alias("id_b"),
        F.col("__fp").alias("fp_b"),
        "band_idx",
        "band_val",
    )
    pairs = (
        left.join(right, ["band_idx", "band_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            hamming_distance(F.col("fp_a"), F.col("fp_b")).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
    return pairs


# ---------------------------------------------------------------------------
# incremental dedup (new batch vs existing corpus index)
# ---------------------------------------------------------------------------


def corpus_hash_index(
    df: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Distinct content hashes of a corpus — the exact-dedup index an
    ingestion pipeline persists between batches (32 bytes per distinct
    text; at 100 TB this is the only corpus-derived state incremental
    exact dedup ever reads or shuffles)."""
    return df.select(F.sha2(F.col(text_col), 256).alias("text_sha")).distinct()


def incremental_exact_dedup(
    new_df: DataFrame,
    corpus_index: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Classify every NEW doc against an existing corpus and its own
    batch: `corpus_dup` (text already in the corpus), `batch_dup` (first
    seen in this batch, but a lower-id batch row owns it), `unique`
    (this row is the batch's keeper and the text is new). Ingest rows
    with status = 'unique'; append their hashes to the index.

    Production dedup is incremental — re-grouping the full corpus per
    arriving batch would read 100 TB to admit a few GB. Here the corpus
    contributes only its hash index: the batch hashes once, left-joins
    the index on the 32-byte hash, and ranks within its own (small)
    batch for the new-vs-new decision. Statuses are deterministic
    (min-id keeper, same convention as `exact_dedup`).
    """
    hashed = new_df.withColumn("text_sha", F.sha2(F.col(text_col), 256))
    idx = corpus_index.select("text_sha").distinct().withColumn(
        "__in_corpus", F.lit(True)
    )
    from pyspark.sql import Window

    rn = F.row_number().over(
        Window.partitionBy("text_sha").orderBy(F.col("doc_id").asc())
    )
    return (
        hashed.join(idx, "text_sha", "left")
        .withColumn("__rn", rn)
        .withColumn(
            "dedup_status",
            F.when(F.col("__in_corpus"), F.lit("corpus_dup"))
            .when(F.col("__rn") > 1, F.lit("batch_dup"))
            .otherwise(F.lit("unique")),
        )
        .drop("__in_corpus", "__rn")
    )


def lsh_probe_pairs(
    new_banded: DataFrame,
    corpus_banded: DataFrame,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-dup candidates between a NEW batch and an existing corpus:
    join the batch's band keys (`banded_keys` of its signatures) against
    the corpus's persisted band index. Returns (id_new, id_corpus)
    distinct pairs to verify with `jaccard_pairs`.

    The corpus side is the stored (id, band_idx, band_key) index —
    signatures are never recomputed, and with the index bucketed on
    (band_idx, band_key) the probe is a co-located join where only the
    (small) batch shuffles. Equivalent to the cross-group subset of
    `lsh_candidate_pairs` over corpus ∪ batch (property-tested), at a
    fraction of the cost.

    `max_bucket_size` applies the same deterministic hash-smallest-id
    bucket cap as `lsh_candidate_pairs` to BOTH sides: a pathological
    corpus band bucket (boilerplate cluster) would otherwise join every
    probing doc against the full bucket — the exact blowup the batch
    path's cap bounds. Pre-capped persisted indexes can omit it.
    """
    if max_bucket_size is not None:
        new_banded = _cap_band_buckets(new_banded, "doc_id", max_bucket_size)
        corpus_banded = _cap_band_buckets(
            corpus_banded, "doc_id", max_bucket_size
        )
    left = new_banded.select(
        F.col("doc_id").alias("id_new"), "band_idx", "band_key"
    )
    right = corpus_banded.select(
        F.col("doc_id").alias("id_corpus"), "band_idx", "band_key"
    )
    return (
        left.join(right, ["band_idx", "band_key"])
        .select("id_new", "id_corpus")
        .distinct()
    )


# ---------------------------------------------------------------------------
# winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03 — MOSS)
# ---------------------------------------------------------------------------


def winnow_fingerprints(
    df: DataFrame,
    k: int = 4,
    window: int = 4,
) -> DataFrame:
    """(id, pos, fp): winnowed document fingerprints — the MOSS
    algorithm (Schleimer, Wilkerson & Aiken, SIGMOD'03).

    Token k-gram hashes h_1..h_m; in every window of `window`
    consecutive hashes select the minimum (RIGHTMOST on ties — the
    paper's standard-winnowing tie rule; the paper's separate "robust"
    variant additionally prefers the hash already selected in the
    previous window on ties, trading this rule's statelessness for a
    slightly lower fingerprint density — not implemented here because
    the per-row array expressions, and the DuckDB oracle that replays
    them, stay stateless), keeping each selected position
    once. The selection density is 2/(window+1) of the grams, with
    the GUARANTEE that any shared token run of length >= window+k-1
    between two documents yields at least one shared fingerprint —
    unlike MinHash (probabilistic recall) or exact-substring dedup
    (which keys on full runs, not a sampled subset).

    Pure array expressions per row (slice / array_min / reverse /
    array_position over the gram-hash array — O(m·window) JVM work,
    no shuffle, no Python), so the whole selection replays in DuckDB
    list functions under a hash oracle. Documents with fewer than
    k + window - 1 tokens (< `window` grams) produce no fingerprints
    on both engines.
    """
    w = int(window)
    if w < 1 or k < 1:
        raise ValueError(f"winnow_fingerprints: k={k}, window={w} must be >= 1")
    base = df.select(
        F.col("doc_id"),
        F.transform(shingles_expr("text", k), md5_long).alias("__H"),
    )
    nwin = F.size("__H") - F.lit(w - 1)
    js = F.filter(
        F.sequence(F.lit(1), F.greatest(nwin, F.lit(1))),
        lambda j: j <= nwin,
    )

    def sel(j):
        s = F.slice(F.col("__H"), j, w)
        pos_rev = F.array_position(F.reverse(s), F.array_min(s))
        return (j.cast("long") + (F.lit(w) - pos_rev)).cast("long")

    positions = F.array_distinct(F.transform(js, sel))
    out = base.select(
        F.col("doc_id"), F.col("__H"), F.explode(positions).alias("__p")
    )
    return out.select(
        F.col("doc_id"),
        F.col("__p").alias("pos"),
        F.element_at("__H", F.col("__p").cast("int")).alias("fp"),
    )


def winnow_pairs(
    fps: DataFrame,
    min_shared: int = 2,
    max_bucket: int = 64,
) -> DataFrame:
    """(id_a, id_b, shared_fps): document pairs sharing >= `min_shared`
    distinct winnowed fingerprints.

    Candidates come from a fingerprint-keyed bucket join (the banded-
    LSH shape — never all-pairs); a fingerprint present in more than
    `max_bucket` documents is dropped first, the standard boilerplate
    guard (a navigation-chrome gram shared by the whole corpus would
    otherwise quadratize its bucket while carrying no dup signal).
    """
    from pyspark.sql import Window

    d = fps.select(F.col("doc_id").alias("__id"), "fp").distinct()
    # Both self-join sides consume this frame — pin it or each side
    # replays the fingerprint scan (the r11 standing rule; the r12
    # scan-budget gate caught exactly this on first registration).
    sized = (
        d.withColumn(
            "__n", F.count(F.lit(1)).over(Window.partitionBy("fp"))
        )
        .filter(F.col("__n") <= max_bucket)
        .localCheckpoint(eager=False)
    )
    a = sized.select(F.col("__id").alias("id_a"), "fp")
    b = sized.select(F.col("__id").alias("id_b"), "fp")
    return (
        a.join(b, "fp")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("shared_fps"))
        .where(F.col("shared_fps") >= min_shared)
    )
