"""Similarity search over embedding columns (SURVEY.md §2.11).

`embeddings` table: `vec_id, embedding array<float>, label`.

- `cosine_topk` — brute-force exact top-k: label blocks (or hash blocks
  of the corpus) scored by the fold-exact pair kernel → window top-k.
  The baseline; exact and oracle-checkable.
- `lsh_bucket_topk` — random-hyperplane sign buckets; top-k within
  buckets only. Approximate (rows-only check).
- `ivf_topk` / `ivf_pq_topk` — FAISS-shaped inverted lists (sampled
  codebook, Arrow assignment, per-list matmul); the PQ variant
  searches byte codes + stored norms with an exact-refine shortlist.
- `label_centroid_cosine` — embedding hygiene (broadcast centroids).
- `semdedup` — semantic near-dup removal (within-cluster greedy
  cosine, min-id keeper).

Every operator here (and in `retrieval` / `clustering`) builds on one
set of shared pieces, so each piece of arithmetic has one definition:

- `dot_expr` / `norm_expr` (`_sq_norm`) — the sequential left folds
  all JVM-side similarity math uses; `_normed` projects a query or
  candidate side with its norm, `_cosine` divides the fold by the norms.
- `_scored_pairs` / `_fixed_assign` — the fold-exact pair kernel: one
  cogrouped Arrow block per label, list, cluster or hash bucket, scored
  in numpy in the folds' own operation order. `cosine_topk`,
  `lsh_bucket_topk`, `embedding_cosine_pairs`, `ivf_fixed_topk` and
  `semdedup_fixed` score their pairs there; per-row folds and the
  `hard_negatives` / `ivf_pq_topk` refine / decontamination pair joins
  stay on `dot_expr`.
- `_rank_top_k` — the ranking tail: per query, the k best rows by
  (score desc, neighbor id asc), numbered `rank`.
- `_trained_codebook` — the bounded-sample Lloyd prelude of the
  trained (rows-only) operators, with its ‖v−c‖² assignment scores;
  `_list_topk` — their per-inverted-list numpy local top-k.
- `_frozen_codebook` / `_fixed_assign` — the fixed-codebook freeze and
  fold-arithmetic nearest-centroid assignment of the hash-oracle-able
  twins.

Scale design (100 TB): brute force is O(Q×N); block it (label, LSH
bucket, IVF coarse centroid) so each probe touches a small candidate
set. Unblocked, the small side is copied into each hash block of the
corpus; the corpus is never broadcast. Math stays in `array<double>`
to make results reproducible across engines.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from legendary_data_pipeline_spark.functions.numeric import e6
from legendary_data_pipeline_spark.operators.ranking import top_k_per_group
from legendary_data_pipeline_spark.operators.sampling import (
    bounded_hash_sample,
)

#: Output schema of the trained top-k operators (empty-sample result).
_TOPK_SCHEMA = "query_id long, neighbor_id long, rank int, cos_sim double"
#: Per-list kernel output of the cogrouped IVF scorers.
_LIST_SCHEMA = "query_id long, neighbor_id long, cos_sim double"


def _as_double(col: Column) -> Column:
    return col.cast("array<double>")


def _col(a: str | Column) -> Column:
    return F.col(a) if isinstance(a, str) else a


def dot_expr(a: str | Column, b: str | Column) -> Column:
    """Sequential-fold dot product (deterministic summation order):
    ((0 + a0·b0) + a1·b1) + …, the index-order fold DuckDB's
    `list_inner_product` also computes. Takes column names or columns
    (array literals, lambda variables)."""
    return F.aggregate(
        F.zip_with(_col(a), _col(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _sq_norm(a: str | Column) -> Column:
    """Sequential-fold squared norm, ((0 + a0²) + a1²) + …."""
    return F.aggregate(_col(a), F.lit(0.0), lambda acc, x: acc + x * x)


def norm_expr(a: str | Column) -> Column:
    return F.sqrt(_sq_norm(a))


def _normed(frame: DataFrame, id_name: str, prefix: str, *extra: Column) -> DataFrame:
    """One side of a pair join over a (vec_id, vec, …) frame:
    (id_name, *extra, <prefix>_vec, <prefix>_norm)."""
    return frame.select(
        F.col("vec_id").alias(id_name),
        *extra,
        F.col("vec").alias(f"{prefix}_vec"),
        norm_expr("vec").alias(f"{prefix}_norm"),
    )


def _cosine(a: str, b: str) -> Column:
    """Cosine of two `_normed` sides, by their prefixes."""
    return dot_expr(f"{a}_vec", f"{b}_vec") / (
        F.col(f"{a}_norm") * F.col(f"{b}_norm")
    )


def _rank_top_k(
    scored: DataFrame,
    k: int,
    score: str,
    q: str = "query_id",
    nid: str = "neighbor_id",
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """The ranking tail of every top-k scorer: per `q`, the k rows with
    the highest `score`, ties to the smaller `nid`, numbered `rank`.
    Output: (q, nid, *carry, rank, score)."""
    return top_k_per_group(
        scored,
        [q],
        [F.col(score).desc(), F.col(nid).asc()],
        k=k,
        rank_col="rank",
    ).select(q, nid, *carry, "rank", score)


# ---------------------------------------------------------------------------
# Fold-exact pair kernel
# ---------------------------------------------------------------------------
#
# The exact pair scorers run as one cogrouped Arrow kernel per block (a
# label, an inverted list, a cluster, or a hash bucket of the corpus
# with the small side copied into every bucket). Each block is scored
# in numpy in the JVM folds' own operation order, column by column —
# never a BLAS matmul — so every dot, norm and distance is the double
# `dot_expr` / `norm_expr` give. The kernel only drops pairs that
# cannot make the cut: Spark still divides, rounds and ranks the rest.

#: A block is scored in row tiles of at most this many pairs (~1 MiB
#: per temporary), never as one whole score matrix.
_TILE_PAIRS = 1 << 17
#: Rounding to 6 places or to `e6` is monotone and moves a score by at
#: most 0.5e-6, so a raw score more than 2e-6 below the k-th best (or
#: below tau) can never make the rounded cut.
_SLACK = 2e-6


def _ids(table: pa.Table, name: str) -> tuple[np.ndarray, np.ndarray]:
    """(values, is_valid) of an integer id column. An id that arrives
    as a float has lost its low bits, so that raises."""
    col = table.column(name)
    if not pa.types.is_integer(col.type):
        raise TypeError(
            f"{name} must cross the Arrow boundary as an integer, got {col.type}"
        )
    return (
        pc.fill_null(col, 0).to_numpy(),
        col.is_valid().to_numpy(zero_copy_only=False),
    )


def _fold_dot(Q: np.ndarray, C: np.ndarray) -> np.ndarray:
    """`dot_expr` for every (row of Q, row of C): acc = acc + q_j·c_j,
    j ascending."""
    acc = np.zeros((len(Q), len(C)))
    prod = np.empty_like(acc)
    for j in range(Q.shape[1]):
        np.multiply(Q[:, j, None], C[None, :, j], out=prod)
        acc += prod
    return acc


def _fold_sq(X: np.ndarray) -> np.ndarray:
    """`_sq_norm` of every row of X: acc = acc + x_j·x_j, j ascending."""
    acc = np.zeros(len(X))
    for j in range(X.shape[1]):
        acc = acc + X[:, j] * X[:, j]
    return acc


class _Side:
    """One side of a block: its `vec` column as the JVM folds see it.
    A NULL array, or one with a NULL element, is not `valid` (every fold
    over it is NULL). `zip_with` pads unequal lengths with NULL, so rows
    are stacked per length and only equal lengths pair up; with
    `within`, only rows of equal (non-NULL) `within` ids pair up too."""

    def __init__(self, table: pa.Table, vec: str, within: str | None = None):
        arr = table.column(vec).combine_chunks()
        self.n = len(arr)
        offsets = arr.offsets.to_numpy()
        lens = offsets[1:] - offsets[:-1]
        null_elems = np.concatenate(
            [[0], np.cumsum(arr.values.is_null().to_numpy(zero_copy_only=False))]
        )
        valid = arr.is_valid().to_numpy(zero_copy_only=False) & (
            null_elems[offsets[1:]] == null_elems[offsets[:-1]]
        )
        self.within = np.zeros(self.n, dtype=np.int64)
        if within is not None:
            self.within, w_ok = _ids(table, within)
            valid &= w_ok
        self.lens = np.where(valid, lens, -1)
        flat = pc.fill_null(arr.values, 0.0).to_numpy()
        self.pos = np.zeros(self.n, dtype=np.int64)
        self.sq = np.zeros(self.n)
        self.groups: dict[tuple[int, int], tuple[np.ndarray, np.ndarray]] = {}
        for L, W in set(zip(self.lens[valid].tolist(), self.within[valid].tolist())):
            rows = np.flatnonzero((self.lens == L) & (self.within == W))
            M = flat[offsets[rows, None] + np.arange(L)[None, :]]
            self.groups[L, W] = (rows, M)
            self.pos[rows] = np.arange(len(rows))
            self.sq[rows] = _fold_sq(M)
        self.norm = np.sqrt(self.sq)

    def tiles(self, n_other: int):
        step = max(1, _TILE_PAIRS // max(1, n_other))
        for lo in range(0, self.n, step):
            yield np.arange(lo, min(lo + step, self.n))

    def dots(self, rows: np.ndarray, other: _Side) -> tuple[np.ndarray, np.ndarray]:
        """(dot, ok) of these rows against every row of `other`; `ok` is
        False where the fold is NULL."""
        dot = np.zeros((len(rows), other.n))
        ok = np.zeros(dot.shape, dtype=bool)
        lens, within = self.lens[rows], self.within[rows]
        for (L, W), (o_rows, OM) in other.groups.items():
            sel = np.flatnonzero((lens == L) & (within == W))
            if len(sel):
                cell = np.ix_(sel, o_rows)
                dot[cell] = _fold_dot(self.groups[L, W][1][self.pos[rows[sel]]], OM)
                ok[cell] = True
        return dot, ok


def _pair_table(qt, ct, picks, carry) -> pa.Table:
    """The kept (query row, candidate row, dot, den, ok) picks as the
    kernel's output table: ids, `carry` columns, and dot/den (NULL where
    the fold is)."""
    qi, ci, dot, den, ok = (np.concatenate(p) for p in zip(*picks))
    cols = {
        "query_id": qt.column("query_id").take(qi),
        "neighbor_id": ct.column("neighbor_id").take(ci),
    }
    for name in carry:
        side = qt if name in qt.column_names else ct
        cols[name] = side.column(name).take(qi if side is qt else ci)
    cols["dot"] = pa.array(dot, mask=~ok)
    cols["den"] = pa.array(den, mask=~ok)
    return pa.table(cols)


def _pair_block(
    qt: pa.Table,
    ct: pa.Table,
    k: int | None,
    tau: float | None,
    carry: tuple[str, ...],
    within: str | None,
) -> pa.Table:
    """The pairs of one block that can still make the cut once Spark
    rounds `dot / den` (`_cosine`'s ratio): with `k`, per query row the
    non-self candidates whose raw score is ≥ the k-th best − `_SLACK`;
    with `tau`, the pairs with query id < neighbor id and raw score ≥
    tau − `_SLACK`. Zero-norm pairs are always kept, for Spark to turn
    into NULL or an error. With `within`, only rows of equal `within`
    ids pair up (an equi-join inside the block)."""
    picks = [(np.zeros(0, np.int64),) * 2 + (np.zeros(0),) * 2 + (np.zeros(0, bool),)]
    if qt.num_rows and ct.num_rows:
        q, c = _Side(qt, "q_vec", within), _Side(ct, "c_vec", within)
        qid, q_ok = _ids(qt, "query_id")
        nid, n_ok = _ids(ct, "neighbor_id")
        for rows in q.tiles(c.n):
            dot, ok = q.dots(rows, c)
            den = q.norm[rows, None] * c.norm[None, :]
            zero = ok & (den == 0)
            # key ranks like Spark's descending sort: NaN first, NULL last
            with np.errstate(divide="ignore", invalid="ignore"):
                key = np.where(ok & ~zero, dot / den, -np.inf)
            key[np.isnan(key)] = np.inf
            q_id, n_id = qid[rows, None], nid[None, :]
            pair = q_ok[rows, None] & n_ok[None, :]
            pair &= (q_id != n_id) if tau is None else (q_id < n_id)
            cut = tau
            if tau is None:
                key[~pair] = -np.inf
                cut = -np.inf
                if key.shape[1] > k:
                    cut = np.partition(key, -k, axis=1)[:, -k, None]
            r, cc = np.nonzero(pair & ((key >= cut - _SLACK) | zero))
            picks.append((rows[r], cc, dot[r, cc], den[r, cc], ok[r, cc]))
    return _pair_table(qt, ct, picks, carry)


def _bucket_count(df: DataFrame) -> int:
    return df.sparkSession.sparkContext.defaultParallelism


def _hash_spread(
    hashed: DataFrame, id_col: str, copied: DataFrame, n: int
) -> tuple[DataFrame, DataFrame]:
    """Block key `__blk` for an unblocked pair scan: `hashed` splits
    into `n` buckets by id, `copied` (the small side) goes into every
    bucket, so each pair meets in exactly one block and no side is
    broadcast."""
    return (
        hashed.withColumn("__blk", F.pmod(F.xxhash64(F.col(id_col)), F.lit(n))),
        copied.withColumn(
            "__blk",
            F.explode(F.sequence(F.lit(0).cast("long"), F.lit(n - 1).cast("long"))),
        ),
    )


def _scored_pairs(
    queries: DataFrame,
    cands: DataFrame,
    keys: list[str],
    k: int | None = None,
    tau: float | None = None,
    carry: tuple[str, ...] = (),
    within: str | None = None,
) -> DataFrame:
    """The kernel over `queries` (query_id, q_vec, …) and `cands`
    (neighbor_id, c_vec, …) cogrouped on `keys`: the pairs that can
    reach a top `k` (or pass a rounded ≥ `tau`) and share their
    `within` id if one is named, as (query_id,
    neighbor_id, *carry, dot, den). `_cosine_of` turns dot/den into the
    ratio."""
    types = {
        f.name: f.dataType.simpleString()
        for f in queries.schema.fields + cands.schema.fields
    }
    schema = ", ".join(
        ["query_id long", "neighbor_id long"]
        + [f"{c} {types[c]}" for c in carry]
        + ["dot double", "den double"]
    )

    def fn(qt, ct):
        return _pair_block(qt, ct, k, tau, carry, within)

    return queries.groupBy(*keys).cogroup(cands.groupBy(*keys)).applyInArrow(
        fn, schema
    )


def _cosine_of() -> Column:
    """`_cosine`'s ratio of a `_scored_pairs` row, divided by Spark."""
    return F.col("dot") / F.col("den")


def labeled_cosine_topk(
    embeddings: DataFrame,
    k: int,
    query_filter: Column | None,
    block_on_label: bool,
    scaled_e6: bool,
) -> DataFrame:
    """`cosine_topk` with the query and neighbor labels carried along:
    (query_id, neighbor_id, q_label, c_label, rank, score)."""
    # Pin the parsed-vector frame: the query and candidate sides are
    # two consumers and would otherwise each replay the scan + parse.
    base = embeddings.select(
        "vec_id", "label", _as_double(F.col("embedding")).alias("vec")
    ).localCheckpoint(eager=False)
    queries = base if query_filter is None else base.filter(query_filter)
    queries = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("q_label"),
        F.col("vec").alias("q_vec"),
    )
    cands = base.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("c_label"),
        F.col("vec").alias("c_vec"),
    )
    if block_on_label:
        # an equi-join on label: NULL labels meet nothing
        queries = queries.where(F.col("q_label").isNotNull()).withColumn(
            "__blk", F.col("q_label")
        )
        cands = cands.where(F.col("c_label").isNotNull()).withColumn(
            "__blk", F.col("c_label")
        )
    else:
        cands, queries = _hash_spread(
            cands, "neighbor_id", queries, _bucket_count(base)
        )
    pairs = _scored_pairs(
        queries, cands, ["__blk"], k=k, carry=("q_label", "c_label")
    )
    if scaled_e6:
        cos, sim_col = e6(_cosine_of()), "cos_sim_e6"
    else:
        cos, sim_col = F.round(_cosine_of(), 6), "cos_sim"
    scored = pairs.select(
        "query_id", "neighbor_id", "q_label", "c_label", cos.alias(sim_col)
    )
    return _rank_top_k(scored, k, sim_col, carry=("q_label", "c_label"))


def cosine_topk(
    embeddings: DataFrame,
    k: int = 3,
    query_filter: Column | None = None,
    block_on_label: bool = True,
    scaled_e6: bool = False,
) -> DataFrame:
    """Exact cosine top-k neighbors for each query vector.

    Rounds the similarity before ranking so ordering (and therefore the
    selected top-k) is stable across engines/retries; ties break on
    neighbor id. The score is `cos_sim`, rounded to 6 places, or with
    `scaled_e6` the `e6` integer `cos_sim_e6`.

    Plan shape: label-blocked, each label's queries and candidates meet
    in one pair-kernel block; unblocked, the corpus is hashed by id into
    `defaultParallelism` buckets and the query side is copied into each,
    so the corpus is neither broadcast nor crossed with itself in the
    JVM. Each block returns its near-top-k shortlist per query, and one
    window ranks the union.
    """
    return labeled_cosine_topk(
        embeddings, k, query_filter, block_on_label, scaled_e6
    ).drop("q_label", "c_label")


def _lloyd_codebook(X, n_centroids: int, iters: int, seed: int):
    """Driver-side Lloyd k-means over a bounded sample (numpy).

    The IVF coarse quantizer does not need convergence or distribution —
    the standard shape (FAISS-style) is: train the codebook on a small
    sample, then assign the full corpus in one broadcast pass. Training
    cost is O(sample × k × iters) on the driver, independent of corpus
    size; the previous pyspark.ml KMeans spent ~20× the numpy cost on
    ml-session init and per-iteration job scheduling for identical
    bucketing quality.

    Deterministic: seeded init, stable argmin tie-break (lowest centroid
    id), empty clusters keep their previous center.
    """
    rng = np.random.RandomState(seed)
    n = len(X)
    k = min(n_centroids, n)
    C = X[rng.choice(n, size=k, replace=False)].copy()
    for _ in range(iters):
        # ||x-c||² argmin via the expanded form; ||x||² is rank-constant.
        d2 = X @ C.T * (-2.0) + (C * C).sum(axis=1)[None, :]
        assign = d2.argmin(axis=1)
        counts = np.bincount(assign, minlength=k).astype(np.float64)
        sums = np.zeros_like(C)
        np.add.at(sums, assign, X)
        nonempty = counts > 0
        C[nonempty] = sums[nonempty] / counts[nonempty, None]
    return C


def _trained_codebook(
    sample_frame: DataFrame,
    id_col: str,
    n_centroids: int,
    seed: int,
    iters: int = 5,
    train_fraction: float = 0.2,
    to_matrix=None,
):
    """The trained-codebook prelude of `ivf_topk`, `ivf_pq_topk`,
    `semdedup` and `clustering.kmeans_topics`: collect a bounded
    hash-gated sample (≤ 4096 rows, ≥ 4 per centroid), train a Lloyd
    codebook on it driver-side, and return (X, C, dist) — the sample
    matrix, the centroids, and `dist(V)` = ‖v−c‖² up to the
    rank-constant ‖v‖² (one matmul per batch; argmin ties to the lowest
    centroid id). None when the sample is empty. `to_matrix` turns the
    sample rows into X (default: their `vec` arrays)."""
    sample = bounded_hash_sample(
        sample_frame,
        id_col,
        seed,
        fraction=train_fraction,
        min_rows=n_centroids * 4,
    )
    if not sample:
        return None
    if to_matrix is None:
        X = np.asarray([row["vec"] for row in sample], dtype=np.float64)
    else:
        X = to_matrix(sample)
    C = _lloyd_codebook(X, n_centroids, iters=iters, seed=seed)
    c_norm2 = (C * C).sum(axis=1)

    def dist(V: np.ndarray) -> np.ndarray:
        return V @ C.T * (-2.0) + c_norm2[None, :]

    return X, C, dist


def _list_topk(qpdf: pd.DataFrame, cpdf: pd.DataFrame, k: int, sims_of) -> pd.DataFrame:
    """Per-inverted-list local top-k of one cogrouped (queries,
    candidates) block: `sims_of(qpdf, cpdf)` scores the block as a
    rounded query × candidate matrix; each query keeps its k best
    non-self candidates by (cos desc, neighbor_id asc) — the exact local
    order, so the union of the per-list top-k contains the global
    top-k. Output matches `_LIST_SCHEMA`."""
    out_q, out_n, out_s = [], [], []
    if not (qpdf.empty or cpdf.empty):
        sims = sims_of(qpdf, cpdf)
        nids = cpdf["neighbor_id"].to_numpy()
        for i, qid in enumerate(qpdf["query_id"].to_numpy()):
            mask = nids != qid
            cand_n, cand_s = nids[mask], sims[i][mask]
            order = np.lexsort((cand_n, -cand_s))[:k]
            out_q.extend([qid] * len(order))
            out_n.extend(cand_n[order])
            out_s.extend(cand_s[order])
    return pd.DataFrame(
        {"query_id": np.asarray(out_q, dtype="int64"),
         "neighbor_id": np.asarray(out_n, dtype="int64"),
         "cos_sim": np.asarray(out_s, dtype="float64")}
    )


def _exact_sims(qpdf: pd.DataFrame, cpdf: pd.DataFrame) -> np.ndarray:
    Q = np.stack(qpdf["q_vec"].to_numpy())
    Cm = np.stack(cpdf["c_vec"].to_numpy())
    qn = np.linalg.norm(Q, axis=1)
    cn = np.linalg.norm(Cm, axis=1)
    return np.round((Q @ Cm.T) / (qn[:, None] * cn[None, :]), 6)


def ivf_topk(
    embeddings: DataFrame,
    n_centroids: int = 32,
    n_probe: int = 4,
    k: int = 3,
    query_filter: Column | None = None,
) -> DataFrame:
    """IVF-style approximate top-k: sampled codebook + multi-probe lists.

    Train a small coarse-quantizer codebook driver-side on a bounded
    sample (`_lloyd_codebook`), assign every corpus vector to its nearest
    centroid (the inverted list), and search each query only against its
    `n_probe` closest lists. The classic IVF trade: recall rises with
    n_probe, cost falls with n_centroids.

    100 TB shape: the codebook sample is capped (4096 rows — a
    metadata-scale driver action, NOT a data-path collect), the centroid
    matrix ships to executors inside the Arrow-batched assignment UDF
    (n_centroids × dim doubles — kilobytes), and both assignment passes
    are one vectorized numpy matmul per Arrow batch. Scoring runs as a
    blocked matmul PER INVERTED LIST (cogrouped `applyInPandas`): each
    task gets one list's query block and candidate block and scores them
    with a single `Q @ C.T` — the FAISS search shape; this trained
    (rows-only) form needs no fold order, unlike the fold-exact pair
    kernel of the hash-oracle-able scorers. The per-list local top-k
    keeps the final global window at ≤ n_probe·k rows per query.
    """
    from pyspark.sql.functions import pandas_udf

    base = embeddings.select(
        "vec_id", "label", _as_double(F.col("embedding")).alias("vec")
    )
    codebook = _trained_codebook(
        base.select("vec_id", "vec"), "vec_id", n_centroids, seed=42
    )
    if codebook is None:
        return embeddings.sparkSession.createDataFrame([], _TOPK_SCHEMA)
    _, _, dist = codebook

    @pandas_udf("int")
    def nearest_list(series: pd.Series) -> pd.Series:
        return pd.Series(
            dist(np.stack(series.to_numpy())).argmin(axis=1).astype("int32")
        )

    @pandas_udf("array<int>")
    def probe_lists(series: pd.Series) -> pd.Series:
        # stable argsort: ties break on lowest centroid id, deterministic.
        order = np.argsort(dist(np.stack(series.to_numpy())), axis=1, kind="stable")
        return pd.Series(list(order[:, :n_probe].astype("int32")))

    cands = base.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("vec").alias("c_vec"),
        nearest_list("vec").alias("centroid_id"),
    )

    q_base = base if query_filter is None else base.filter(query_filter)
    queries = q_base.select(
        F.col("vec_id").alias("query_id"),
        F.col("vec").alias("q_vec"),
        F.explode(probe_lists("vec")).alias("centroid_id"),
    )

    def _score_list(qpdf: pd.DataFrame, cpdf: pd.DataFrame) -> pd.DataFrame:
        return _list_topk(qpdf, cpdf, k, _exact_sims)

    scored = (
        queries.groupBy("centroid_id")
        .cogroup(cands.groupBy("centroid_id"))
        .applyInPandas(_score_list, _LIST_SCHEMA)
    )
    return _rank_top_k(scored, k, "cos_sim")


def embedding_cosine_pairs(
    embeddings: DataFrame,
    threshold: float = 0.35,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a < id_b, cos ≥ threshold).

    The dedup-by-embedding operator: one pair-kernel block per label
    (at 100 TB, block on an LSH bucket or IVF centroid instead of / in
    addition to the label); the kernel returns only the pairs whose raw
    cosine can pass the threshold, and Spark rounds and filters them.
    """
    base = embeddings.where(F.col("label").isNotNull()).select(
        F.col("vec_id"),
        F.col("label").alias("__blk"),
        _as_double(F.col("embedding")).alias("vec"),
    )
    a = base.select(
        F.col("vec_id").alias("query_id"), "__blk", F.col("vec").alias("q_vec")
    )
    b = base.select(
        F.col("vec_id").alias("neighbor_id"), "__blk", F.col("vec").alias("c_vec")
    )
    pairs = _scored_pairs(a, b, ["__blk"], tau=float(threshold))
    return pairs.select(
        F.col("query_id").alias("id_a"),
        F.col("neighbor_id").alias("id_b"),
        F.round(_cosine_of(), 6).alias("cos_sim"),
    ).filter(F.col("cos_sim") >= threshold)


def lsh_bucket_topk(
    embeddings: DataFrame,
    planes: int = 8,
    k: int = 3,
    query_filter: Column | None = None,
    probes: int = 1,
) -> DataFrame:
    """Approximate top-k: sign-bucket vectors, search within buckets.

    The "hyperplanes" are deterministic pseudo-random ±1 projections
    derived from md5 of (plane, dimension) — reproducible without any
    stored model. Recall improves with fewer planes (bigger buckets) or
    multi-probe; this is the scale path, checked rows-only.

    The sign matrix depends only on (plane, dim), so it is computed ONCE
    driver-side (Python md5 == engine md5) and shipped as literal arrays
    — per-row work is just `planes` fused multiply-adds over the vector,
    not per-row hashing.

    `probes` > 1 turns on multi-probe: each query additionally searches
    the probes-1 buckets differing in one sign bit — the standard
    recall knob that beats dropping planes (candidate volume grows
    linearly with probes instead of doubling per removed plane).

    Output: (query_id, neighbor_id, rank, cos_sim_e6).
    """
    import hashlib

    base = embeddings.select(
        "vec_id", "label", _as_double(F.col("embedding")).alias("vec")
    )
    row = base.select(F.size("vec").alias("d")).first()
    if row is None:  # no row to probe the width from
        return embeddings.sparkSession.createDataFrame(
            [], "query_id long, neighbor_id long, rank int, cos_sim_e6 long"
        )
    dim = row["d"]

    def sign_of(p: int, d: int) -> float:
        h = int(hashlib.md5(f"{p}:{d}".encode()).hexdigest()[:15], 16)
        return 1.0 if h % 2 == 0 else -1.0

    def plane_sign(p: int) -> Column:
        signs = F.array(*[F.lit(sign_of(p, d)) for d in range(dim)])
        proj = dot_expr("vec", signs)
        return F.when(proj >= 0, F.lit(1)).otherwise(F.lit(0))

    bucket = None
    for p in range(planes):
        bit = plane_sign(p) * (2**p)
        bucket = bit if bucket is None else bucket + bit
    bucketed = base.withColumn("bucket", bucket)

    queries = bucketed if query_filter is None else bucketed.filter(query_filter)
    if probes > 1:
        # Multi-probe: each query also searches the buckets whose sign
        # pattern differs in one plane (nearest buckets first — a
        # near-boundary projection is the usual reason a true neighbor
        # lands one bucket over). probes-1 extra buckets; candidate
        # volume scales linearly with probes, not 2^planes.
        if probes > planes + 1:
            raise ValueError("probes can cover at most planes+1 buckets")
        probe_buckets = F.array(
            *[
                F.col("bucket").bitwiseXOR(F.lit(m))
                for m in [0] + [2**i for i in range(probes - 1)]
            ]
        )
        queries = queries.withColumn(
            "__probe", F.explode(probe_buckets)
        )
    else:
        queries = queries.withColumn("__probe", F.col("bucket"))
    queries = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("vec").alias("q_vec"),
        F.col("__probe").alias("__blk"),
    )
    cands = bucketed.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("vec").alias("c_vec"),
        F.col("bucket").alias("__blk"),
    )
    pairs = _scored_pairs(queries, cands, ["__blk"], k=k)
    scored = pairs.select(
        "query_id", "neighbor_id", e6(_cosine_of()).alias("cos_sim_e6")
    )
    if probes > 1:
        # a neighbor reachable through several probed buckets appears
        # once per bucket — dedupe before ranking
        scored = scored.distinct()
    return _rank_top_k(scored, k, "cos_sim_e6")


def label_centroid_cosine(
    embeddings: DataFrame,
    outlier_threshold: float = 0.5,
) -> DataFrame:
    """Embedding-hygiene pass: each vector's cosine to its label's mean
    centroid, plus `is_outlier` (cos < `outlier_threshold`) — the
    standard cheap screen for mislabeled / out-of-cluster embeddings
    before they poison contrastive or retrieval training.

    Plan shape (100 TB): centroids are label × dim — KiB-scale — so the
    corpus joins a BROADCAST centroid frame on label and the cosine is
    one deterministic `zip_with`/`aggregate` fold per row: the full
    corpus is never exploded and never shuffles. Only the centroid
    build shuffles, and that input is the posexploded corpus reduced by
    map-side combine to labels × dim partials per task. Cosines are
    rounded before comparison/threshold so results are engine-stable
    (same contract as `cosine_topk`).
    """
    base = embeddings.select(
        "vec_id", "label", _as_double(F.col("embedding")).alias("vec")
    )
    pos = base.select(
        "label", F.posexplode("vec").alias("pos", "v")
    )
    cent = pos.groupBy("label", "pos").agg(F.avg("v").alias("c"))
    centv = cent.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "c"))),
            lambda s: s["c"],
        ).alias("cvec")
    )
    joined = base.join(F.broadcast(centv), "label")
    cos = F.round(
        dot_expr("vec", "cvec") / (norm_expr("vec") * norm_expr("cvec")), 6
    )
    return joined.select(
        "vec_id",
        "label",
        cos.alias("cos_to_centroid"),
    ).withColumn("is_outlier", F.col("cos_to_centroid") < outlier_threshold)


def ivf_pq_topk(
    embeddings: DataFrame,
    k: int = 3,
    rerank_factor: int = 8,
    query_filter: Column | None = None,
) -> DataFrame:
    """IVF + Product Quantization approximate top-k — the MEMORY-scale
    ANN path: candidates are searched as 8 sub-codebook codes (8 bits
    each) plus their true norm, not as full vectors.

    At 100 TB the index, not the scan, is what must fit: a 64-dim
    float32 corpus is 256 B/vector; with m=8 the searched
    representation is 8 codes + 1 float ≈ 16 B — a ~16× reduction, the
    difference between an index that fits executor memory and one that
    spills. Codebooks (16 coarse lists + per-subspace) train driver-side
    on the same bounded hash-gated sample as `ivf_topk` (metadata-scale,
    a pure function of the data) and ship to executors as numpy
    constants inside the Arrow UDFs.

    Search is FAISS-style ADC (asymmetric distance computation): PQ
    codes encode the RESIDUAL v − coarse_centroid; per (query, list)
    the kernel builds an m × 2^bits lookup table of query-subvector ·
    sub-centroid dot products, so each candidate scores in m table
    lookups (one numpy gather per list — no per-pair math, no
    reconstruction). cos(q,c) ≈ (q·centroid + Σ_j T[j, code_j]) /
    (‖q‖·‖c‖) with the EXACT stored candidate norm, which removes the
    norm's quantization error from the estimate.

    `rerank_factor` adds the FAISS `refine` stage: each list returns an
    ADC shortlist of k·rerank_factor, and the union is rescored with
    EXACT cosines (a broadcast join of the query-proportional shortlist
    against the full-vector corpus — never a corpus shuffle) before the
    final top-k. On clustered real-world embeddings ADC alone ranks
    well; on this near-uniform unit-sphere fixture (PQ's worst case)
    refine is what carries recall (~0.17 raw → ~0.85 refined at the
    defaults). Pass rerank_factor=0 for pure in-index ADC search.

    Approximate by contract (rows-only check): recall is floor-asserted
    against the brute-force oracle in tests, alongside the ivf_topk
    curve. `rerank_factor` is the recall knob; the index geometry
    (16 lists, 8 probed) is fixed.
    """
    from pyspark.sql.functions import pandas_udf

    n_centroids, n_probe, pq_m, n_sub, seed = 16, 8, 8, 1 << 8, 42
    shortlist_k = k * rerank_factor if rerank_factor else k

    base = embeddings.select(
        "vec_id", "label", _as_double(F.col("embedding")).alias("vec")
    )
    codebook = _trained_codebook(
        base.select("vec_id", "vec"), "vec_id", n_centroids, seed
    )
    if codebook is None:
        return embeddings.sparkSession.createDataFrame([], _TOPK_SCHEMA)
    X, C, dist = codebook
    dim = X.shape[1]
    if dim % pq_m != 0:
        raise ValueError(f"pq_m={pq_m} must divide dim={dim}")
    d_sub = dim // pq_m

    # Per-subspace codebooks over residuals of the training sample.
    R = X - C[dist(X).argmin(axis=1)]
    sub_books = np.stack(
        [
            _lloyd_codebook(
                R[:, j * d_sub : (j + 1) * d_sub], n_sub, iters=5, seed=seed + j + 1
            )
            for j in range(pq_m)
        ]
    )  # (pq_m, n_sub_eff, d_sub); n_sub_eff ≤ n_sub if the sample is tiny

    @pandas_udf("struct<centroid_id:int, codes:array<short>, vnorm:double>")
    def encode(series: pd.Series) -> pd.DataFrame:
        V = np.stack(series.to_numpy())
        cid = dist(V).argmin(axis=1)
        Rv = V - C[cid]
        codes = np.empty((len(V), pq_m), dtype=np.int16)
        for j in range(pq_m):
            B = sub_books[j]
            sub = Rv[:, j * d_sub : (j + 1) * d_sub]
            dj = sub @ B.T * (-2.0) + (B * B).sum(axis=1)[None, :]
            codes[:, j] = dj.argmin(axis=1).astype(np.int16)
        return pd.DataFrame(
            {
                "centroid_id": cid.astype("int32"),
                "codes": list(codes),
                "vnorm": np.linalg.norm(V, axis=1),
            }
        )

    @pandas_udf("array<int>")
    def probe_lists(series: pd.Series) -> pd.Series:
        order = np.argsort(dist(np.stack(series.to_numpy())),
                           axis=1, kind="stable")
        return pd.Series(list(order[:, :n_probe].astype("int32")))

    cands = base.select(
        F.col("vec_id").alias("neighbor_id"), encode("vec").alias("e")
    ).select(
        "neighbor_id", "e.centroid_id", "e.codes", "e.vnorm"
    )

    q_base = base if query_filter is None else base.filter(query_filter)
    queries = q_base.select(
        F.col("vec_id").alias("query_id"),
        F.col("vec").alias("q_vec"),
        F.explode(probe_lists("vec")).alias("centroid_id"),
    )

    def _adc_sims(qpdf: pd.DataFrame, cpdf: pd.DataFrame) -> np.ndarray:
        cent = C[int(cpdf["centroid_id"].iloc[0])]
        Q = np.stack(qpdf["q_vec"].to_numpy())
        qn = np.linalg.norm(Q, axis=1)
        codes = np.stack(cpdf["codes"].to_numpy()).astype(np.int64)  # (nc, m)
        vnorm = cpdf["vnorm"].to_numpy()
        # ADC tables: T[q, j, s] = q_sub_j · sub_book[j][s], then
        # dot(q, c) ≈ q·centroid + Σ_j T[q, j, code_j] — m gathers per
        # list, never a per-pair loop.
        Qs = Q.reshape(len(Q), pq_m, d_sub)
        T = np.einsum("qjd,jsd->qjs", Qs, sub_books)
        resid = np.zeros((len(Q), len(codes)))
        for j in range(pq_m):
            resid += T[:, j, :][:, codes[:, j]]
        return np.round(
            ((Q @ cent)[:, None] + resid) / (qn[:, None] * vnorm[None, :]), 6
        )

    def _score_list(qpdf: pd.DataFrame, cpdf: pd.DataFrame) -> pd.DataFrame:
        return _list_topk(qpdf, cpdf, shortlist_k, _adc_sims)

    scored = (
        queries.groupBy("centroid_id")
        .cogroup(cands.groupBy("centroid_id"))
        .applyInPandas(_score_list, _LIST_SCHEMA)
    )
    if not rerank_factor:
        return _rank_top_k(scored, k, "cos_sim")

    # Refine: exact cosines for the shortlist only. Each candidate lives
    # in exactly one inverted list, so shortlist pairs are already
    # unique; the shortlist is query-proportional (≤ n_probe·k·rerank
    # rows per query) and BROADCASTs into the corpus-side vector fetch.
    shortlist = scored.select("query_id", "neighbor_id")
    exact = (
        _normed(base, "neighbor_id", "r")
        .join(F.broadcast(shortlist), "neighbor_id")
        .join(F.broadcast(_normed(q_base, "query_id", "q")), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(_cosine("q", "r"), 6).alias("cos_sim"),
        )
    )
    return _rank_top_k(exact, k, "cos_sim")


def semdedup(
    embeddings: DataFrame,
    n_clusters: int = 16,
    tau: float = 0.95,
    train_fraction: float = 0.2,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic deduplication in embedding
    space — cluster the corpus with a coarse codebook, then WITHIN each
    cluster greedily drop every vector whose cosine to an already-kept
    vector is ≥ `tau`. Near-duplicate *meanings* (paraphrases, template
    rewrites) that no lexical dedup can see collapse to one exemplar.

    Scale shape: the quadratic step runs only inside clusters — the
    same bound IVF puts on search, here put on dedup; the codebook is
    the engine's standard bounded-sample driver-side Lloyd, assignment
    is one Arrow matmul per batch, and each cluster's greedy pass is a
    single cogrouped numpy kernel (ids ascending, so the kept exemplar
    set is deterministic — min-id convention like every dedup here).
    Cross-cluster near-dups are the documented recall trade (raise
    n_clusters with corpus size; duplicates land in the same cluster
    precisely because they are near-identical vectors).

    Returns (vec_id, cluster, keep, dup_of) — `dup_of` is the kept
    exemplar's id for dropped rows, NULL for keepers.
    """
    from pyspark.sql.functions import pandas_udf

    base = embeddings.select(
        "vec_id", _as_double(F.col("embedding")).alias("vec")
    )
    codebook = _trained_codebook(
        base, "vec_id", n_clusters, seed=41, train_fraction=train_fraction
    )
    if codebook is None:
        return embeddings.sparkSession.createDataFrame(
            [], "vec_id long, cluster int, keep boolean, dup_of long"
        )
    _, _, dist = codebook

    @pandas_udf("int")
    def assign(s: pd.Series) -> pd.Series:
        return pd.Series(
            dist(np.stack(s.to_numpy())).argmin(axis=1).astype("int32")
        )

    clustered = base.withColumn("cluster", assign("vec"))

    def _greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["vec_id"].to_numpy()
        order = np.argsort(ids, kind="stable")
        V = np.stack(pdf["vec"].to_numpy())[order]
        ids = ids[order]
        norms = np.linalg.norm(V, axis=1)
        norms[norms == 0] = 1.0
        U = V / norms[:, None]
        n = len(ids)
        keep = np.ones(n, dtype=bool)
        dup_of = np.full(n, -1, dtype=np.int64)
        kept_idx: list[int] = []
        for i in range(n):
            if kept_idx:
                sims = U[kept_idx] @ U[i]
                j = int(np.argmax(sims))
                if sims[j] >= tau:
                    keep[i] = False
                    dup_of[i] = ids[kept_idx[j]]
                    continue
            kept_idx.append(i)
        return pd.DataFrame(
            {
                "vec_id": ids,
                "cluster": pdf["cluster"].iloc[0],
                "keep": keep,
                "dup_of": [None if d < 0 else d for d in dup_of],
            }
        )

    return clustered.groupBy("cluster").applyInPandas(
        _greedy, "vec_id long, cluster int, keep boolean, dup_of long"
    )


# ---------------------------------------------------------------------------
# Johnson–Lindenstrauss random projection
# ---------------------------------------------------------------------------

def jl_signs(out_dims: int, dim: int) -> list[list[float]]:
    """Deterministic Achlioptas ±1 matrix, md5-derived from
    ("jl", row, dim) — stateless, identical in any engine or language.
    Row j is the j-th projection direction."""
    import hashlib

    rows = []
    for j in range(out_dims):
        row = []
        for d in range(dim):
            h = int(hashlib.md5(f"jl:{j}:{d}".encode()).hexdigest()[:15], 16)
            row.append(1.0 if h % 2 == 0 else -1.0)
        rows.append(row)
    return rows


def random_projection(
    embeddings: DataFrame,
    out_dims: int = 8,
    dim: int | None = None,
) -> DataFrame:
    """Johnson–Lindenstrauss dimensionality reduction: project each
    vector onto `out_dims` deterministic ±1 directions, scaled by
    1/sqrt(out_dims) (Achlioptas 2003 — the database-friendly JL
    construction). Expected squared distances are preserved, so the
    output feeds SemDeDup / IVF / cosine dedup at a fraction of the
    width.

    Returns (vec_id, label, proj: array<double>). The sign matrix depends
    only on (j, d): computed once driver-side, shipped as column
    literals — per-row cost is out_dims fused multiply-add passes in
    the scan stage, no shuffle, no stored model.
    """
    id_cols = ("vec_id", "label")
    base = embeddings.select(
        *id_cols, _as_double(F.col("embedding")).alias("__v")
    )
    if dim is None:
        # Eager one-row probe for the vector width; pass `dim` to skip
        # it (and to support empty frames, which have no row to probe).
        row = base.select(F.size("__v").alias("d")).first()
        if row is None:
            return base.select(
                *id_cols, F.lit(None).cast("array<double>").alias("proj")
            )
        dim = row["d"]
    signs = jl_signs(out_dims, dim)
    scale = out_dims ** -0.5

    def proj_of(j: int) -> Column:
        s = F.array(*[F.lit(v) for v in signs[j]])
        return dot_expr("__v", s) * F.lit(scale)

    return base.select(
        *id_cols,
        F.array(*[proj_of(j) for j in range(out_dims)]).alias("proj"),
    )


def hard_negatives(
    embeddings: DataFrame,
    k: int = 3,
    query_filter: Column | None = None,
) -> DataFrame:
    """Contrastive-training pair mining: for each anchor, the k most
    cosine-similar vectors with a DIFFERENT label — the "hard
    negatives" that make embedding/reranker training work (easy random
    negatives teach nothing; the near-misses define the boundary).

    Exact labeled baseline: the candidate join is all cross-label
    pairs (the complement of `cosine_topk`'s same-label block), scored
    with the same deterministic sequential-fold cosine and rounded
    before ranking so the selected set is engine-stable. At 100 TB the
    same scorer runs on an ANN shortlist instead (ivf_topk over all
    labels, then drop same-label hits) — shortlist-then-refine, the
    ivf_pq contract; this exact form is for candidate sets and
    fixtures. Ties break on neighbor id.
    """
    base = embeddings.select(
        "vec_id", "label", _as_double(F.col("embedding")).alias("vec")
    )
    anchors = base if query_filter is None else base.filter(query_filter)
    anchors = _normed(anchors, "anchor_id", "a", F.col("label").alias("a_label"))
    cands = _normed(base, "negative_id", "n", F.col("label").alias("n_label"))
    joined = anchors.join(
        cands, F.col("a_label") != F.col("n_label")
    )
    scored = joined.select(
        "anchor_id",
        "a_label",
        "negative_id",
        F.col("n_label").alias("negative_label"),
        F.round(_cosine("a", "n"), 6).alias("cos_sim"),
    )
    return _rank_top_k(
        scored, k, "cos_sim", q="anchor_id", nid="negative_id",
        carry=("negative_label",),
    )


def hard_negatives_ivf(
    embeddings: DataFrame,
    k: int = 3,
    n_centroids: int = 32,
    n_probe: int = 4,
    overfetch: int = 4,
    query_filter: Column | None = None,
) -> DataFrame:
    """The 100 TB form of `hard_negatives`: mine cross-label near-misses
    from an IVF shortlist instead of the all-cross-label join.

    `ivf_topk` over-fetches `k · overfetch` label-blind neighbors per
    anchor (same-label hits — by construction the NEAREST vectors for a
    clustered corpus — will occupy shortlist slots, so the over-fetch
    factor is what buys cross-label recall), labels join in by id, the
    same-label rows drop, and the survivors re-rank to the final k with
    the exact operator's (cos desc, id asc) total order. Same output
    schema as `hard_negatives`; recall vs the exact form is measured in
    tests/test_similarity_recall.py.

    Scale shape: everything data-sized is inherited from `ivf_topk`
    (bounded codebook sample, per-list blocked matmuls); this adds only
    two id-keyed joins against the (vec_id, label) projection and a
    per-anchor window over ≤ k·overfetch·n_probe rows.
    """
    short = ivf_topk(
        embeddings,
        n_centroids=n_centroids,
        n_probe=n_probe,
        k=k * overfetch,
        query_filter=query_filter,
    )
    labels = embeddings.select("vec_id", "label")
    anchors = labels.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("a_label")
    )
    negs = labels.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("negative_label"),
    )
    joined = (
        short.join(anchors, "query_id")
        .join(negs, "neighbor_id")
        .filter(F.col("a_label") != F.col("negative_label"))
    )
    return _rank_top_k(
        joined, k, "cos_sim", carry=("negative_label",)
    ).withColumnsRenamed(
        {"query_id": "anchor_id", "neighbor_id": "negative_id"}
    )


def _frozen_codebook(base: DataFrame, n_centroids: int) -> DataFrame:
    """The fixed codebook of the hash-oracle-able twins: the vectors of
    a (vec_id, vec) frame with the ``n_centroids`` smallest ids, as
    (cid, cvec)."""
    return base.filter(F.col("vec_id") < n_centroids).select(
        F.col("vec_id").alias("cid"), F.col("vec").alias("cvec")
    )


def _assign_block(vt: pa.Table, ct: pa.Table, keep_rank: int) -> pa.Table:
    """Kernel of `_fixed_assign` over one block of (vec_id, vec) rows
    and the whole codebook (cid, cvec): per vec_id, the `keep_rank`
    rows a window ordered by (d2 asc — NULL first, NaN last —, cid asc)
    numbers first, d2 = (‖v‖² + ‖c‖²) − 2.0·v·c in fold order."""
    picks = [(np.zeros(0, np.int64),) * 2 + (np.zeros(0),) + (np.zeros(0, bool),)]
    if vt.num_rows and ct.num_rows:
        v, c = _Side(vt, "vec"), _Side(ct, "cvec")
        for rows in v.tiles(c.n):
            dot, ok = v.dots(rows, c)
            d2 = (v.sq[rows, None] + c.sq[None, :]) - 2.0 * dot
            # larger key = earlier in the window's order
            key = np.where(ok, -d2, np.inf)
            key[np.isnan(key)] = -np.inf
            kth = -np.inf
            if c.n > keep_rank:
                kth = np.partition(key, -keep_rank, axis=1)[:, -keep_rank, None]
            r, cc = np.nonzero(key >= kth)
            picks.append((rows[r], cc, d2[r, cc], ok[r, cc]))
    ri, ci, d2, ok = (np.concatenate(p) for p in zip(*picks))
    if len(ri):
        vid, v_ok = _ids(vt, "vec_id")
        cid, _ = _ids(ct, "cid")
        g_id, g_null = vid[ri], ~v_ok[ri]
        order = np.lexsort((cid[ci], np.where(ok, d2, 0.0), ok, g_id, g_null))
        ri, ci, g_id, g_null = ri[order], ci[order], g_id[order], g_null[order]
        at = np.arange(len(ri))
        first = np.ones(len(ri), dtype=bool)
        first[1:] = (g_id[1:] != g_id[:-1]) | (g_null[1:] != g_null[:-1])
        rank = at - np.maximum.accumulate(np.where(first, at, 0))
        ri, ci = ri[rank < keep_rank], ci[rank < keep_rank]
    return pa.table(
        {
            "vec_id": vt.column("vec_id").take(ri),
            "cid": ct.column("cid").take(ci),
            "vec": vt.column("vec").take(ri),
        }
    )


def _fixed_assign(
    base: DataFrame, cents: DataFrame, keep_rank: int
) -> DataFrame:
    """Nearest-centroid ranking of a (vec_id, vec) frame against a
    `_frozen_codebook`: sequential-fold squared distances
    ‖v‖² + ‖c‖² − 2·v·c, ties to the smaller cid, keep the `keep_rank`
    closest as (vec_id, cid, vec). The one assignment kernel of
    `ivf_fixed_topk` (corpus top-1 + query probe lists),
    `ivf_fixed_list_profile`, `semdedup_fixed` and
    `clustering.fixed_codebook_assign`, so the balance profile and the
    clustering twins can never desynchronize from the index arithmetic.
    The corpus is hashed by id into `defaultParallelism` blocks and the
    codebook is copied into each; every block ranks its rows in the
    pair kernel, so no window or per-pair JVM fold runs."""
    rows, book = _hash_spread(base, "vec_id", cents, _bucket_count(base))

    def fn(vt, ct):
        return _assign_block(vt, ct, keep_rank)

    return rows.groupBy("__blk").cogroup(book.groupBy("__blk")).applyInArrow(
        fn, "vec_id long, cid long, vec array<double>"
    )


def ivf_fixed_topk(
    embeddings: DataFrame,
    n_centroids: int = 16,
    n_probe: int = 4,
    k: int = 3,
    query_filter: Column | None = None,
) -> DataFrame:
    """IVF approximate top-k with a FIXED seed codebook — the
    hash-oracle-able ANN variant.

    The trained form (`ivf_topk`) is rows-only checkable: its Lloyd
    codebook and numpy assignment arithmetic are not replayable in SQL.
    This variant freezes the codebook to the corpus vectors with the
    ``n_centroids`` smallest ids and computes EVERYTHING with
    sequential-fold arithmetic (the pair kernel's column-by-column dot
    products and norms — the same index-order folds as `dot_expr` /
    `norm_expr` and DuckDB's list functions), so assignments, probe
    lists, and the final ranking are bit-deterministic and a DuckDB
    oracle can replay the whole index end-to-end. Codebook quality is NOT the point —
    recall tuning stays with the trained form; this one pins index
    CORRECTNESS (bucket routing, probe union, rank) under a hash
    oracle, and probing ALL lists must reproduce the exact brute-force
    top-k (pinned in tests).

    Plan shape: assignment is `_fixed_assign` (the n_centroids-row
    codebook copied into each hash block of the corpus); search
    cogroups the queries' probed lists with the corpus lists on
    centroid id, one pair-kernel block per list — no cartesian over the
    corpus.

    Output: (query_id, neighbor_id, rank, cos_sim_e6).
    """
    # Pin the parsed-vector frame: three consumers (codebook filter,
    # corpus assignment, query assignment) otherwise each replay the
    # scan + double-cast of every embedding (measured: 4 source scans).
    base = embeddings.select(
        "vec_id", _as_double(F.col("embedding")).alias("vec")
    ).localCheckpoint(eager=False)
    cents = _frozen_codebook(base, n_centroids)

    corpus = _fixed_assign(base, cents, 1).select(
        F.col("vec_id").alias("neighbor_id"),
        "cid",
        F.col("vec").alias("c_vec"),
    )
    q_base = base if query_filter is None else base.filter(query_filter)
    queries = _fixed_assign(q_base, cents, n_probe).select(
        F.col("vec_id").alias("query_id"), "cid", F.col("vec").alias("q_vec")
    )

    pairs = _scored_pairs(queries, corpus, ["cid"], k=k)
    # e6, not a rounded double: the ORDER BY over a fractional round
    # could flip ranks across engine versions.
    scored = pairs.select(
        "query_id", "neighbor_id", e6(_cosine_of()).alias("cos_sim_e6")
    ).distinct()  # a neighbor can appear via several probed lists
    return _rank_top_k(scored, k, "cos_sim_e6")


def ivf_fixed_list_profile(
    embeddings: DataFrame,
    n_centroids: int = 16,
) -> DataFrame:
    """Inverted-list balance profile for the fixed-codebook IVF index:
    per centroid, its list size, its e6-scaled share of the corpus,
    and its load factor (list_size x n_centroids / N — 1e6 means
    perfectly balanced). THE health check before trusting IVF probe
    latencies: a few overloaded lists mean every probe that routes to
    them scans a disproportionate corpus slice, and n_probe tuning
    fights the imbalance instead of the recall target. Empty lists
    appear with list_size 0 (dead centroids are themselves a finding).

    Same assignment arithmetic as `ivf_fixed_topk` (sequential-fold
    distances, min-distance/ties-to-smallest-cid routing), so the
    whole readout replays in DuckDB under a hash oracle. Plan: one
    corpus scan, `_fixed_assign`'s pair-kernel top-1, then
    centroid-cardinality aggregation.
    """
    base = embeddings.select(
        "vec_id", _as_double(F.col("embedding")).alias("vec")
    ).localCheckpoint(eager=False)
    cents = _frozen_codebook(base, n_centroids)
    assigned = _fixed_assign(base, cents, 1).select("vec_id", "cid")
    sizes = assigned.groupBy("cid").agg(
        F.count(F.lit(1)).cast("long").alias("list_size")
    )
    full = (
        cents.select("cid")
        .join(sizes, "cid", "left")
        .select(
            "cid",
            F.coalesce("list_size", F.lit(0)).cast("long").alias(
                "list_size"
            ),
        )
        .localCheckpoint(eager=False)
    )
    tot = full.agg(F.sum("list_size").cast("long").alias("__n"))
    return full.crossJoin(F.broadcast(tot)).select(
        "cid",
        "list_size",
        e6(
            F.col("list_size").cast("double") / F.col("__n").cast("double")
        ).alias("share_e6"),
        e6(
            F.col("list_size").cast("double")
            * F.lit(float(n_centroids))
            / F.col("__n").cast("double")
        ).alias("load_factor_e6"),
    )


def semdedup_fixed(
    embeddings: DataFrame,
    n_centroids: int = 16,
    tau: float = 0.9,
    pair_salt: int = 32,
) -> DataFrame:
    """Fixed-codebook SemDeDup twin — the hash-oracle-able variant of
    `semdedup` (same division of labor as ivf_topk / ivf_fixed_topk).

    Assignment uses the frozen codebook (corpus vectors with the
    ``n_centroids`` smallest ids; fold arithmetic via `_fixed_assign`,
    as `clustering.fixed_codebook_assign`), and the keeper rule is the
    MIN-ID-ANCHOR form: vector b is a duplicate iff SOME lower-id
    vector a in the same cluster has round(cos(a,b), 6) ≥ tau, with
    dup_of = the smallest such a. That rule is a pure join/aggregation
    (no sequential greedy state), so the ENTIRE operator replays in
    SQL under the hash oracle. It differs from the trained form's
    greedy pass only when a duplicate would itself anchor later drops
    (greedy re-anchors on kept exemplars; min-id-anchor marks against
    any earlier vector) — the trained form keeps that semantics plus
    its collapse/keeper contracts; this one pins cluster routing, the
    threshold arithmetic, and keeper bookkeeping exactly.

    Plan: `_fixed_assign` (assignment), then ONE pair scan that pairs
    rows of the same cluster only — the quadratic step is bounded by
    cluster size exactly as in SemDeDup/IVF. No corpus-wide cartesian.
    The pair kernel returns only the pairs whose raw cosine can pass the
    rounded ≥ tau test; Spark rounds, filters and takes the min anchor.

    The pair scan is SALTED (``pair_salt``): keyed on the cluster, which
    has only ``n_centroids`` distinct values, each cluster's entire
    quadratic kernel would run on ONE task. The a side carries a
    deterministic per-row salt (its id hashed into ``pair_salt``
    buckets), the b side is copied once per salt value, and each salt
    bucket is one kernel block that pairs rows within their cluster, so
    every (a, b) pair meets in exactly one block while each cluster's
    kernel spreads over ``pair_salt`` tasks. The b-side copies multiply
    its shuffle volume by ``pair_salt`` — the standard trade for
    skew-bounded self-joins (operators/skew.py); at corpus scale the
    production path remains the trained `semdedup`, whose cluster count
    grows with the corpus.

    Returns (vec_id, cluster, keep, dup_of).
    """
    base = embeddings.select(
        "vec_id", _as_double(F.col("embedding")).alias("vec")
    )
    assigned = _fixed_assign(
        base, _frozen_codebook(base, n_centroids), 1
    ).localCheckpoint(eager=False)  # pair scan + final keeper join
    a = assigned.select(
        F.col("cid").alias("cluster"),
        F.col("vec_id").alias("query_id"),
        F.col("vec").alias("q_vec"),
    )
    b = assigned.select(
        F.col("cid").alias("cluster"),
        F.col("vec_id").alias("neighbor_id"),
        F.col("vec").alias("c_vec"),
    )
    a, b = _hash_spread(a, "query_id", b, max(1, int(pair_salt)))
    pairs = _scored_pairs(a, b, ["__blk"], tau=float(tau), within="cluster")
    dups = (
        pairs.filter(F.round(_cosine_of(), 6) >= F.lit(float(tau)))
        .groupBy("neighbor_id")
        .agg(F.min("query_id").alias("dup_of"))
        .select(F.col("neighbor_id").alias("vec_id"), "dup_of")
    )
    return assigned.select("vec_id", F.col("cid").alias("cluster")).join(
        dups, "vec_id", "left"
    ).select(
        "vec_id",
        "cluster",
        F.col("dup_of").isNull().alias("keep"),
        "dup_of",
    )


def embedding_quality_report(
    embeddings: DataFrame,
    expected_dim: int,
) -> DataFrame:
    """Embedding-column hygiene report per label — the pre-flight check
    every similarity/dedup/IVF job should run before trusting a vector
    column at scale: NULL vectors, wrong dimensionality, non-finite
    elements, and zero norms all silently poison cosine math (NaN
    propagates through dot products; zero norms divide by zero; mixed
    dims crash zip_with mid-job on some partition hours in).

    Output per label:
      (label, n_vectors, n_null_vec, n_wrong_dim, n_nonfinite,
       n_zero_norm, min_norm_micro, max_norm_micro, avg_norm_micro)
    Norm statistics cover only CLEAN vectors (right dim, finite,
    non-NULL) and are integer fixed-point micro-units
    (floor(||v||·10⁶)) with a floored integer mean — every output cell
    is an exact integer, bit-stable across engines and partitionings.

    One map-side-combinable aggregation over a single projection; no
    shuffle beyond the label-keyed agg. NULL labels form their own row
    (GROUP BY semantics).
    """
    v = _as_double(F.col("embedding"))
    is_null = v.isNull()
    wrong_dim = ~is_null & (F.size(v) != F.lit(int(expected_dim)))
    nonfinite = (
        ~is_null
        & ~wrong_dim
        & F.exists(
            v,
            lambda x: F.isnan(x) | (F.abs(x) == F.lit(float("inf"))),
        )
    )
    norm = norm_expr(v)
    clean = ~is_null & ~wrong_dim & ~nonfinite
    zero_norm = clean & (norm == F.lit(0.0))
    micro = F.floor(norm * F.lit(1_000_000.0)).cast("long")
    clean_micro = F.when(clean, micro)
    agg = embeddings.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors"),
        F.sum(is_null.cast("long")).cast("long").alias("n_null_vec"),
        F.sum(wrong_dim.cast("long")).cast("long").alias("n_wrong_dim"),
        F.sum(nonfinite.cast("long")).cast("long").alias("n_nonfinite"),
        F.sum(zero_norm.cast("long")).cast("long").alias("n_zero_norm"),
        F.min(clean_micro).alias("min_norm_micro"),
        F.max(clean_micro).alias("max_norm_micro"),
        F.sum(clean_micro).cast("decimal(38,0)").alias("__sum_micro"),
        F.sum(clean.cast("long")).cast("long").alias("__n_clean"),
    )
    avg_micro = F.when(
        F.col("__n_clean") > 0,
        F.floor(
            F.col("__sum_micro").cast("double")
            / F.col("__n_clean").cast("double")
        ).cast("long"),
    )
    return agg.select(
        "label",
        "n_vectors",
        "n_null_vec",
        "n_wrong_dim",
        "n_nonfinite",
        "n_zero_norm",
        "min_norm_micro",
        "max_norm_micro",
        avg_micro.alias("avg_norm_micro"),
    )


def semantic_decontamination(
    train: DataFrame,
    benchmark: DataFrame,
    tau_e6: int,
) -> DataFrame:
    """Embedding-space decontamination: flag training vectors whose
    cosine to ANY benchmark vector reaches ``tau_e6`` (micro-scaled) —
    the semantic complement of the n-gram contamination score
    (paraphrased or re-formatted eval leakage shares no shingles but
    lands next to the benchmark in embedding space; see the SemDeDup /
    Phi decontamination practice).

    Per training vector: max cosine over the benchmark set, selected
    deterministically by (rounded cosine, benchmark id) — the engine's
    round-before-ranking convention — and emitted as e6 BIGINT with
    the arg-max benchmark id.

    Scale: the benchmark side is an EVAL SUITE — thousands of vectors,
    not a corpus — so it broadcasts and the corpus never shuffles: one
    broadcast nested-loop scoring pass (JVM fold per pair), one
    per-training-id max-struct aggregation on the scan partitioning.
    For multi-million-vector benchmark sides, route through
    `ivf_fixed_topk`'s shortlist instead (the hard-negatives
    contract). Training vectors with no valid benchmark pair (empty
    benchmark) emit NULL max and contaminated = false.

    Output: vec_id, max_cos_e6, nearest_benchmark_id, contaminated.
    """
    # Pin: the scoring pass and the all-ids left-join base both
    # consume the training projection (round-9 multi-consumer rule).
    t = train.select(
        F.col("vec_id").alias("__tid"),
        _as_double(F.col("embedding")).alias("__tv"),
    ).localCheckpoint(eager=False)
    b = benchmark.select(
        F.col("vec_id").alias("__bid"),
        _as_double(F.col("embedding")).alias("__bv"),
    )
    t = t.withColumn("__tn", norm_expr("__tv"))
    b = b.withColumn("__bn", norm_expr("__bv"))
    pairs = t.crossJoin(F.broadcast(b))
    cos = F.round(
        dot_expr("__tv", "__bv") / (F.col("__tn") * F.col("__bn")), 6
    )
    scored = pairs.select(
        "__tid",
        "__bid",
        e6(cos).alias("__cos_e6"),
    )
    best = scored.groupBy("__tid").agg(
        F.max(
            F.struct(
                F.col("__cos_e6").alias("c"), F.col("__bid").alias("b")
            )
        ).alias("__best")
    )
    out = t.select(F.col("__tid").alias("vec_id")).join(
        best.select(
            F.col("__tid").alias("vec_id"),
            F.col("__best.c").alias("max_cos_e6"),
            F.col("__best.b").alias("nearest_benchmark_id"),
        ),
        "vec_id",
        "left",
    )
    return out.select(
        "vec_id",
        "max_cos_e6",
        "nearest_benchmark_id",
        F.coalesce(
            F.col("max_cos_e6") >= F.lit(int(tau_e6)), F.lit(False)
        ).alias("contaminated"),
    )


def label_centroid_matrix(
    embeddings: DataFrame,
) -> DataFrame:
    """Pairwise cosine similarity between LABEL CENTROIDS in embedding
    space — the embedding-space companion to the token-space source
    cosine (textstats.source_cosine_matrix): "are these two slices'
    embedding distributions converging?" — source drift, mixture
    redundancy, and label-confusability readouts.

    Centroids are per-label mean vectors (label × dim — KiB-scale, the
    `label_centroid_cosine` build); the pair join runs on that
    metadata frame, never the corpus. Per-dim float means carry
    partition-order summation noise ≪ 1e-10, absorbed by the cos_e6
    emission (the emb_* precedent). Pairs emit once (label_a <
    label_b).

    Output per pair: label_a, label_b, cos_e6.
    """
    base = embeddings.select(
        "label", _as_double(F.col("embedding")).alias("vec")
    )
    pos = base.select("label", F.posexplode("vec").alias("pos", "v"))
    cent = pos.groupBy("label", "pos").agg(F.avg("v").alias("c"))
    # label×dim frame: pinned — both pair sides + norms read it
    cent = cent.localCheckpoint(eager=False)
    left = cent.select(
        F.col("label").alias("label_a"),
        "pos",
        F.col("c").alias("__ca"),
    )
    right = cent.select(
        F.col("label").alias("label_b"),
        F.col("pos").alias("__pb"),
        F.col("c").alias("__cb"),
    )
    dots = (
        left.join(
            right,
            (F.col("pos") == F.col("__pb"))
            & (F.col("label_a") < F.col("label_b")),
        )
        .groupBy("label_a", "label_b")
        .agg(F.sum(F.col("__ca") * F.col("__cb")).alias("__dot"))
    )
    norms = cent.groupBy("label").agg(
        F.sum(F.col("c") * F.col("c")).alias("__nrm2")
    )
    na = norms.select(
        F.col("label").alias("label_a"), F.col("__nrm2").alias("__na2")
    )
    nb = norms.select(
        F.col("label").alias("label_b"), F.col("__nrm2").alias("__nb2")
    )
    j = dots.join(F.broadcast(na), "label_a").join(
        F.broadcast(nb), "label_b"
    )
    cos = F.col("__dot") / F.nullif(
        F.sqrt(F.col("__na2")) * F.sqrt(F.col("__nb2")), F.lit(0.0)
    )
    return j.select(
        "label_a",
        "label_b",
        e6(cos).alias("cos_e6"),
    )
