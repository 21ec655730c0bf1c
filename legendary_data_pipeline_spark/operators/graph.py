"""Distributed connected components (dedup clustering).

Near-duplicate PAIRS are only half the dedup story: to keep exactly one
canonical document per duplicate group, pairs must be closed into
components (a ~ b, b ~ c ⇒ {a,b,c} is one group even if a ~ c was never
emitted). This module turns an edge list into a (node, component)
mapping with component = min reachable node id — deterministic and
order-free.

Two algorithms, selected by `algorithm`:

- ``propagation`` — iterative min-label propagation: each round every
  node takes the minimum label among itself and its neighbors; rounds
  needed = graph diameter. For near-dup graphs this is the right trade
  (duplicate groups are near-cliques: LSH emits most intra-group pairs,
  so diameters are 1-3) and each round is ONE shuffle join + ONE
  aggregation.
- ``star`` — alternating large-star / small-star contraction
  (Kiveris, Lattanzi, Mirrokni, Rastogi, Vassilvitskii, "Connected
  Components in MapReduce and Beyond", SoCC'14): each round rewires
  every node toward its neighborhood minimum, halving tree heights, so
  convergence is O(log n) rounds REGARDLESS of diameter. The per-round
  cost is higher (two grouped passes over the edge set), which is why
  it is not the default for near-clique dedup graphs.
- ``auto`` (default) — start with propagation; if the per-round
  changed-count stops shrinking geometrically (the signature of a long
  chain marching a constant-size frontier one hop per round), contract
  the graph by the labels learned so far and finish with star rounds.
  Near-clique inputs never trigger the switch and pay nothing.

Scale notes (100 TB):
- State per round is (node, label) / (u, v) pairs — two longs per node
  appearing in any edge, NOT the corpus.
- Lineage is truncated every round (`localCheckpoint`); without it the
  iterated join plan grows exponentially and the driver dies at plan
  optimization long before data volume matters. On a cluster prefer
  `checkpoint()` with a checkpoint dir for fault tolerance.
- The convergence check is one count() action per round on the changed
  set — metadata-scale. Star convergence compares successive edge sets
  (count + anti-join emptiness), also edge-scale metadata.
- A single chain-shaped component no longer fails the job: ``auto``
  detects the stall and finishes in O(log n) star rounds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# Propagation is considered stalled when a round retires fewer than
# (1 - _STALL_RATIO) of the previous round's changed labels. A chain
# retires a constant number per round (ratio → 1); a near-clique
# retires almost everything in the first round or two.
_STALL_RATIO = 0.75


#: `auto` solves graphs whose SYMMETRIZED edge list is at or below this
#: many rows with driver-side union-find instead of iterated joins.
#: Rationale: near-dup / ER edge lists are metadata-scale relative to
#: the corpus (only verified pair members appear), and each distributed
#: round costs a join + shuffle + count regardless of size — pure
#: overhead under ~10^6 edges. 10^6 rows × two 8-byte ids ≈ 16 MB on
#: the driver, the same order as the engine's other documented bounded
#: collects (codebooks, Bloom bitmaps). Above the threshold the
#: distributed propagation/star loop runs unchanged.
LOCAL_CC_THRESHOLD = 1_000_000


def _local_components(sym, node_type) -> DataFrame:
    """Driver union-find over a bounded collected edge list
    (``sym``: iterable of (a, b) pairs — direction/duplication are
    irrelevant to union-find, so the caller skips the symmetrize +
    distinct shuffles entirely).

    Produces exactly the distributed algorithm's labels (component =
    minimum reachable node id; for string ids both engines compare
    bytewise). Path-halving find keeps the pass effectively linear.
    """
    from pyspark.sql import SparkSession
    from pyspark.sql.types import StructField, StructType

    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            parent[root] = parent[parent[root]]  # path halving
            root = parent[root]
        return root

    for a, b in sym:
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb

    comp_min: dict = {}
    for n in parent:
        r = find(n)
        m = comp_min.get(r)
        if m is None or n < m:
            comp_min[r] = n
    schema = StructType(
        [
            StructField("node", node_type, False),
            StructField("component", node_type, False),
        ]
    )
    spark = SparkSession.getActiveSession()
    data = [(n, comp_min[find(n)]) for n in parent]
    return spark.createDataFrame(data, schema)


def connected_components(
    edges: DataFrame,
    max_iterations: int = 25,
    algorithm: str = "auto",
    local_threshold: int = LOCAL_CC_THRESHOLD,
) -> DataFrame:
    """(node, component) for every node in `edges`; component is the
    minimum node id reachable through the undirected edge set.

    `algorithm` ∈ {"auto", "propagation", "star"} — see module
    docstring. Raises RuntimeError if not converged within
    `max_iterations` rounds of the selected algorithm ("auto" applies
    the budget to each leg; the star leg converges in O(log n) rounds,
    so only an absurdly small budget can trip it). Under "auto", edge
    lists at or below ``local_threshold`` symmetric rows are solved
    with driver union-find (identical labels, no iterated joins) —
    pass ``local_threshold=0`` to force the distributed loop.
    """
    if algorithm not in ("auto", "propagation", "star"):
        raise ValueError(f"unknown algorithm: {algorithm!r}")

    # One NULL contract for BOTH legs: a NULL endpoint has no identity,
    # so its edges are dropped up front. (Previously the distributed leg
    # dropped them implicitly in its equi-joins while the local leg
    # raised from createDataFrame's non-nullable schema — same input,
    # different behavior depending on which side of local_threshold the
    # edge count landed.)
    raw = edges.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).where(F.col("src").isNotNull() & F.col("dst").isNotNull())

    if algorithm == "auto" and local_threshold > 0:
        # Only the auto branch needs the edge count (and thus an eager
        # materialization); explicit algorithms go straight to `sym`,
        # which checkpoints itself below — no extra pass.
        raw = raw.localCheckpoint(eager=True)
        if raw.count() * 2 <= local_threshold:
            # union-find needs neither direction nor distinctness —
            # collect the raw pairs, skip symmetrize + distinct shuffles.
            return _local_components(
                [(r[0], r[1]) for r in raw.collect()],
                raw.schema["src"].dataType,
            )

    sym = (
        raw.union(raw.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
    )
    sym = sym.localCheckpoint(eager=True)

    if algorithm == "star":
        return _star_components(sym, max_iterations)

    # Seed labels with round 1's result directly: min(self, neighbors)
    # is ONE aggregation over the edge list (no join), so the loop
    # starts a full propagation round ahead — a near-clique dup graph
    # (diameter 1-2) then needs one corrective round plus the zero-
    # change confirmation instead of three join rounds.
    labels = (
        sym.groupBy("src")
        .agg(F.min("dst").alias("__nm"))
        .select(
            F.col("src").alias("node"),
            F.least(F.col("src"), F.col("__nm")).alias("component"),
        )
        .localCheckpoint(eager=True)
    )

    prev_changed: int | None = None
    for _ in range(max_iterations):
        neighbor_min = (
            sym.join(labels, sym["dst"] == labels["node"])
            .groupBy("src")
            .agg(F.min("component").alias("__nmin"))
        )
        updated = (
            labels.join(neighbor_min, labels["node"] == neighbor_min["src"], "left")
            .select(
                "node",
                "component",
                F.least(
                    F.col("component"), F.coalesce(F.col("__nmin"), F.col("component"))
                ).alias("__new"),
            )
        ).localCheckpoint(eager=True)
        changed = updated.filter(F.col("__new") < F.col("component")).count()
        # One checkpoint per round is enough: `labels` is a depth-one
        # projection of the already-checkpointed `updated` frame.
        labels = updated.select("node", F.col("__new").alias("component"))
        if changed == 0:
            return labels
        if (
            algorithm == "auto"
            and prev_changed is not None
            and changed >= prev_changed * _STALL_RATIO
        ):
            return _finish_with_star(sym, labels, max_iterations)
        prev_changed = changed
    if algorithm == "auto":
        return _finish_with_star(sym, labels, max_iterations)
    raise RuntimeError(
        f"connected_components did not converge in {max_iterations} rounds"
    )


def _finish_with_star(
    sym: DataFrame, labels: DataFrame, max_iterations: int
) -> DataFrame:
    """Contract the graph by the partial propagation labels, solve the
    contracted graph with star rounds, and compose the two mappings.

    The contracted graph has one node per current partial component, so
    the expensive star rounds run on an already-shrunk edge set."""
    la = labels.select(
        F.col("node").alias("src"), F.col("component").alias("__ca")
    )
    lb = labels.select(
        F.col("node").alias("dst"), F.col("component").alias("__cb")
    )
    contracted = (
        sym.join(la, "src")
        .join(lb, "dst")
        .select(F.col("__ca").alias("src"), F.col("__cb").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
    )
    contracted = (
        contracted.union(
            contracted.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    if contracted.isEmpty():
        return labels
    meta = _star_components(contracted, max_iterations).select(
        F.col("node").alias("__mn"), F.col("component").alias("__mc")
    )
    return (
        labels.join(meta, labels["component"] == meta["__mn"], "left")
        .select(
            "node",
            F.coalesce(F.col("__mc"), F.col("component")).alias("component"),
        )
    )


def _star_components(sym: DataFrame, max_iterations: int) -> DataFrame:
    """Alternating large-star / small-star over a symmetric edge list
    (columns src, dst; no self-loops on input beyond src==dst rows,
    which are dropped). Returns (node, component).

    Large-star: each node u with neighborhood Γ(u) links every strictly
    LARGER neighbor to m = min(Γ(u) ∪ {u}). Small-star: with edges
    directed large→small, u links every remaining member of
    Γ(u) ∪ {u} to m. Each pair of rounds at least halves the height of
    every tree, giving O(log n) convergence on any shape.
    """
    nodes = sym.select(F.col("src").alias("node")).distinct().localCheckpoint(
        eager=True
    )
    e = (
        sym.filter(F.col("src") != F.col("dst"))
        .select(
            F.greatest("src", "dst").alias("u"), F.least("src", "dst").alias("v")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    prev_count = -1
    for _ in range(max_iterations):
        # Large-star over the symmetric view of e.
        d = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = d.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("__m")
        )
        large = (
            d.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("__m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # Small-star: edges already point large→small after large-star
        # re-orientation below; direct explicitly to be safe.
        s = large.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        smins = s.groupBy("u").agg(F.min("v").alias("__m"))
        joined = s.join(smins, "u")
        small = (
            joined.select(F.col("u"), F.col("__m").alias("v"))
            .union(
                joined.filter(F.col("v") != F.col("__m")).select(
                    F.col("v").alias("u"), F.col("__m").alias("v")
                )
            )
            .distinct()
            .localCheckpoint(eager=True)
        )
        n = small.count()
        if n == prev_count and small.exceptAll(e).isEmpty():
            e = small
            break
        prev_count = n
        e = small
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} rounds"
        )
    # Converged edge set is a star forest (child → root). Roots label
    # themselves; isolated-after-filter nodes (self-loop-only inputs)
    # fall back to their own id via the left join on the node universe.
    lab = (
        e.select(F.col("u").alias("node"), F.col("v").alias("component"))
        .union(e.select(F.col("v").alias("node"), F.col("v").alias("component")))
        .groupBy("node")
        .agg(F.min("component").alias("component"))
    )
    return (
        nodes.join(lab, "node", "left")
        .select(
            "node", F.coalesce(F.col("component"), F.col("node")).alias("component")
        )
    )


def canonical_members(components: DataFrame) -> DataFrame:
    """Per-component summary: size and canonical (min-id) member —
    `component` IS the canonical id by construction, kept explicit for
    readability downstream."""
    return components.groupBy("component").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.min("node").alias("canonical_id"),
    )


_DAMPING = 0.85


def pagerank(
    edges: DataFrame,
    max_iterations: int = 20,
    tol: float = 1e-6,
) -> DataFrame:
    """PageRank over a directed edge list → (node, rank), Σrank = 1.

    The crawl-curation use: domain/page authority as a quality prior
    when composing a training mix (CommonCrawl-style source weighting) —
    rank feeds `weighted_sample_n`/`repeat_by_weight` as the weight.

    Standard damped formulation with dangling-mass redistribution:
    rank = (1−d)/N + d·(Σ_in rank/out_deg + dangling/N). Each round is
    one join of the rank vector with the edge list + one groupBy(dst)
    sum — state is (node, rank) pairs, never the corpus. Lineage is
    truncated per round (`localCheckpoint`, same contract as
    `connected_components`); the dangling-mass scalar and the L1
    convergence delta are single-row aggregations per round
    (metadata-scale driver actions). Deterministic: float summation
    order varies across runs at ~1e-15 — round the OUTPUT, not the
    iteration, if byte-stable results are needed.
    """
    e = edges.select("src", "dst").distinct().localCheckpoint(eager=True)
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("rank", F.lit(0.0))
    out_deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("__deg"))
    degs = nodes.join(
        out_deg, nodes["node"] == out_deg["src"], "left"
    ).select("node", F.coalesce(F.col("__deg"), F.lit(0)).alias("__deg"))
    degs = degs.localCheckpoint(eager=True)

    ranks = degs.select("node", "__deg", F.lit(1.0 / n).alias("rank"))
    base = (1.0 - _DAMPING) / n
    for _ in range(max_iterations):
        dangling = (
            ranks.filter(F.col("__deg") == 0).agg(F.sum("rank")).first()[0]
            or 0.0
        )
        contrib = (
            ranks.filter(F.col("__deg") > 0)
            .join(e, ranks["node"] == e["src"])
            .select(
                F.col("dst").alias("node"),
                (F.col("rank") / F.col("__deg")).alias("__c"),
            )
            .groupBy("node")
            .agg(F.sum("__c").alias("__in"))
        )
        new_ranks = (
            degs.join(contrib, "node", "left")
            .select(
                "node",
                "__deg",
                (
                    F.lit(base + _DAMPING * dangling / n)
                    + F.lit(_DAMPING) * F.coalesce(F.col("__in"), F.lit(0.0))
                ).alias("rank"),
            )
            .localCheckpoint(eager=True)
        )
        delta = (
            new_ranks.alias("a")
            .join(ranks.alias("b"), "node")
            .agg(F.sum(F.abs(F.col("a.rank") - F.col("b.rank"))))
            .first()[0]
        )
        ranks = new_ranks
        if delta is not None and delta < tol:
            break
    return ranks.select("node", "rank")


def pagerank_fixed_int(
    edges: DataFrame,
    iterations: int = 20,
    scale: int = 10**12,
    local_threshold: int = 100_000,
) -> DataFrame:
    """PageRank with FIXED iteration count and scaled-INTEGER rank state
    → (node, rank_e12) — the cross-engine-replayable twin of `pagerank`.

    Same damped dangling-redistribution recurrence, but every quantity
    is a BIGINT multiple of 1/scale and every division is integer
    `div` (truncating; all operands nonnegative, so identical to
    DuckDB's floor `//`):

        r(0)   = scale div n
        r(t+1) = (15·scale) div (100·n)
               + (85·dangling_t) div (100·n)
               + (85·Σ_in (r_src div deg_src)) div 100

    No floats anywhere, no convergence early-exit — so an unrolled
    CTE chain replays the exact value sequence in any SQL engine,
    which is what lifts the domain-authority query from rows-only to
    a FULL hash oracle. Truncation loses < iterations·n/scale of
    total mass (~1e-9 here): irrelevant for source weighting, and
    identical on both engines by construction. The float `pagerank`
    stays the production form (tol early-exit); this form is for
    pinned replay. Scale posture matches `pagerank`: per round one
    rank-vector join + one groupBy(dst) sum, lineage truncated per
    round, dangling mass an in-plan broadcast 1-row aggregate.

    Edge lists at or below `local_threshold` distinct edges solve
    DRIVER-SIDE with the identical integer recurrence (Python `//` on
    nonnegative ints == `div`) — the `connected_components`
    union-find precedent: a domain graph is usually metadata-sized
    (one node per SITE), and 20 distributed rounds over a 97-node
    vector cost ~40 stage launches of pure scheduler latency
    (measured 6.5 s → ~1 s at sf0.1). Pass `local_threshold=0` to
    force the distributed loop; values are bit-identical either way
    (pinned by the query's DuckDB hash oracle, which replays the
    recurrence in an unrolled CTE chain).
    """
    e = (
        edges.select("src", "dst")
        # NULL endpoints drop BEFORE the local/distributed branch: the
        # distributed leg's equi-joins never match NULL anyway, and
        # without this shared filter the local leg would keep None as
        # a real node — the same local/distributed divergence
        # connected_components fixed with its shared isNotNull filter
        # (r12 code review).
        .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("rank_e12", F.lit(0).cast("long"))
    d_pct_i = 85  # damping, in percent
    if local_threshold and e.count() <= local_threshold:
        from pyspark.sql.types import LongType, StructField, StructType

        edge_rows = [(r["src"], r["dst"]) for r in e.collect()]
        node_vals = [r["node"] for r in nodes.collect()]
        deg: dict = {v: 0 for v in node_vals}
        for s, _ in edge_rows:
            deg[s] += 1
        base_i = ((100 - d_pct_i) * scale) // (100 * n)
        r0 = scale // n
        rank = {v: r0 for v in node_vals}
        for _ in range(iterations):
            dangling = sum(rank[v] for v in node_vals if deg[v] == 0)
            dang_term = (d_pct_i * dangling) // (100 * n)
            in_sum: dict = {}
            for s, d in edge_rows:
                in_sum[d] = in_sum.get(d, 0) + rank[s] // deg[s]
            rank = {
                v: base_i
                + dang_term
                + (d_pct_i * in_sum.get(v, 0)) // 100
                for v in node_vals
            }
        schema = StructType(
            [
                StructField("node", nodes.schema[0].dataType, True),
                StructField("rank_e12", LongType(), True),
            ]
        )
        return nodes.sparkSession.createDataFrame(
            [(v, rank[v]) for v in node_vals], schema
        )
    out_deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("__deg"))
    degs = (
        nodes.join(out_deg, nodes["node"] == out_deg["src"], "left")
        .select(
            "node", F.coalesce(F.col("__deg"), F.lit(0)).alias("__deg")
        )
        .localCheckpoint(eager=True)
    )
    d_pct = d_pct_i
    base = ((100 - d_pct) * scale) // (100 * n)
    ranks = degs.select(
        "node", "__deg", F.lit(scale // n).cast("long").alias("r")
    )
    for _ in range(iterations):
        # The dangling mass stays IN-PLAN as a broadcast 1-row frame:
        # a driver-side .first() here would add a blocking
        # materialization per round. Same integers:
        # (d·dangling) div (100·n) over nonnegative BIGINTs.
        dang = ranks.filter(F.col("__deg") == 0).agg(
            F.coalesce(F.sum("r"), F.lit(0)).cast("long").alias("__dang")
        )
        contrib = (
            ranks.filter(F.col("__deg") > 0)
            .join(e, ranks["node"] == e["src"])
            .select(
                F.col("dst").alias("node"),
                F.expr("r div __deg").alias("__c"),
            )
            .groupBy("node")
            .agg(F.sum("__c").alias("__in"))
        )
        ranks = (
            degs.join(contrib, "node", "left")
            .crossJoin(F.broadcast(dang))
            .select(
                "node",
                "__deg",
                (
                    F.lit(base)
                    # 100 * n as a BIGINT literal: at n > ~21.5M the
                    # bare INT product would overflow under ANSI
                    # (r12 code review) — the removed Python-side
                    # computation was arbitrary-precision.
                    + F.expr(
                        f"({d_pct} * __dang) div "
                        f"(100 * CAST({n} AS BIGINT))"
                    )
                    + F.expr(f"({d_pct} * coalesce(__in, 0)) div 100")
                ).cast("long").alias("r"),
            )
            # LAZY pin: with the dangling mass in-plan there is no
            # per-round driver decision left (fixed iteration count,
            # no convergence check), so nothing forces a blocking JOB
            # per round — each pin still truncates lineage and caches
            # its 1-per-node rank vector, all rounds materializing
            # inside the single final action (the per-round shuffle
            # STAGES remain; on tiny graphs those are what the
            # local_threshold fallback removes).
            # connected_components keeps its EAGER pins deliberately
            # — its loop reads a convergence count per round.
            .localCheckpoint(eager=False)
        )
    return ranks.select("node", F.col("r").alias("rank_e12"))


def best_member(
    components: DataFrame,
    attrs: DataFrame,
    order_by,
) -> DataFrame:
    """One keeper per component chosen by an explicit quality order —
    the "keep the longest / highest-quality member" dedup policy (the
    usual alternative to min-id canonical: near-dup groups keep their
    most complete variant, not an arbitrary one).

    `components` is a `connected_components` frame (node, component);
    `attrs` carries `doc_id` plus the columns `order_by` references.
    Output: one row per component with the member's attrs, plus
    `n_members`. Both windows share the component partition key — a
    single exchange."""
    from legendary_data_pipeline_spark.operators.ranking import best_of_group

    mem = components.join(
        attrs.withColumnRenamed("doc_id", "node"), "node"
    ).withColumn(
        "n_members",
        F.count(F.lit(1)).over(Window.partitionBy("component")),
    )
    return best_of_group(mem, ["component"], order_by)


def near_dup_components(docs: DataFrame, min_jaccard: float = 0.5) -> DataFrame:
    """Docs → verified near-dup pairs → connected components, in one
    call: the composition every dedup/split endpoint needs (MinHash
    signatures and exact-Jaccard verification share ONE cached
    shingling pass; components close the verified pairs). Returns
    (node, component) for docs that belong to some duplicate pair —
    singletons are absent by construction (callers coalesce to the
    doc's own id, as `curation.leakage_safe_split` does)."""
    from pyspark.sql import functions as F

    from legendary_data_pipeline_spark.operators import dedup as D

    hsets = D.hashed_shingle_sets(docs).cache()
    sigs = D.minhash_signatures(docs, hsets=hsets)
    pairs = D.lsh_candidate_pairs(sigs)
    verified = D.jaccard_pairs(docs, pairs, hsets=hsets)
    # Materialize the (pairs-list-sized) verified edges and cut their
    # lineage so the shingle cache can be released immediately — without
    # this, long-lived sessions (the curate CLI calls this per run) leak
    # one cached shingle frame per invocation.
    edges = verified.filter(F.col("jaccard") >= min_jaccard).localCheckpoint(
        eager=True
    )
    hsets.unpersist()
    # lsh_candidate_pairs caches its signature input internally (same
    # logical plan as `sigs`); uncaching by plan releases that entry too.
    sigs.unpersist()
    return connected_components(edges)


def triangle_count(
    edges: DataFrame,
    orient: str = "id",
    method: str = "join",
) -> DataFrame:
    """Global triangle count of an undirected graph — the clustering
    primitive behind community density and dup-cluster cohesion ("are
    these near-dup pairs a clique or a chain?").

    Input edges may carry duplicates or both orientations; they are
    canonicalized and deduplicated first. Counting enumerates each
    triangle exactly once via the oriented closure e(x,y) ⋈ e(y,z) ⋈
    e(x,z) under an ACYCLIC total order on nodes — two equi-joins on
    edge keys, no cartesian.

    ``orient`` picks that total order:
    - ``"id"`` (default): x < y by node id. Right for graphs with
      bounded degree (dup clusters, co-purchase on uniform catalogs) —
      no extra pass.
    - ``"degree"``: x before y iff (deg(x), x) < (deg(y), y) — the
      power-law answer (Cohen 2009; GraphX's formulation): every
      node's OUT-degree is then O(√m), so the wedge join's fan-out is
      bounded even when one hub touches half the graph. Costs one
      degree aggregation + an edge re-orientation join, both on
      already-deduped edges. Triangle counts are identical under any
      acyclic orientation (equivalence property-tested).

    ``method`` picks the closure's physical form (identical counts):
    - ``"join"`` (default): e(x,y) ⋈ e(y,z) ⋈ e(x,z) — materializes
      the wedge set through a shuffle. Predictable, fully streaming.
    - ``"adjacency"`` (edge-iterator): build each node's sorted
      OUT-neighbor array once, then per edge (x,y) count
      |N⁺(x) ∩ N⁺(y)| with JVM `array_intersect` — the Σ-wedge work
      happens inside a codegen'd kernel instead of shuffling a
      wedge-sized join (measured ~2× faster on the 1.2M-edge
      co-purchase graph: 3.4 s vs 7.3 s at sf0.1). Per-node array
      memory is the trade — combine with ``orient="degree"`` to bound
      every array at O(√m) on power-law graphs.

    Output (1 row): n_edges, n_triangles.
    """
    from pyspark.sql import functions as F

    if orient not in ("id", "degree"):
        raise ValueError(f"orient must be 'id' or 'degree', got {orient!r}")
    if method not in ("join", "adjacency"):
        raise ValueError(
            f"method must be 'join' or 'adjacency', got {method!r}"
        )

    lo = F.least(F.col("id_a"), F.col("id_b")).alias("a")
    hi = F.greatest(F.col("id_a"), F.col("id_b")).alias("b")
    e = (
        edges.select(lo, hi)
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    # The oriented edge frame is consumed 3-4× below (n_edges count +
    # e1/e2/e3 wedge sides, or adjacency build + per-edge join) and
    # Spark's exchange reuse does NOT stitch the duplicated dedup
    # subtrees back together (measured: 8 parquet scans in the FINAL
    # adaptive plan — the whole source self-join + distinct ran four
    # times). Pin it so the edge dedup materializes exactly once.
    e = e.localCheckpoint(eager=False)
    if orient == "degree":
        deg = (
            e.select(F.explode(F.array("a", "b")).alias("n"))
            .groupBy("n")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        da = deg.select(
            F.col("n").alias("a"), F.col("d").alias("__da")
        )
        db = deg.select(
            F.col("n").alias("b"), F.col("d").alias("__db")
        )
        # direct each edge from the (degree, id)-smaller endpoint
        first_is_a = (F.col("__da") < F.col("__db")) | (
            (F.col("__da") == F.col("__db")) & (F.col("a") < F.col("b"))
        )
        e = (
            e.join(da, "a")
            .join(db, "b")
            .select(
                F.when(first_is_a, F.col("a")).otherwise(F.col("b")).alias("a"),
                F.when(first_is_a, F.col("b")).otherwise(F.col("a")).alias("b"),
            )
            .localCheckpoint(eager=False)  # re-pin past the degree joins
        )
    if method == "adjacency":
        # ax/ay are two consumers, but the adjacency frame is NOT
        # pinned: its neighbor arrays are edge-sized, so a checkpoint
        # serializes the same bytes the duplicate groupBy would shuffle
        # — and both duplicates read the PINNED e (measured: pinning
        # adj was ~8% slower at sf0.1, min-of-3).
        adj = e.groupBy("a").agg(
            F.array_sort(F.collect_list("b")).alias("__nb")
        )
        ax = adj.select(F.col("a").alias("x"), F.col("__nb").alias("__nx"))
        ay = adj.select(F.col("a").alias("y"), F.col("__nb").alias("__ny"))
        per_edge = (
            e.select(F.col("a").alias("x"), F.col("b").alias("y"))
            .join(ax, "x")
            .join(ay, "y")
        )
        tri_agg = per_edge.agg(
            F.coalesce(
                F.sum(F.size(F.array_intersect("__nx", "__ny"))), F.lit(0)
            ).cast("long").alias("n_triangles")
        )
        return e.agg(F.count(F.lit(1)).alias("n_edges")).crossJoin(tri_agg)
    e1 = e.select(F.col("a").alias("x"), F.col("b").alias("y"))
    e2 = e.select(F.col("a").alias("y"), F.col("b").alias("z"))
    e3 = e.select(F.col("a").alias("x"), F.col("b").alias("z"))
    tri = e1.join(e2, "y").join(e3, ["x", "z"])
    return e.agg(F.count(F.lit(1)).alias("n_edges")).crossJoin(
        tri.agg(F.count(F.lit(1)).alias("n_triangles"))
    )


def clustering_coefficients(edges: DataFrame) -> DataFrame:
    """Local clustering coefficient per node:
    C(v) = 2·T(v) / (deg(v)·(deg(v)−1)).

    Same ordered-closure enumeration as :func:`triangle_count` (each
    triangle found once via e(a,b) ⋈ e(b,c) ⋈ e(a,c)), then each
    triangle credits its three corners — a 3-way explode and a
    node-keyed count. Degrees come from one aggregation over the
    symmetrized edge list. The ratio is exact integers with one final
    raw IEEE division; nodes of degree < 2 have no defined coefficient
    and report NULL. Distinguishes cliquey neighborhoods (near-dup
    clusters, tight co-purchase sets) from hub-and-spoke ones at a
    per-node granularity the global triangle count can't.

    Output: (node, degree, triangles, coeff).
    """
    lo = F.least(F.col("id_a"), F.col("id_b")).alias("a")
    hi = F.greatest(F.col("id_a"), F.col("id_b")).alias("b")
    e = edges.select(lo, hi).filter(F.col("a") != F.col("b")).distinct()
    # four consumers (deg + the three wedge sides) — pin the dedup so
    # the source self-join + distinct materializes once (see
    # triangle_count; exchange reuse does not recover this).
    e = e.localCheckpoint(eager=False)

    # explode, never union-of-selects: a union replays the source
    # subtree once per branch (the corners union replayed the whole
    # 3-join triangle enumeration three times — 22 source scans for
    # the co-purchase query before this fix).
    deg = (
        e.select(F.explode(F.array("a", "b")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
    )
    e1 = e.select(F.col("a").alias("x"), F.col("b").alias("y"))
    e2 = e.select(F.col("a").alias("y"), F.col("b").alias("z"))
    e3 = e.select(F.col("a").alias("x"), F.col("b").alias("z"))
    tri = e1.join(e2, "y").join(e3, ["x", "z"])
    corners = (
        tri.select(F.explode(F.array("x", "y", "z")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("triangles"))
    )
    out = deg.join(corners, "node", "left").select(
        "node",
        "degree",
        F.coalesce(F.col("triangles"), F.lit(0)).cast("long").alias(
            "triangles"
        ),
    )
    denom = (F.col("degree") * (F.col("degree") - 1)).cast("double")
    coeff = F.when(
        F.col("degree") >= 2,
        F.lit(2.0) * F.col("triangles").cast("double") / denom,
    )
    return out.withColumn("coeff", coeff)


def link_prediction_topk(
    edges: DataFrame,
    top_k: int = 100,
    max_degree: int | None = None,
) -> DataFrame:
    """Common-neighbor / Jaccard link prediction: the top-k NON-edges
    most likely to be real connections — "parts that should co-occur",
    "near-dup clusters one hop from merging", recommendation candidates.

    For every node pair (a, b) at distance 2 (≥1 shared neighbor):

        cn(a,b)      = |N(a) ∩ N(b)|      (wedge count — exact integer)
        jaccard(a,b) = cn / (deg(a) + deg(b) − cn)   (non-edges: the
                        union has no a–b edge to subtract)

    Pairs already connected are anti-joined out. Ranking is total-
    ordered (jaccard DESC, a ASC, b ASC) and jaccard is one exact IEEE
    division of integers, so the top-k set is bit-deterministic.

    Scale: the wedge join through a shared neighbor x does Σ_x deg(x)²
    work — hub nodes explode it (the triangle-count lesson). Pass
    ``max_degree`` to exclude hub nodes from BOTH the adjacency and
    the degree table (a deterministic, documented graph coarsening:
    scores are then computed on the hub-free subgraph — standard LP
    practice, since hub co-neighborship carries no signal). Candidate
    generation is distance-2 only: cn = 0 pairs are never materialized.
    The cap defends against hub TAILS, not hub MEANS: common-neighbor
    LP presumes a sparse graph, and when the TYPICAL degree is
    hub-sized the graph is near-complete — distance-2 candidacy then
    covers almost every pair and carries no ranking signal while Σdeg²
    explodes (round-10 probe: the unfiltered co-purchase graph at avg
    degree ~120 → 3×10⁹ wedges at sf1, OOM). Spec a sparser,
    semantically meaningful edge set instead (the gate query's
    high-volume slice precedent).
    One edge-list materialization feeds adjacency, degrees, and the
    anti-join (lineage pinned); top-k is a bounded
    TakeOrderedAndProject, never a full sort to disk.

    Output: a, b, common_neighbors, deg_a, deg_b, jaccard (top_k rows).
    """
    e = (
        edges.select(
            F.least(F.col("id_a"), F.col("id_b")).alias("__a"),
            F.greatest(F.col("id_a"), F.col("id_b")).alias("__b"),
        )
        .where(
            F.col("__a").isNotNull()
            & F.col("__b").isNotNull()
            & (F.col("__a") < F.col("__b"))  # least<greatest drops loops
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    sym = e.select(
        F.col("__a").alias("__u"), F.col("__b").alias("__v")
    ).unionByName(
        e.select(F.col("__b").alias("__u"), F.col("__a").alias("__v"))
    )
    deg = sym.groupBy("__u").agg(
        F.count(F.lit(1)).cast("long").alias("__deg")
    ).localCheckpoint(eager=False)
    if max_degree is not None:
        keep = deg.where(F.col("__deg") <= max_degree)
        adj = (
            sym.join(keep.select("__u"), "__u")
            .join(
                keep.select(F.col("__u").alias("__v")), "__v"
            )
            .select("__u", "__v")
            .localCheckpoint(eager=False)
        )
        # Degrees of the hub-free subgraph — consistent with the cn
        # counts computed on it (original degrees would mix graphs).
        deg_eff = adj.groupBy("__u").agg(
            F.count(F.lit(1)).cast("long").alias("__deg")
        )
    else:
        adj = sym
        deg_eff = deg
    wedges = (
        adj.select(F.col("__u").alias("__x"), F.col("__v").alias("__wa"))
        .join(
            adj.select(F.col("__u").alias("__x"), F.col("__v").alias("__wb")),
            "__x",
        )
        .where(F.col("__wa") < F.col("__wb"))
    )
    cn = wedges.groupBy(
        F.col("__wa").alias("__a"), F.col("__wb").alias("__b")
    ).agg(F.count(F.lit(1)).cast("long").alias("common_neighbors"))
    non_edges = cn.join(e, ["__a", "__b"], "left_anti")
    scored = (
        non_edges.join(
            deg_eff.select(
                F.col("__u").alias("__a"), F.col("__deg").alias("deg_a")
            ),
            "__a",
        )
        .join(
            deg_eff.select(
                F.col("__u").alias("__b"), F.col("__deg").alias("deg_b")
            ),
            "__b",
        )
        .select(
            F.col("__a").alias("a"),
            F.col("__b").alias("b"),
            "common_neighbors",
            "deg_a",
            "deg_b",
            (
                F.col("common_neighbors").cast("double")
                / (
                    F.col("deg_a") + F.col("deg_b")
                    - F.col("common_neighbors")
                ).cast("double")
            ).alias("jaccard"),
        )
    )
    return scored.orderBy(
        F.col("jaccard").desc(), F.col("a").asc(), F.col("b").asc()
    ).limit(top_k)


def basket_pair_lift(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_pair_count: int = 2,
    max_basket_size: int = 1_000,
) -> DataFrame:
    """Market-basket association lift over item pairs — the
    co-occurrence-STRENGTH companion to the co-purchase graph ops
    (`triangle_count` counts structure; this scores individual pairs):
    support, both-direction confidence inputs, and

        lift(a,b) = P(a,b) / (P(a)·P(b)) = N·c_ab / (c_a·c_b)

    — lift > 1 means a and b co-occur more than independence predicts
    (the "customers who bought X also bought Y" primitive; for corpus
    work, tag/domain/label co-occurrence strength).

    Exactness: c_a, c_b, c_ab, N are exact basket COUNTS (an item
    counted once per basket — duplicates within a basket dedup first);
    lift is one exact IEEE division of decimal(38,0) products
    (N·c_ab and c_a·c_b pass int64 once N ~ 3e9 with popular items).

    Scale: pair generation is the canonical bounded self-join on the
    basket key with a < b canonicalization — work is Σ size²/2 over
    baskets, NOT all-pairs over items. That is only safe while baskets
    are SMALL (the link-prediction lesson: a cap cannot rescue
    hub-sized MEANS) — an in-plan guard raises if any basket exceeds
    ``max_basket_size`` (cap or re-spec upstream; TPC-H orders hold
    ≤7 items). ``min_pair_count`` prunes the pair tail BEFORE the
    count joins. Only the 1-row n_baskets frame broadcasts; the
    item_counts frame does NOT — its cardinality is the number of
    DISTINCT ITEMS (data-sized and unbounded, ~20M parts at sf100),
    so it shuffle-joins like association_rules' item_freq frame
    rather than risking a driver/executor OOM on collect-to-broadcast.

    Output: item_a, item_b, pair_count, count_a, count_b, n_baskets,
    lift.
    """
    if max_basket_size < 2:
        raise ValueError(
            f"basket_pair_lift: max_basket_size must be >= 2, got "
            f"{max_basket_size}"
        )
    b = F.col(basket_col)
    it = F.col(item_col)
    items = (
        df.select(b.alias("__b"), it.alias("__i"))
        .where(b.isNotNull() & it.isNotNull())
        .distinct()
        # pinned: five consumers below (size guard, basket count, item
        # counts, both pair-join sides) would otherwise each replay the
        # scan+distinct — audited 10 source scans before the pin (r11)
        .localCheckpoint(eager=False)
    )
    # in-plan basket-size guard (the kaplan_meier raise pattern): the
    # pair join is quadratic per basket, so an unexpectedly huge basket
    # must fail loud, not OOM an executor
    sizes = items.groupBy("__b").agg(
        F.count(F.lit(1)).cast("long").alias("__sz")
    )
    # The raise lives in a FILTER predicate (the friedman_test guard
    # pattern) so column pruning cannot elide it: the where must
    # evaluate the when() for every basket row.
    guard_ok = F.when(
        F.col("__sz") > max_basket_size,
        F.raise_error(F.concat(
            F.lit("basket_pair_lift: basket size "),
            F.col("__sz").cast("string"),
            F.lit(
                f" exceeds max_basket_size={max_basket_size} — cap "
                "basket membership upstream or raise the bound"
            ),
        )).cast("boolean"),
    ).otherwise(F.lit(True))
    items = items.join(
        sizes.where(guard_ok).select("__b"), "__b"
    ).localCheckpoint(eager=False)  # guard fires once; 4 consumers
    n_baskets_row = items.agg(
        F.countDistinct("__b").cast("long").alias("__n")
    )
    item_counts = items.groupBy("__i").agg(
        F.count(F.lit(1)).cast("long").alias("__ci")
    )
    a = items.select(F.col("__b").alias("__k"), F.col("__i").alias("item_a"))
    bb = items.select(F.col("__b").alias("__k"), F.col("__i").alias("item_b"))
    pairs = (
        a.join(bb, "__k")
        .where(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).cast("long").alias("pair_count"))
        .where(F.col("pair_count") >= int(min_pair_count))
    )
    dec = "decimal(38,0)"
    scored = (
        # item_counts is item-cardinality (unbounded) — shuffle-join,
        # never broadcast (r11 advice: broadcasting a data-sized frame
        # here OOMs at the scales the docstring targets; the sibling
        # association_rules made the same call for item_freq)
        pairs.join(
            item_counts.select(
                F.col("__i").alias("item_a"), F.col("__ci").alias("count_a")
            ),
            "item_a",
        )
        .join(
            item_counts.select(
                F.col("__i").alias("item_b"), F.col("__ci").alias("count_b")
            ),
            "item_b",
        )
        .crossJoin(F.broadcast(n_baskets_row))
        .select(
            "item_a",
            "item_b",
            "pair_count",
            "count_a",
            "count_b",
            F.col("__n").alias("n_baskets"),
            (
                (F.col("pair_count").cast(dec) * F.col("__n").cast(dec))
                .cast("double")
                / (F.col("count_a").cast(dec) * F.col("count_b").cast(dec))
                .cast("double")
            ).alias("lift"),
        )
    )
    return scored
