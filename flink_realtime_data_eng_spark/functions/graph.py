"""Graph operators for dedup clustering.

Near-duplicate detection yields PAIRS (LSH candidates verified by exact
Jaccard — ``dedup.neardup_pipeline``); deduplication needs CLUSTERS
(keep one doc per connected component of the pair graph). Spark has no
built-in connected components, so :func:`connected_components`
implements iterative min-label propagation as pure DataFrame ops:

    label(v) <- min(label(v), min over neighbors u of label(u))

repeated to a fixpoint. Each iteration is one shuffle join + one
aggregation; convergence needs O(component diameter) rounds, and
near-dup components are shallow (dozens of docs, diameter a few hops),
so this is a handful of iterations regardless of corpus size. The
driver-side loop only checks a scalar convergence count per round —
data never leaves the executors; ``localCheckpoint`` truncates the
growing lineage each round so plan size stays constant.

For adversarial graphs with long chains (component diameter ~ n, where
min-label needs O(n) rounds), :func:`connected_components_star`
implements the alternating large-star/small-star algorithm [Kiveris et
al., "Connected Components in MapReduce and Beyond", SoCC 2014], which
converges in O(log^2 n) rounds regardless of diameter, behind the same
edge-list contract. Both return the same (node, min-reachable-label)
output; pick by expected topology — near-dup doc clusters are shallow
(min-label wins on constant factors), social/citation graphs are not.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# Target rows per shuffle partition inside fixpoint loops: ~2M edge/label
# rows ≈ 50-100 MB — the guide's 100 MB-1 GB shuffle-partition sizing,
# derived from the MEASURED frame size rather than the session default
# (which is sized for corpus-scale scans, not pair-scale fixpoints).
_FIXPOINT_ROWS_PER_PARTITION = 2_000_000


def _fixpoint_width(n_rows: int) -> int:
    """Shuffle width for a fixpoint loop: ceil(rows / 2M).

    Every round of a fixpoint shuffles the SAME bounded frame (edges /
    labels), so its right shuffle width is known up front from the
    materialized row count — unlike one-shot queries, where AQE's runtime
    coalescing is the adaptive answer. Scale-adaptive in both directions:
    490 bench rows → 1 partition, 10¹⁰ edges → 5000, with the session
    default as neither floor nor ceiling."""
    return max(1, -(-n_rows // _FIXPOINT_ROWS_PER_PARTITION))


def _distribute(df: DataFrame, width: int, *keys: str) -> DataFrame:
    """Impose the fixpoint width on ``df`` as a PLAN property — the
    concurrency-safe replacement for scoping ``spark.sql.shuffle.partitions``
    (a session-global mutation that two concurrent fixpoints would clobber;
    per-plan state lets callers thread independent pipelines).

    width == 1 (anything under 2M rows — every bench-scale pair graph)
    coalesces to a SinglePartition frame: SinglePartition satisfies every
    required distribution, so the loop's joins and aggregates plan with
    ZERO exchanges and each round is one narrow single-task stage. Wider
    frames get an explicit hash repartition on the loop key, which only
    the in-loop equi-joins on that same key reuse exchange-free; an
    aggregate keyed on another column (groupBy on the join's far side)
    shuffles at the session's batch fan-out, which AQE coalesces. AQE
    stays ON (skew-split still applies inside each round)."""
    if width == 1:
        return df.coalesce(1)
    return df.repartition(width, *[F.col(k) for k in keys])


def connected_components(edges: DataFrame, src: str = "id_a",
                         dst: str = "id_b", max_iter: int = 25) -> DataFrame:
    """Label every node of the undirected ``edges`` graph with the MINIMUM
    node id reachable from it (the canonical component representative).

    Returns ``(node, label)``. Deterministic: min is order-insensitive.
    Raises if the fixpoint is not reached within ``max_iter`` rounds
    (returning half-propagated labels would silently split components).
    """
    # Materialize ONCE: sym is re-joined every round, and its lineage embeds
    # whatever produced the edges (e.g. the whole LSH+Jaccard pipeline) —
    # without this the edge computation re-runs per iteration.
    sym = (edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
           .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
           .distinct()
           .localCheckpoint(eager=True))
    # One cheap count over the already-materialized RDD sizes every
    # round's shuffles to the edge frame, not the session default.
    width = _fixpoint_width(sym.count())
    # shuffle_hash on the loop join sides: a localCheckpoint output has no
    # known partitioning, so without the hint AQE plans each bench-scale
    # round as a BroadcastHashJoin whose broadcast exchange materializes as
    # an EXTRA driver job per round (measured: 45 → 37 jobs on the
    # embedding pair graph). At width > 1 the sides are hash-distributed on
    # the join key already, and SHJ consumes that exchange-free where SMJ
    # would add per-round sorts.
    sym_j = _distribute(sym, width, "b").hint("shuffle_hash")
    labels = (sym.select(F.col("a").alias("node")).distinct()
              .withColumn("label", F.col("node")))
    for _ in range(max_iter):
        labels_r = _distribute(labels, width, "node")
        neigh = (sym_j.join(labels_r, sym_j["b"] == labels_r["node"])
                 .groupBy("a").agg(F.min("label").alias("nlabel"))
                 .hint("shuffle_hash"))
        # Carry the old label through the update join so convergence is
        # a filter+count on the checkpointed result — no second join of
        # two full node sets per round just to detect change.
        # Lazy checkpoint + count: the count is the materializing
        # action, so each round pays ONE Spark job (materialize+count
        # fused) instead of two (eager materialize, then a count over
        # it) — at bench scale the fixpoint's cost is driver job
        # scheduling, not data, and this halves it; results identical.
        step = (labels_r.join(neigh, labels_r["node"] == neigh["a"], "left")
                        .select(labels_r["node"],
                                labels_r["label"].alias("old_label"),
                                F.least(labels_r["label"],
                                        F.coalesce(F.col("nlabel"),
                                                   labels_r["label"]))
                                 .alias("label"))
                        .localCheckpoint(eager=False))
        changed = step.filter(
            F.col("label") != F.col("old_label")).count()
        labels = step.select("node", "label")
        if changed == 0:
            return labels
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds — "
        "component diameter exceeds the bound; raise max_iter")


def _large_star(sym: DataFrame) -> DataFrame:
    """Large-star round: every node connects its STRICTLY LARGER neighbors
    to the minimum of its closed neighborhood. Input/output are symmetric-
    free directed edge lists (a, b); output edges point larger -> smaller."""
    mins = (sym.groupBy("a").agg(F.min("b").alias("nmin"))
               .select("a", F.least("a", "nmin").alias("m")))
    return (sym.join(mins, "a")
               .filter(F.col("b") > F.col("a"))
               .select(F.col("b").alias("a"), F.col("m").alias("b"))
               .filter(F.col("a") != F.col("b"))
               .distinct())


def _small_star(edges: DataFrame) -> DataFrame:
    """Small-star round: orient each edge larger -> smaller, then every
    node connects all its smaller neighbors (and itself) to their minimum."""
    o = (edges.select(F.greatest("a", "b").alias("a"),
                      F.least("a", "b").alias("b"))
              .filter(F.col("a") != F.col("b"))
              .distinct())
    mins = o.groupBy("a").agg(F.min("b").alias("m"))
    return (o.join(mins, "a")
             .select(F.col("b").alias("a"), F.col("m").alias("b"))
             .union(mins.select("a", F.col("m").alias("b")))
             .filter(F.col("a") != F.col("b"))
             .distinct())


def connected_components_star(edges: DataFrame, src: str = "id_a",
                              dst: str = "id_b",
                              max_iter: int = 50) -> DataFrame:
    """Connected components via alternating large-star/small-star
    [Kiveris et al., SoCC 2014]: O(log^2 n) rounds independent of
    component diameter — the scale path for adversarial long-chain graphs
    where :func:`connected_components`'s min-label propagation would need
    O(diameter) rounds.

    Same contract as :func:`connected_components`: returns ``(node,
    label)`` with label = minimum node id in the component; raises rather
    than returning a half-converged labeling. Each round is a bounded
    number of hash shuffles on the (shrinking) edge list; the driver sees
    only a per-round scalar, and ``localCheckpoint`` keeps plan size
    constant.
    """
    e = (edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
              .filter(F.col("a") != F.col("b"))
              .distinct()
              .localCheckpoint(eager=True))
    # Original node set, kept for the final labeling: star contraction may
    # drop a center from the edge list's left side entirely.
    nodes = (e.select(F.col("a").alias("node"))
              .union(e.select(F.col("b").alias("node")))
              .distinct()
              .localCheckpoint(eager=True))
    e_count = e.count()
    width = _fixpoint_width(e_count)
    for _ in range(max_iter):
        # Width imposed BEFORE the distinct: repartition(width, a, b)
        # satisfies the distinct aggregate's required distribution, so the
        # round's first shuffle lands directly at the fixpoint width (and
        # at width 1 the whole round plans exchange-free).
        sym = _distribute(
            e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b"))),
            width, "a", "b").distinct()
        # Lazy checkpoint: the convergence count below is the
        # materializing action (one job instead of materialize+count),
        # and the previous round's count is carried in ``e_count`` so
        # each round pays ONE count, not two.
        nxt = _small_star(_large_star(sym)).localCheckpoint(eager=False)
        nxt_count = nxt.count()
        # Converged when the edge set is unchanged (both are distinct
        # sets, so equal counts + empty difference <=> equality).
        if nxt_count == e_count and nxt.exceptAll(e).limit(1).count() == 0:
            e = nxt
            break
        e, e_count = nxt, nxt_count
    else:
        raise RuntimeError(
            f"connected_components_star did not converge in {max_iter} "
            "rounds; raise max_iter")
    # At the fixpoint the graph is a set of stars centered at component
    # minima: orient edges larger -> smaller and read labels off directly.
    stars = e.select(F.greatest("a", "b").alias("node"),
                     F.least("a", "b").alias("label")).distinct()
    return (nodes.join(stars, "node", "left")
                 .select("node", F.coalesce("label", "node").alias("label")))


def pagerank(edges: DataFrame, src: str = "id_a", dst: str = "id_b",
             iterations: int = 5, scale: int = 10 ** 9,
             damp_num: int = 17, damp_den: int = 20) -> DataFrame:
    """Fixed-iteration PageRank over the undirected ``edges`` graph in
    EXACT integer arithmetic — the iterative-algorithm pattern (power
    iteration) done Spark-shaped, and cross-engine hash-checkable.

    Scores are scaled integers (initial mass = ``scale`` per node); one
    update is ``score' = scale*(1-d) + d * Σ_in floor(score/deg)`` with
    ``d = damp_num/damp_den`` applied as integer multiply-then-divide, so
    every intermediate is a BIGINT and the result is independent of
    partitioning, summation order, and float association — a DuckDB
    oracle unrolling the same recurrence reproduces it bit-for-bit
    (float PageRank cannot be hash-compared across engines).

    Plan shape: the symmetrized edge+degree table materializes ONCE
    (``localCheckpoint`` — its lineage embeds whatever produced the edges,
    e.g. the full LSH pipeline); each of the ``iterations`` rounds is one
    edge-join + one node-keyed hash aggregate — shuffle proportional to
    |E|, driver traffic zero. Nodes outside the edge set are dangling by
    definition here and excluded (the similarity-graph use case ranks
    connected docs only).

    Output: (node, rank_i9) with rank at the ``scale`` fixed point.
    """
    sym = (edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
           .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
           .distinct())
    deg = sym.groupBy("a").agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
    sym_deg = sym.join(deg, "a").localCheckpoint(eager=True)
    base = scale * (damp_den - damp_num) // damp_den
    scores = (sym_deg.select(F.col("a").alias("node")).distinct()
              .withColumn("score", F.lit(scale).cast("bigint")))
    width = _fixpoint_width(sym_deg.count())
    sym_deg_r = _distribute(sym_deg, width, "a")
    for _ in range(iterations):
        scores_r = _distribute(scores, width, "node")
        contrib = (sym_deg_r.join(scores_r, sym_deg_r["a"] == scores_r["node"])
                   .select(F.col("b"), F.expr("score DIV deg").alias("c")))
        # Lazy checkpoint: each round's scores feed exactly one consumer
        # (the next round's join), so materialization can ride the final
        # action — one Spark job for the whole unrolled chain instead of
        # one per round, while LogicalRDD still caps the plan size.
        scores = (contrib.groupBy("b").agg(F.sum("c").alias("s"))
                  .select(F.col("b").alias("node"),
                          (F.lit(base)
                           + F.expr(f"({damp_num} * s) DIV {damp_den}"))
                          .cast("bigint").alias("score"))
                  .localCheckpoint(eager=False))
    return scores.select("node", F.col("score").alias("rank_i9"))


def triangle_count(edges: DataFrame, src: str = "id_a",
                   dst: str = "id_b") -> DataFrame:
    """Global triangle count of the undirected graph — the clustering
    statistic (together with CC and PageRank) that characterizes a
    near-dup graph's shape: tight cliques (boilerplate families) vs
    chains (drifting revisions).

    Degree-ordered counting (the MapReduce-classic trick): orient every
    edge from the LOWER (degree, id) endpoint to the higher, so each
    triangle is counted exactly once at its lowest-ordered vertex and the
    wedge-join fan-out is bounded by the max ORIENTED out-degree —
    O(sqrt(|E|)) for any graph, versus the hub-quadratic blowup of naive
    wedge counting on skewed graphs. Two equi-joins, no cartesian.

    Returns one row: (n_triangles,).
    """
    # Materialize ONCE (the connected_components discipline): sym feeds
    # the degree table and two join sides, and its lineage embeds whatever
    # produced the edges (e.g. the whole LSH+Jaccard pipeline) — without
    # this the edge computation re-runs per reference (measured: the
    # un-checkpointed plan re-inlined the near-dup pipeline 8x, 201
    # exchanges vs 2 after).
    sym = (edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
           .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
           .distinct()
           .localCheckpoint(eager=True))
    deg = sym.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))
    ranked = sym.join(deg.withColumnRenamed("a", "a_k")
                         .withColumnRenamed("deg", "deg_a"),
                      F.col("a") == F.col("a_k")) \
                .join(deg.withColumnRenamed("a", "b_k")
                         .withColumnRenamed("deg", "deg_b"),
                      F.col("b") == F.col("b_k"))
    oriented = (ranked.filter(
        (F.col("deg_a") < F.col("deg_b"))
        | ((F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))))
        .select("a", "b")
        .localCheckpoint(eager=True))
    w1 = oriented.select(F.col("a").alias("u"), F.col("b").alias("v"))
    w2 = oriented.select(F.col("a").alias("u"), F.col("b").alias("w"))
    wedges = w1.join(w2, "u").filter(F.col("v") < F.col("w"))
    closing = oriented.select(F.col("a").alias("v"), F.col("b").alias("w")) \
        .union(oriented.select(F.col("b").alias("v"), F.col("a").alias("w")))
    tri = wedges.join(closing.distinct(), ["v", "w"])
    return tri.agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))


def kcore(edges: DataFrame, k: int = 2, rounds: int = 8,
          src: str = "id_a", dst: str = "id_b") -> DataFrame:
    """k-core decomposition membership: iteratively peel nodes whose
    degree in the SURVIVING subgraph is below k until a fixpoint — what
    remains is the maximal subgraph where every node keeps >= k
    neighbors. On a near-dup graph the 2-core separates true duplicate
    FAMILIES (mutually reinforcing clusters) from incidental one-off
    pair bridges, which is the distinction a dedup keep-policy acts on.

    Runs a FIXED ``rounds`` peels so the answer is a pure function of
    (edges, k, rounds) and an unrolled-CTE DuckDB oracle replays it
    bit-for-bit (the x_pagerank recipe); the fixture fixpoint is reached
    well inside the default and pinned by pytest. Production loops to
    convergence instead — swap the range for a while-changed check (one
    1-row count per round at the driver, the sanctioned scalar).

    Each round is one degree aggregate + two semi-joins on the current
    edge set, localCheckpointed PER ROUND — the round output feeds the
    next round's plan three times (degree base + both semi-join probes),
    so without materialization the peel chain re-executes 3^rounds
    times, the same blowup the oracle avoids with MATERIALIZED CTEs.
    O(rounds) keyed shuffles on a frame that only shrinks, never the
    corpus.

    Returns (node, deg) for surviving nodes with their in-core degree.
    """
    sym = (edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
           .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
           .distinct()
           .localCheckpoint(eager=True))
    width = _fixpoint_width(sym.count())
    for _ in range(rounds):
        sym_r = _distribute(sym, width, "a")
        deg = sym_r.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))
        keep = deg.filter(F.col("deg") >= k).select("a")
        # Lazy checkpoint (fixed rounds, no driver decision): each
        # round's RDD still materializes exactly once — on the final
        # action — and serves its three consumers from the persisted
        # partitions, but the loop itself submits zero jobs.
        sym = (sym_r.join(keep, "a", "left_semi")
                    .join(keep.withColumnRenamed("a", "b"), "b", "left_semi")
                    .select("a", "b")
                    .localCheckpoint(eager=False))
    return (sym.groupBy(F.col("a").alias("node"))
               .agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
               .orderBy("node"))


def bfs_hops(edges: DataFrame, seeds: DataFrame, rounds: int = 3,
             src: str = "id_a", dst: str = "id_b",
             id_col: str = "node") -> DataFrame:
    """Multi-source BFS over the undirected edge set: the minimum hop
    distance (0..rounds) from ANY seed — the N-hop neighborhood
    expansion behind lineage walks, contamination blast-radius checks
    and "everything within k links of a flagged doc" policies.

    BFS visits a node first at its minimum distance, so hop = the round
    that discovered it; each round is ONE equi-join of the current
    FRONTIER (not the whole visited set) against the adjacency list,
    followed by an anti-join on visited — O(rounds) keyed shuffles
    whose inputs shrink toward the fringe, never a corpus-sized
    recursion. Fixed ``rounds`` keeps the answer a pure function of
    (edges, seeds, rounds) so an unrolled-CTE DuckDB oracle replays it
    exactly (the kcore recipe). localCheckpoint per round: visited is
    referenced by the next round's anti-join AND the final union, and
    the frontier chain would otherwise re-execute cumulatively.

    Returns (node, hop) with hop 0 for the seeds themselves.
    """
    sym = (edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
           .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
           .distinct()
           .localCheckpoint(eager=True))
    frontier = (seeds.select(F.col(id_col).cast("bigint").alias("node"))
                .distinct().localCheckpoint(eager=True))
    layers = [frontier.select("node", F.lit(0).cast("int").alias("hop"))]
    visited = frontier
    width = _fixpoint_width(sym.count())
    sym_a = _distribute(sym, width, "a")
    for r in range(1, rounds + 1):
        # Lazy: the loop is a FIXED number of rounds (no per-round
        # driver decision), so materialization rides the final action —
        # one job total; the LogicalRDD per round still caps plan depth
        # and the persisted partitions serve all three consumers (next
        # round's join, the visited anti-join, the final layer union).
        frontier = (_distribute(frontier, width, "node")
                    .join(sym_a, F.col("node") == sym_a["a"])
                    .select(F.col("b").alias("node")).distinct()
                    .join(visited, "node", "left_anti")
                    .localCheckpoint(eager=False))
        layers.append(frontier.select("node",
                                      F.lit(r).cast("int").alias("hop")))
        # No checkpoint needed: every union leaf is itself a
        # checkpointed frontier, so the visited plan is a flat union of
        # materialized RDDs — O(rounds) leaves, no lineage blowup — and
        # skipping the eager materialization saves one Spark job per
        # round.
        visited = visited.union(frontier)
    out = layers[0]
    for lay in layers[1:]:
        out = out.unionByName(lay)
    return out.orderBy("node")
