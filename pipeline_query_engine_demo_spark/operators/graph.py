"""Distributed PageRank over an edge DataFrame — the third iterative
algorithm the engine owns end-to-end (with ``dedup.connected_components``
and ``clustering.kmeans_train``), expressed as pure DataFrame ops.

The reference has no graph surface (its executor is 4 relational
operators, /root/reference/src/executor/mod.rs:250-466); a training-data
platform needs link analysis for source/domain ranking (e.g. quality
weighting crawl domains by their co-citation graph).

Per iteration: one shuffle join of the edge list with the rank table on
``src`` and one groupBy on ``dst`` — the textbook distributed PageRank
data flow (edges never move to the driver; the rank table is
node-sized, never edge-sized).

Every loop here runs under the one loop policy of ``operators.rounds``
(lazy resilient cuts, generation freeing, a plan-depth cut every
``_CUT_EVERY`` rounds); the per-loop docstrings give only the reasons
specific to that loop's cuts.

Cross-engine determinism (mirrored by the DuckDB oracle in
plans/analytics.py): per-edge contributions ``round(r/outdeg, 9)``
accumulate as DECIMAL(28,12), and each iteration's ranks round to 9
decimals, so both engines iterate from bit-identical vectors regardless
of partitioning or summation order.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from pipeline_query_engine_demo_spark.operators.rounds import Rounds

_DEC = "decimal(28,12)"


def _r9(col: F.Column) -> F.Column:
    """Round to 9 decimals as ``floor(x*1e9 + 0.5)/1e9`` — pure IEEE
    ops, bit-identical in every engine. Spark's round() goes through
    BigDecimal HALF_UP while DuckDB rounds the scaled double directly;
    on boundary values (seen at sf0.1: 8.2635e-05 vs 8.2636e-05) the
    two disagree by one ulp of the 9th digit, so the mirrored oracle
    uses this exact floor form instead. Valid for the non-negative
    ranks/contributions used here (floor(x+0.5) is half-up only for
    x >= 0); Spark's floor yields BIGINT, exact for values < 2^53."""
    return F.floor(col * F.lit(1e9) + F.lit(0.5)) / F.lit(1e9)


def pagerank(
    edges: DataFrame,
    iterations: int = 2,
    damping: float = 0.85,
    teleport: float = 0.15,
) -> DataFrame:
    """Ranks for every node of the directed edge list ``edges`` (columns
    ``src``, ``dst``). Assumes every node has outdegree >= 1 (true for
    symmetric/co-occurrence graphs, which is what the registered query
    builds) so there is no dangling-mass term. Returns (node, pagerank).

    ``teleport`` is passed explicitly rather than computed as
    ``1 - damping``: the oracle writes the literal 0.15, and IEEE
    ``1.0 - 0.85`` is 0.15000000000000002 — the same decimal literal on
    both sides guarantees bit-identical arithmetic.

    Each round reads the previous rank table once, so ranks are not cut
    per round (the repeated outdeg/n_tbl subtrees canonicalize
    identically, and ReuseExchange computes them once); ``bound`` caps
    plan depth at large iteration counts.
    """
    loop = Rounds()
    edges = loop.cut(edges.select("src", "dst"))
    nodes = edges.select(F.col("src").alias("node")).distinct()
    # Scalar N rides along as a broadcast 1-row cross join — no action
    # on the driver, the plan stays lazy.
    n_tbl = F.broadcast(nodes.agg(F.count(F.lit(1)).cast("double").alias("n")))
    outdeg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))

    ranks = nodes.crossJoin(n_tbl).select(
        "node", _r9(F.lit(1.0) / F.col("n")).alias("r")
    )
    for r in range(iterations):
        ranks = loop.bound(r, ranks)
        contrib = (
            edges.join(ranks.withColumnRenamed("node", "src"), "src")
            .join(outdeg, "src")
            .select(
                F.col("dst").alias("node"),
                _r9(F.col("r") / F.col("outdeg")).cast(_DEC).alias("term"),
            )
        )
        ranks = (
            contrib.groupBy("node")
            .agg(F.sum("term").cast("double").alias("s"))
            .crossJoin(n_tbl)
            .select(
                "node",
                _r9(
                    F.lit(teleport) / F.col("n") + F.lit(damping) * F.col("s")
                ).alias("r"),
            )
        )
    return ranks.select("node", F.col("r").alias("pagerank"))


def bfs_distances(edges: DataFrame, seed: DataFrame, max_hops: int) -> DataFrame:
    """Breadth-first minimum hop distance from ``seed`` (a 1-row
    DataFrame with column ``node``) over the directed edge list,
    bounded at ``max_hops``. Returns (node, dist) for every reached
    node — dist is exact min-distance because each round's frontier is
    anti-joined against everything already visited before it is
    admitted (a node is labeled the first time BFS reaches it).

    Scale: the textbook distributed frontier BFS — per hop, one
    edge⋈frontier shuffle join plus a distinct; the frontier and
    visited tables are node-sized, never edge-sized. Each hop's frontier
    is cut (the visited union and the next hop's join both read it);
    ``visited`` is the lazy union of those disjoint cut frontiers."""
    loop = Rounds()
    edges = loop.cut(edges.select("src", "dst"))
    frontier = loop.cut(
        seed.select(F.col("node").cast("bigint").alias("node"), F.lit(0).alias("dist"))
    )
    visited = frontier
    for h in range(1, max_hops + 1):
        visited = loop.bound(h - 1, visited)
        nxt = loop.cut(
            frontier.join(edges, frontier["node"] == edges["src"])
            .select(F.col("dst").alias("node"), F.lit(h).alias("dist"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
        )
        visited = visited.unionAll(nxt)
        frontier = nxt
    return visited


def kcore_peel(edges: DataFrame, k: int, rounds: int) -> DataFrame:
    """k-core peel profile over a symmetric directed edge list (columns
    ``src``, ``dst``; both directions present): per round, every node
    whose CURRENT degree is < ``k`` is removed together with its
    incident edges, and the survivor counts are recorded. Returns one
    row per round r in [0, rounds]: (peel_round, nodes_remaining,
    edges_remaining), where round 0 is the input graph. After enough
    rounds the survivors are exactly the k-core (the maximal subgraph
    with all degrees >= k, Seidman 1983); the per-round profile is the
    "onion" view used for graph robustness / core-structure analysis.

    Semantics are EXACT for any round budget — row r is the survivor
    count after r synchronous peel sweeps (the same bounded-round
    invariant as ``sssp_distances``), which the registered query's
    unrolled-CTE oracle replays; fixpoint within the budget shows up as
    trailing equal rows.

    Scale: per round, one combinable degree groupBy (map-side partial
    counts) and two node-keyed left-semi joins — state is edge-sized
    and MONOTONICALLY SHRINKING, nothing ever reaches the driver. Each
    round's edges are cut: the profile row, the next degree aggregate
    and the next semi-joins all read them. The per-round ``keep`` set
    is not: its two semi-joins sit in one compiled plan, where
    ReuseExchange computes the degree aggregate once. The peel
    converges in few rounds on real graphs because each sweep removes
    every currently-underweight node at once."""
    loop = Rounds()
    edges = loop.cut(edges.select("src", "dst"))

    def _profile(r: int, e: DataFrame) -> DataFrame:
        return e.agg(
            F.countDistinct("src").cast("bigint").alias("nodes_remaining"),
            F.count(F.lit(1)).cast("bigint").alias("edges_remaining"),
        ).select(
            F.lit(r).cast("bigint").alias("peel_round"),
            "nodes_remaining",
            "edges_remaining",
        )

    out = _profile(0, edges)
    for r in range(1, rounds + 1):
        keep = (
            edges.groupBy("src")
            .agg(F.count(F.lit(1)).alias("d"))
            .filter(F.col("d") >= k)
            .select("src")
        )
        edges = loop.cut(
            edges.join(keep, "src", "left_semi")
            .join(keep.withColumnRenamed("src", "dst"), "dst", "left_semi")
        )
        out = out.unionAll(_profile(r, edges))
    return out


def label_propagation(edges: DataFrame, iterations: int) -> DataFrame:
    """Synchronous label-propagation community detection (Raghavan et
    al., 2007) over a symmetric directed edge list (``src``, ``dst``,
    both directions present), made DETERMINISTIC: labels start as the
    node id, and each round every node adopts the most frequent label
    among its neighbors, ties broken by SMALLEST label (the classic
    async/random variant is run-dependent; the synchronous min-tie
    rule gives one exact answer any engine can replay). Returns
    (node, lbl) after ``iterations`` rounds.

    Scale: per round, one edge⋈label shuffle join, one combinable
    (node, label) count, and one node-partitioned argmax window whose
    partitions are bounded by a node's DEGREE (never corpus-sized);
    label state is node-sized. As in ``pagerank``, each round reads the
    previous labels once, so they are not cut per round; ``bound`` caps
    plan depth at large round counts. Density caveat: on a near-clique
    graph synchronous LPA oscillates — use the REPEAT co-purchase graph
    (weight >= 2), where it settles into stable communities within a
    few rounds."""
    from pyspark.sql import Window

    loop = Rounds()
    edges = loop.cut(edges.select("src", "dst"))
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("lbl"))
    )
    w = Window.partitionBy("src").orderBy(F.desc("c"), "lbl")
    for r in range(iterations):
        labels = loop.bound(r, labels)
        cnt = (
            edges.join(labels.withColumnRenamed("node", "dst"), "dst")
            .groupBy("src", "lbl")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        labels = (
            cnt.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(F.col("src").alias("node"), "lbl")
        )
    return labels


def sssp_distances(
    edges: DataFrame, seed: DataFrame, rounds: int
) -> DataFrame:
    """Single-source shortest path over a WEIGHTED edge list (columns
    ``src``, ``dst``, integer ``w`` >= 0) — frontier-driven Bellman-Ford,
    the weighted sibling of ``bfs_distances``. After ``rounds`` rounds
    the returned (node, dist) is exactly min path cost over all paths
    of <= ``rounds`` edges from the seed (the classic Bellman-Ford
    invariant), which the registered query's unrolled-CTE oracle
    replays with integer arithmetic — no rounding anywhere.

    Scale: per round, one frontier⋈edges shuffle join, one groupBy(dst)
    min, and one node-keyed improvement join — all state node-sized.
    Only nodes whose distance IMPROVED last round relax their out-edges
    (the frontier), so settled regions of a 100 TB graph stop paying
    per-round cost. The frontier (``improved``) is cut each round: the
    improvements union, the next relax join and the next filter's
    left_outer probe all read it. Every improvement is strictly smaller
    than the node's previous distance, so the distance so far is the
    min over the lazy union of the seed and every cut improvement."""
    loop = Rounds()
    edges = loop.cut(edges.select("src", "dst", "w"))
    seed0 = loop.cut(
        seed.select(
            F.col("node").cast("bigint").alias("node"),
            F.lit(0).cast("bigint").alias("dist"),
        )
    )

    def min_dist(u: DataFrame) -> DataFrame:
        return u.groupBy("node").agg(F.min("dist").alias("dist"))

    frontier = improvements = seed0
    for r in range(rounds):
        improvements = loop.bound(r, improvements)
        best = (
            frontier.join(edges, frontier["node"] == edges["src"])
            .select(
                F.col("dst").alias("node"),
                (F.col("dist") + F.col("w")).cast("bigint").alias("cand"),
            )
            .groupBy("node")
            .agg(F.min("cand").alias("cand"))
        )
        improved = loop.cut(
            best.join(min_dist(improvements), "node", "left_outer")
            .filter(F.col("dist").isNull() | (F.col("cand") < F.col("dist")))
            .select("node", F.col("cand").alias("dist"))
        )
        improvements = improvements.unionByName(improved)
        frontier = improved
    return min_dist(improvements)


def hits_bipartite(
    edges: DataFrame, iterations: int = 2
) -> tuple[DataFrame, DataFrame]:
    """HITS hubs & authorities (Kleinberg 1999, JACM 46(5)) over a
    BIPARTITE directed edge list (``src`` → ``dst``; the two node
    spaces never mix, so hub scores live on src nodes and authority
    scores on dst nodes with no id-collision bookkeeping). Returns
    (hubs, authorities) as (node, score) DataFrames after
    ``iterations`` full hub→authority→hub sweeps.

    Determinism (mirrored by the unrolled-CTE DuckDB oracle): scores
    are normalized by the MAX (the max-norm HITS variant — max over
    exact decimals, one shared IEEE division) instead of the L2 norm,
    and every accumulation is a DECIMAL(28,12) sum of 9-dp-rounded
    terms, so both engines iterate from bit-identical vectors.

    Scale: per half-iteration, one edge⋈score shuffle join plus one
    combinable groupBy — the same node-sized-state flow as ``pagerank``
    above; the normalizing max rides along as a broadcast 1-row cross
    join (no driver action). Each half-step's RAW aggregate is the state
    it replaces: it feeds both the max-norm broadcast and the normalized
    projection, so it is the one table cut; the normalization stays a
    lazy projection over its blocks."""
    loop = Rounds()
    edges = loop.cut(edges.select("src", "dst"))
    hubs = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.lit(1.0).alias("score"))
    )
    auths = None
    for _ in range(iterations):
        a_raw = loop.replace(
            edges.join(hubs.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(_r9(F.col("score")).cast(_DEC)).alias("raw"))
        )
        a_max = F.broadcast(a_raw.agg(F.max("raw").alias("mx")))
        auths = a_raw.crossJoin(a_max).select(
            "node",
            _r9(
                F.col("raw").cast("double") / F.col("mx").cast("double")
            ).alias("score"),
        )
        h_raw = loop.replace(
            edges.join(auths.withColumnRenamed("node", "dst"), "dst")
            .groupBy(F.col("src").alias("node"))
            .agg(F.sum(_r9(F.col("score")).cast(_DEC)).alias("raw"))
        )
        h_max = F.broadcast(h_raw.agg(F.max("raw").alias("mx")))
        hubs = h_raw.crossJoin(h_max).select(
            "node",
            _r9(
                F.col("raw").cast("double") / F.col("mx").cast("double")
            ).alias("score"),
        )
    return hubs, auths
