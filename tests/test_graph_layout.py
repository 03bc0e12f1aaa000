"""Invariants for the graph / sampling / layout queries that the oracle
hash can't express: PageRank mass conservation and Python-replicated
reference math for the A-ES keys and the Morton curve."""

from __future__ import annotations

import hashlib
import math

import pyspark.sql.functions as F
from pyspark.sql import Window

from pipeline_query_engine_demo_spark.operators.graph import pagerank
from pipeline_query_engine_demo_spark.operators.rounds import _CUT_EVERY
from pipeline_query_engine_demo_spark.plans.analytics import (
    weighted_sample_docs,
    zorder_curve_events,
)
from pipeline_query_engine_demo_spark.sources.catalog import load_table


def _plan_lines(df) -> int:
    return len(df._jdf.queryExecution().analyzed().treeString().splitlines())


def test_pagerank_mass_and_ordering(spark):
    """On a path graph a<->b<->c (symmetric), total rank mass stays ~1
    and the center node outranks the leaves — also at 50 iterations,
    where the plan is no larger than at 2 * _CUT_EVERY."""
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "a"), ("b", "c"), ("c", "b")], "src string, dst string"
    )
    for iterations in (10, 50):
        df = pagerank(edges, iterations=iterations)
        ranks = {r.node: r.pagerank for r in df.collect()}
        assert abs(sum(ranks.values()) - 1.0) < 1e-6, (iterations, ranks)
        assert ranks["b"] > ranks["a"] == ranks["c"], (iterations, ranks)
    assert _plan_lines(df) <= _plan_lines(pagerank(edges, iterations=2 * _CUT_EVERY))


def test_weighted_sample_keys_match_python(spark, sf_dir):
    got = weighted_sample_docs(spark, sf_dir).collect()
    assert len(got) == 10
    for r in got:
        h = hashlib.md5(f"{r.doc_id}|wsample-v1".encode()).hexdigest()
        u = int(h[:13], 16) / float(16**13)
        expect = round(round(math.log(u), 9) / r.n_chars, 12)
        assert abs(r.es_key - expect) < 1e-12, (r.doc_id, r.es_key, expect)
    # keys are negative (ln u < 0) and sorted descending
    keys = [r.es_key for r in got]
    assert keys == sorted(keys, reverse=True)
    assert all(k < 0 for k in keys)


def test_zorder_curve_roundtrips(spark, sf_dir):
    rows = zorder_curve_events(spark, sf_dir).limit(200).collect()
    assert rows
    for r in rows:
        x = sum(((r.zvalue >> (2 * i)) & 1) << i for i in range(8))
        y = sum(((r.zvalue >> (2 * i + 1)) & 1) << i for i in range(8))
        assert (x, y) == (r.x, r.y), (r.event_id, r.zvalue, x, y, r.x, r.y)


def test_zorder_locality_beats_single_key(spark, sf_dir):
    """The point of the curve: range-bucketing by zvalue keeps BOTH
    dimensions' spread per bucket small, while bucketing by x alone
    leaves y unconstrained. Compare mean per-bucket y-range."""
    df = zorder_curve_events(spark, sf_dir)
    zb = (
        df.withColumn("bucket", F.ntile(64).over(Window.orderBy("zvalue")))
        .groupBy("bucket")
        .agg((F.max("y") - F.min("y")).alias("spread"))
        .agg(F.avg("spread"))
        .first()[0]
    )
    xb = (
        df.withColumn("bucket", F.ntile(64).over(Window.orderBy("x", "event_id")))
        .groupBy("bucket")
        .agg((F.max("y") - F.min("y")).alias("spread"))
        .agg(F.avg("spread"))
        .first()[0]
    )
    assert zb < xb, (zb, xb)


def test_sssp_bellman_ford_matches_python_and_differs_from_bfs(spark):
    """Frontier Bellman-Ford vs a literal python relaxation on a graph
    engineered so hop-count BFS and weighted SSSP DISAGREE (a 3-hop
    cheap detour beats the 1-hop heavy edge) and the <=rounds-edges
    bound is observable (the detour only wins once rounds >= 3)."""
    from pipeline_query_engine_demo_spark.operators.graph import sssp_distances

    edges = [
        (0, 1, 10),          # direct but heavy
        (0, 2, 1), (2, 3, 1), (3, 1, 1),   # 3-hop detour, cost 3
        (1, 4, 1),
        (5, 0, 1),           # unreachable direction (into the seed)
    ]
    edf = spark.createDataFrame(edges, "src long, dst long, w long")
    seed = spark.createDataFrame([(0,)], "node long")

    def python_bf(rounds):
        dist = {0: 0}
        for _ in range(rounds):
            nd = dict(dist)
            for s, d, w in edges:
                if s in dist and dist[s] + w < nd.get(d, 1 << 60):
                    nd[d] = dist[s] + w
            dist = nd
        return dist

    for rounds in (1, 2, 3, 4, 50):
        df = sssp_distances(edf, seed, rounds=rounds)
        got = {r["node"]: r["dist"] for r in df.collect()}
        assert got == python_bf(rounds), f"rounds={rounds}"
    # bounded plan at 50 rounds
    assert _plan_lines(df) <= _plan_lines(
        sssp_distances(edf, seed, rounds=2 * _CUT_EVERY)
    )
    # the designed disagreement: BFS hop-distance of node 1 is 1, but
    # min COST path is the 3-edge detour
    assert python_bf(4)[1] == 3
    # node 5 only has an edge INTO the seed: never reached
    assert 5 not in python_bf(4)


def _xy2d(n: int, x: int, y: int) -> int:
    """Canonical Hilbert xy2d (Wikipedia pseudocode, verbatim)."""
    d = 0
    s = n // 2
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x = s - 1 - x
                y = s - 1 - y
            x, y = y, x
        s //= 2
    return d


def test_hilbert_matches_canonical_xy2d(spark, sf_dir):
    """The unrolled SQL walk equals the canonical loop for every
    event row."""
    from pipeline_query_engine_demo_spark.plans.analytics import (
        hilbert_curve_events,
    )

    rows = hilbert_curve_events(spark, sf_dir).limit(2000).collect()
    assert rows
    for r in rows:
        assert r["hvalue"] == _xy2d(256, r["x"], r["y"]), (r["x"], r["y"])


def test_hilbert_adjacency_beats_zorder_jumps():
    """The property that makes Hilbert the better layout key:
    consecutive curve positions are ALWAYS grid-adjacent
    (|dx|+|dy| = 1) — exhaustively true on the full 256x256 curve —
    while consecutive Z-order positions take jumps up to half the
    grid diagonal."""
    n = 256
    pos = [None] * (n * n)
    for x in range(n):
        for y in range(n):
            pos[_xy2d(n, x, y)] = (x, y)
    max_step = 0
    for d in range(1, n * n):
        (x0, y0), (x1, y1) = pos[d - 1], pos[d]
        step = abs(x1 - x0) + abs(y1 - y0)
        max_step = max(max_step, step)
    assert max_step == 1

    def z2xy(z):
        x = y = 0
        for i in range(8):
            x |= ((z >> (2 * i)) & 1) << i
            y |= ((z >> (2 * i + 1)) & 1) << i
        return x, y

    zmax = 0
    for z in range(1, n * n):
        x0, y0 = z2xy(z - 1)
        x1, y1 = z2xy(z)
        zmax = max(zmax, abs(x1 - x0) + abs(y1 - y0))
    assert zmax > 100  # Z-order's worst consecutive jump spans the grid


def test_kcore_peel_planted_cascade_matches_hand_computed_profile(spark):
    """k=2 peel on a 5-path glued to a disjoint triangle: the path must
    peel from both ends one layer per round (a genuinely multi-round
    cascade), the triangle (a 2-core) must survive forever, and the
    trailing rows must show the fixpoint. Profile is hand-computed, so
    this pins kcore_peel independently of the mirrored SQL oracle."""
    from pipeline_query_engine_demo_spark.operators.graph import kcore_peel

    undirected = [
        (0, 1), (1, 2), (2, 3), (3, 4),   # path a-b-c-d-e
        (10, 11), (11, 12), (12, 10),     # triangle
    ]
    sym = undirected + [(b, a) for a, b in undirected]
    edf = spark.createDataFrame(sym, "src long, dst long")
    got = [
        (r["peel_round"], r["nodes_remaining"], r["edges_remaining"])
        for r in kcore_peel(edf, k=2, rounds=4).orderBy("peel_round").collect()
    ]
    # round 0: 8 nodes, 7 undirected edges = 14 directed
    # round 1: path ends 0,4 (deg 1) drop         -> 6 nodes, 10 edges
    # round 2: new ends 1,3 drop; 2 isolates away -> 3 nodes,  6 edges
    # rounds 3,4: fixpoint at the triangle
    assert got == [(0, 8, 14), (1, 6, 10), (2, 3, 6), (3, 3, 6), (4, 3, 6)]


def test_label_propagation_matches_python_replay_and_planted_cliques(spark, sf_dir):
    """Literal-python synchronous LPA (dict-based, same min-tie rule)
    over the sf fixture's repeat co-purchase graph must match the
    operator node-for-node; a planted two-clique graph with one bridge
    must resolve into exactly its two cliques."""
    import collections

    from pipeline_query_engine_demo_spark.operators.graph import label_propagation
    from pipeline_query_engine_demo_spark.plans.analytics import _LPA_ROUNDS
    from pipeline_query_engine_demo_spark.sources.catalog import load_table

    def python_lpa(directed_edges, rounds):
        adj = collections.defaultdict(list)
        for s, t in directed_edges:
            adj[s].append(t)
        lbl = {v: v for v in adj}
        for _ in range(rounds):
            nxt = {}
            for v, nbrs in adj.items():
                cnt = collections.Counter(lbl[u] for u in nbrs)
                nxt[v] = min(cnt, key=lambda l: (-cnt[l], l))
            lbl = nxt
        return lbl

    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .collect()
    )
    by_order = collections.defaultdict(set)
    for r in li:
        by_order[r["l_orderkey"]].add(r["l_partkey"])
    w = collections.Counter()
    for parts in by_order.values():
        for x in parts:
            for y in parts:
                if x != y:
                    w[(x, y)] += 1
    edges = [e for e, c in w.items() if c >= 2]
    expect = python_lpa(edges, _LPA_ROUNDS)
    edf = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["node"]: r["lbl"]
        for r in label_propagation(edf, iterations=_LPA_ROUNDS).collect()
    }
    assert got == expect

    # planted: two 4-cliques bridged by a single edge
    c1, c2 = [0, 1, 2, 3], [10, 11, 12, 13]
    und = [(a, b) for c in (c1, c2) for a in c for b in c if a < b] + [(3, 10)]
    sym = und + [(b, a) for a, b in und]
    final = {
        r["node"]: r["lbl"]
        for r in label_propagation(
            spark.createDataFrame(sym, "src long, dst long"), iterations=4
        ).collect()
    }
    assert final == python_lpa(sym, 4)
    l1 = {final[v] for v in c1}
    l2 = {final[v] for v in c2}
    assert len(l1) == 1 and len(l2) == 1 and l1 != l2


def test_hits_bipartite_matches_exact_python_replay(spark):
    """Exact nano-unit replay of hits_bipartite on a planted bipartite
    graph: customer u1 buys {p1,p2,p3}, u2 buys {p1,p2}, u3 buys {p1} —
    hub order must be u1>u2>u3, authority order p1>p2>p3, and every
    score must equal the integer-nanos replay bit-for-bit."""
    from pipeline_query_engine_demo_spark.operators.graph import hits_bipartite

    raw_edges = [
        (1, 101), (1, 102), (1, 103),
        (2, 101), (2, 102),
        (3, 101),
    ]
    edges = spark.createDataFrame(raw_edges, "src long, dst long")
    hubs_df, auths_df = hits_bipartite(edges, iterations=2)
    hubs = {r.node: r.score for r in hubs_df.collect()}
    auths = {r.node: r.score for r in auths_df.collect()}

    def r9(x: float) -> float:
        return math.floor(x * 1e9 + 0.5) / 1e9

    def nanos(x: float) -> int:
        return math.floor(x * 1e9 + 0.5)

    h = {u: 1.0 for u, _ in raw_edges}
    a = {}
    for _ in range(2):
        raw = {}
        for u, v in raw_edges:
            raw[v] = raw.get(v, 0) + nanos(h[u])  # DECIMAL sum == int nanos
        mx = max(raw.values())
        a = {v: r9((n / 1e9) / (mx / 1e9)) for v, n in raw.items()}
        raw = {}
        for u, v in raw_edges:
            raw[u] = raw.get(u, 0) + nanos(a[v])
        mx = max(raw.values())
        h = {u: r9((n / 1e9) / (mx / 1e9)) for u, n in raw.items()}

    assert hubs == h, (hubs, h)
    assert auths == a, (auths, a)
    assert hubs[1] > hubs[2] > hubs[3]
    assert auths[101] > auths[102] > auths[103]
    assert max(hubs.values()) == 1.0 and max(auths.values()) == 1.0


def test_local_clustering_coefficient_matches_python(spark, sf_dir):
    """Per-node clustering coefficients must equal a python set-based
    recount (adjacency sets, triangles via neighbor intersection) under
    the same (coeff desc, node) top-20 order."""
    from pipeline_query_engine_demo_spark.plans.graph import (
        local_clustering_coefficient,
    )
    from pipeline_query_engine_demo_spark.sources.catalog import load_table

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    baskets: dict = {}
    for r in li.collect():
        baskets.setdefault(r.l_orderkey, set()).add(r.l_partkey)
    adj: dict = {}
    for parts in baskets.values():
        ps = sorted(parts)
        for i, u in enumerate(ps):
            for v in ps[i + 1:]:
                adj.setdefault(u, set()).add(v)
                adj.setdefault(v, set()).add(u)
    rows = []
    for node, nb in adj.items():
        d = len(nb)
        if d < 2:
            continue
        tri = sum(len(adj[x] & nb) for x in nb) // 2
        coeff = __import__("math").floor(
            2.0 * tri / (d * (d - 1)) * 1e6 + 0.5
        ) / 1e6
        rows.append((-coeff, node, d, tri))
    rows.sort()
    exp = [(n, d, t, -c) for c, n, d, t in rows[:20]]
    got = [
        (r.node, r.d, r.n_triangles, r.coeff)
        for r in local_clustering_coefficient(spark, sf_dir).collect()
    ]
    assert got == exp
