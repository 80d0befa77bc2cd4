"""Unit tests for operators/graph.py (integer PageRank)."""

from __future__ import annotations

from sea_express_customs_etl_spark.operators.graph import (
    cooccur_edges,
    pagerank,
)


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, ["src", "dst"])


def test_symmetric_pair_is_a_fixpoint(spark):
    # A<->B, outdeg 1 each: r' = 150000 + 850000*1e6 DIV 1e6 = 1e6
    e = _edges(spark, [(1, 2), (2, 1)])
    out = {r.node: r.rank_u6 for r in pagerank(e, iters=3).collect()}
    assert out == {1: 1_000_000, 2: 1_000_000}


def test_star_golden_trajectory(spark):
    # center 0 <-> leaves 1..4; hand-computed 2-sweep values
    pairs = [(0, i) for i in range(1, 5)] + [(i, 0) for i in range(1, 5)]
    out = {r.node: r.rank_u6 for r in pagerank(_edges(spark, pairs), iters=2).collect()}
    # it1: r_c = 150000 + 850000*4e6 DIV 1e6 = 3_550_000
    #      r_leaf = 150000 + 850000*(1e6 DIV 4) DIV 1e6 = 362_500
    # it2: r_c = 150000 + 850000*(4*362500) DIV 1e6 = 1_382_500
    #      r_leaf = 150000 + 850000*(3550000 DIV 4) DIV 1e6 = 904_375
    assert out[0] == 1_382_500
    assert all(out[i] == 904_375 for i in range(1, 5))


def test_hub_outranks_leaves(spark):
    pairs = [(0, i) for i in range(1, 9)] + [(i, 0) for i in range(1, 9)]
    out = {r.node: r.rank_u6 for r in pagerank(_edges(spark, pairs), iters=3).collect()}
    assert out[0] > max(out[i] for i in range(1, 9))


def test_layout_invariance(spark):
    pairs = [(i, (i * 7 + 1) % 23) for i in range(23)]
    pairs += [(d, s) for (s, d) in pairs]
    df = _edges(spark, pairs)
    a = sorted(map(tuple, pagerank(df, iters=3).collect()))
    b = sorted(map(tuple, pagerank(df.repartition(5), iters=3).collect()))
    assert a == b


def test_deep_iteration_completes_and_converges(spark):
    """20 sweeps with per-sweep lazy checkpoints: lineage stays
    bounded (this test hangs/overflows without them at higher counts),
    and the tol_u6=0 probe stops at the integer fixed point — the
    symmetric pair is stationary from sweep 1, so early-exit and the
    full 20-sweep run must agree exactly."""
    e = _edges(spark, [(1, 2), (2, 1)])
    full = sorted(map(tuple, pagerank(e, iters=20).collect()))
    probed = sorted(map(tuple, pagerank(e, iters=20, tol_u6=0).collect()))
    assert full == probed == [(1, 1_000_000), (2, 1_000_000)]


def test_probe_does_not_change_fixed_trajectory(spark):
    """tol_u6 must never alter results when the graph has NOT
    converged within iters — only stop early when it has."""
    pairs = [(0, i) for i in range(1, 5)] + [(i, 0) for i in range(1, 5)]
    df = _edges(spark, pairs)
    a = sorted(map(tuple, pagerank(df, iters=4).collect()))
    b = sorted(map(tuple, pagerank(df, iters=4, tol_u6=0).collect()))
    assert a == b


def test_copurchase_edges_shape(spark):
    li = spark.createDataFrame(
        [(1, 10), (1, 11), (1, 10), (2, 11), (2, 12), (3, 13)],
        ["l_orderkey", "l_partkey"],
    )
    got = {(r.src, r.dst) for r in cooccur_edges(li, min_weight=1).collect()}
    # duplicates collapse; both directions; single-item orders drop
    assert got == {(10, 11), (11, 10), (11, 12), (12, 11)}


def test_triangle_counts_golden_and_direction_insensitive(spark):
    from sea_express_customs_etl_spark.operators.graph import (
        triangle_counts,
        triangle_triples,
    )

    # K4 on {1,2,3,4}: every node is in C(3,2) = 3 triangles
    k4 = [(a, b) for a in range(1, 5) for b in range(1, 5) if a != b]
    got = {
        r.node: r.n_triangles
        for r in triangle_counts(triangle_triples(_edges(spark, k4))).collect()
    }
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}
    # one direction only + a dangling edge: same triangles
    one_dir = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 9)]
    got2 = {
        r.node: r.n_triangles
        for r in triangle_counts(triangle_triples(_edges(spark, one_dir))).collect()
    }
    assert got2 == got


def test_personalized_pagerank_mass_stays_near_seeds(spark):
    """Two disconnected symmetric pairs, seeds on one: the seeded
    component is at its MICRO fixpoint, the other decays to exactly 0
    (no teleport mass, no inflow)."""
    from sea_express_customs_etl_spark.operators.graph import (
        personalized_pagerank,
    )

    e = _edges(spark, [(1, 2), (2, 1), (3, 4), (4, 3)])
    seeds = spark.createDataFrame([(1,), (2,)], ["node"])
    out = {
        r.node: r.ppr_u6
        for r in personalized_pagerank(e, seeds, iters=3).collect()
    }
    assert out == {1: 1_000_000, 2: 1_000_000, 3: 0, 4: 0}


def test_personalized_pagerank_star_golden(spark):
    """Hub 0 <-> leaves 1..4, seed = leaf 1 only. Hand-computed:
    r0 = (0:0, 1:1e6, leaves else 0)
    it1: hub gets 850000·(1e6 DIV 1) DIV 1e6 ... leaf1 contributes
    1e6 via its single edge to hub; hub had 0 so leaves get 0; leaf1
    gets base 150000."""
    from sea_express_customs_etl_spark.operators.graph import (
        personalized_pagerank,
    )

    pairs = [(0, i) for i in range(1, 5)] + [(i, 0) for i in range(1, 5)]
    seeds = spark.createDataFrame([(1,)], ["node"])
    out = {
        r.node: r.ppr_u6
        for r in personalized_pagerank(_edges(spark, pairs), seeds, iters=2).collect()
    }
    # it1: hub = 850000*1e6 DIV 1e6 = 850000; leaf1 = 150000; others 0
    # it2: hub = 850000*150000 DIV 1e6 = 127500
    #      each leaf = 850000*(850000 DIV 4) DIV 1e6 = 180625
    #      leaf1 adds base: 150000 + 180625 = 330625
    assert out[0] == 127_500
    assert out[1] == 330_625
    assert out[2] == out[3] == out[4] == 180_625


def test_kcore_peel_cascade_golden(spark):
    """Triangle {1,2,3} + pendant chain 3-4-5: k=2 peeling unravels
    the chain one node per round (5 first, then 4), leaving exactly
    the triangle with core degree 2 — and the cascade needs TWO
    rounds, so rounds=1 must still contain node 4."""
    from sea_express_customs_etl_spark.operators.graph import kcore

    und = [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)]
    pairs = und + [(b, a) for (a, b) in und]
    df = _edges(spark, pairs)
    got = {r.node: r.core_deg for r in kcore(df, k=2, rounds=4).collect()}
    assert got == {1: 2, 2: 2, 3: 2}
    partial = {r.node: r.core_deg for r in kcore(df, k=2, rounds=1).collect()}
    assert 4 in partial and 5 not in partial
    # converge mode reaches the same fixed point and extra rounds
    # after convergence are no-ops
    conv = {
        r.node: r.core_deg
        for r in kcore(df, k=2, rounds=10, converge=True).collect()
    }
    assert conv == got


def test_kcore_already_core_is_identity(spark):
    from sea_express_customs_etl_spark.operators.graph import kcore

    k4 = [(a, b) for a in range(1, 5) for b in range(1, 5) if a != b]
    got = {r.node: r.core_deg for r in kcore(_edges(spark, k4), k=3, rounds=3).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}


def test_triangle_orientations_agree_on_skewed_graph(spark):
    """Degree orientation is a pure physical-plan change: per-node
    counts equal a brute-force count over the undirected graph on a
    hub-heavy graph (200-leaf star + chain + random edges — hubs, ties,
    dangling edges, self-loops and degree-equal nodes all present)."""
    import itertools
    import random

    from sea_express_customs_etl_spark.operators.graph import (
        triangle_counts,
        triangle_triples,
    )

    rnd = random.Random(7)
    pairs = [(0, i) for i in range(1, 201)] + [(i, i + 1) for i in range(1, 150)]
    pairs += [(rnd.randrange(300), rnd.randrange(300)) for _ in range(800)]
    adj = {}
    for a, b in pairs:
        if a != b:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
    want = {}
    for x in adj:
        for y, z in itertools.combinations(sorted(adj[x]), 2):
            if z in adj[y]:
                want[x] = want.get(x, 0) + 1
    got = {
        r.node: r.n_triangles
        for r in triangle_counts(triangle_triples(_edges(spark, pairs))).collect()
    }
    assert got == want and len(got) > 50


def test_hash_walks_deterministic_and_structured(spark):
    """Walk semantics on a 2-node cycle: the only neighbor is always
    chosen, so endpoints alternate with parity of walk_length; layout
    never changes the walks; dead ends terminate the walk."""
    import pyspark.sql.functions as F

    from sea_express_customs_etl_spark.operators.graph import walk_trail

    def endpoints(edges, walk_length, n_walks):
        return (
            walk_trail(edges, walk_length, n_walks)
            .filter(F.col("step") == walk_length)
            .select("start", "walk_id", F.col("cur").alias("endpoint"))
        )

    cyc = _edges(spark, [(1, 2), (2, 1)])
    got = {
        (r.start, r.walk_id): r.endpoint
        for r in endpoints(cyc, walk_length=4, n_walks=2).collect()
    }
    # even length on a 2-cycle returns to the start, for every walk id
    assert got == {(1, 0): 1, (1, 1): 1, (2, 0): 2, (2, 1): 2}
    odd = {
        (r.start, r.walk_id): r.endpoint
        for r in endpoints(cyc, walk_length=3, n_walks=1).collect()
    }
    assert odd == {(1, 0): 2, (2, 0): 1}

    # layout invariance on a denser graph
    pairs = [(a, b) for a in range(8) for b in range(8) if a != b]
    df = _edges(spark, pairs)
    a = sorted(map(tuple, endpoints(df, 4, 2).collect()))
    b = sorted(map(tuple, endpoints(df.repartition(5), 4, 2).collect()))
    assert a == b and len(a) == 16

    # dead end: 1 -> 2 (no out-edge from 2) drops the walk
    chain = spark.createDataFrame([(1, 2)], ["src", "dst"])
    assert endpoints(chain, walk_length=2, n_walks=1).count() == 0


def test_walk_covisit_pairs_semantics(spark):
    """Two disjoint 3-cliques: starts within a clique co-visit each
    other's nodes; no cross-clique pair ever appears; the visit cap
    prunes ubiquitous nodes."""
    from sea_express_customs_etl_spark.operators.graph import (
        walk_covisit_pairs,
        walk_trail,
    )

    def clique(nodes):
        return [(a, b) for a in nodes for b in nodes if a != b]

    trail = walk_trail(
        _edges(spark, clique([1, 2, 3]) + clique([10, 11, 12])), 4, 2
    )
    got = {
        (r.start_a, r.start_b): r.n_shared
        for r in walk_covisit_pairs(
            trail, visit_cap=50, min_shared=1
        ).collect()
    }
    assert got  # intra-clique pairs exist
    assert all(
        (a < 10) == (b < 10) for a, b in got
    )  # never across components
    # cap = 0 prunes every node -> no pairs at all
    assert walk_covisit_pairs(trail, visit_cap=0, min_shared=1).count() == 0


def test_pagerank_weighted_follows_strength(spark):
    """A node receiving one heavy edge must outrank one receiving an
    equal-count set of light edges from the same source mass."""
    from sea_express_customs_etl_spark.operators.graph import (
        pagerank_weighted,
    )

    # hub 0 sends weight 9 to node 1 and weight 1 to node 2; back-edges
    # keep the graph sink-free
    edges = [
        (0, 1, 9), (0, 2, 1), (1, 0, 1), (2, 0, 1),
    ]
    df = spark.createDataFrame(edges, ["src", "dst", "w"])
    got = {r.node: r.rank_u6 for r in pagerank_weighted(df, iters=3).collect()}
    assert got[1] > got[2]
    # python reference of the exact integer trajectory
    ranks = {0: 10**6, 1: 10**6, 2: 10**6}
    out_w = {0: 10, 1: 1, 2: 1}
    adj = {(s, d): w for s, d, w in edges}
    for _ in range(3):
        nxt = {}
        for n in ranks:
            s = sum(
                (ranks[src] * w) // out_w[src]
                for (src, dst), w in adj.items()
                if dst == n
            )
            nxt[n] = 150000 + (850000 * s) // 10**6
        ranks = nxt
    assert got == ranks
