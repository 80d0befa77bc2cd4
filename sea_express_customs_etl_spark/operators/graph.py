"""Iterative graph analytics: deterministic integer PageRank.

The engine already resolves dedup graphs to connected components
(``operators/dedup.dedup_clusters`` — min-label propagation); this
module adds the weighted-importance sibling: PageRank over an edge
list, expressed as the same driver-looped join/aggregate iteration
Spark uses for every fixed-point graph algorithm (GraphX's Pregel is
this loop with message-combine; no extra library needed).

Bit-portability (the ``kmeans_fit_q`` rule applied to graph state):
ranks live in MICRO-UNIT integers. One iteration is

    contrib(e) = r(src) DIV outdeg(src)            -- exact bigint
    r'(n)     = base + (damping · Σ contrib) DIV 1e6

with the damping product computed in DECIMAL(38,0) (Σ contrib can
reach ~n·1e6 ≈ 1e15 on a billion-node graph; ×850000 overflows int64,
so the decimal cast is load-bearing). Every operation is exact integer
arithmetic → the trajectory is partitioning-independent and
hash-matches an unrolled SQL oracle. All quantities are nonnegative,
so Spark's truncate-toward-zero ``DIV`` and DuckDB's floor ``//``
agree.

Scale shape: the edge list is GRAPH-sized (orders of magnitude below
the corpus); it is joined with the rank frame once per iteration —
one shuffle keyed on src plus one partial-aggregated shuffle on dst.
Rank state is |nodes| rows. Nothing collects to the driver; the
iteration count is fixed by the caller (production runs add the
dedup_clusters-style convergence probe: count of nodes whose rank
moved more than a tolerance). Mass leakage at sinks: a node with no
OUT-edges contributes nothing (its mass evaporates — the standard
non-normalized treatment); a node with no IN-edges drops to ``base``
after one iteration. Symmetric edge lists (like co-purchase graphs)
have neither.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
import pyspark.sql.functions as F

from ..plans.cache import tracked_persist

MICRO = 1_000_000


def pagerank(
    edges: DataFrame,
    iters: int = 3,
    damping_u6: int = 850_000,
    tol_u6: int | None = None,
) -> DataFrame:
    """Integer PageRank over an (src, dst) edge list. Output: node,
    rank_u6 (bigint micro-units; a rank of 1.0 is 1_000_000).

    Nodes = distinct sources (callers with one-directional sinks add
    them explicitly). The (edges ⋈ outdeg) frame is static across
    iterations and persisted once — each sweep then costs exactly one
    rank join + one aggregate.

    Lineage control (the ``dedup_clusters`` pattern, VERDICT r4 #5):
    every sweep ends in a LAZY ``localCheckpoint`` — materialized by
    whichever action first needs it, but truncating the plan so 20+
    iterations stay linear-time in planning instead of nesting each
    sweep inside the next (quadratic analysis + a lineage that can
    overflow the planner). Per-sweep cost is flat at any iteration
    count.

    ``tol_u6`` enables the convergence probe: every SECOND sweep,
    count nodes whose rank moved by more than ``tol_u6`` micro-units
    vs the previous sweep and stop early at zero (``tol_u6=0`` = exact
    stationarity — well-defined here because the trajectory is exact
    integer arithmetic). ``None`` (default) runs exactly ``iters``
    sweeps with no probe jobs — the oracle-checked fixed-trajectory
    form."""
    base_u6 = MICRO - damping_u6
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("_d"))
    ed = tracked_persist(edges.join(deg, "src"))
    ranks = deg.select(
        F.col("src").alias("node"), F.lit(MICRO).cast("bigint").alias("r")
    )
    step = (
        f"CAST({base_u6} AS BIGINT) + "
        f"CAST(CAST({damping_u6} AS DECIMAL(38,0)) * "
        f"CAST(_s AS DECIMAL(38,0)) DIV 1000000 AS BIGINT)"
    )
    for it in range(iters):
        prev = ranks
        ranks = (
            ed.join(prev, ed.src == prev.node)
            .select("dst", F.expr("r DIV _d").alias("_c"))
            .groupBy("dst")
            .agg(F.sum("_c").alias("_s"))
            .select(
                F.col("dst").alias("node"),
                F.expr(step).alias("r"),
            )
            .localCheckpoint(eager=False)
        )
        # probe every second sweep (and never after the last — the
        # caller's action is about to run anyway): one count job that
        # doubles as the checkpoint materializer, same as dedup_clusters
        if tol_u6 is not None and it % 2 == 1 and it < iters - 1:
            moved = (
                ranks.join(
                    prev.select("node", F.col("r").alias("_pr")), "node"
                )
                .filter(F.abs(F.col("r") - F.col("_pr")) > tol_u6)
                .count()
            )
            if moved == 0:
                break
    return ranks.select("node", F.col("r").alias("rank_u6"))


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    iters: int = 3,
    damping_u6: int = 850_000,
) -> DataFrame:
    """Seeded (topic-sensitive) PageRank: the teleport mass lands ONLY
    on the ``seeds`` node set (one ``node`` column; restricted to
    nodes present in the graph), so ranks measure proximity to the
    seed topic instead of global importance — the related-items /
    recommendation form of :func:`pagerank`. Output: node, ppr_u6
    (bigint micro-units) for EVERY graph node (non-seed nodes far from
    the seeds decay to 0 — kept, for rank-conservation checks).

    Same exact-integer trajectory as :func:`pagerank` (micro-unit
    ranks, contrib = r DIV outdeg, damping product in DECIMAL(38,0),
    lazy per-sweep checkpoints); the seed indicator rides the rank
    frame so each sweep is still one join + one aggregate + one
    node-frame left join. r0 = MICRO·[n ∈ seeds]."""
    base_u6 = MICRO - damping_u6
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("_d"))
    ed = tracked_persist(edges.join(deg, "src"))
    nodes = tracked_persist(
        deg.select(F.col("src").alias("node"))
        .join(
            seeds.select("node").distinct().withColumn("_s1", F.lit(1)),
            "node",
            "left",
        )
        .select(
            "node", F.coalesce(F.col("_s1"), F.lit(0)).alias("_seed")
        )
    )  # one scan per sweep + the init
    ranks = nodes.select(
        "node",
        "_seed",
        (F.col("_seed").cast("bigint") * MICRO).alias("r"),
    )
    step = (
        f"CAST({base_u6} AS BIGINT) * CAST(_seed AS BIGINT) + "
        f"CAST(CAST({damping_u6} AS DECIMAL(38,0)) * "
        f"CAST(coalesce(_s, CAST(0 AS BIGINT)) AS DECIMAL(38,0)) "
        f"DIV 1000000 AS BIGINT)"
    )
    for _ in range(iters):
        # zero-rank nodes contribute exactly 0 to every neighbor, and
        # the step's coalesce(_s, 0) already covers a dst losing ALL
        # its contributors — so pruning them BEFORE the edge join is
        # hash-identical and shrinks sweep 1 to the seed set and sweep
        # k to the k-hop neighborhood (guide §2.3: shuffle fewer
        # bytes; the proximity frontier is the data that matters)
        contribs = (
            ed.join(
                ranks.select("node", "r").filter(F.col("r") > 0),
                ed.src == F.col("node"),
            )
            .select("dst", F.expr("r DIV _d").alias("_c"))
            .groupBy("dst")
            .agg(F.sum("_c").alias("_s"))
        )
        ranks = (
            nodes.join(contribs, nodes.node == contribs.dst, "left")
            .select("node", "_seed", F.expr(step).alias("r"))
            .localCheckpoint(eager=False)
        )
    return ranks.select("node", F.col("r").alias("ppr_u6"))


def cooccur_edges(lineitem: DataFrame, min_weight: int = 2) -> DataFrame:
    """Thresholded co-purchase edges: part pairs co-occurring in at
    least ``min_weight`` distinct orders (both directions). The weight
    filter is the standard sparsifier for co-occurrence graphs — it
    drops the long tail of one-off pairings (noise at corpus scale)
    and bounds the graph to genuinely associated items;
    ``min_weight=1`` keeps every co-purchase pair. The per-order
    self-join fans out |order|² pairs — bounded by the max basket size
    (7 in TPC-H), so edge volume is a small constant multiple of
    lineitem, not n². The groupBy adds one partial-aggregated shuffle
    on the pair key."""
    items = tracked_persist(
        lineitem.select("l_orderkey", "l_partkey").distinct()
    )
    a, b = items.alias("a"), items.alias("b")
    return (
        a.join(b, "l_orderkey")
        .filter(F.col("a.l_partkey") != F.col("b.l_partkey"))
        .groupBy(
            F.col("a.l_partkey").alias("src"),
            F.col("b.l_partkey").alias("dst"),
        )
        .agg(F.count(F.lit(1)).alias("_w"))
        .filter(F.col("_w") >= min_weight)
        .select("src", "dst")
    )


def kcore(
    edges: DataFrame,
    k: int = 3,
    rounds: int = 4,
    converge: bool = False,
) -> DataFrame:
    """k-core sieve: iteratively peel nodes of degree < ``k`` from an
    undirected edge list (both directions present). Output: node,
    core_deg — each surviving node with its degree in the surviving
    subgraph after ``rounds`` peels.

    The fixed-``rounds`` form is the oracle-checked trajectory (the
    pagerank discipline: both engines run exactly R sieve passes, so
    results match even before the fixed point); peeling is monotone —
    extra rounds after convergence are no-ops — so a converged run
    equals the true k-core. ``converge=True`` adds the per-round
    emptiness probe and stops early (production mode; worst case the
    peel cascades O(diameter) rounds — a chain unravels one node per
    round — so production pairs it with a round cap).

    Scale shape: each round is one partial-aggregated degree count
    (graph-sized) + two broadcast-able anti-joins against the peeled
    node set (strictly smaller each round) + a lazy localCheckpoint to
    keep lineage flat. Nothing collects to the driver."""
    e = edges
    for _ in range(rounds):
        deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("_d"))
        bad = deg.filter(F.col("_d") < k).select(F.col("src").alias("node"))
        if converge:
            # pin BEFORE the probe: the count materializes (and caches)
            # the peel set, so the two anti-joins below reuse it instead
            # of re-running the graph-sized degree aggregation
            bad = tracked_persist(bad)
            if bad.count() == 0:
                break
        e = (
            e.join(bad.withColumnRenamed("node", "src"), "src", "left_anti")
            .join(bad.withColumnRenamed("node", "dst"), "dst", "left_anti")
            .select("src", "dst")
            .localCheckpoint(eager=False)
        )
    return e.groupBy("src").agg(
        F.count(F.lit(1)).cast("bigint").alias("core_deg")
    ).select(F.col("src").alias("node"), "core_deg")


def triangle_counts(triples: DataFrame) -> DataFrame:
    """Per-node triangle counts from a one-per-triangle (x, y, z)
    enumeration of an undirected graph (:func:`triangle_triples`).
    Output: node, n_triangles — nodes in no triangle are absent. The
    count is position-invariant: all three corners explode, so any
    valid one-per-triangle enumeration gives identical output, and the
    per-node counts are one explode + one partial-aggregated groupBy.
    """
    return (
        triples.select(
            F.explode(F.array(F.col("x"), F.col("y"), F.col("z"))).alias("node")
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
    )


def triangle_triples(edges: DataFrame) -> DataFrame:
    """Enumerate each triangle of an undirected edge list (either or
    both directions may be present; deduplicated internally) exactly
    once as an (x, y, z) triple. Shared by the per-node counts, the
    clustering coefficient and the per-edge support (k-truss)
    operator.

    The total order that directs the wedge joins is the compact-forward
    one: direct each edge from the (degree, id)-smaller endpoint to the
    larger, pivot wedges on the LOW-degree node. Per-pivot fan-out is
    the FORWARD degree, which is O(√m) for any graph (a node with
    forward-degree d has d neighbors of degree ≥ its own, so
    d² ≤ Σdeg = 2m) — hub nodes in a power-law graph contribute O(m)
    wedges instead of the O(deg²) of an id-only (a < b) orientation
    (SCALE.md round 6; ``copurchase_triangles`` at 1×/8× is in
    ``BENCH_HISTORY/scale_r12_c4.json``)."""
    e = tracked_persist(
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )  # multi-scan: wedge sides + closing side (and the degree count)
    deg = (
        e.select(F.explode(F.array("a", "b")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("_deg"))
    )
    # forward-direct each edge by the (degree, id) total order —
    # plain scalar comparisons, not struct keys (structs shuffle
    # and compare slower than two long columns); carry the head's
    # (degree, id) so the wedge pair orders without re-joining
    a_first = (F.col("_da") < F.col("_db")) | (
        (F.col("_da") == F.col("_db")) & (F.col("a") < F.col("b"))
    )
    fwd = tracked_persist(
        e.join(deg.select(F.col("node").alias("a"), F.col("_deg").alias("_da")), "a")
        .join(deg.select(F.col("node").alias("b"), F.col("_deg").alias("_db")), "b")
        .select(
            F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("v"),
            F.when(a_first, F.col("_db")).otherwise(F.col("_da")).alias("_dv"),
        )
    )  # three scans: both wedge sides + the closing edge
    w1 = fwd.select("u", F.col("v").alias("x2"), F.col("_dv").alias("_d1"))
    w2 = fwd.select("u", F.col("v").alias("z"), F.col("_dv").alias("_d2"))
    fwd_lt = (F.col("_d1") < F.col("_d2")) | (
        (F.col("_d1") == F.col("_d2")) & (F.col("x2") < F.col("z"))
    )
    wedges = (
        w1.join(w2, "u")
        .filter(fwd_lt)
        .select(F.col("u").alias("x"), F.col("x2").alias("y"), "z")
    )
    # the closing edge {y,z} has key(y) < key(z), so if present it is
    # oriented y→z — one equi-join, no direction disjunction
    return wedges.join(
        fwd.select(F.col("u").alias("y"), F.col("v").alias("z")), ["y", "z"]
    )


def edge_support(triples: DataFrame) -> DataFrame:
    """Per-EDGE triangle support — the k-truss building block: an edge
    with support s participates in s triangles, and the k-truss is the
    maximal subgraph where every edge has support ≥ k−2. One support
    pass is the standard community-backbone filter (support 0 edges are
    bridges/noise; high-support edges sit inside dense cohesive
    groups) and the unit of work a truss-decomposition peel repeats.

    ``triples`` is a one-per-triangle (x, y, z) enumeration of the
    graph, as :func:`triangle_counts` reads it (:func:`triangle_triples`,
    degree orientation — the power-law dial). Each triple unpivots to
    its THREE canonical (min, max) edges, so the support is
    enumeration-invariant, and one partial-aggregated groupBy counts
    per edge. Edges in no triangle are absent (support 0 — join back
    against the edge list when the peel needs them). Output: a, b,
    support.
    """
    # ONE pass over the triples: a 3-struct explode (a union of three
    # selects would re-execute the wedge joins per branch — measured
    # 15.4 s → ~6 s at sf0.1)
    e3 = F.array(
        F.struct(F.col("x").alias("u1"), F.col("y").alias("u2")),
        F.struct(F.col("x").alias("u1"), F.col("z").alias("u2")),
        F.struct(F.col("y").alias("u1"), F.col("z").alias("u2")),
    )
    return (
        triples.select(F.explode(e3).alias("_e"))
        .select(
            F.least("_e.u1", "_e.u2").alias("a"),
            F.greatest("_e.u1", "_e.u2").alias("b"),
        )
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("support"))
    )


def walk_trail(
    edges: DataFrame, walk_length: int = 4, n_walks: int = 2
) -> DataFrame:
    """Deterministic 'random' walks — the DeepWalk/node2vec sampling
    primitive with positional hashing in place of randomness (the
    ``word_dropout`` discipline applied to graphs): from every node,
    ``n_walks`` walks of ``walk_length`` steps; at each step the next
    neighbor is the argmin of ``md5(walk_id _ step _ cur _ neighbor)``
    — replayable bit-for-bit across engines, retries, and
    partitionings, so a materialized trail is row-identical to a fresh
    one. Output: step (1..walk_length), start, walk_id, cur (the node
    after that step). Walks reaching a node with no out-edges
    terminate (their later steps are absent); symmetric edge lists
    have none.

    Scale shape: the frontier is |nodes|·n_walks rows; each step is
    one edge join (fan-out = degree) + a per-walk argmin window whose
    rank-filter keeps Spark's WindowGroupLimit rewrite (map-side
    partial top-1), then a lazy checkpoint to truncate lineage —
    node2vec's sampling pass, one join per step, nothing driver-side.
    """
    from pyspark.sql import Window

    # one scan per step (plus the frontier init): without the pin the
    # whole edge-derivation chain (e.g. cooccur's basket self-join)
    # re-executes at every step's checkpoint materialization
    edges = tracked_persist(edges.select("src", "dst"))
    frontier = (
        edges.select(F.col("src").alias("start"))
        .distinct()
        .select(
            "start",
            F.explode(
                F.sequence(F.lit(0), F.lit(int(n_walks) - 1))
            ).alias("walk_id"),
        )
        .withColumn("cur", F.col("start"))
    )
    trail = None
    for t in range(1, walk_length + 1):
        h = F.md5(
            F.concat_ws(
                "_",
                F.col("walk_id"),
                F.lit(t),
                F.col("cur"),
                F.col("dst"),
            )
        )
        w = Window.partitionBy("start", "walk_id").orderBy(h, F.col("dst"))
        frontier = (
            frontier.join(edges, edges.src == frontier.cur)
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("start", "walk_id", F.col("dst").alias("cur"))
            .localCheckpoint(eager=False)
        )
        part = frontier.select(F.lit(t).alias("step"), "start", "walk_id", "cur")
        trail = part if trail is None else trail.unionByName(part)
    return trail


def walk_covisit_pairs(
    trail: DataFrame,
    visit_cap: int = 50,
    min_shared: int = 3,
) -> DataFrame:
    """DeepWalk step 2 — node similarity from shared walk context:
    two start nodes are related when their walks (a
    :func:`walk_trail`) visit ≥ ``min_shared`` common nodes. Output:
    start_a < start_b, n_shared.

    ``visit_cap`` drops nodes visited from more than that many starts
    before the pair join — the same hot-key prune as
    ``tfidf_cosine_pairs``' df cap: the co-visit join is Σ visits²
    over KEPT nodes, so hub context nodes (visited from everywhere,
    carrying no similarity signal — the stop-words of the graph) never
    explode the pair stage. All counts exact integers."""
    visited = tracked_persist(
        trail.select("start", F.col("cur").alias("node")).distinct()
    )  # cap count + both join sides
    vf = (
        visited.groupBy("node")
        .agg(F.count(F.lit(1)).alias("_nv"))
        .filter(F.col("_nv") <= visit_cap)
        .select("node")
    )
    kept = tracked_persist(visited.join(vf, "node"))
    a = kept.select(F.col("start").alias("start_a"), "node")
    b = kept.select(F.col("start").alias("start_b"), "node")
    return (
        a.join(b, "node")
        .filter(F.col("start_a") < F.col("start_b"))
        .groupBy("start_a", "start_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def resource_alloc_links(
    edges: DataFrame,
    top_n: int = 50,
    ppm: int = 1_000_000,
    mid_deg_max: int | None = None,
) -> DataFrame:
    """Link prediction by the Resource-Allocation index (Zhou, Lü,
    Zhang, Eur. Phys. J. B 2009): for every NON-adjacent pair (a < b)
    sharing at least one neighbor, score = Σ_{z ∈ N(a)∩N(b)} 1/deg(z),
    ranked descending — "which items will co-occur next". RA is the
    exact-rational member of the common-neighbor family (Adamic-Adar's
    1/ln(deg) needs a transcendental whose last bit libm implementations
    disagree on; 1/deg does not), so the whole score is integer ppm
    units — ``ppm DIV deg(z)`` summed in BIGINT, aggregation-order-exact
    and oracle-portable. Output: id_a, id_b, n_common, score_ppm
    (global top-``top_n``, ties broken by (id_a, id_b)).

    Scale shape: one degree aggregation + one neighbor-keyed wedge
    self-join + one partial-aggregated pair groupBy + a canonical-edge
    anti-join; the final top-n is orderBy+limit (TakeOrderedAndProject
    — map-side partial top-k, never a single-partition window). The
    wedge fan-out is Σ deg(z)² over middle nodes — bounded on
    basket-capped co-purchase graphs; on power-law graphs set
    ``mid_deg_max`` to drop hub middles BEFORE the self-join (they
    contribute ≤ ppm/deg each — vanishing signal, quadratic cost: the
    same stop-key prune as ``walk_covisit_pairs.visit_cap``).

    Beyond reference parity: the reference has no graph layer at all
    (its linking is key-equality joins, ``src/batch_train.py:95-117``);
    this extends the co-purchase family (pagerank/triangles/k-core)
    with the standard missing-link score.
    """
    e = tracked_persist(
        edges.select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )  # three scans: both neighbor-list halves + the adjacency anti-join
    nbr = e.select(F.col("a").alias("node"), F.col("b").alias("nb")).unionByName(
        e.select(F.col("b").alias("node"), F.col("a").alias("nb"))
    )
    deg = nbr.groupBy("node").agg(F.count(F.lit(1)).alias("_d"))
    if mid_deg_max is not None:
        deg = deg.filter(F.col("_d") <= mid_deg_max)
    mid = tracked_persist(
        nbr.join(deg, "node").select(
            "node", "nb", F.expr(f"{int(ppm)} DIV _d").alias("_t")
        )
    )  # both wedge sides
    x = mid.select("node", F.col("nb").alias("id_a"), "_t")
    y = mid.select("node", F.col("nb").alias("id_b"))
    pairs = (
        x.join(y, "node")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_common"),
            F.sum("_t").cast("bigint").alias("score_ppm"),
        )
    )
    nonadj = pairs.join(
        e.select(F.col("a").alias("id_a"), F.col("b").alias("id_b")),
        ["id_a", "id_b"],
        "left_anti",
    )
    return nonadj.orderBy(
        F.col("score_ppm").desc(), F.col("id_a"), F.col("id_b")
    ).limit(top_n)


def label_propagation(edges: DataFrame, rounds: int = 4) -> DataFrame:
    """Synchronous label-propagation communities (Raghavan et al.
    2007): labels start as node ids; each sweep every node adopts the
    most frequent label among its neighbors' CURRENT labels (ties →
    smallest label). Output after ``rounds`` sweeps: node, label.

    Deterministic by construction — synchronous updates + integer
    counts + the (count desc, label asc) tie-break — so the fixed-round
    TRAJECTORY is oracle-checkable (the kcore/pagerank discipline:
    both engines run exactly R sweeps; no "until converged"
    nondeterminism, which for sync LPA can oscillate on bipartite
    structures anyway — the fixed cap is also the standard remedy).

    Scale shape per sweep: one edge⋈labels hash join (labels are
    node-sized, edges graph-sized — the join shuffles on node key),
    one (node, label) partial-aggregated count, one min-struct argmax
    per node (partial-aggregatable, no window), then a lazy
    localCheckpoint to keep lineage flat across sweeps. The edge frame
    is pinned once and reused by every sweep.

    Beyond reference parity: community structure over the co-purchase
    graph — the modularity-style grouping the pagerank/triangles/
    k-core family lacks; at curation scale the same operator groups
    near-dup CLUSTERS into topical communities.
    """
    e = (
        edges.select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    nbr = tracked_persist(
        e.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionByName(
            e.select(F.col("b").alias("src"), F.col("a").alias("dst"))
        )
    )  # one scan per sweep plus the label init
    lab = nbr.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("lbl")
    )
    for _ in range(rounds):
        cnt = (
            nbr.join(lab.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"), "lbl")
            .agg(F.count(F.lit(1)).alias("_c"))
        )
        lab = (
            cnt.groupBy("node")
            .agg(
                F.min(
                    F.struct((-F.col("_c")).alias("_nc"), F.col("lbl").alias("l"))
                ).alias("_b")
            )
            .select("node", F.col("_b.l").alias("lbl"))
            .localCheckpoint(eager=False)
        )
    return lab.select("node", F.col("lbl").cast("bigint").alias("label"))


def modularity(
    edges: DataFrame, labels: DataFrame, label_col: str = "label"
) -> DataFrame:
    """Newman modularity Q of a node partition over an undirected
    graph, in exact integer ppm: Q = (4m·e_in − Σ_c d_c²) / (4m²)
    where m = |edges|, e_in = intra-community edges, d_c = total
    degree of community c — the closed form of Σ_c (e_c/m −
    (d_c/2m)²). Output (one row): n_communities, modularity_ppm.

    All arithmetic is DECIMAL(38,0)/HUGEINT; the division splits sign
    from magnitude (``sign · (10⁶·|num|) DIV den``) so Spark's
    truncating integral division and DuckDB's floor division agree on
    the nonnegative magnitude. The quality score for
    :func:`label_propagation` partitions — community-structure drift
    now breaks a gate hash instead of needing eyeballs.

    Scale shape: one edge⋈labels⋈labels count (graph-sized), one
    degree aggregation, one |communities|-sized groupBy; the three
    1-row scalars combine via pinned-broadcast cross joins (the
    documented 1-row license).
    """
    e = tracked_persist(
        edges.select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )  # three consumers: m, the intra-edge count, the degree frame
    lab = tracked_persist(
        labels.select(F.col("node"), F.col(label_col).alias("_lbl"))
    )  # three consumers: both intra-join sides + the d_c rollup
    dec = "decimal(38,0)"
    m = e.agg(F.count(F.lit(1)).cast(dec).alias("_m"))
    ein = (
        e.join(lab.withColumnRenamed("node", "a").withColumnRenamed("_lbl", "_la"), "a")
        .join(lab.withColumnRenamed("node", "b").withColumnRenamed("_lbl", "_lb"), "b")
        .filter(F.col("_la") == F.col("_lb"))
        .agg(F.count(F.lit(1)).cast(dec).alias("_ein"))
    )
    nbr = e.select(F.col("a").alias("node")).unionByName(
        e.select(F.col("b").alias("node"))
    )
    deg = nbr.groupBy("node").agg(F.count(F.lit(1)).alias("_d"))
    dc = (
        deg.join(lab, "node")
        .groupBy("_lbl")
        .agg(F.sum("_d").cast(dec).alias("_dc"))
    )
    dsum = dc.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_communities"),
        F.sum(F.col("_dc") * F.col("_dc")).alias("_sd2"),
    )
    num = F.lit(4).cast(dec) * F.col("_m") * F.col("_ein") - F.col("_sd2")
    return (
        dsum.crossJoin(F.broadcast(m))
        .crossJoin(F.broadcast(ein))
        .select(
            "n_communities",
            (
                F.when(num < 0, F.lit(-1)).otherwise(F.lit(1)).cast("bigint")
                * F.expr(
                    "CAST((CAST(1000000 AS DECIMAL(38,0)) * abs("
                    "CAST(4 AS DECIMAL(38,0)) * _m * _ein - _sd2)) DIV "
                    "(CAST(4 AS DECIMAL(38,0)) * _m * _m) AS BIGINT)"
                )
            ).alias("modularity_ppm"),
        )
    )


def hits_bipartite(
    edges: DataFrame,
    hub_col: str = "hub",
    auth_col: str = "auth",
    iters: int = 2,
) -> tuple[DataFrame, DataFrame]:
    """Kleinberg HITS (JACM 1999) over a BIPARTITE edge list — hubs
    score by the authorities they touch, authorities by the hubs that
    touch them. On the customer→part purchase graph this separates
    "customers with good taste" (hubs) from "parts bought by customers
    with good taste" (authorities) — a different signal from raw
    purchase counts or PageRank, because a hub's endorsement is
    weighted by ITS quality.

    Bit-portability: classic HITS normalizes by the L2 norm —
    transcendental, never hash-portable. This uses L∞ (max)
    normalization — documented divergence; the fixed point has the
    same ranking structure and each half-step stays exact:

        a(p) = (10⁶ · Σ_{c→p} h(c)) DIV max_p'(Σ h)
        h(c) = (10⁶ · Σ_{c→p} a(p)) DIV max_c'(Σ a)

    Every raw sum is nonneg; the 10⁶ cross-multiply runs in
    DECIMAL(38,0) (raw sums reach 10⁶·degree ≈ 10¹⁵ on a billion-node
    side — ×10⁶ overflows int64, the pagerank damping lesson). The
    normalized max is exactly 10⁶ each half-step, and every node on
    either side has degree ≥ 1 (it came from an edge), so the next max
    is ≥ 10⁶ — the DIV is never by zero.

    Scale shape: the edge frame is persisted once and reused by all
    2·iters half-steps (each = one join keyed on one side + one
    partial-aggregated sum on the other); normalization scalars are
    1-row pinned-broadcast cross joins (the allowed class); per-sweep
    lazy localCheckpoint keeps lineage flat (the pagerank rule).
    Returns (hubs, auths): (node, hub_u6) / (node, auth_u6)."""
    ed = tracked_persist(
        edges.select(
            F.col(hub_col).alias("_hub"), F.col(auth_col).alias("_auth")
        ).distinct()
    )
    norm = (
        "CAST(CAST(1000000 AS DECIMAL(38,0)) * "
        "CAST(_s AS DECIMAL(38,0)) DIV CAST(_mx AS DECIMAL(38,0)) "
        "AS BIGINT)"
    )
    def _normalize(raw: DataFrame, key: str) -> DataFrame:
        # raw feeds BOTH the max scalar and the normalized projection
        # (the ≥2-consumers rule): the pin guarantees each half-step's
        # join+aggregate is computed once. At sf0.1 the wall is
        # checkpoint/job-overhead-dominated (~5.8 s, flat 1.5× at the
        # 8× probe) — the pin is for the ×N-executor case where a
        # recomputed half-step join is real shuffle work
        pinned = tracked_persist(raw)
        return (
            pinned.crossJoin(
                F.broadcast(pinned.agg(F.max("_s").alias("_mx")))
            )
            .select(F.col(key).alias("node"), F.expr(norm).alias("v"))
            .localCheckpoint(eager=False)
        )

    h = None
    a = None
    for it in range(iters):
        if it == 0:
            # h⁰ ≡ 10⁶ for every hub, so the first raw authority sum
            # collapses algebraically to 10⁶·indegree — one aggregate,
            # no join
            a_raw = ed.groupBy("_auth").agg(
                (F.count(F.lit(1)) * MICRO).cast("bigint").alias("_s")
            )
        else:
            a_raw = (
                ed.join(h.withColumnRenamed("node", "_hub"), "_hub")
                .groupBy("_auth")
                .agg(F.sum("v").alias("_s"))
            )
        a = _normalize(a_raw, "_auth")
        h_raw = (
            ed.join(a.withColumnRenamed("node", "_auth"), "_auth")
            .groupBy("_hub")
            .agg(F.sum("v").alias("_s"))
        )
        h = _normalize(h_raw, "_hub")
    return (
        h.select("node", F.col("v").alias("hub_u6")),
        a.select("node", F.col("v").alias("auth_u6")),
    )


def bfs_hops(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 3,
) -> DataFrame:
    """Multi-source BFS distance: the minimum hop count from the seed
    set to every node within ``max_hops`` — the graph family's
    DISTANCE primitive (components answer "connected to?", PageRank
    "how important?", PPR "how close in random-walk mass?"; this
    answers "how many hops?" — the recall/impact radius query:
    "everything within 2 hops of the recalled parts").

    Frontier-expansion form, the textbook distributed BFS: per round
    one edge join keyed on the CURRENT FRONTIER only (never the full
    visited set), one distinct, one anti-join against visited. Hop
    counts are minimal by construction (a node enters exactly when
    first reached), so the result is deterministic with no tie-break
    needed — set semantics, no arithmetic at all. Each frontier ends
    in a lazy localCheckpoint (the pagerank lineage rule). Seeds are
    restricted to graph nodes (the personalized_pagerank convention).
    Output: node, hop (int, 0 = seed)."""
    nodes = edges.select("src").distinct()
    dist = tracked_persist(
        seeds.select("node")
        .distinct()
        .join(nodes.withColumnRenamed("src", "node"), "node", "left_semi")
        .withColumn("hop", F.lit(0).cast("int"))
    )
    frontier = dist.select("node")
    for r in range(1, max_hops + 1):
        nxt = (
            edges.join(frontier.withColumnRenamed("node", "src"), "src")
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(dist.select("node"), "node", "left_anti")
            .withColumn("hop", F.lit(r).cast("int"))
            .localCheckpoint(eager=False)
        )
        dist = dist.unionByName(nxt)
        frontier = nxt.select("node")
    return dist


def edge_churn(edges_a: DataFrame, edges_b: DataFrame) -> DataFrame:
    """Temporal graph diff: how much of the co-occurrence structure
    survived between two snapshots — the freshness question a
    recommender asks before trusting last quarter's related-items
    model ("did the graph move under us?"). Both inputs are (src, dst)
    edge lists; edges are canonicalized to undirected
    (least, greatest) pairs and deduplicated, then ONE full-outer
    join + one conditional-sum aggregate yields

        n_kept, n_new, n_lost,
        jaccard_ppm = (10⁶ · kept) DIV (kept + new + lost)

    — the edge-set Jaccard similarity in exact ppm (nonnegative
    operands). Scale shape: both sides reduce to graph-sized distinct
    pair frames; the diff is one equi-keyed shuffle join, no
    per-node fan-out anywhere."""
    def canon(e: DataFrame) -> DataFrame:
        return (
            e.select(
                F.least("src", "dst").alias("a"),
                F.greatest("src", "dst").alias("b"),
            )
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )

    ca = canon(edges_a).withColumn("_ia", F.lit(1))
    cb = canon(edges_b).withColumn("_ib", F.lit(1))
    flags = ca.join(cb, ["a", "b"], "full_outer").select(
        F.coalesce("_ia", F.lit(0)).alias("_ia"),
        F.coalesce("_ib", F.lit(0)).alias("_ib"),
    )
    return flags.agg(
        F.sum(F.expr("_ia * _ib")).cast("bigint").alias("n_kept"),
        F.sum(F.expr("(1 - _ia) * _ib")).cast("bigint").alias("n_new"),
        F.sum(F.expr("_ia * (1 - _ib)")).cast("bigint").alias("n_lost"),
    ).select(
        "n_kept",
        "n_new",
        "n_lost",
        F.expr(
            "CAST(CASE WHEN n_kept + n_new + n_lost = 0 THEN 0 "
            "ELSE (1000000 * n_kept) DIV (n_kept + n_new + n_lost) END "
            "AS BIGINT)"
        ).alias("jaccard_ppm"),
    )


def pagerank_weighted(
    edges_w: DataFrame,
    iters: int = 3,
    damping_u6: int = 850_000,
) -> DataFrame:
    """Weighted PageRank: mass flows in proportion to EDGE STRENGTH
    (``w``) instead of splitting evenly — the variant a co-occurrence
    graph actually wants (a pair bought together 40 times should pull
    40× the rank of a one-off), and the standard production form
    wherever edges carry counts/affinities:

        contrib(e) = (r(src) · w(e)) DIV W(src),   W = Σ out-weights

    Same exact-integer micro-unit trajectory as :func:`pagerank`
    (DECIMAL(38,0) for r·w — rank times a large count passes int64 —
    and for the damping product; all quantities nonnegative), same
    per-sweep lazy checkpoints and single persisted (edges ⋈ W)
    frame. Input: (src, dst, w) with bigint w ≥ 1. Output: node,
    rank_u6."""
    base_u6 = MICRO - damping_u6
    wsum = edges_w.groupBy("src").agg(F.sum("w").alias("_W"))
    ed = tracked_persist(edges_w.join(wsum, "src"))
    ranks = wsum.select(
        F.col("src").alias("node"), F.lit(MICRO).cast("bigint").alias("r")
    )
    contrib = (
        "CAST(CAST(r AS DECIMAL(38,0)) * CAST(w AS DECIMAL(38,0)) "
        "DIV CAST(_W AS DECIMAL(38,0)) AS BIGINT)"
    )
    step = (
        f"CAST({base_u6} AS BIGINT) + "
        f"CAST(CAST({damping_u6} AS DECIMAL(38,0)) * "
        f"CAST(_s AS DECIMAL(38,0)) DIV 1000000 AS BIGINT)"
    )
    for _ in range(iters):
        ranks = (
            ed.join(ranks, ed.src == ranks.node)
            .select("dst", F.expr(contrib).alias("_c"))
            .groupBy("dst")
            .agg(F.sum("_c").alias("_s"))
            .select(F.col("dst").alias("node"), F.expr(step).alias("r"))
            .localCheckpoint(eager=False)
        )
    return ranks.select("node", F.col("r").alias("rank_u6"))


def min_plus_paths(
    edges: DataFrame,
    seeds: DataFrame,
    rounds: int = 4,
) -> DataFrame:
    """Bounded-hop WEIGHTED shortest paths — ``rounds`` sweeps of
    min-plus (tropical) relaxation, the Bellman-Ford step every
    distributed SSSP implements: from integer seed distances, each
    sweep relaxes every edge once,

        dist_{r+1}(v) = min(dist_r(v), min_{(u,v,w)} dist_r(u) + w)

    ``min`` is associative/commutative/idempotent, so the result is
    partition-order-exact with NO tie-break machinery (unlike argmax
    folds) — the reason weighted BFS stays hash-portable. ``edges``
    needs (src, dst, w_cost) with nonnegative integer costs (directed;
    feed both directions for undirected graphs); ``seeds`` needs
    (node) — distance 0. Nodes unreached within ``rounds`` hops are
    absent. Output: node, cost.

    Scale: each sweep is one join keyed on src + one min-groupBy on
    node — the PageRank sweep shape (``pagerank``'s lazy-checkpoint
    note applies if ``rounds`` grows past ~6; at the default 4 the
    plan stays shallow). The frontier frame is persisted per sweep
    (consumed by both the relax join and the carry-union).
    """
    dist = seeds.select(
        F.col("node"), F.lit(0).cast("bigint").alias("cost")
    ).distinct()
    pinned: list[DataFrame] = []
    for _ in range(rounds):
        dist = tracked_persist(dist)
        pinned.append(dist)
        relaxed = (
            dist.join(edges, dist["node"] == edges["src"])
            .select(
                F.col("dst").alias("node"),
                (F.col("cost") + F.col("w_cost")).alias("cost"),
            )
        )
        dist = (
            dist.unionByName(relaxed)
            .groupBy("node")
            .agg(F.min("cost").cast("bigint").alias("cost"))
        )
    return dist


def truss_peel(
    edges: DataFrame, k: int = 3, rounds: int = 2
) -> DataFrame:
    """Bounded k-truss peel: each round recounts per-edge triangle
    support (:func:`edge_support`) over the SURVIVING subgraph and
    drops edges with support < k−2 — the truss decomposition's inner
    loop, run a fixed number of rounds (the ``kcore`` sieve license:
    production adds the convergence probe; the fixed-round form is the
    oracle-checked trajectory).

    Each round's support must be recomputed — dropping an edge can
    break OTHER edges' triangles, which is the whole point of the
    peel (a one-shot support filter over-keeps). Output: the edges
    surviving ``rounds`` rounds, annotated with the LAST round's
    support (computed before that round's drop). Cost per round is one
    triangle enumeration over a shrinking graph.
    """
    e = edges.select(
        F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
    ).filter(F.col("a") != F.col("b")).distinct()
    sup = None
    for _ in range(rounds):
        sup = edge_support(
            triangle_triples(
                e.select(F.col("a").alias("src"), F.col("b").alias("dst"))
            )
        ).filter(F.col("support") >= k - 2)
        sup = tracked_persist(sup)
        e = sup.select("a", "b")
    return sup


def centroid_affinity(
    emb: DataFrame,
    group_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Pairwise cosine affinity between GROUP CENTROIDS — "how close
    are my sources/classes in embedding space?", the
    mixture/contamination diagnostic at the embedding level (the
    vector-space sibling of ``source_vocab_overlap``).

    Centroids are FLOOR-MEAN integer vectors in milli-units (the
    ``kmeans_fit_q`` discipline: component = Σv₃ DIV n with the
    shift-to-nonnegative floor so Spark's truncating DIV matches
    DuckDB's floor //) — bounded by ±1000 BY CONSTRUCTION, so every
    downstream product (dot, squared norms, the cos² ppm
    cross-multiplication) is int64-safe at ANY corpus size: the
    capacity bound lives on the model, not the data. Affinity is
    emitted exactly as sign(dot) + cos²·10⁶ DIV (|a|²·|b|²) — the
    sign-split r² trick (``ols_by_group``), no sqrt.

    Scale: one (group, idx) partial-agg shuffle over the exploded
    vectors; everything after — centroid table (|groups|·dim), the
    idx-keyed pair join, the per-pair fold — is model-sized.
    Output: g_a, g_b, dot_sign, cos2_ppm.
    """
    off = 2000  # shift makes the DIV numerator nonneg: truncate ≡ floor
    comp = (
        emb.select(
            F.col(group_col).alias("_g"),
            F.posexplode(F.col(vec_col)).alias("idx", "_v"),
        )
        .select(
            "_g",
            "idx",
            # double-side multiply before round — the quantize_u6 idiom
            # (float32*int would round differently than DuckDB's
            # x * 1000.0 double promotion)
            F.round(F.col("_v").cast("double") * 1000.0)
            .cast("bigint")
            .alias("_v3"),
        )
        .groupBy("_g", "idx")
        .agg(
            F.sum("_v3").alias("_s"),
            F.count(F.lit(1)).cast("bigint").alias("_n"),
        )
        .select(
            "_g",
            "idx",
            (
                F.expr(f"(_s + {off} * _n) DIV _n") - F.lit(off)
            ).alias("m"),
        )
    )
    a = comp.select(
        F.col("_g").alias("g_a"), "idx", F.col("m").alias("_ma")
    )
    b = comp.select(
        F.col("_g").alias("g_b"), "idx", F.col("m").alias("_mb")
    )
    pair = (
        a.join(b, "idx")
        .filter(F.col("g_a") < F.col("g_b"))
        .groupBy("g_a", "g_b")
        .agg(F.sum(F.col("_ma") * F.col("_mb")).alias("_dot"))
    )
    norms = comp.groupBy("_g").agg(
        F.sum(F.col("m") * F.col("m")).alias("_n2")
    )
    return (
        pair.join(norms.withColumnRenamed("_g", "g_a"), "g_a")
        .withColumnRenamed("_n2", "_na2")
        .join(norms.withColumnRenamed("_g", "g_b"), "g_b")
        .select(
            "g_a",
            "g_b",
            F.signum(F.col("_dot")).cast("int").alias("dot_sign"),
            F.expr(
                "CASE WHEN _na2 > 0 AND _n2 > 0 THEN "
                "(CAST(1000000 AS DECIMAL(38,0))"
                " * CAST(_dot AS DECIMAL(38,0))"
                " * CAST(_dot AS DECIMAL(38,0)))"
                " DIV (CAST(_na2 AS DECIMAL(38,0))"
                " * CAST(_n2 AS DECIMAL(38,0))) END"
            )
            .cast("bigint")
            .alias("cos2_ppm"),
        )
    )


def clustering_coefficient(
    edges: DataFrame,
    triples: DataFrame,
    ppm: int = 1_000_000,
) -> DataFrame:
    """Local clustering coefficient per node in exact ppm —
    triangles(v) / C(deg(v), 2), the standard "how clique-like is this
    node's neighborhood" score (Watts-Strogatz 1998). Counts the
    triangles of ``triples`` (a :func:`triangle_triples` enumeration of
    the same graph — the O(√m)-fan-out form) with
    :func:`triangle_counts`, and joins per-node distinct degrees back;
    the ratio is ``(2 · tri · ppm) DIV (deg · (deg - 1))`` — integral,
    aggregation-order-exact, oracle-portable. Nodes with deg < 2 are
    excluded (coefficient undefined); triangle-free nodes appear with
    coeff_ppm = 0 via the left join.

    Output: node, degree, n_triangles, coeff_ppm.

    Scale shape: the triangle side is the audited compact-forward
    plan; the degree side is one distinct + partial-aggregated
    groupBy; the final join is node-grained (dictionary-sized
    relative to edges). Nothing here is pair-quadratic beyond the
    oriented wedge join itself.

    Beyond reference parity: the reference has no graph layer; this
    extends the co-purchase structure family (triangles/k-core/truss)
    with the per-node density normalization.
    """
    e = (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        e.select(F.col("a").alias("node"))
        .unionByName(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("degree"))
        .filter(F.col("degree") >= 2)
    )
    tri = triangle_counts(triples)
    return (
        deg.join(tri, "node", "left")
        .select(
            "node",
            "degree",
            F.coalesce("n_triangles", F.lit(0)).cast("bigint").alias("n_triangles"),
            F.expr(
                f"(2 * coalesce(n_triangles, 0) * {int(ppm)}) "
                "DIV (degree * (degree - 1))"
            )
            .cast("bigint")
            .alias("coeff_ppm"),
        )
    )
