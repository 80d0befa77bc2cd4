"""Graph analytics over the co-purchase and click graphs, collaborative
filtering and basket mining."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F

from sea_express_customs_etl_spark.operators.cf import (
    basket_rules,
    cf_holdout_eval,
    frequent_triples,
    item_item_jaccard,
)
from sea_express_customs_etl_spark.operators.graph import (
    bfs_hops,
    clustering_coefficient,
    cooccur_edges,
    edge_churn,
    edge_support,
    hits_bipartite,
    kcore,
    min_plus_paths,
    modularity,
    pagerank,
    pagerank_weighted,
    personalized_pagerank,
    resource_alloc_links,
    triangle_counts,
    truss_peel,
    walk_covisit_pairs,
)
from sea_express_customs_etl_spark.operators.reach import two_hop_reach
from sea_express_customs_etl_spark.operators.sampling import (
    edge_negative_samples,
    hex_threshold,
)
from sea_express_customs_etl_spark.operators.sharding import consistent_hash_rebalance
from sea_express_customs_etl_spark.plans import (
    oracles_ext as ext,
    oracles_wad as wad,
    oracles_waf as waf,
    oracles_wx as wx,
)
from sea_express_customs_etl_spark.plans.cache import (
    tracked_persist as _tracked_persist,
)
from sea_express_customs_etl_spark.plans.standins import load_table
from sea_express_customs_etl_spark.queries import query
from sea_express_customs_etl_spark.queries.shared import (
    _shared_edges,
    _shared_items,
    _shared_lpa_labels,
    _shared_triples_w1,
    _shared_walk_trail,
    _shared_weighted_edges,
)


@query(oracle=wad.TWO_HOP_REACH_CAPPED_SQL)
def _q_two_hop_reach_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hub-capped 2-hop reach on an UNTHRESHOLDED co-purchase graph —
    the ``mid_deg_max`` dial as a checked entry (r6 VERDICT #2: the
    actual scale defense for power-law graphs, previously shipped
    disarmed). Middles with degree > 40 are dropped BEFORE the wedge
    join, bounding wedge fan-out by cap·2m instead of Σdeg²; direct
    edges still count, so hub NEIGHBORS keep exact 1-hop reach and
    lose only hub-mediated 2-hop paths (the documented approximation
    every hub-capped system makes — cf. resource_alloc_links' stop-key
    prune). The oracle applies the SAME cap.

    Corpus note: the synthetic basket graph is uniformly DENSE (median
    degree 115, minimum > 32 — no power-law tail), so a cap can only
    split hubs from non-hubs after slicing to a realistic order
    density (l_orderkey % 4, the prefix_jaccard_pairs slice
    precedent): sliced median degree is 30, p90 = 47, and cap = 40
    drops ~19% of nodes as genuine hubs, cutting wedge volume 43% at
    sf0.1 (measured). The skewed-hub 8× probe (SCALE.md round 7,
    two_hop_capped) shows the capped plan flat where the uncapped form
    grows quadratically; this query's own 1×/8× record is in
    BENCH_HISTORY/scale_r12_c4.json."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey") % 4 == 0
    )
    return two_hop_reach(cooccur_edges(li, min_weight=1), mid_deg_max=40)


@query(oracle=ext.lpa_modularity_sql(rounds=4))
def _q_lpa_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality score for the LPA partition: Newman modularity of the
    4-sweep communities in exact integer ppm — Q = (4m·e_in − Σd_c²)
    DIV (4m²) with sign split from magnitude; community-structure
    drift now breaks a gate hash."""
    edges = _shared_edges(spark, sf_dir, 2)
    return modularity(edges, _shared_lpa_labels(spark, sf_dir))


@query(oracle=ext.COPURCHASE_PAGERANK_WEIGHTED_SQL)
def _q_copurchase_pagerank_weighted(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Weighted PageRank over the co-purchase graph: rank mass flows
    in proportion to co-occurrence COUNT (a 40×-bought-together pair
    pulls 40× a one-off) — top-50 by the 3-sweep exact integer
    trajectory, fully unrolled oracle. The (src, dst, w) frame IS the
    session's materialized edge table."""
    pr = pagerank_weighted(_shared_weighted_edges(spark, sf_dir), iters=3)
    return (
        pr.orderBy(F.col("rank_u6").desc(), F.col("node"))
        .limit(50)
        .select(F.col("node").alias("part"), "rank_u6")
    )


@query(oracle=ext.COPURCHASE_TRIANGLES_SQL)
def _q_copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts over the co-purchase graph — the
    clustering-structure sibling of copurchase_pagerank (wedge-close
    joins, exact integer counts). Edges + triples from the session's
    materialized graph tables (_graph_shared)."""
    return triangle_counts(_shared_triples_w1(spark, sf_dir))


@query(oracle=wx.NODE_CLUSTERING_COEFF_SQL)
def _q_node_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient over the co-purchase graph in
    exact ppm — triangles(v) / C(deg(v), 2): the session's shared
    triangle enumeration (_graph_shared) plus a distinct-degree join."""
    return clustering_coefficient(
        _shared_edges(spark, sf_dir, 1), _shared_triples_w1(spark, sf_dir)
    )


@query(oracle=ext.BRAND_BFS_HOPS_SQL)
def _q_brand_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS: minimum hop distance from Brand#11's parts to
    every co-purchase-reachable part within 3 hops — the recall-radius
    query; frontier-only edge joins, set semantics (no arithmetic, no
    tie-break needed), unrolled-level oracle."""
    part = load_table(spark, sf_dir, "part")
    seeds = part.filter(F.col("p_brand") == "Brand#11").select(
        F.col("p_partkey").alias("node")
    )
    return bfs_hops(_shared_edges(spark, sf_dir, 1), seeds, max_hops=3)


@query(oracle=ext.COPURCHASE_KCORE_SQL)
def _q_copurchase_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-round k=3 core sieve over the ≥2-co-occurrence co-purchase
    graph — the density-structure sibling of copurchase_triangles
    (per-round degree count + anti-join peel, exact integers, lazy
    checkpoints; fixed rounds so the trajectory hash-matches the
    unrolled oracle)."""
    return kcore(
        _shared_edges(spark, sf_dir, 2),
        k=3,
        rounds=4,
    )


@query(oracle=ext.COPURCHASE_PAGERANK_SQL)
def _q_copurchase_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative graph analytics end-to-end: co-purchase edge
    extraction (parts sharing an order, basket-bounded fan-out) → 3
    integer-PageRank sweeps → top-50 hubs. Exact bigint trajectory,
    hash-matched by a fully UNROLLED 3-iteration SQL oracle."""
    pr = pagerank(_shared_edges(spark, sf_dir, 1), iters=3)
    return (
        pr.orderBy(F.col("rank_u6").desc(), F.col("node"))
        .limit(50)
        .select(F.col("node").alias("part"), "rank_u6")
    )


@query(oracle=ext.BRAND_SEEDED_PPR_SQL)
def _q_brand_seeded_ppr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank seeded on one brand's parts: teleport
    mass restricted to Brand#11, 3 exact-integer sweeps over the
    co-purchase graph, top-50 by proximity — the related-items ranking
    a recommender derives from the same graph the global pagerank
    ranks for importance. Hash-matched by a fully unrolled oracle."""
    part = load_table(spark, sf_dir, "part")
    seeds = part.filter(F.col("p_brand") == "Brand#11").select(
        F.col("p_partkey").alias("node")
    )
    ppr = personalized_pagerank(_shared_edges(spark, sf_dir, 1), seeds, iters=3)
    return (
        ppr.orderBy(F.col("ppr_u6").desc(), F.col("node"))
        .limit(50)
        .select(F.col("node").alias("part"), "ppr_u6")
    )


@query(oracle=ext.GRAPH_HASH_WALKS_SQL)
def _q_graph_hash_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic DeepWalk-style sampling: 2 walks x 4 steps from
    every node of the >=2-co-occurrence graph, next-neighbor chosen by
    positional md5 argmin — the walk corpus replays bit-for-bit, so
    the endpoints are step 4 of the session walk trail (walk_trail) and
    hash-match the 4-step unrolled oracle."""
    return (
        _shared_walk_trail(spark, sf_dir)
        .filter(F.col("step") == 4)
        .select("start", "walk_id", F.col("cur").alias("endpoint"))
    )


@query(oracle=ext.GRAPH_WALK_COVISIT_SQL)
def _q_walk_covisit_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DeepWalk step 2: node similarity from shared walk context —
    pairs of start nodes whose deterministic walks visit >= 3 common
    nodes, with hub context nodes (visited from > 50 starts, the
    graph's stop-words) pruned before the pair join. Makes the walk
    corpus consumable, all exact integers."""
    return walk_covisit_pairs(
        _shared_walk_trail(spark, sf_dir), visit_cap=50, min_shared=3
    )


@query(oracle=ext.RESOURCE_ALLOC_LINKS_SQL)
def _q_resource_alloc_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Missing-link prediction over the ≥2-co-occurrence co-purchase
    graph: Resource-Allocation index (Σ ppm DIV deg over common
    neighbors of non-adjacent pairs), exact integer ppm units, global
    top-50 via orderBy+limit."""
    return resource_alloc_links(
        _shared_edges(spark, sf_dir, 2),
        top_n=50,
    )


@query(oracle=ext.lpa_sql(rounds=4))
def _q_copurchase_lpa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-sweep synchronous label-propagation communities over the
    ≥2-co-occurrence co-purchase graph — modal-neighbor-label updates
    with (count desc, label asc) tie-break; the fixed-round trajectory
    hash-matches the unrolled oracle (kcore discipline). Served from
    the session LPA table (deterministic-replay license)."""
    return _shared_lpa_labels(spark, sf_dir)


@query(oracle=ext.ITEM_ITEM_JACCARD_SQL)
def _q_item_item_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Amazon-style item-item CF: per-item top-5 co-purchase
    neighbors by exact-integer Jaccard over order sets
    ((10⁶·cooc) DIV union, min_cooc=2) — WindowGroupLimit top-k."""
    return item_item_jaccard(_shared_items(spark, sf_dir), min_cooc=2, k=5)


@query(oracle=ext.COPURCHASE_NEGATIVES_SQL)
def _q_copurchase_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic SGNS-style negative sampling over the co-purchase
    graph: 2 positional-md5 draws per positive edge resolved against
    the ranked part catalog, accidental positives rejected — the
    replayable contrastive-training loader branch."""
    li = load_table(spark, sf_dir, "lineitem")
    return edge_negative_samples(
        _shared_edges(spark, sf_dir, 2),
        li.select(F.col("l_partkey").alias("item")),
        k=2,
    )


@query(oracle=ext.PURCHASE_HITS_SQL)
def _q_purchase_hits_authorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kleinberg HITS over the bipartite customer→part purchase graph
    (2 exact integer iterations, L∞ normalization): top-20 authority
    parts — endorsement weighted by endorser quality, a different
    ranking from raw counts or PageRank."""
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    edges = orders.join(
        lineitem, orders.o_orderkey == lineitem.l_orderkey
    ).select(
        F.col("o_custkey").alias("hub"), F.col("l_partkey").alias("auth")
    )
    _hubs, auths = hits_bipartite(edges, iters=2)
    return (
        auths.orderBy(F.col("auth_u6").desc(), F.col("node"))
        .limit(20)
        .select(F.col("node").alias("part_id"), "auth_u6")
    )


@query(oracle=ext.FREQUENT_PART_TRIPLES_SQL)
def _q_frequent_part_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apriori level-3 frequent itemsets over order baskets: every
    part triple co-occurring in ≥2 orders, frequent-item pruned before
    the basket-bounded double self-join."""
    return frequent_triples(_shared_items(spark, sf_dir), min_support=2)


@query(oracle=ext.BASKET_RULES_SQL)
def _q_basket_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules A→B with exact integer ppm confidence and
    lift over order baskets — the rule layer above pair co-occurrence;
    top-50 by (lift, conf) via TakeOrderedAndProject."""
    return basket_rules(_shared_items(spark, sf_dir), min_support=2, k=50)


@query(oracle=ext.COPURCHASE_EDGE_CHURN_SQL)
def _q_copurchase_edge_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal graph diff: the ≥2-co-occurrence co-purchase graph
    built from pre-1999 orders vs 1999+ orders — kept/new/lost edge
    counts and the edge-set Jaccard in exact ppm (the model-freshness
    question for graph-derived recommenders)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.year("o_orderdate").alias("_y")
    )
    dated = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        "l_orderkey", "l_partkey", "_y"
    )
    return edge_churn(
        cooccur_edges(dated.filter(F.col("_y") < 1999), min_weight=2),
        cooccur_edges(dated.filter(F.col("_y") >= 1999), min_weight=2),
    )


@query(oracle=ext.COPURCHASE_EDGE_SUPPORT_SQL)
def _q_copurchase_edge_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-truss building block: per-edge triangle support over the
    co-purchase graph — the session's shared triangle enumeration,
    each triple unpivoted to its three canonical edges."""
    return edge_support(_shared_triples_w1(spark, sf_dir))


@query(oracle=ext.COPURCHASE_CHEAPEST_PATH_SQL)
def _q_copurchase_cheapest_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-hop weighted shortest paths: 4 min-plus relaxation
    sweeps from Brand#11 seed parts over cost = 10⁶ DIV co-occurrence
    count — min is idempotent, so no tie-break machinery."""
    ew = (
        _shared_weighted_edges(spark, sf_dir)
        .filter(F.col("w") >= 2)
        .select("src", "dst", F.expr("1000000 DIV w").alias("w_cost"))
    )
    ew = _tracked_persist(ew)  # one scan per sweep (4 sweeps)
    seeds = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#11")
        .select(F.col("p_partkey").alias("node"))
        .join(
            ew.select(F.col("src").alias("node")), "node", "left_semi"
        )
    )
    return min_plus_paths(ew, seeds, rounds=4)


@query(oracle=ext.CF_HOLDOUT_HITRATE_SQL.format(thr=hex_threshold(0.25)))
def _q_cf_holdout_hitrate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recommender eval loop as one plan: hash holdout split →
    user-grain item-item Jaccard on train → top-10 per user →
    hit-rate vs the held-out interactions."""
    inter = (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey")
        .join(
            load_table(spark, sf_dir, "lineitem").select(
                "l_orderkey", "l_partkey"
            ),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .select(
            F.col("o_custkey").alias("user_id"),
            F.col("l_partkey").alias("item_id"),
        )
    )
    return cf_holdout_eval(inter, test_fraction=0.25, min_cooc=2, k=10)


@query(oracle=ext.COPURCHASE_TRUSS_SQL)
def _q_copurchase_truss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded k-truss peel (k=3, 2 rounds) over the thresholded
    co-purchase graph: per-round support recount + drop — the truss
    decomposition inner loop as an oracle-checked trajectory."""
    return truss_peel(
        _shared_edges(spark, sf_dir, 2),
        k=3,
        rounds=2,
    )


@query(oracle=ext.MUTUAL_KNN_PAIRS_SQL)
def _q_mutual_knn_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual nearest neighbors: item pairs in EACH OTHER'S CF top-5 —
    the reciprocal-match primitive (SemDeDup cluster merging, mutual-NN
    matching) composed from item_item_jaccard's ranked lists."""
    sims = _tracked_persist(
        item_item_jaccard(_shared_items(spark, sf_dir), min_cooc=2, k=5)
    )  # both sides of the reciprocal join
    rev = sims.select(
        F.col("rec_id").alias("item_id"),
        F.col("item_id").alias("rec_id"),
    )
    return (
        sims.join(rev, ["item_id", "rec_id"], "left_semi")
        .filter(F.col("item_id") < F.col("rec_id"))
        .select(
            F.col("item_id").alias("item_a"),
            F.col("rec_id").alias("item_b"),
            "sim_ppm",
        )
    )


@query(oracle=wad.TWO_HOP_REACH_SQL)
def _q_two_hop_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node 2-hop reach over the THRESHOLDED co-purchase graph
    (weight >= 2 — the kcore/walks sparsifier): exact distinct
    friend-of-friend counts, set semantics. On the unthresholded
    graph the 2-hop pair set is ~Σdeg² — quadratic by definition —
    so reach, like every density-sensitive graph op here, runs on
    the sparsified graph (measured: unthresholded OOMs at sf0.1,
    weight>=2 runs in 4.3 s)."""
    return two_hop_reach(
        _shared_edges(spark, sf_dir, 2)
    )


@query(oracle=waf.CONSISTENT_HASH_REBALANCE_SQL)
def _q_consistent_hash_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consistent-hash shard growth plan 8 -> 9: the movement matrix
    whose off-diagonal provably lands only on the NEW shard."""
    return consistent_hash_rebalance(
        load_table(spark, sf_dir, "documents").select("doc_id"), "doc_id"
    )
