"""Item-item collaborative filtering over the order/part bipartite
graph — the Amazon-style "customers who bought X also bought Y"
recommender (Linden, Smith, York, IEEE Internet Computing 2003),
scored by exact-integer Jaccard over order sets.

Reference parity anchor: the reference has no recommendation layer
(its joins are key-equality linking, ``/root/reference/src/
batch_train.py:95-117``); this completes the co-purchase family —
pagerank ranks items globally, triangles/k-core/LPA describe
structure, resource-allocation predicts NEW links, and this scores
EXISTING co-occurrence into per-item neighbor lists.

Jaccard(a, b) = |orders(a) ∩ orders(b)| / |orders(a) ∪ orders(b)| is
rational: micro-unit output via ``(10⁶·cooc) DIV (da + db − cooc)``
— exact integers end-to-end, hash-portable, no floats.

Scale shape: one distinct (order, item) projection feeds both sides;
co-occurrence is the basket self-join (Σ basket² fan-out, bounded by
order size — TPC-H caps at 7; real carts cap too, and ``min_cooc``
prunes the one-off tail BEFORE the degree joins); per-item top-k
keeps the row_number-then-filter-on-rank shape Spark rewrites to
WindowGroupLimit (map-side partial top-k).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
import pyspark.sql.functions as F

from ..plans.cache import tracked_persist


def basket_items(lineitem: DataFrame) -> DataFrame:
    """The distinct (l_orderkey, l_partkey) basket projection the
    co-purchase operators read."""
    return lineitem.select("l_orderkey", "l_partkey").distinct()


def item_item_jaccard(
    items: DataFrame,
    min_cooc: int = 2,
    k: int = 5,
) -> DataFrame:
    """Per-item top-``k`` co-purchase recommendations by integer
    Jaccard: item_id, rec_id, sim_ppm (10⁶-scaled floor), ties broken
    by rec_id. Pairs below ``min_cooc`` shared orders are pruned
    before scoring (the sparsifier every production CF pipeline
    applies — one-off co-occurrence is noise and volume).
    ``items`` is the distinct (order, item) projection
    (:func:`basket_items`), read three times: both co-occurrence sides
    and the degree count — pass a materialized one (the session basket
    table)."""
    deg = items.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("_d")
    )
    a, b = items.alias("a"), items.alias("b")
    cooc = (
        a.join(b, "l_orderkey")
        .filter(F.col("a.l_partkey") != F.col("b.l_partkey"))
        .groupBy(
            F.col("a.l_partkey").alias("item_id"),
            F.col("b.l_partkey").alias("rec_id"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("_c"))
        .filter(F.col("_c") >= min_cooc)
    )
    scored = (
        cooc.join(deg.withColumnRenamed("l_partkey", "item_id"), "item_id")
        .withColumnRenamed("_d", "_da")
        .join(deg.withColumnRenamed("l_partkey", "rec_id"), "rec_id")
        .select(
            "item_id",
            "rec_id",
            F.expr("(1000000 * _c) DIV (_da + _d - _c)").alias("sim_ppm"),
        )
    )
    w = Window.partitionBy("item_id").orderBy(
        F.col("sim_ppm").desc(), F.col("rec_id")
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select("item_id", "rec_id", "sim_ppm")
    )


def frequent_triples(items: DataFrame, min_support: int = 2) -> DataFrame:
    """Frequent 3-itemsets over order baskets — Apriori level 3
    (Agrawal & Srikant, VLDB 1994): every unordered part triple
    co-occurring in at least ``min_support`` orders of the
    :func:`basket_items` projection ``items``. The level the
    pairwise CF family (:func:`item_item_jaccard`) stops short of —
    bundle detection ("these THREE ship together") needs the triple.

    Apriori pruning before any pair fan-out: items below
    ``min_support`` cannot appear in any frequent triple (support is
    anti-monotone), so baskets are first restricted to frequent items
    — one |items|-grain aggregate + a semi join, shrinking the
    self-join input the way every production frequent-itemset run
    does. Candidate enumeration is the ordered double self-join
    (p1 < p2 < p3 — each triple generated exactly once); fan-out is
    Σ C(basket,3), bounded by the max basket size (TPC-H caps at 7 →
    ≤35 per order; real carts cap similarly). ``items`` feeds the
    frequent-item count and three self-join branches, so a caller
    materializes it. Output:
    ``p1, p2, p3, support`` (bigint), all nonnegative integers."""
    freq = (
        items.groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") >= min_support)
        .select("l_partkey")
    )
    f = items.join(freq, "l_partkey", "left_semi")
    a = f.select("l_orderkey", F.col("l_partkey").alias("p1"))
    b = f.select("l_orderkey", F.col("l_partkey").alias("p2"))
    c = f.select("l_orderkey", F.col("l_partkey").alias("p3"))
    return (
        a.join(b, "l_orderkey")
        .filter(F.col("p1") < F.col("p2"))
        .join(c, "l_orderkey")
        .filter(F.col("p2") < F.col("p3"))
        .groupBy("p1", "p2", "p3")
        .agg(F.count(F.lit(1)).cast("bigint").alias("support"))
        .filter(F.col("support") >= min_support)
    )


def basket_rules(
    items: DataFrame, min_support: int = 2, k: int = 50
) -> DataFrame:
    """Association rules A → B over the order baskets of a
    :func:`basket_items` projection — the
    confidence/lift layer (Agrawal/Imieliński/Swami SIGMOD 1993) on
    top of the pair co-occurrence the CF family already mines:

        confidence(A→B) = sup(AB) / sup(A)
        lift(A→B)       = sup(AB)·N / (sup(A)·sup(B))

    both emitted as exact integer ppm (`(10⁶·x) DIV y`; the lift
    cross-product runs in DECIMAL(38,0) — sup·sup·10⁶ passes int64 on
    a 10¹²-order corpus). Rules are ORDERED pairs (A→B and B→A have
    different confidence). Top-``k`` by (lift DESC, conf DESC, a, b)
    via TakeOrderedAndProject — never a global sort.

    Plan: ``items`` feeds item supports and the basket-bounded pair
    self-join; the 1-row order count rides a pinned broadcast (the
    allowed scalar class)."""
    n_orders = items.agg(
        F.countDistinct("l_orderkey").cast("bigint").alias("_n")
    )
    sup = items.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("_s")
    )
    a, b = items.alias("a"), items.alias("b")
    cooc = (
        a.join(b, "l_orderkey")
        .filter(F.col("a.l_partkey") != F.col("b.l_partkey"))
        .groupBy(
            F.col("a.l_partkey").alias("ante"),
            F.col("b.l_partkey").alias("cons"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("support"))
        .filter(F.col("support") >= min_support)
    )
    scored = (
        cooc.join(sup.withColumnRenamed("l_partkey", "ante"), "ante")
        .withColumnRenamed("_s", "_sa")
        .join(sup.withColumnRenamed("l_partkey", "cons"), "cons")
        .withColumnRenamed("_s", "_sb")
        .join(F.broadcast(n_orders))
        .select(
            "ante",
            "cons",
            "support",
            F.expr("(1000000 * support) DIV _sa")
            .cast("bigint")
            .alias("conf_ppm"),
            F.expr(
                "CAST((CAST(1000000 AS DECIMAL(38,0)) "
                "* CAST(support AS DECIMAL(38,0)) "
                "* CAST(_n AS DECIMAL(38,0)))"
                " DIV (CAST(_sa AS DECIMAL(38,0)) "
                "* CAST(_sb AS DECIMAL(38,0))) AS BIGINT)"
            ).alias("lift_ppm"),
        )
    )
    return scored.orderBy(
        F.col("lift_ppm").desc(), F.col("conf_ppm").desc(), "ante", "cons"
    ).limit(k)


def cf_holdout_eval(
    interactions: DataFrame,
    test_fraction: float = 0.25,
    min_cooc: int = 2,
    k: int = 10,
    salt: str = "cf-holdout",
) -> DataFrame:
    """End-to-end recommender EVALUATION harness: deterministic
    holdout split → item-item similarity on train → top-k
    recommendations per user → hit-rate against the held-out
    interactions. The offline-eval loop every recommender ships with,
    run as ONE deterministic plan (split, model, ranking and metric
    all hash-portable).

    ``interactions``: (user_id, item_id) rows (deduplicated
    internally). Split: md5(salt|user|item) hex-threshold (the
    ``sampling.hash_sample`` rule — replayable, engine-portable, no
    rand()). Model: user-grain co-occurrence Jaccard in integer ppm
    (the :func:`item_item_jaccard` arithmetic at user instead of order
    grain). Scoring: for each user, candidate items accumulate
    Σ sim_ppm over the user's TRAIN items; train items are excluded
    (left_anti); top-``k`` by (score desc, item asc) —
    WindowGroupLimit shape. Metric: one row — n_users (users holding
    both a recommendation and ≥1 test item), n_recs, n_hits,
    hit_ppm = (10⁶·n_hits) DIV n_recs.

    Scale: co-occurrence fan-out is bounded by per-user basket size
    (the item_item_jaccard argument); scoring joins train×sims at
    (user, item) grain — k-bounded per item; the metric aggregate is
    one partial-agg reduce. The holdout split costs nothing (a
    map-side hash predicate).
    """
    from .sampling import hex_threshold

    inter = tracked_persist(
        interactions.select("user_id", "item_id").distinct()
    )
    thr = hex_threshold(test_fraction)
    is_test = (
        F.substring(
            F.md5(
                F.concat_ws(
                    "|",
                    F.lit(salt),
                    F.col("user_id").cast("string"),
                    F.col("item_id").cast("string"),
                )
            ),
            1,
            8,
        )
        < thr
    )
    train = tracked_persist(inter.filter(~is_test))
    test = inter.filter(is_test)
    deg = train.groupBy("item_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("_d")
    )
    a = train.select("user_id", F.col("item_id").alias("item_a"))
    b = train.select("user_id", F.col("item_id").alias("item_b"))
    cooc = (
        a.join(b, "user_id")
        .filter(F.col("item_a") != F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("_c"))
        .filter(F.col("_c") >= min_cooc)
    )
    sims = (
        cooc.join(deg.withColumnRenamed("item_id", "item_a"), "item_a")
        .withColumnRenamed("_d", "_da")
        .join(deg.withColumnRenamed("item_id", "item_b"), "item_b")
        .select(
            "item_a",
            "item_b",
            F.expr("(1000000 * _c) DIV (_da + _d - _c)").alias("sim_ppm"),
        )
    )
    scored = (
        train.join(sims, train.item_id == sims.item_a)
        .groupBy("user_id", F.col("item_b").alias("rec_id"))
        .agg(F.sum("sim_ppm").cast("bigint").alias("score"))
        .join(
            train.select(
                "user_id", F.col("item_id").alias("rec_id")
            ),
            ["user_id", "rec_id"],
            "left_anti",
        )
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("score").desc(), F.col("rec_id").asc()
    )
    # persisted: the ranked recommendation frame feeds BOTH the hit
    # join and the metric counts (the >=2-consumers rule — without the
    # pin the scoring joins + window re-execute per consumer)
    recs = tracked_persist(
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select("user_id", "rec_id")
    )
    hits = recs.join(
        test.select("user_id", F.col("item_id").alias("rec_id")),
        ["user_id", "rec_id"],
        "left_semi",
    )
    test_users = test.select("user_id").distinct()
    eval_recs = recs.join(test_users, "user_id", "left_semi")
    eval_hits = hits.join(test_users, "user_id", "left_semi")
    m_r = eval_recs.agg(
        F.count_distinct("user_id").cast("bigint").alias("n_users"),
        F.count(F.lit(1)).cast("bigint").alias("n_recs"),
    )
    m_h = eval_hits.agg(F.count(F.lit(1)).cast("bigint").alias("n_hits"))
    return (
        m_r.crossJoin(F.broadcast(m_h))
        .select(
            "n_users",
            "n_recs",
            "n_hits",
            F.expr(
                "CASE WHEN n_recs > 0 THEN (1000000 * n_hits) DIV n_recs "
                "END"
            ).alias("hit_ppm"),
        )
    )
