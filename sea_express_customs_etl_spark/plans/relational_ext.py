"""Correlated-subquery relational shapes (TPC-H Q2/Q21/Q22 analogues)
re-expressed as semi/anti joins and groupwise argmins — the decorrelated
forms Catalyst would produce, written directly so the plan shape is
explicit and auditable.

The reference engine (single-thread pandas) has no subquery surface at
all; these extend the engine's relational coverage the same way
`plans/relational.py` does (SURVEY.md §2.5-2.8), with the repo's exact
integer-unit conventions. The testdata lacks TPC-H's partsupp /
l_commitdate / c_phone columns, so each shape keeps the canonical
JOIN STRUCTURE with predicates adapted to the columns that exist
(documented per function).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
import pyspark.sql.functions as F

from sea_express_customs_etl_spark.plans import oracles_rel_ext as rex
from sea_express_customs_etl_spark.plans.standins import load_table
from sea_express_customs_etl_spark.queries import query


@query(oracle=rex.LATE_SUPPLIER_BLAME_SQL)
def late_supplier_blame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers who kept orders waiting): for
    finished multi-supplier orders, count per supplier the orders where
    THAT supplier shipped late and NO other supplier did — the
    exists + not-exists double correlation, decorrelated into one
    semi-join and one anti-join against the same fact.

    "Late" = shipped > 60 days after the order date (testdata has no
    l_commitdate/l_receiptdate; the ship-vs-order lag is the same
    correlation structure). Both probe sides are reduced to DISTINCT
    (orderkey, suppkey) pairs BEFORE the semi/anti joins — at 100 TB
    the probes shuffle order-grain pairs, never raw lineitems.
    Output: s_name, numwait (suppliers with ≥1 blamed order)."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderstatus"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    pairs = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(F.col("o_orderstatus") == "F")
        .select(
            "l_orderkey",
            "l_suppkey",
            (
                F.datediff(F.col("l_shipdate"), F.col("o_orderdate")) > 60
            ).alias("_late"),
        )
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max(F.col("_late")).alias("_late"))
    )
    blamed = pairs.filter(F.col("_late"))
    others = pairs.select(
        F.col("l_orderkey").alias("_ok"), F.col("l_suppkey").alias("_sk"),
        F.col("_late").alias("_ol"),
    )
    # EXISTS other supplier in the order (multi-supplier orders only)
    multi = blamed.join(
        others,
        (blamed.l_orderkey == others._ok) & (blamed.l_suppkey != others._sk),
        "left_semi",
    )
    # NOT EXISTS other supplier that was ALSO late
    sole = multi.join(
        others.filter(F.col("_ol")),
        (multi.l_orderkey == others._ok) & (multi.l_suppkey != others._sk),
        "left_anti",
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        sole.join(s, sole.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).cast("bigint").alias("numwait"))
    )


@query(oracle=rex.IDLE_RICH_CUSTOMERS_SQL)
def idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (global-sales-opportunity): customers in chosen
    segments with above-average positive balance and NO orders — a
    scalar aggregate subquery + an anti join.

    The scalar avg is carried as a 1-row (sum_cents, n) broadcast and
    the comparison is the integer CROSS-MULTIPLY
    ``acctbal_cents * n > sum_cents`` — no float average ever exists,
    so the threshold is exact at any scale (the repo's float-free
    scalar convention; testdata has no c_phone, segment stands in for
    the country-code prefix). "Idle" = no order since 2000-01-01 (every
    testdata customer has SOME order, so Q22's no-orders-ever predicate
    would be vacuous; the date filter also pushes to the orders scan
    before the anti join). Output: segment, numcust, totacctbal_cents."""
    segs = ["AUTOMOBILE", "MACHINERY", "FURNITURE"]
    c = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment").isin(segs))
        .select(
            "c_custkey",
            F.col("c_mktsegment").alias("segment"),
            F.round(F.col("c_acctbal") * 100).cast("bigint").alias("_bal_c"),
        )
    )
    pos_avg = c.filter(F.col("_bal_c") > 0).agg(
        F.sum("_bal_c").alias("_sum_c"), F.count(F.lit(1)).alias("_n")
    )
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= "2000-01-01")
        .select(F.col("o_custkey").alias("_ck"))
    )
    rich = c.join(F.broadcast(pos_avg)).filter(
        F.col("_bal_c") * F.col("_n") > F.col("_sum_c")
    )
    idle = rich.join(o, rich.c_custkey == F.col("_ck"), "left_anti")
    return idle.groupBy("segment").agg(
        F.count(F.lit(1)).cast("bigint").alias("numcust"),
        F.sum("_bal_c").cast("bigint").alias("totacctbal_cents"),
    )


@query(oracle=rex.PART_MIN_COST_SUPPLIER_SQL)
def part_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (minimum-cost supplier): for each part in a
    size/type slice, the supplier offering it at the lowest unit
    price within a region — the correlated groupwise-MIN subquery,
    decorrelated to an argmin window.

    Unit cost comes from lineitem (the testdata's partsupp stand-in):
    ``min((price_cents * 1000) DIV qty)`` per (part, supplier) —
    integral DIV on nonnegative operands, exact on both engines. The
    argmin keeps the row_number-then-filter-on-rank shape so Spark
    rewrites it to WindowGroupLimit (map-side partial top-1);
    deterministic tie-break on s_suppkey. The nation→region dim chain
    is broadcast (fixed 25/5 rows at any scale); the (part, supplier)
    aggregate shuffles once at pair grain. Output: p_partkey, p_name,
    s_name, n_name, min_unit_u3."""
    r = (
        load_table(spark, sf_dir, "region")
        .filter(F.col("r_name") == "EUROPE")
        .select("r_regionkey")
    )
    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    nr = F.broadcast(
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey).select(
            "n_nationkey", "n_name"
        )
    )
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey"
    )
    s_eu = s.join(nr, s.s_nationkey == nr.n_nationkey).select(
        "s_suppkey", "s_name", "n_name"
    )
    p = (
        load_table(spark, sf_dir, "part")
        .filter((F.col("p_size") <= 15) & (F.col("p_type") == "ECONOMY"))
        .select("p_partkey", "p_name")
    )
    # integral DIV on nonnegative operands — floor == truncate, exact
    # and bit-identical to the oracle's //
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_suppkey",
        F.expr(
            "(CAST(round(l_extendedprice * 100) AS BIGINT) * 1000)"
            " DIV CAST(l_quantity AS BIGINT)"
        ).alias("_unit_u3"),
    )
    cost = (
        li.groupBy("l_partkey", "l_suppkey")
        .agg(F.min("_unit_u3").alias("unit_u3"))
        .join(s_eu, F.col("l_suppkey") == s_eu.s_suppkey)
        .join(p, F.col("l_partkey") == p.p_partkey)
    )
    w = Window.partitionBy("l_partkey").orderBy(
        F.col("unit_u3").asc(), F.col("l_suppkey").asc()
    )
    return (
        cost.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "p_partkey",
            "p_name",
            "s_name",
            "n_name",
            F.col("unit_u3").alias("min_unit_u3"),
        )
    )


@query(oracle=rex.IMPORTANT_PARTS_VALUE_SQL)
def important_parts_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (important stock): parts whose revenue exceeds a
    FRACTION OF THE GLOBAL TOTAL — the groupwise-HAVING-vs-scalar-
    subquery pattern. The scalar total is a 1-row broadcast and the
    comparison is the integer cross-multiply
    ``part_cents · 1500 > total_cents`` (share > 1/1500), so no float
    threshold ever exists. One part-grain partial-agg shuffle; the
    second "aggregate" is the 1-row reduce of the first's output (reused
    via persist-free recompute of a groupBy — Catalyst reuses the
    exchange since both consumers share the part-grain plan). Output:
    l_partkey, part_value_cents."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("_c"),
    )
    per_part = li.groupBy("l_partkey").agg(
        F.sum("_c").cast("bigint").alias("part_value_cents")
    )
    total = per_part.agg(
        F.sum("part_value_cents").cast("decimal(38,0)").alias("_tot")
    )
    return (
        per_part.join(F.broadcast(total))
        .filter(
            F.col("part_value_cents").cast("decimal(38,0)") * 1500
            > F.col("_tot")
        )
        .select("l_partkey", "part_value_cents")
    )


@query(oracle=rex.TOP_SUPPLIER_REVENUE_SQL)
def top_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape (top supplier): suppliers whose windowed revenue
    EQUALS the global maximum — the scalar-max view join, ties kept.
    The max is a 1-row broadcast; the equality filter runs on the
    supplier-grain aggregate (never a corpus sort). Revenue window =
    1996 H1 ship dates (pushed to the scan). Exact cents. Output:
    s_suppkey, s_name, total_revenue_cents."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1996-07-01")
        )
        .select(
            "l_suppkey",
            F.round(F.col("l_extendedprice") * 100)
            .cast("bigint")
            .alias("_c"),
        )
    )
    rev = li.groupBy("l_suppkey").agg(
        F.sum("_c").cast("bigint").alias("total_revenue_cents")
    )
    mx = rev.agg(F.max("total_revenue_cents").alias("_mx"))
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.join(F.broadcast(mx))
        .filter(F.col("total_revenue_cents") - F.col("_mx") == 0)
        .join(s, rev.l_suppkey == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue_cents")
    )


@query(oracle=rex.EXCESS_SHARE_SUPPLIERS_SQL)
def excess_share_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (excess availability): suppliers who shipped
    MORE THAN 30% of a part's 1996 total — the nested
    share-above-groupwise-threshold semi chain. Both grains come out of
    ONE (part, supplier)-grain aggregate: the part total is the
    window-sum over supplier shares at pair grain (no second scan), the
    share test is the integer cross-multiply ``qty_ps · 10 > qty_p · 3``,
    and the surviving pairs collapse to supplier grain. The final join
    attaches supplier/nation names (nation broadcast — fixed 25 rows).
    Output: s_name, n_name, n_parts_excess."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
        )
        .select(
            "l_partkey",
            "l_suppkey",
            F.col("l_quantity").cast("bigint").alias("_q"),
        )
    )
    ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum("_q").alias("_qty_ps")
    )
    w = Window.partitionBy("l_partkey")
    excess = ps.withColumn("_qty_p", F.sum("_qty_ps").over(w)).filter(
        F.col("_qty_ps") * 10 > F.col("_qty_p") * 3
    )
    per_supp = excess.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_parts_excess")
    )
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey"
    )
    n = F.broadcast(
        load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    )
    return (
        per_supp.join(s, per_supp.l_suppkey == s.s_suppkey)
        .join(n, s.s_nationkey == F.col("n_nationkey"))
        .select("s_name", "n_name", "n_parts_excess")
    )


@query(oracle=rex.NATION_MARKET_SHARE_SQL)
def nation_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape (national market share): one supplier nation's
    share of a region's market for a part type, per order year — the
    conditional-numerator-over-total ratio aggregation. Both legs come
    from ONE joined frame: numerator = sum(revenue WHERE supp nation =
    target) — never a second scan — and the share is the integral
    ``(num · 1e6) DIV total`` on nonnegative cents (no float division).
    Market = EUROPE-region customers buying ECONOMY parts; target
    supplier nation = NATION_3. Dims (nation, region, and the filtered
    part slice at 100 TB only if it stays model-sized — part is
    hint-free, AQE decides) follow the standard pin rules. Output:
    o_year, total_cents, nation_cents, share_ppm."""
    r = (
        load_table(spark, sf_dir, "region")
        .filter(F.col("r_name") == "EUROPE")
        .select("r_regionkey")
    )
    n = load_table(spark, sf_dir, "nation")
    nr = F.broadcast(
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey).select(
            F.col("n_nationkey").alias("_eu_nk")
        )
    )
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    c_eu = c.join(nr, c.c_nationkey == F.col("_eu_nk")).select("c_custkey")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", F.year("o_orderdate").alias("o_year")
    )
    p = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_type") == "ECONOMY")
        .select("p_partkey")
    )
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    tgt = F.broadcast(
        load_table(spark, sf_dir, "nation")
        .filter(F.col("n_name") == "NATION_3")
        .select(F.col("n_nationkey").alias("_tgt_nk"))
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_partkey",
        "l_suppkey",
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("_c"),
    )
    j = (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c_eu, F.col("o_custkey") == F.col("c_custkey"), "left_semi")
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(tgt, s.s_nationkey == F.col("_tgt_nk"), "left")
        .select(
            "o_year",
            "_c",
            F.when(F.col("_tgt_nk").isNotNull(), F.col("_c"))
            .otherwise(F.lit(0))
            .alias("_nc"),
        )
    )
    return j.groupBy("o_year").agg(
        F.sum("_c").cast("bigint").alias("total_cents"),
        F.sum("_nc").cast("bigint").alias("nation_cents"),
        F.expr("(sum(_nc) * 1000000) DIV sum(_c)")
        .cast("bigint")
        .alias("share_ppm"),
    )


@query(oracle=rex.NATION_YEAR_PROFIT_SQL)
def nation_year_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (product-type profit): per (supplier nation,
    ship year) profit over a part-name slice — the widest snowflake
    join in the suite (lineitem ⋈ part ⋈ supplier ⋈ nation). Profit =
    price·(1−discount) − retail·qty in exact cents·permille units
    (testdata has no partsupp.ps_supplycost; p_retailprice is the cost
    stand-in — may go NEGATIVE, which is why the output is a signed
    sum, never DIV'd). The p_name LIKE filter pushes to the part scan.
    Output: n_name, ship_year, profit_u5, n_lines."""
    p = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%red%"))
        .select(
            "p_partkey",
            F.round(F.col("p_retailprice") * 100)
            .cast("bigint")
            .alias("_rp_c"),
        )
    )
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    n = F.broadcast(
        load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_suppkey",
        F.year("l_shipdate").alias("ship_year"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("_p"),
        F.round(F.col("l_discount") * 1000).cast("bigint").alias("_d"),
        F.col("l_quantity").cast("bigint").alias("_q"),
    )
    j = (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(n, s.s_nationkey == F.col("n_nationkey"))
        .select(
            "n_name",
            "ship_year",
            (
                F.col("_p") * (F.lit(1000) - F.col("_d"))
                - F.col("_rp_c") * F.col("_q") * F.lit(1000)
            ).alias("_profit_u5"),
        )
    )
    return j.groupBy("n_name", "ship_year").agg(
        F.sum("_profit_u5").cast("bigint").alias("profit_u5"),
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
    )


@query(oracle=rex.PROMO_REVENUE_SHARE_SQL)
def promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape (promotion effect): PROMO-type parts' share of
    monthly revenue — the conditional-share-per-bucket ratio, exact:
    revenue in cents·permille integers, share as
    ``(promo · 1e6) DIV total`` (nonnegative DIV). One fact⋈part join,
    month buckets from the ship date. Output: ship_month (first-of-
    month date), promo_u5, total_u5, promo_ppm."""
    p = load_table(spark, sf_dir, "part").select(
        "p_partkey", (F.col("p_type") == "PROMO").alias("_is_promo")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.trunc(F.col("l_shipdate"), "month").alias("ship_month"),
        (
            F.round(F.col("l_extendedprice") * 100).cast("bigint")
            * (F.lit(1000) - F.round(F.col("l_discount") * 1000).cast("bigint"))
        ).alias("_u5"),
    )
    j = li.join(p, li.l_partkey == p.p_partkey).select(
        "ship_month",
        "_u5",
        F.when(F.col("_is_promo"), F.col("_u5")).otherwise(F.lit(0)).alias(
            "_promo_u5"
        ),
    )
    return j.groupBy("ship_month").agg(
        F.sum("_promo_u5").cast("bigint").alias("promo_u5"),
        F.sum("_u5").cast("bigint").alias("total_u5"),
        F.expr("(CAST(sum(_promo_u5) AS DECIMAL(38,0)) * 1000000) DIV sum(_u5)")
        .cast("bigint")
        .alias("promo_ppm"),
    )
