"""General relational surface (SURVEY.md §2.5-2.8 "zero-cost" built-in
coverage): aggregations, grouping sets, top-k windows, anti joins,
running totals, event-time windows and sessionization over the
testdata tables.

The reference never needs these (its one aggregate is a count and a
vote), but a user of the engine gets them from the DataFrame API; these
queries pin their semantics against the DuckDB oracle.

Float determinism: every floating aggregate is rounded (2dp for sums of
~1e5-magnitude values) — cross-engine summation order differs only in
partial-aggregation trees, whose error is ~1e-9 relative, far below the
rounding grain. Running sums are per-frame sequential in both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
import pyspark.sql.functions as F

from sea_express_customs_etl_spark.plans import oracles_ext as ext, oracles_rel as orel
from sea_express_customs_etl_spark.plans.standins import load_table
from sea_express_customs_etl_spark.queries import query
from sea_express_customs_etl_spark.streaming.windows import (
    hourly_event_counts,
    sessionize,
)


@query(oracle=orel.EVENTS_HOURLY_SQL)
def events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    return hourly_event_counts(load_table(spark, sf_dir, "events"))


@query(oracle=orel.EVENTS_SESSIONIZE_SQL)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sessionize(load_table(spark, sf_dir, "events"), gap_minutes=30)


@query(oracle=orel.EVENTS_SESSION_WINDOW_SQL)
def events_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Built-in ``session_window`` (batch mode) — checked against a
    first-principles lag/cumsum sessionization oracle. The window's
    ``end`` is last-event + gap, so the last-event time is recovered by
    subtracting the gap; boundary note: an exactly-gap-sized spacing
    starts a new session in both formulations (``>=``)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window(F.col("ts"), "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            (F.col("session_window.end") - F.expr("INTERVAL 30 MINUTES")).alias(
                "last_event"
            ),
            "n_events",
        )
    )


@query(oracle=orel.PURCHASE_LAST_CLICK_ASOF_SQL)
def purchase_last_click_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each purchase event, the user's most recent
    click at or before the purchase time."""
    from sea_express_customs_etl_spark.operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    purchases = ev.join(
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select("event_id"),
        "event_id",
        "left_semi",
    )
    clicks = ev.join(
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "click")
        .select("event_id"),
        "event_id",
        "left_semi",
    )
    return asof_join(
        purchases,
        clicks,
        key_cols=["user_id"],
        ts_col="ts",
        payload_cols=["event_id"],
        tiebreak_col="event_id",
    )


@query(oracle=orel.PRICING_SUMMARY_SQL)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped aggregation: partial+final hash agg, fully
    codegen'd; the parquet scan reads only the 6 touched columns."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("count_order"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
        )
    )


@query(oracle=orel.TOPK_PARTS_PER_BRAND_SQL)
def topk_parts_per_brand(spark: SparkSession, sf_dir: str, k: int = 3) -> DataFrame:
    """Top-k per group via rank window (OP-TOP1 generalized)."""
    part = load_table(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(
        F.col("p_retailprice").desc(), F.col("p_partkey").asc()
    )
    return (
        part.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("p_brand", "p_partkey", "p_name", "p_retailprice", "rk")
    )


@query(oracle=orel.ROLLUP_ORDER_STATS_SQL)
def rollup_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets (status, priority) → subtotals + grand
    total — the grouping-set surface the reference lacks."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_total"),
    )


@query(oracle=orel.CUBE_ORDER_STATS_SQL)
def cube_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets — all 4 combinations of (status, priority)."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_total"),
    )


@query(oracle=orel.CUSTOMERS_WITHOUT_ORDERS_SQL)
def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-join surface: customers never seen in orders, per segment."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").select("o_custkey")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


@query(oracle=orel.REVENUE_BY_NATION_SQL)
def revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Five-table star join (lineitem ⋈ orders ⋈ customer ⋈ nation ⋈
    region) — Catalyst orders the joins and broadcasts every dimension;
    only lineitem⋈orders is shuffle-worthy, and AQE may broadcast
    orders too at small SF."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    region = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    return (
        # nation (25 rows) and region (5 rows) are FIXED-size → pinned
        # broadcasts; customer grows with SF → AQE decides
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
        )
    )


@query(oracle=orel.ORDER_GAPS_SQL)
def order_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lead/lag analytic surface: days since the customer's previous
    order (NULL for the first)."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_orderdate"), F.col("o_orderkey"))
    prev = F.lag("o_orderdate").over(w)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.datediff(F.col("o_orderdate"), prev).alias("days_since_prev"),
    )


@query(oracle=orel.CUSTOMER_RUNNING_TOTALS_SQL)
def customer_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer running order total (analytic frame window)."""
    orders = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate"), F.col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_total"),
    )


@query(oracle=orel.SHIPPING_PRIORITY_SQL)
def shipping_priority(spark: SparkSession, sf_dir: str, k: int = 10) -> DataFrame:
    """TPC-H Q3 shape: unshipped-order revenue as of a cutoff date —
    orders placed before it with lineitems shipping after it, top-k by
    revenue. Deterministic cutoff ties: l_orderkey is unique per group.
    Scale: one lineitem⋈orders shuffle (both filtered BEFORE the join,
    pushed to the scans), then a global top-k (partial per partition)."""
    cutoff = "1995-03-15"
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < cutoff
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("o_orderdate"), F.col("l_orderkey"))
        .limit(k)
    )


@query(oracle=orel.NATION_REVENUE_SHARE_SQL)
def nation_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed share-of-total over an aggregate: each nation's revenue
    share within its order year. The window runs over the AGGREGATED
    (nation × year) rows — ~200 rows at any corpus size, so the second
    pass is free; rounding before the share division keeps the ratio
    bit-stable across engines."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    agg = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name", F.year("o_orderdate").alias("order_year"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )
    w = Window.partitionBy("order_year")
    return agg.select(
        "n_name",
        "order_year",
        "revenue",
        F.round(F.col("revenue") / F.sum("revenue").over(w), 4).alias("share"),
    )


@query(oracle=orel.LATE_SHIPMENT_PRIORITY_SQL)
def late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: orders (in a one-year window) having at least
    one lineitem shipped more than 60 days after the order date,
    counted per priority. The EXISTS becomes a LEFT SEMI join with a
    mixed equi + range condition — Spark keeps the equi part as the
    shuffle key and evaluates the date comparison as the join residual,
    so the plan is one orderkey-partitioned exchange per side, never a
    cross product; the semi form also stops probing an order after its
    first late item (no post-join distinct needed)."""
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > orders.o_orderdate + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("n_orders"))


@query(oracle=orel.BRAND_SUPPLIER_VARIETY_SQL)
def brand_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT IN → LEFT ANTI join shape: distinct suppliers per brand,
    excluding suppliers in bad standing (negative account balance).
    The exclusion list is supplier-table-sized — small relative to
    lineitem but still SF-growing, so (like the part join) it is left
    to Catalyst/AQE: broadcast at bench scale, shuffled anti join when
    the supplier dimension outgrows the threshold at 100 TB. No
    NULL-semantics trap: both key columns are non-null, so NOT IN ≡
    anti join here."""
    bad = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        li.join(bad, li.l_suppkey == bad.s_suppkey, "left_anti")
        .join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count_distinct("l_suppkey").alias("n_suppliers"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


@query(oracle=orel.RETURNED_REVENUE_TOPK_SQL)
def returned_revenue_topk(spark: SparkSession, sf_dir: str, k: int = 20) -> DataFrame:
    """TPC-H Q10 shape: customers ranked by revenue of returned items
    (l_returnflag = 'R'). Filter pushed below the join; the customer
    dim is SF-growing so AQE picks broadcast-vs-shuffle at runtime;
    unique c_custkey breaks limit-boundary ties."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(k)
    )


@query(oracle=orel.NATION_YEAR_PIVOT_SQL)
def nation_year_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT surface: nation × order-year revenue matrix via
    ``groupBy().pivot()`` with an EXPLICIT value list — with the years
    pinned, Catalyst compiles the pivot to one pass of conditional
    aggregates (no extra distinct-values job, no second shuffle), the
    same plan the oracle's CASE-WHEN formulation describes. An implicit
    pivot would first run a distinct scan over the pivot column — a
    full extra corpus pass at 100 TB — so the value list is part of the
    operator's scale contract, not a convenience.

    The reference has no pivot (pandas ``pivot_table`` unused); this
    pins the wide-format reporting shape its MySQL consumers would
    build downstream."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    years = list(range(1992, 1999))
    base = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .select(
            "n_name",
            F.year("o_orderdate").alias("order_year"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"),
        )
    )
    pv = base.groupBy("n_name").pivot("order_year", years).agg(
        F.round(F.sum("rev"), 2)
    )
    return pv.select(
        "n_name", *[F.col(str(y)).alias(f"y{y}") for y in years]
    )


@query(oracle=orel.ORDER_PRIORITY_UNPIVOT_SQL)
def order_priority_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (melt) surface: the per-priority order aggregate turned
    into long (priority, metric, value) rows via ``DataFrame.unpivot``
    — the inverse reporting shape of ``nation_year_pivot``. Unpivot is
    a map-only expand (Catalyst ``Expand`` node, rows × n_metrics, no
    shuffle); the only shuffle here is the upstream aggregate's.
    Measures are cast to a common DOUBLE, the unpivot type contract."""
    orders = load_table(spark, sf_dir, "orders")
    agg = orders.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("double").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_total"),
        F.round(F.avg("o_totalprice"), 4).alias("avg_total"),
    )
    return agg.unpivot(
        ["o_orderpriority"],
        ["n_orders", "sum_total", "avg_total"],
        "metric",
        "value",
    )


@query(oracle=orel.RETURNFLAG_QTY_PRICE_CORR_SQL)
def returnflag_qty_price_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation per return flag from EXACT integer component
    sums — the engine's bit-portable replacement for ``corr()``.

    Built-in ``corr``/``covar_pop`` stream float partials whose merge
    order differs per engine/partitioning, so they can never hash-match
    an oracle. Instead: quantity (integral) and price-in-cents become
    bigints, the five component sums (Σx, Σy, Σxy, Σx², Σy²) accumulate
    as DECIMAL(38,0) — aggregation-order-exact, and Σy² at ~1e14 per
    row genuinely overflows int64 at 100 TB row counts, which is why
    the decimal cast is load-bearing, not defensive. The final
    correlation is ONE deterministic double expression over the six
    exact components (identical IEEE ops in the oracle), rounded 6dp.
    One partial-aggregated shuffle of |shipmode| groups; map-side
    combine does the heavy lifting."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.round(F.col("l_quantity")).cast("bigint").alias("x"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("y"),
    )
    dec = "decimal(38,0)"
    agg = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(F.col("x").cast(dec)).alias("_sx"),
        F.sum(F.col("y").cast(dec)).alias("_sy"),
        F.sum((F.col("x").cast(dec) * F.col("y").cast(dec))).alias("_sxy"),
        F.sum((F.col("x").cast(dec) * F.col("x").cast(dec))).alias("_sx2"),
        F.sum((F.col("y").cast(dec) * F.col("y").cast(dec))).alias("_sy2"),
    )
    n = F.col("n_items").cast("double")
    sx = F.col("_sx").cast("double")
    sy = F.col("_sy").cast("double")
    sxy = F.col("_sxy").cast("double")
    sx2 = F.col("_sx2").cast("double")
    sy2 = F.col("_sy2").cast("double")
    return agg.select(
        "l_returnflag",
        "n_items",
        F.round(
            (n * sxy - sx * sy)
            / F.sqrt((n * sx2 - sx * sx) * (n * sy2 - sy * sy)),
            6,
        ).alias("corr_qty_price"),
    )


@query(oracle=orel.USER_ROLLING_24H_SQL)
def user_rolling_24h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling time-RANGE window: per user, the trailing-24 h event
    count and micro-unit value sum at every event (feature-engineering
    shape: 'activity in the last day' as a model feature).

    The frame is ``rangeBetween`` over integer epoch-MICROSECONDS — a
    time-based frame, not a row count, so simultaneous events are peers
    in both engines and the result is tie-stable. Micro-unit bigint
    values keep the rolling sums exact. Scale: one shuffle on user_id;
    per-key window state is bounded by the 24 h span × per-user event
    rate, never the corpus — the same bounded-state argument as the
    streaming sessionizer (streaming/windows.py)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        F.round(F.col("value") * 1e6).cast("bigint").alias("value_u6"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us")
        .rangeBetween(-24 * 3600 * 1_000_000, 0)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.count(F.lit(1)).over(w).alias("n_24h"),
        F.sum("value_u6").over(w).alias("sum_value_u6"),
    )


@query(oracle=orel.JSON_PROPS_ROLLUP_SQL)
def json_props_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction: per-event-type rollup of the JSON
    ``props`` payload (cf. the free-form history attributes the
    reference stores relationally, src/import_xml.py:31-53). JSON parse
    is `from_json` — JVM-side, map-only; one partial-aggregated
    shuffle of |event_type| rows."""
    from sea_express_customs_etl_spark.operators.jsonops import props_rollup

    return props_rollup(load_table(spark, sf_dir, "events"))


@query(oracle=orel.CLICK_PURCHASE_INTERVAL_SQL)
def click_purchase_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join: every click in the 24 h before each purchase by
    the same user (attribution-touchpoints shape; also the exact plan
    Structured Streaming requires for stream-stream joins — watermark +
    time bound ≙ this range predicate). Shuffled equi-join on user_id;
    per-key join state bounded by lookback × event rate."""
    from sea_express_customs_etl_spark.operators.jsonops import interval_join

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    return interval_join(
        purchases,
        clicks,
        key_cols=["user_id"],
        left_ts="ts",
        right_ts="ts",
        lookback_seconds=24 * 3600,
        right_payload=["event_id"],
    )


@query(oracle=orel.FUNNEL_CONVERSION_SQL)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-step funnel over the event stream: per user, the first
    'view', the first 'click' strictly after it, the first 'purchase'
    strictly after that — the strict-sequence semantics of product
    funnel tools (a click before any view does not count). Output: one
    row per step with the surviving-user count and the floor-mean
    microsecond lag from the previous step (integer division of exact
    bigint sums — hash-portable, the micro-unit rule for time math).

    Scale shape: three per-user min-aggregations chained by inner
    joins that all share the ``user_id`` key — one partitioning,
    reused across every stage (no broadcast hints: the user table
    grows with the corpus, AQE may still broadcast at bench scale).
    The final 3-row union aggregates are partial+final counts."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    s1 = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        ev.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"), F.min("t1").alias("t1"))
    )
    s3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s2.select("user_id", "t2"), "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"), F.min("t2").alias("t2"))
    )

    def _lag_us(a: str, b: str):
        return F.floor(
            F.sum(F.unix_micros(F.col(b)) - F.unix_micros(F.col(a)))
            / F.count(F.lit(1))
        ).cast("bigint")

    step1 = s1.agg(
        F.lit(1).alias("step_no"),
        F.lit("view").alias("step"),
        F.count(F.lit(1)).alias("n_users"),
        F.lit(None).cast("bigint").alias("avg_lag_us"),
    )
    step2 = s2.agg(
        F.lit(2).alias("step_no"),
        F.lit("click").alias("step"),
        F.count(F.lit(1)).alias("n_users"),
        _lag_us("t1", "t2").alias("avg_lag_us"),
    )
    step3 = s3.agg(
        F.lit(3).alias("step_no"),
        F.lit("purchase").alias("step"),
        F.count(F.lit(1)).alias("n_users"),
        _lag_us("t2", "t3").alias("avg_lag_us"),
    )
    return step1.unionByName(step2).unionByName(step3)


@query(oracle=orel.COHORT_RETENTION_SQL)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic cohort-retention triangle: users grouped by first-seen
    calendar day, counted on each later active day as an offset from
    their cohort day. Output: (cohort_day date, day_offset int,
    n_users) — day_offset 0 is the cohort size itself.

    Scale shape: one per-user min-date aggregation, one distinct over
    (user, day) — both partial-aggregated — then a join on ``user_id``
    reusing the same hash partitioning, and a final (cohort, offset)
    count whose output is bounded by days² regardless of corpus size."""
    ev = load_table(spark, sf_dir, "events")
    first = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("cohort_day")
    )
    active = ev.select("user_id", F.to_date("ts").alias("d")).distinct()
    return (
        active.join(first, "user_id")
        .select(
            "cohort_day",
            F.datediff("d", "cohort_day").alias("day_offset"),
            "user_id",
        )
        .groupBy("cohort_day", "day_offset")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


@query(oracle=orel.EVENTS_SLIDING_COUNTS_SQL)
def events_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OVERLAPPING (hopping) event-time windows — 1-hour length, 15-min
    hop, so every event lands in exactly 4 windows (the tumbling
    `events_hourly` covers the non-overlapping case). Window starts
    are emitted as epoch SECONDS so the frame is hash-portable without
    timezone coupling. The groupBy is a plain partial-aggregated
    shuffle: Spark's `window()` with a slide explodes each row into
    its len/hop windows map-side — the same expansion the oracle
    states explicitly with generate_series."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 1_000_000).cast("bigint")).alias(
                "sum_value_u6"
            ),
        )
        .select(
            F.expr("unix_micros(w.start) div 1000000").alias("ws_s"),
            "event_type",
            "n_events",
            "sum_value_u6",
        )
    )


@query(oracle=orel.GROUPING_SETS_ORDER_STATS_SQL)
def order_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSTOM grouping sets — ((status), (priority)): the non-prefix
    set combination neither ROLLUP nor CUBE expresses (two independent
    one-dimension summaries in ONE scan via Expand). grouping_id
    disambiguates which dimension each output row summarizes; price
    sums are micro-unit integers (the float-through-aggregation
    rule)."""
    orders = load_table(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("orders_gs")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               CAST(grouping_id(o_orderstatus, o_orderpriority) AS INT)
                   AS gid,
               count(*) AS n_orders,
               sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS sum_u2
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        """
    )


@query(oracle=ext.SEGMENT_CONVERSION_ZTEST_SQL)
def segment_conversion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test per market segment: is this segment's
    conversion rate (customers with ≥1 order) different from the REST
    of the population? The A/B-readout query an experimentation
    pipeline runs per cohort.

    All inputs to the statistic are exact integers (per-segment
    customer count n₁ and converter count k₁ via one broadcast-semi
    flag join + partial-agg; grand totals N, K as a 1-row cross-joined
    scalar — the 1-row license), and the z-score is ONE deterministic
    double expression over them, rounded 6dp (the
    ``returnflag_qty_price_corr`` recipe):

        z = (p₁ − p₂) / sqrt(p̂(1 − p̂)(1/n₁ + 1/n₂)),
        p₁ = k₁/n₁, p₂ = (K−k₁)/(N−n₁), p̂ = K/N.

    One lineitem-free plan: customer ⋈ orders (left_semi on custkey,
    orders side aggregated to distinct custkeys by the semi itself),
    |segments| output rows."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    buyers = load_table(spark, sf_dir, "orders").select("o_custkey")
    flagged = cust.join(
        buyers, cust.c_custkey == buyers.o_custkey, "left_semi"
    ).select("c_mktsegment")
    seg = (
        cust.groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_cust"))
        .join(
            flagged.groupBy("c_mktsegment").agg(
                F.count(F.lit(1)).cast("bigint").alias("n_conv")
            ),
            "c_mktsegment",
            "left",
        )
        .fillna(0, ["n_conv"])
    )
    tot = seg.agg(
        F.sum("n_cust").cast("bigint").alias("_nn"),
        F.sum("n_conv").cast("bigint").alias("_kk"),
    )
    j = seg.crossJoin(F.broadcast(tot))
    n1 = F.col("n_cust").cast("double")
    k1 = F.col("n_conv").cast("double")
    n2 = (F.col("_nn") - F.col("n_cust")).cast("double")
    k2 = (F.col("_kk") - F.col("n_conv")).cast("double")
    p1 = k1 / n1
    p2 = k2 / n2
    pp = (k1 + k2) / (n1 + n2)
    den = F.sqrt(pp * (1 - pp) * (1 / n1 + 1 / n2))
    return j.select(
        "c_mktsegment",
        "n_cust",
        "n_conv",
        F.round(F.when(den > 0, (p1 - p2) / den), 6).alias("z_score"),
    )


@query(oracle=orel.SMALL_QTY_REVENUE_SQL)
def small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape (small-quantity-order revenue): revenue locked
    in lineitems whose quantity is below 20% of the part's average,
    grouped by brand — the correlated-aggregate-subquery pattern
    DECORRELATED into one partial-agg + one equi-join (what Catalyst
    does to Q17, written explicitly so the plan is oracle-stable).

    The 0.2·avg threshold is cleared to exact integers by
    cross-multiplication: qty < sum_qty/(5·n) ⇔ 5·qty·n < sum_qty
    (quantities integral after round, all nonnegative) — no float
    average exists. Output: p_brand, n_small_lines, revenue_cents."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.round(F.col("l_quantity")).cast("bigint").alias("qty"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("price_c"),
    )
    stats = li.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("_n"),
        F.sum("qty").alias("_sq"),
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    return (
        li.join(stats, "l_partkey")
        .filter(F.lit(5) * F.col("qty") * F.col("_n") < F.col("_sq"))
        .join(part, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_small_lines"),
            F.sum("price_c").cast("bigint").alias("revenue_cents"),
        )
    )


@query(oracle=orel.COHORT_LTV_CURVE_SQL)
def cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curves: customers cohorted by FIRST order
    month, then cumulative revenue per cohort across month offsets —
    the LTV table every subscription/commerce dashboard draws
    (``cohort_retention``'s revenue sibling).

    Months are integer indexes (year·12 + month − 1), revenue is exact
    cents; the cumulative window is per cohort over ≤ |months| offset
    rows (bucket grain — the ``timeseries`` argument), never over
    orders. Output: cohort_month (int yyyymm), offset_months,
    n_orders, rev_cents, cum_rev_cents."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1).alias(
            "_mi"
        ),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("_rev"),
    )
    first = o.groupBy("o_custkey").agg(F.min("_mi").alias("_m0"))
    cells = (
        o.join(first, "o_custkey")
        .groupBy(
            F.col("_m0").alias("_cm"),
            (F.col("_mi") - F.col("_m0")).alias("offset_months"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum("_rev").alias("rev_cents"),
        )
    )
    w = (
        Window.partitionBy("_cm")
        .orderBy("offset_months")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return cells.select(
        F.expr("(_cm DIV 12) * 100 + (_cm % 12 + 1)")
        .cast("int")
        .alias("cohort_month"),
        F.col("offset_months").cast("int").alias("offset_months"),
        "n_orders",
        "rev_cents",
        F.sum("rev_cents").over(w).cast("bigint").alias("cum_rev_cents"),
    )


@query(oracle=orel.NATION_REVENUE_MOM_SQL)
def nation_revenue_mom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue per nation: monthly order revenue with
    the prior month's value, absolute delta (signed exact cents) and
    the current/prior ratio in integer ppm — the KPI-trend query
    behind every "↑12% vs last month" tile.

    The lag window runs at (nation, month) BUCKET grain (≤ nations ×
    months rows, one partial-agg shuffle of orders gets there); prior
    month means prior OBSERVED month for that nation (gap semantics
    documented — compose with ``events_gapfill_locf``'s spine for
    calendar-strict gaps). ratio_ppm uses DIV on nonnegative revenue
    (NULL for the first month); delta is signed plain subtraction —
    both engines agree without floor/truncate games."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    nat = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        (F.year("o_orderdate") * 100 + F.month("o_orderdate")).alias(
            "order_month"
        ),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("_rev"),
    )
    monthly = (
        o.join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name", "order_month")
        .agg(F.sum("_rev").alias("rev_cents"))
    )
    w = Window.partitionBy("n_name").orderBy("order_month")
    return monthly.select(
        "n_name",
        "order_month",
        "rev_cents",
        F.lag("rev_cents").over(w).alias("prev_cents"),
    ).select(
        "n_name",
        "order_month",
        "rev_cents",
        "prev_cents",
        (F.col("rev_cents") - F.col("prev_cents")).alias("delta_cents"),
        F.expr(
            "CASE WHEN prev_cents > 0 THEN (1000000 * rev_cents) DIV prev_cents END"
        ).alias("ratio_ppm"),
    )


@query(oracle=orel.PRIORITY_RETURN_EXISTS_SQL)
def priority_return_exists(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EXISTS-decorrelation pattern (the TPC-H Q4 shape on available
    columns): per order priority, how many orders have at least one
    RETURNED lineitem — the correlated EXISTS rewritten as a left-semi
    join (Catalyst's own decorrelation, stated explicitly). Share in
    exact integer ppm. Output: o_orderpriority, n_orders,
    n_with_return, share_ppm."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    returned = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey")
    )
    tot = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders")
    )
    ret = (
        o.join(returned, o.o_orderkey == returned.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_with_return"))
    )
    return (
        tot.join(ret, "o_orderpriority", "left")
        .fillna(0, ["n_with_return"])
        .select(
            "o_orderpriority",
            "n_orders",
            "n_with_return",
            F.expr("(1000000 * n_with_return) DIV n_orders").alias(
                "share_ppm"
            ),
        )
    )


@query(oracle=ext.DAILY_ACTIVE_GROWTH_SQL)
def daily_active_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth accounting at day-bucket grain: per day, total events,
    distinct active users, NEW users (first-ever-seen that day) and
    the cumulative distinct-user count — the DAU/new-vs-returning
    panel every product dashboard opens with.

    Cumulative distinct is NOT a distinct-over-window (unbounded state
    at 100 TB): it's Σ n_new over the day spine — exact because "new"
    is derived from each user's min(day) (one user-grain partial agg).
    The cumulative window runs over ≤ |days| bucket rows (the
    dictionary-grain window license). Output: epoch_day, n_events,
    n_active, n_new, cum_users."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.floor(F.unix_timestamp(F.col("ts")) / 86400)
        .cast("bigint")
        .alias("epoch_day"),
    )
    per_day = ev.groupBy("epoch_day").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events")
    )
    active = (
        ev.distinct()
        .groupBy("epoch_day")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_active"))
    )
    new = (
        ev.groupBy("user_id")
        .agg(F.min("epoch_day").alias("epoch_day"))
        .groupBy("epoch_day")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_new"))
    )
    wall = Window.orderBy("epoch_day").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        per_day.join(active, "epoch_day")
        .join(new, "epoch_day", "left")
        .fillna(0, ["n_new"])
        .select(
            "epoch_day",
            "n_events",
            "n_active",
            "n_new",
            F.sum("n_new").over(wall).cast("bigint").alias("cum_users"),
        )
    )


@query(oracle=ext.CLICK_NEXT_PURCHASE_FWD_SQL)
def click_next_purchase_fwd(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """FORWARD as-of join: every click attached to the user's NEXT
    purchase (ts ≥ click ts; ties → earliest purchase id) — the
    time-to-conversion feature, and the mirror of
    ``purchase_last_click_asof``. Implemented by feeding
    ``asof.asof_join`` NEGATED sort keys (backward-asof on −ts ≡
    forward-asof on ts), so the struct-carry machinery — including
    the same-row payload guarantee — is reused verbatim. Output:
    user_id, event_id, ts_us, next_purchase_id, next_purchase_ts_us,
    lag_us (NULLs when no later purchase)."""
    from sea_express_customs_etl_spark.operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        "event_id",
        F.unix_micros(F.col("ts")).alias("ts_us"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        "event_id",
        "ts_us",
        (-F.col("ts_us")).alias("_nt"),
        (-F.col("event_id")).alias("_nid"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        (-F.col("ts_us")).alias("_nt"),
        (-F.col("event_id")).alias("_nid"),
        F.col("event_id").alias("np_id"),
        F.col("ts_us").alias("np_ts"),
    )
    joined = asof_join(
        clicks,
        purchases,
        ["user_id"],
        "_nt",
        ["np_id", "np_ts"],
        tiebreak_col="_nid",
    )
    return joined.select(
        "user_id",
        "event_id",
        "ts_us",
        F.col("asof_np_id").alias("next_purchase_id"),
        F.col("asof_np_ts").alias("next_purchase_ts_us"),
        (F.col("asof_np_ts") - F.col("ts_us")).alias("lag_us"),
    )


@query(oracle=orel.DISCOUNT_REVENUE_Q6_SQL)
def discount_revenue_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape (forecast revenue change): one filtered
    map-side-only scan — the query whose entire cost is predicate
    pushdown + column pruning (ship-year, discount band, quantity cap
    all reach the parquet reader). Revenue = Σ extendedprice·discount
    in exact micro-cents: price-cents × discount-permille stay
    integers end-to-end, no float sum ever merges. Output: one row
    (n_lines, promo_revenue_u5 — cents·permille units)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
        & (F.round(F.col("l_discount") * 1000).cast("bigint").between(50, 70))
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        F.sum(
            F.round(F.col("l_extendedprice") * 100).cast("bigint")
            * F.round(F.col("l_discount") * 1000).cast("bigint")
        )
        .cast("bigint")
        .alias("promo_revenue_u5"),
    )


@query(oracle=orel.NATION_TRADE_FLOWS_SQL)
def nation_trade_flows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape (volume shipping): revenue flows between
    SUPPLIER nation and CUSTOMER nation per ship year — the canonical
    snowflake multi-way join (lineitem ⋈ orders ⋈ customer ⋈ nation ⊗
    supplier ⋈ nation), with both 25-row nation dims broadcast (the
    fixed-dimension license) and the two fact joins shuffling on their
    keys. Cross-border flows only (supp ≠ cust nation — Q7's
    condition). Exact cents. Output: supp_nation, cust_nation,
    ship_year, revenue_cents, n_lines."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_suppkey",
        F.year("l_shipdate").alias("ship_year"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("_p"),
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    su = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    nat = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    flows = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(su, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            F.broadcast(nat.select(
                F.col("n_nationkey").alias("_snk"),
                F.col("n_name").alias("supp_nation"),
            )),
            F.col("s_nationkey") == F.col("_snk"),
        )
        .join(
            F.broadcast(nat.select(
                F.col("n_nationkey").alias("_cnk"),
                F.col("n_name").alias("cust_nation"),
            )),
            F.col("c_nationkey") == F.col("_cnk"),
        )
        .filter(F.col("supp_nation") != F.col("cust_nation"))
    )
    return flows.groupBy("supp_nation", "cust_nation", "ship_year").agg(
        F.sum("_p").cast("bigint").alias("revenue_cents"),
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
    )


@query(oracle=orel.CUSTOMER_ORDER_CUSTDIST_SQL)
def customer_order_custdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape (customer distribution): histogram of customers
    by how many orders they placed, INCLUDING the zero bucket — the
    left-outer count-then-recount double aggregation. First groupBy
    shuffles on o_custkey (fact-sized); the second collapses onto the
    tiny order-count domain (≤ a few hundred distinct values at any
    scale — order counts per customer are bounded by activity, not
    corpus size), so the second exchange is model-sized. Output:
    c_count, custdist."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("bigint").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).cast("bigint").alias("custdist")
    )


@query(oracle=orel.LARGE_ORDER_CUSTOMERS_SQL)
def large_order_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (large-volume customers): orders whose total
    quantity exceeds a threshold, joined back to the customer. The
    HAVING-filtered aggregate runs FIRST (fact-grain groupBy with
    map-side partial sums), so the orders/customer joins see only the
    surviving ~1% of orderkeys — the aggregate-then-join ordering that
    matters at 100 TB (joining first would shuffle the whole fact
    twice). Quantities are integral in this dataset; sum as bigint.
    Output: c_name, c_custkey, o_orderkey, o_orderdate,
    total_price_cents, sum_qty."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.col("l_quantity").cast("bigint").alias("_q")
    )
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("_q").alias("sum_qty"))
        .filter(F.col("sum_qty") > 200)
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        F.round(F.col("o_totalprice") * 100)
        .cast("bigint")
        .alias("total_price_cents"),
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            "total_price_cents",
            "sum_qty",
        )
    )


@query(oracle=orel.BRAND_SIZE_QTY_REVENUE_SQL)
def brand_size_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape (discounted revenue, disjunctive predicate):
    three (brand, size-band, quantity-band) OR-arms across the
    part ⋈ lineitem join. The scale property: Catalyst extracts the
    single-side envelopes of the disjunction (p_brand IN (...) to the
    part scan, the l_quantity range to the lineitem scan) so both
    scans prune BEFORE the join — pinned by
    tests/test_plan_audit.py::test_q19_disjunct_partial_pushdown.
    Part grows with the corpus at 100 TB, so the join is hint-free
    (AQE broadcasts at bench scale). Revenue = Σ price·(1−discount)
    in exact cents·permille integer units. Output: one row
    (n_lines, disc_revenue_u5)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        # compare on the RAW double (values are integral): a bigint
        # cast would block the extracted quantity envelope from
        # reaching the parquet reader as a PushedFilter
        F.col("l_quantity").alias("_q"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("_p"),
        F.round(F.col("l_discount") * 1000).cast("bigint").alias("_d"),
    )
    p = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_size"
    )
    arm = lambda brand, s_lo, s_hi, q_lo, q_hi: (  # noqa: E731
        (F.col("p_brand") == brand)
        & F.col("p_size").between(s_lo, s_hi)
        & F.col("_q").between(q_lo, q_hi)
    )
    j = li.join(p, li.l_partkey == p.p_partkey).filter(
        arm("Brand#1", 1, 10, 1, 15)
        | arm("Brand#2", 1, 20, 10, 25)
        | arm("Brand#3", 1, 30, 20, 35)
    )
    return j.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        F.sum(F.col("_p") * (F.lit(1000) - F.col("_d")))
        .cast("bigint")
        .alias("disc_revenue_u5"),
    )
