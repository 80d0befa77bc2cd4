"""Relational and event-stream queries: warehouse operations, time series,
interval joins and business rollups over the TPC-H and events tables."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
import pyspark.sql.functions as F

from sea_express_customs_etl_spark.operators.asof import interval_join
from sea_express_customs_etl_spark.operators.calendar import ship_bizdays_by_priority
from sea_express_customs_etl_spark.operators.markov import (
    path_counts,
    transition_matrix,
)
from sea_express_customs_etl_spark.operators.profiling import (
    check_constraints,
    latest_by_key,
    merge_agg_states,
    profile_drift,
    profile_table,
    sigma_outliers,
)
from sea_express_customs_etl_spark.operators.skew import salted_join
from sea_express_customs_etl_spark.operators.timeseries import (
    above_mean_run_stats,
    ewma_hourly,
    floored_running_balance,
    hourly_gapfill_locf,
    interval_union_coverage,
    naive_forecast_mae,
    ohlc_by_bucket,
    peak_concurrency,
    seasonal_hour_profile,
    time_weighted_avg,
)
from sea_express_customs_etl_spark.plans import (
    oracles_ext as ext,
    oracles_rel as orel,
    oracles_wab as wab,
    oracles_wag as wag,
    oracles_wx as wx,
)
from sea_express_customs_etl_spark.plans.standins import load_table
from sea_express_customs_etl_spark.queries import query


@query(oracle=ext.EVENTS_GAPFILL_SQL)
def _q_events_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style hourly rollup with gap-fill + LOCF: every
    (type, hour) bucket in the observed range exists as a row — empty
    buckets with n_events=0 and a NULL sum (distinguishable from a
    zero sum) — and the last observed micro-unit sum carries forward.
    Epoch-hour integer buckets keep the whole frame hash-portable."""
    return hourly_gapfill_locf(load_table(spark, sf_dir, "events"))


@query(oracle=orel.INCREMENTAL_AGG_MERGE_SQL)
def _q_incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-view maintenance: per-customer aggregate STATES
    built from two disjoint order shards merge into exactly the
    full-scan aggregate (counts/sums add, min/max fold) — the oracle
    states the full scan, so the merge algebra itself is
    hash-checked."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("price_u2"),
    )

    def state(df: DataFrame) -> DataFrame:
        return df.groupBy("o_custkey").agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("price_u2").alias("sum_u2"),
            F.min("price_u2").alias("min_u2"),
            F.max("price_u2").alias("max_u2"),
        )

    s_even = state(o.filter(F.col("o_orderkey") % 2 == 0))
    s_odd = state(o.filter(F.col("o_orderkey") % 2 == 1))
    return merge_agg_states(
        [s_even, s_odd],
        ["o_custkey"],
        count_cols=["n_orders"],
        sum_cols=["sum_u2"],
        min_cols=["min_u2"],
        max_cols=["max_u2"],
    )


@query(oracle=orel.KEY_SKEW_STATS_SQL)
def _q_key_skew_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew diagnostics — the measurement that decides between AQE
    skew-join splitting and explicit salting: top-20 hottest join keys
    with their exact row share in parts-per-million (integer division
    of exact counts; the 1-row total is a pinned scalar broadcast)."""
    li = load_table(spark, sf_dir, "lineitem")
    counts = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n_rows"))
    total = counts.agg(F.sum("n_rows").alias("_t"))
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            "l_partkey",
            "n_rows",
            F.expr("n_rows * 1000000 div _t").alias("share_ppm"),
        )
        .orderBy(F.col("n_rows").desc(), F.col("l_partkey"))
        .limit(20)
    )


@query(oracle=orel.CLICKS_IN_ERROR_WINDOW_SQL)
def _q_clicks_in_error_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval join via time-bucket blocking: each user's
    daily error window [first error, last error] is exploded into its
    epoch-hour buckets, clicks map to their single bucket, and the
    non-equi BETWEEN becomes a residual filter on a plain (user,
    bucket) equi-join — the distributed range-join rewrite, never a
    per-key cross product. Output: clicks inside any same-user daily
    error window, counted per (user, day)."""
    ev = load_table(spark, sf_dir, "events")
    iv = (
        ev.filter(F.col("event_type") == "error")
        .groupBy("user_id", F.to_date("ts").alias("d"))
        .agg(F.min("ts").alias("w_start"), F.max("ts").alias("w_end"))
    )
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts")
    return (
        interval_join(clicks, iv, ["user_id"], "ts", "w_start", "w_end")
        .groupBy("user_id", "d")
        .agg(F.count(F.lit(1)).alias("n_clicks"))
    )


@query(oracle=orel.TABLE_PROFILE_SQL)
def _q_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style one-pass column profile of orders (floats
    pre-quantized to integer cents so min/max stringification is
    engine-portable — double→string formatting is not)."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderstatus",
        "o_orderpriority",
        "o_orderdate",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("price_u2"),
    )
    return profile_table(
        o,
        ["o_custkey", "o_orderstatus", "o_orderpriority", "o_orderdate",
         "price_u2"],
    )


@query(oracle=orel.LINEITEM_CONSTRAINTS_SQL)
def _q_lineitem_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dbt-test-style rule evaluation in one scan — five rules over
    lineitem, including ones that genuinely fail (tax cap) so the
    violation counting is exercised, not just the all-pass path."""
    li = load_table(spark, sf_dir, "lineitem")
    return check_constraints(
        li,
        {
            "qty_in_1_50": F.col("l_quantity").between(1, 50),
            "shipdate_in_range": F.col("l_shipdate").between(
                "1992-01-01", "1998-12-31"
            ),
            "positive_price": F.col("l_extendedprice") > 0,
            "tax_le_5pct": F.col("l_tax") <= 0.05,
            "returnflag_domain": F.col("l_returnflag").isin("A", "N", "R"),
        },
    )


@query(oracle=orel.LATEST_EVENT_PER_USER_SQL)
def _q_latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-style compaction to current state: each user's latest event
    by (ts, event_id) via the max-struct aggregate — partial-merge
    map-side, no per-key window sort."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.round(F.col("value") * 1_000_000).cast("bigint").alias("value_u6"),
    )
    return latest_by_key(
        ev, ["user_id"], "ts", "event_id", ["event_type", "value_u6"]
    )


@query(oracle=orel.SALTED_JOIN_REVENUE_SQL)
def _q_salted_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigation salting promoted to the hash-checked gate: the
    salted (key, salt) equi-join must produce EXACTLY the plain join's
    result (the salt is plumbing, not semantics) — the oracle states
    the plain join. Revenue in integer cents per order priority."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100)
        .cast("bigint")
        .alias("rev_u2"),
    )
    od = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    return (
        salted_join(li, od, "l_orderkey", salt_factor=8)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum("rev_u2").alias("revenue_u2"),
        )
    )


@query(oracle=orel.EVENT_PERCENT_RANK_SQL)
def _q_event_percent_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI percent_rank + cume_dist per event type — the two
    distribution window functions not exercised elsewhere. Both are
    exact integer ratios evaluated in IEEE doubles, so they hash-match
    without rounding; ties share ranks deterministically by
    definition."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(F.col("value"))
    return ev.select(
        "event_id",
        "event_type",
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
    )


@query(oracle=ext.EVENT_MARKOV_TRANSITIONS_SQL)
def _q_event_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: (from_type, to_type) counts + exact ppm row
    probabilities under the (ts, event_id) total order — the
    next-event model behind funnel design and bot detection."""
    return transition_matrix(load_table(spark, sf_dir, "events"))


@query(oracle=ext.EVENT_OHLC_HOURLY_SQL)
def _q_event_ohlc_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC candlestick rollup per (event_type, hour): order-dependent
    open/close via associative struct min/max (no window sort — ONE
    partial-aggregated shuffle), centi-unit integer values."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "value_c", F.floor(F.col("value") * 100).cast("bigint")
    )
    return ohlc_by_bucket(ev)


@query(oracle=ext.EVENT_USER_TWAP_SQL)
def _q_event_user_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user time-weighted average value (TWAP): LOCF holding-time
    weights in exact integer micros, Σ v·Δt DIV ΣΔt accumulated in
    DECIMAL(38,0) — the hypertable time_weight shape."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "value_c", F.floor(F.col("value") * 100).cast("bigint")
    )
    return time_weighted_avg(ev)


@query(oracle=ext.EVENT_RATE_SPIKES_SQL)
def _q_event_rate_spikes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rate-anomaly detection as a two-operator composition: hourly
    event counts per type (epoch-hour grain) fed into the zero-float
    3σ gate — the ops-monitoring 'this type is spiking' alarm; the
    sigma test runs at BUCKET grain so its stats pass is bounded by
    hours·types, not events."""
    ev = load_table(spark, sf_dir, "events")
    ts_u = F.expr("unix_micros(ts)")
    counts = (
        ev.select(
            "event_type",
            (ts_u - (ts_u % 3_600_000_000)).cast("bigint").alias("bucket_us"),
        )
        .groupBy("event_type", "bucket_us")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    return sigma_outliers(
        counts, "n", ("event_type",), ("bucket_us",), k_tenths=30
    )


@query(oracle=ext.EVENT_FORECAST_MAE_SQL)
def _q_event_forecast_mae(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast-baseline eval: per-type integer MAE of persistence
    (lag-1h) and seasonal-naive (lag-24h) forecasters over the hourly
    rollup — the M-competition floor a model must beat."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "value_c", F.floor(F.col("value") * 100).cast("bigint")
    )
    return naive_forecast_mae(ev)


@query(oracle=orel.EVENT_TRIGRAM_PATHS_SQL)
def _q_event_trigram_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 3-step event journeys — the path-analysis query behind
    funnel design (second-order sibling of the transition matrix);
    two leads per user, one partial-agg triple count."""
    return path_counts(load_table(spark, sf_dir, "events"), k=20)


@query(oracle=orel.ORDERS_PROFILE_DRIFT_SQL)
def _q_orders_profile_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-contract drift report: pre-1999 vs 1999+ order snapshots
    profiled (one scan each) and diffed per column — null ppm both
    sides, NDV delta, min/max envelope movement (null-safe)."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderstatus",
        "o_orderpriority",
        "o_orderdate",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("price_u2"),
    )
    cols = ["o_custkey", "o_orderstatus", "o_orderpriority", "price_u2"]
    return profile_drift(
        o.filter(F.year("o_orderdate") < 1999),
        o.filter(F.year("o_orderdate") >= 1999),
        cols,
    )


@query(oracle=ext.EVENT_SEASONAL_PROFILE_SQL)
def _q_event_seasonal_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day seasonality per event type: cell mean vs type mean
    as exact cross-multiplied integer ppm — the baseline a seasonal
    anomaly monitor divides out."""
    return seasonal_hour_profile(load_table(spark, sf_dir, "events"))


@query(oracle=ext.USER_CREDIT_BALANCE_SQL)
def _q_user_credit_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lindley recursion made window-parallel: per-user running balance
    floored at zero (purchases spend, other events credit) via the
    reflection closed form — no recursion, no UDF."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        "event_id",
        F.when(
            F.col("event_type") == "purchase",
            -F.round(F.col("value") * 1000).cast("bigint"),
        )
        .otherwise(F.round(F.col("value") * 1000).cast("bigint"))
        .alias("d3"),
    )
    return floored_running_balance(
        ev, ["user_id"], ["ts_us", "event_id"], F.col("d3")
    )


@query(oracle=ext.EVENT_RUN_STATS_SQL)
def _q_event_run_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anomaly persistence: gaps-and-islands run lengths of
    above-type-mean values within per-user series — rn-difference
    islands, cross-multiplied mean threshold."""
    return above_mean_run_stats(load_table(spark, sf_dir, "events"))


@query(oracle=ext.PEAK_CONCURRENCY_SQL)
def _q_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sweep-line peak sessions: max concurrent 5-minute event windows
    per type via the two-phase global cumsum over +1/−1 boundaries —
    ends before starts at equal instants."""
    return peak_concurrency(
        load_table(spark, sf_dir, "events"), duration_us=300_000_000
    )


@query(oracle=wx.USER_ACTIVE_COVERAGE_SQL)
def _q_user_active_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union-of-intervals activity coverage per user: each event opens
    a 300 s interval; overlaps count once (merge-overlaps sweep as one
    per-user running-max window)."""
    return interval_union_coverage(
        load_table(spark, sf_dir, "events"), 300 * 1_000_000
    )


@query(oracle=wab.PRIORITY_SHIP_BIZDAYS_SQL)
def _q_priority_ship_bizdays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order→ship SLA in BUSINESS days by priority: the closed-form
    weekday prefix count (no calendar dim, no per-row loop)."""
    return ship_bizdays_by_priority(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
    )


@query(oracle=wab.EVENT_EWMA_HOURLY_SQL)
def _q_event_ewma_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Float-free EWMA (α=1/2, 16 lags) of the hourly value series —
    power-of-two weights make the smoothed artifact hash-checkable."""
    return ewma_hourly(load_table(spark, sf_dir, "events"))


@query(oracle=wag.EVENTS_DOW_HOUR_HEATMAP_SQL)
def _q_events_dow_hour_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality heatmap: counts and value sums by (day-of-week,
    hour-of-day), weekday arithmetic from epoch days (the calendar.py
    Monday anchor — no engine dow() function trusted)."""
    ev = load_table(spark, sf_dir, "events").select(
        F.expr("((unix_micros(ts) DIV 86400000000) + 3) % 7").alias("dow"),
        F.expr("(unix_micros(ts) DIV 3600000000) % 24").alias("hour"),
        F.round(F.col("value") * 1_000_000).cast("bigint").alias("value_u6"),
    )
    return ev.groupBy("dow", "hour").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum("value_u6").cast("bigint").alias("sum_value_u6"),
    )


@query(oracle=wag.EVENT_VALUE_DIGIT_HIST_SQL)
def _q_event_value_digit_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-tail diagnostic: per-type histogram over the DECIMAL
    DIGIT COUNT of the micro-unit value — the float-free order-of-
    magnitude bucket (log10 floor + 1), identical text rendering of a
    nonnegative BIGINT on both engines."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.length(
            F.round(F.col("value") * 1_000_000).cast("bigint").cast("string")
        ).cast("bigint").alias("n_digits"),
    )
    return ev.groupBy("event_type", "n_digits").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events")
    )
