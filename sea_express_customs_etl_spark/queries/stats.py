"""Sketches, robust statistics, hypothesis tests, experiment analysis and
conversion attribution."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F

from sea_express_customs_etl_spark.operators.abtest import cuped_adjusted_lift, did_lift
from sea_express_customs_etl_spark.operators.attribution import (
    linear_attribution,
    time_decay_attribution,
    u_shaped_attribution,
)
from sea_express_customs_etl_spark.operators.deciles import decile_migration
from sea_express_customs_etl_spark.operators.emd import length_emd_drift
from sea_express_customs_etl_spark.operators.featsel import categorical_lift
from sea_express_customs_etl_spark.operators.jsonops import interval_join
from sea_express_customs_etl_spark.operators.kmv import kmv_distinct
from sea_express_customs_etl_spark.operators.profiling import (
    BENFORD_PPM,
    benford_first_digit,
    gini_by_group,
    ols_by_group,
    sigma_outliers,
)
from sea_express_customs_etl_spark.operators.psi import value_psi_drift
from sea_express_customs_etl_spark.operators.quantiles import (
    exact_group_median,
    mad_outliers,
    sketch_quantiles,
    trimmed_sums,
    winsorize_by_group,
)
from sea_express_customs_etl_spark.operators.ranking import (
    global_cumsum,
    global_rank,
    ntile_by_rank,
)
from sea_express_customs_etl_spark.operators.sketches import (
    bloom_build,
    bloom_might_contain,
    cms_join_size,
    hll_sliding_stats,
)
from sea_express_customs_etl_spark.operators.skyline import skyline_2d
from sea_express_customs_etl_spark.operators.stats_tests import (
    bootstrap_sum_ci,
    cusum_level_shift,
    ks_two_sample,
    lag1_autocorr,
    mann_kendall_trend,
    mann_whitney_u,
    spearman_by_group,
)
from sea_express_customs_etl_spark.operators.survival import km_life_table
from sea_express_customs_etl_spark.operators.tail import hill_tail_index
from sea_express_customs_etl_spark.operators.theilsen import theil_sen_slope
from sea_express_customs_etl_spark.plans import (
    oracles_ext as ext,
    oracles_r10 as r10,
    oracles_r9 as r9,
    oracles_r9b as r9b,
    oracles_rel_ext as rex,
    oracles_wab as wab,
    oracles_wae as wae,
    oracles_wx as wx,
    oracles_wz as wz,
)
from sea_express_customs_etl_spark.plans.cache import (
    tracked_persist as _tracked_persist,
)
from sea_express_customs_etl_spark.plans.oracles_ext import benford_sql
from sea_express_customs_etl_spark.plans.standins import load_table
from sea_express_customs_etl_spark.queries import query
from sea_express_customs_etl_spark.queries.shared import _docs, _sketch_tokens


@query(oracle=rex.CUPED_ADJUSTED_LIFT_SQL)
def _q_cuped_adjusted_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance-reduced A/B lift, exact rational integers."""
    return cuped_adjusted_lift(
        load_table(spark, sf_dir, "events"), split_ts="2024-01-16"
    )


@query(oracle=ext.EVENT_VALUE_QSKETCH_SQL)
def _q_event_value_qsketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sketch_quantiles(load_table(spark, sf_dir, "events"))


@query(oracle=r10.LENGTH_EMD_SQL)
def _q_length_emd_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Wasserstein-1 drift on document length vs the whole
    corpus — the magnitude-aware drift dial next to
    domain_kl_divergence (KL on shared vocabulary mass). Exact
    rational CDF-difference closed form; value-grain windows only."""
    return length_emd_drift(_docs(spark, sf_dir))


@query(oracle=r10.VALUE_PSI_SQL)
def _q_value_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of order value, pre-1997 reference
    vs 1997+ — the model-monitoring drift dial next to KL
    (domain_kl_divergence) and Wasserstein (length_emd_drift).
    Reference-decile buckets by two-phase rank, shared edge rule,
    Laplace smoothing, exact integer per-bucket terms."""
    return value_psi_drift(
        load_table(spark, sf_dir, "orders"),
        value_col=F.expr("CAST(round(o_totalprice * 100) AS BIGINT)"),
        is_current=F.year("o_orderdate") >= 1997,
        key_col="o_orderkey",
    )


@query(oracle=r10.HILL_TAIL_SQL)
def _q_hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill (1975) heavy-tail exponent of order value from the top
    ceil(sqrt(N))+1 order statistics — the finite-variance dial next
    to revenue_pareto's share and zipf_alpha's slope. Distributed
    TakeOrderedAndProject, one count() action, integer u6 terms."""
    return hill_tail_index(
        load_table(spark, sf_dir, "orders"),
        value_col=F.expr("CAST(round(o_totalprice * 100) AS BIGINT)"),
        key_col="o_orderkey",
    )


@query(oracle=r10.HLL_SLIDING_SQL)
def _q_hll_sliding_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-24h distinct users every hour via MERGEABLE per-hour
    HLL sketches (register-wise max merge) — the streaming-warehouse
    distinct that never re-touches raw events per window. Output is
    the integer sufficient-statistics surface per hour."""
    return hll_sliding_stats(load_table(spark, sf_dir, "events"))


@query(oracle=r9.MANN_KENDALL_SQL)
def _q_event_mk_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Kendall monotonic-trend test per event type — the
    rank-based sibling of event_cusum_shift (level shift) and the
    trend leg of the time-series test family: S over hour-bucket sign
    pairs, tie-corrected variance, significance decided WITHOUT sqrt
    via the fixed 1.96² ppm literal (18·S²·10⁶ ≥ z²ppm·var_num, both
    sides DECIMAL(38,0)/HUGEINT). Pair stage bounded by the time
    window, never by event volume. All five types honestly
    insignificant on the uniform synthetic series (max |z| ≈ 1.2)."""
    return mann_kendall_trend(load_table(spark, sf_dir, "events"))


@query(oracle=r9b.THEIL_SEN_SQL)
def _q_event_theilsen_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend slope per event type — the ESTIMATE
    companion of event_mk_trend on the same hour-bucket spine: the
    median of all pairwise slopes (29% breakdown point), each slope
    u6-rounded once via a signed negate-first DIV, the median an
    exact lower-median order statistic (rank ⌈n/2⌉), never a float
    percentile. Pair stage time-bounded, never corpus-bounded."""
    return theil_sen_slope(load_table(spark, sf_dir, "events"))


@query(oracle=wz.KMV_DISTINCT_USERS_SQL)
def _q_kmv_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct-count sketch per event type: the k=16 smallest
    60-bit md5 values — digest AND estimate hash-checked (exactly
    reproducible sketch state, unlike HLL registers)."""
    return kmv_distinct(
        load_table(spark, sf_dir, "events"), "event_type", "user_id"
    )


@query(oracle=wae.TIME_DECAY_ATTRIBUTION_SQL)
def _q_time_decay_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decay attribution over the same 24 h pair table as the
    linear/U-shaped models: half-life-bucket powers of two {8,4,2,1},
    remainder to the most recent touch — exact, value-preserving."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        "event_id",
        F.round(F.col("value") * 1_000_000).cast("bigint").alias("value_u6"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    pairs = interval_join(
        purchases, clicks, ["user_id"], "ts", "ts", 24 * 3600, ["event_id"]
    )
    return time_decay_attribution(pairs, "event_id", "value_u6").select(
        "user_id", "event_id", "prior_event_id",
        "decay_bucket", "n_touches", "share_u6",
    )


@query(oracle=wab.EXACT_GROUP_MEDIAN_SQL)
def _q_event_type_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT per-type lower median of value_u6 via one global range
    rank — the sketch-free audit-grade quantile."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        F.round(F.col("value") * 1_000_000).cast("bigint").alias("value_u6"),
    )
    return exact_group_median(ev, "event_type", "value_u6", "event_id")


@query(oracle=ext.PURCHASE_CLICK_ATTRIBUTION_SQL)
def _q_purchase_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LINEAR attribution over the 24 h touchpoint pairs (the model
    next to purchase_last_click_asof's last-touch): each purchase's
    micro-unit value splits into floor shares across its prior clicks
    with the remainder on the EARLIEST click — shares sum exactly to
    the value and hash-match (a float split would do neither)."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        "event_id",
        F.round(F.col("value") * 1_000_000).cast("bigint").alias("value_u6"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    pairs = interval_join(
        purchases, clicks, ["user_id"], "ts", "ts", 24 * 3600, ["event_id"]
    )
    return linear_attribution(
        pairs, "event_id", "value_u6", ["prior_ts", "prior_event_id"]
    ).select(
        "user_id", "event_id", "prior_event_id", "value_u6",
        "n_touches", "share_u",
    )


@query(oracle=ext.BLOOM_PROBE_SQL)
def _q_bloom_filter_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership pruning end-to-end: build the word
    table over the tokens of every 7th document, probe the full
    distinct vocabulary map-side (broadcast words, no shuffle of the
    probe side), output (tok, might_contain). Never a false negative;
    false positives at the standard Bloom rate — and bit-for-bit
    reproducible, so even the false positives hash-match DuckDB."""
    toks = _sketch_tokens(spark, sf_dir)
    vocab = toks.filter(F.col("doc_id") % 7 == 0).select("tok").distinct()
    probe = toks.select("tok").distinct()
    return bloom_might_contain(probe, bloom_build(vocab, "tok"), "tok")


@query(oracle=ext.EVENT_VALUE_PERCENTILES_SQL)
def _q_event_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(value, 0.95)"), 4).alias("p95"),
        F.round(F.max("value"), 4).alias("p100"),
    )


@query(oracle=ext.EVENT_SIGMA_OUTLIERS_SQL)
def _q_event_sigma_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type 1.7-sigma outliers with zero floating point:
    the cross-multiplied integer test (DECIMAL(38,0) products) over
    centi-unit values — the drift gate that stays hash-portable."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("value_c"),
    )
    return sigma_outliers(ev, "value_c", ["event_type"], ["event_id"])


@query(oracle=ext.ORDER_VALUE_GINI_SQL)
def _q_order_value_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority Gini concentration of order value in exact integer
    ppm — the inequality diagnostic with zero floats; within-group
    ranks ride the range-partitioned two-phase machinery, so
    corpus-sized groups never funnel through one task."""
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority"),
        F.col("o_orderkey"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("value_c"),
    )
    return gini_by_group(
        orders, "value_c", ["o_orderpriority"], "o_orderkey"
    )


@query(oracle=ext.EVENT_WINSORIZED_SUMS_SQL)
def _q_event_winsorized_sums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type sums before/after sketch-based winsorization (clamp to
    the [p01, p99] discrete quantiles) — the robust-statistics tail
    treatment as exact integer sums; composes the mergeable histogram
    state with a map-only clamp."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("value_c"),
    )
    w = winsorize_by_group(ev, "value_c")
    return w.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("value_c").alias("sum_raw_c"),
        F.sum("value_c_winsor").alias("sum_winsor_c"),
    )


@query(oracle=ext.PRICE_QTY_OLS_SQL)
def _q_price_qty_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-returnflag OLS fit of extendedprice on quantity (centi-unit
    integers) from the closed-form normal equations — slope/intercept/
    r² as exact sign-split integer ratios, never a float aggregate."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.floor(F.col("l_quantity") * 100).cast("bigint").alias("qty_c"),
        F.floor(F.col("l_extendedprice") * 100)
        .cast("bigint")
        .alias("price_c"),
    )
    return ols_by_group(li, "qty_c", "price_c", ["l_returnflag"])


@query(oracle=ext.PART_PRICE_SIZE_SKYLINE_SQL)
def _q_part_price_size_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto frontier of parts under (minimize retail price, maximize
    size): grain-reduced sort-based skyline with the two-phase
    strict-prior running max — no global-window funnel."""
    parts = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        F.floor(F.col("p_retailprice") * 100).cast("bigint").alias("price_c"),
        F.col("p_size").cast("bigint").alias("size_v"),
    )
    return skyline_2d(parts, "price_c", "size_v", ["p_partkey"])


@query(oracle=ext.EVENT_MAD_OUTLIERS_SQL)
def _q_event_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-type outlier gate: |x − median| > 3·MAD in integer
    cross-multiplied form — discrete medians from the unit-bin
    histogram sketch (breakdown point ½, unlike the σ gate)."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "value_c", F.floor(F.col("value") * 100).cast("bigint")
    )
    return mad_outliers(ev, "value_c", ("event_type",), ("event_id",), 30)


@query(
    oracle=benford_sql(
        BENFORD_PPM, "orders", "CAST(floor(o_totalprice * 100) AS BIGINT)"
    )
)
def _q_order_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit screen over order totals: per-digit
    observed vs log10(1+1/d) expected ppm (fixed integer literals) —
    the forensic data-quality test; deviation localizes synthetic or
    fabricated value distributions."""
    orders = load_table(spark, sf_dir, "orders").withColumn(
        "price_c", F.floor(F.col("o_totalprice") * 100).cast("bigint")
    )
    return benford_first_digit(orders, "price_c")


@query(oracle=ext.JOIN_SIZE_ESTIMATE_SQL)
def _q_join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Planner-grade join-cardinality estimation from Count-Min
    sketches: |orders ⋈ lineitem| estimated by the CMS inner product
    (min over rows of Σ cell products — one-sided overestimate),
    reported next to the true count — EVEN the estimate's collision
    overshoot is exact integer arithmetic and hash-checked."""
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    est = cms_join_size(orders, li, "o_orderkey", "l_orderkey")
    true = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .agg(F.count(F.lit(1)).cast("bigint").alias("true_pairs"))
    )
    return est.crossJoin(F.broadcast(true)).select(
        "est_pairs",
        "true_pairs",
        F.expr(
            "CAST((CAST(1000000 AS DECIMAL(38,0)) "
            "* CAST(est_pairs AS DECIMAL(38,0)))"
            " DIV CAST(true_pairs AS DECIMAL(38,0)) AS BIGINT)"
        ).alias("over_ppm"),
    )


@query(oracle=ext.CUSTOMER_RFM_SQL)
def _q_customer_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: recency/frequency/monetary quartiles
    (quartile 1 = best) via the two-phase global rank + exact ANSI
    NTILE arithmetic — three metrics, one |customers|-sized frame,
    rfm_code = 100r + 10f + m."""
    orders = load_table(spark, sf_dir, "orders")
    # o_orderdate arrives TIMESTAMP_NTZ from parquet (only events.ts
    # gets the standins re-cast); session tz is pinned UTC so the
    # cast is the identity wall-clock — matches DuckDB's epoch_us
    pc = _tracked_persist(
        orders.groupBy("o_custkey").agg(
            F.max(F.expr("unix_micros(cast(o_orderdate as timestamp))"))
            .cast("bigint")
            .alias("_rec"),
            F.count(F.lit(1)).cast("bigint").alias("_freq"),
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("_mon"),
        )
    )
    # each metric's quartile is INDEPENDENT of the others — rank each
    # one directly off the persisted per-customer frame and join the
    # three bucket columns back, instead of chaining metric 2's
    # global_rank on top of metric 1's output (the chained form nests
    # each pass's repartition/offset/NTILE subtree inside the next:
    # 344 Exchange nodes and a 200 KB plan for a 3-window query)
    out = pc.select("o_custkey")
    for col, name in (("_rec", "r_q"), ("_freq", "f_q"), ("_mon", "m_q")):
        ranked = global_rank(
            pc.select("o_custkey", col),
            [F.col(col).desc(), F.col("o_custkey")],
            "_gr",
        )
        buck = (
            ntile_by_rank(ranked, 4, "_gr")
            .select("o_custkey", F.col("bucket").alias(name))
        )
        out = out.join(buck, "o_custkey")
    return out.select(
        "o_custkey",
        "r_q",
        "f_q",
        "m_q",
        (F.col("r_q") * 100 + F.col("f_q") * 10 + F.col("m_q"))
        .cast("int")
        .alias("rfm_code"),
    )


@query(oracle=ext.SEGMENT_PRIORITY_LIFT_SQL)
def _q_segment_priority_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical affinity surface: market segment × order priority
    lift matrix in exact ppm (10⁶ = independent) — which customer
    segments over-index on which priorities; one pair count + two
    marginal join-backs."""
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderpriority"
    )
    joined = o.join(c, o.o_custkey == c.c_custkey)
    return categorical_lift(joined, "c_mktsegment", "o_orderpriority")


@query(oracle=ext.EVENT_VALUE_KS_PAIRS_SQL)
def _q_event_value_ks_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift screen: exact two-sample KS distance (integer
    ppm, cross-multiplied CDFs) between every event-type pair's value
    distribution — dictionary-grain, model-sized pair spine."""
    ev = load_table(spark, sf_dir, "events")
    return ks_two_sample(
        ev, "event_type", F.round(F.col("value") * 1e6).cast("bigint")
    )


@query(oracle=ext.EVENT_VALUE_MWU_PAIRS_SQL)
def _q_event_value_mwu_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stochastic-dominance screen: exact Mann-Whitney U (2x-scaled for
    average-rank ties) between every event-type pair — shares the KS
    cumulant frame's dictionary-grain shape."""
    ev = load_table(spark, sf_dir, "events")
    return mann_whitney_u(
        ev, "event_type", F.round(F.col("value") * 1e6).cast("bigint")
    )


@query(oracle=ext.QTY_PRICE_SPEARMAN_SQL)
def _q_qty_price_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monotone-association screen: Spearman rho per return flag over
    (quantity, price-cents) — 2x-scaled average ranks joined back at
    distinct-value grain, exact DECIMAL component sums, one double."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.round(F.col("l_quantity")).cast("bigint").alias("qty"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("price_c"),
    )
    return spearman_by_group(li, "l_returnflag", "qty", "price_c")


@query(oracle=ext.EVENT_LAG1_AUTOCORR_SQL)
def _q_event_lag1_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal-structure screen: pooled lag-1 autocorrelation of event
    values over per-(user, type) time-ordered series — per-series lag
    window (bounded state, no global sort), exact component sums."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        "event_id",
        F.round(F.col("value") * 1000).alias("v3"),
    )
    return lag1_autocorr(
        ev,
        ["user_id", "event_type"],
        ["ts_us", "event_id"],
        F.col("v3"),
        "event_type",
    )


@query(oracle=ext.EVENT_CUSUM_SHIFT_SQL)
def _q_event_cusum_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changepoint locator: per-type CUSUM peak over the hourly series
    — mean cleared by integer cross-multiplication (T_k = n·cum_k −
    k·S), bucket-grain window, earliest-hour tie-break."""
    return cusum_level_shift(load_table(spark, sf_dir, "events"))


@query(oracle=ext.REVENUE_PARETO_SQL)
def _q_revenue_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto concentration: customers needed to reach 80% of revenue
    — two-phase global cumsum (never a single-partition window over
    customers), cross-multiplied 80% threshold."""
    cr = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("rev_c")
        )
    )
    cs = global_cumsum(
        cr,
        [F.col("rev_c").desc(), F.col("o_custkey").asc()],
        "rev_c",
        "cum_c",
    )
    tot = cr.agg(
        F.sum("rev_c").cast("bigint").alias("_t"),
        F.count(F.lit(1)).cast("bigint").alias("_n"),
    )
    d38 = "decimal(38,0)"
    j = cs.crossJoin(F.broadcast(tot)).select(
        F.col("_n"),
        (
            F.lit(5).cast(d38) * F.col("cum_c").cast(d38)
            < F.lit(4).cast(d38) * F.col("_t").cast(d38)
        ).cast("int").alias("_before"),
    )
    agg = j.groupBy("_n").agg(
        (F.sum("_before") + 1).cast("bigint").alias("n_to_80pct")
    )
    return agg.select(
        F.col("_n").alias("n_customers"),
        "n_to_80pct",
        F.expr("(1000000 * n_to_80pct) DIV _n")
        .cast("bigint")
        .alias("pareto_ppm"),
    )


@query(oracle=ext.USER_BEHAVIOR_DIVERSITY_SQL)
def _q_user_behavior_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user Gini-Simpson diversity of event types in exact ppm —
    1e6·(n² − Σc²) DIV n², the log-free diversity index."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type")
    c = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("_c")
    )
    return (
        c.groupBy("user_id")
        .agg(
            F.sum("_c").cast("bigint").alias("n_events"),
            F.sum(F.col("_c") * F.col("_c")).cast("bigint").alias("_sq"),
        )
        .select(
            "user_id",
            "n_events",
            F.expr(
                "(1000000 * (n_events * n_events - _sq))"
                " DIV (n_events * n_events)"
            )
            .cast("bigint")
            .alias("diversity_ppm"),
        )
    )


@query(oracle=rex.KM_LIFE_TABLE_SQL)
def _q_km_life_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier life table over user lifetimes, integral hazard."""
    return km_life_table(load_table(spark, sf_dir, "events"))


@query(oracle=rex.MULTITOUCH_ATTRIBUTION_SQL)
def _q_multitouch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U-shaped (position-based) attribution over the same 24 h pair
    table as the linear model: 40/20/40 first/middles/last in exact
    integer shares that sum to the conversion value (n=1 and n=2
    degenerate cases documented in the operator)."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        "event_id",
        F.round(F.col("value") * 1_000_000).cast("bigint").alias("value_u6"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    pairs = interval_join(
        purchases, clicks, ["user_id"], "ts", "ts", 24 * 3600, ["event_id"]
    )
    return u_shaped_attribution(
        pairs, "event_id", "value_u6", ["prior_ts", "prior_event_id"]
    ).select(
        "user_id", "event_id", "prior_event_id", "value_u6",
        "n_touches", "share_u",
    )


@query(oracle=wx.BOOTSTRAP_VALUE_CI_SQL)
def _q_bootstrap_value_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 20-replicate bootstrap CI of per-type value
    totals — positional-md5 resampling, order-statistic bounds as
    exact micro-unit integers."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        F.round(F.col("value") * 1_000_000).cast("bigint").alias("value_u6"),
    )
    return bootstrap_sum_ci(ev, "event_type", "value_u6", "event_id")


@query(oracle=wz.CUSTOMER_DECILE_MIGRATION_SQL)
def _q_customer_decile_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer spend-decile transition matrix 1995 → 1996: deciles
    over each year's full population via global_rank (range shuffle —
    never a single-partition corpus window), bucket arithmetic
    ((rank-1)·10) DIV n on both engines."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.year("o_orderdate").alias("o_year"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("price_c"),
    )
    return decile_migration(o, "o_custkey", "o_year", "price_c", 1995, 1996)


@query(oracle=wz.DID_LIFT_SQL)
def _q_did_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences on the CUPED split (md5 variants,
    2024-01-16 pre/post), exact rational numerator/denominator."""
    return did_lift(load_table(spark, sf_dir, "events"), "2024-01-16")


@query(oracle=wae.EVENT_TRIMMED_SUMS_SQL)
def _q_event_trimmed_sums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 10%-trimmed per-type sums (rank-exact tail removal) —
    the robust-mean sibling of the winsorized sums."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        F.round(F.col("value") * 1_000_000).cast("bigint").alias("value_u6"),
    )
    return trimmed_sums(ev, "event_type", "value_u6", "event_id")
