"""Goldens for wave M: Q17-shape small-qty revenue, cohort LTV,
MoM trend, EXISTS counts, KWIC snippets."""

import datetime as dt

import pyspark.sql.functions as F

from sea_express_customs_etl_spark.operators.textstats import kwic_snippets


def _write(df, path):
    df.write.parquet(path)


def test_small_qty_revenue_threshold(spark, tmp_path):
    from sea_express_customs_etl_spark.plans.relational import (
        small_qty_revenue,
    )

    # part 1: quantities 1, 10, 10, 10 -> avg 7.75, 0.2*avg = 1.55:
    # only the qty-1 line qualifies (5*1*4=20 < 31). part 2: all equal
    # -> 5*q*n == sum*? (5*5*2=50 < 10? no) -> none qualify.
    li = spark.createDataFrame(
        [
            (1, 1.0, 100.0), (1, 10.0, 1.0), (1, 10.0, 1.0), (1, 10.0, 1.0),
            (2, 5.0, 9.0), (2, 5.0, 9.0),
        ],
        ["l_partkey", "l_quantity", "l_extendedprice"],
    )
    part = spark.createDataFrame(
        [(1, "B1"), (2, "B2")], ["p_partkey", "p_brand"]
    )
    sf = str(tmp_path)
    _write(li, f"{sf}/lineitem.parquet")
    _write(part, f"{sf}/part.parquet")
    got = {r.p_brand: (r.n_small_lines, r.revenue_cents)
           for r in small_qty_revenue(spark, sf).collect()}
    assert got == {"B1": (1, 10000)}


def test_cohort_ltv_cumulative(spark, tmp_path):
    from sea_express_customs_etl_spark.plans.relational import (
        cohort_ltv_curve,
    )

    orders = spark.createDataFrame(
        [
            (1, dt.datetime(2024, 1, 5), 10.0),
            (1, dt.datetime(2024, 3, 5), 20.0),
            (2, dt.datetime(2024, 1, 20), 5.0),
        ],
        ["o_custkey", "o_orderdate", "o_totalprice"],
    )
    sf = str(tmp_path)
    _write(orders, f"{sf}/orders.parquet")
    got = {(r.cohort_month, r.offset_months):
           (r.n_orders, r.rev_cents, r.cum_rev_cents)
           for r in cohort_ltv_curve(spark, sf).collect()}
    assert got == {
        (202401, 0): (2, 1500, 1500),
        (202401, 2): (1, 2000, 3500),
    }


def test_nation_revenue_mom_delta_and_ratio(spark, tmp_path):
    from sea_express_customs_etl_spark.plans.relational import (
        nation_revenue_mom,
    )

    cust = spark.createDataFrame([(1, 7)], ["c_custkey", "c_nationkey"])
    nat = spark.createDataFrame([(7, "FRANCE")], ["n_nationkey", "n_name"])
    orders = spark.createDataFrame(
        [
            (1, dt.datetime(2024, 1, 1), 10.0),
            (1, dt.datetime(2024, 2, 1), 15.0),
            (1, dt.datetime(2024, 4, 1), 6.0),
        ],
        ["o_custkey", "o_orderdate", "o_totalprice"],
    )
    sf = str(tmp_path)
    _write(cust, f"{sf}/customer.parquet")
    _write(nat, f"{sf}/nation.parquet")
    _write(orders, f"{sf}/orders.parquet")
    got = {r.order_month: (r.prev_cents, r.delta_cents, r.ratio_ppm)
           for r in nation_revenue_mom(spark, sf).collect()}
    assert got[202401] == (None, None, None)
    assert got[202402] == (1000, 500, 1_500_000)
    # gap semantics: prior OBSERVED month (Feb), not calendar March
    assert got[202404] == (1500, -900, 400_000)


def test_priority_return_exists_counts(spark, tmp_path):
    from sea_express_customs_etl_spark.plans.relational import (
        priority_return_exists,
    )

    orders = spark.createDataFrame(
        [(1, "1-URGENT"), (2, "1-URGENT"), (3, "2-HIGH")],
        ["o_orderkey", "o_orderpriority"],
    )
    li = spark.createDataFrame(
        [(1, "R"), (1, "N"), (3, "N")], ["l_orderkey", "l_returnflag"]
    )
    sf = str(tmp_path)
    _write(orders, f"{sf}/orders.parquet")
    _write(li, f"{sf}/lineitem.parquet")
    got = {r.o_orderpriority: (r.n_orders, r.n_with_return, r.share_ppm)
           for r in priority_return_exists(spark, sf).collect()}
    assert got == {"1-URGENT": (2, 1, 500_000), "2-HIGH": (1, 0, 0)}


def test_kwic_snippet_boundaries(spark):
    docs = [(1, "q a b c d"), (2, "x y q"), (3, "q")]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {(r.doc_id, r.pos): r.snippet
           for r in kwic_snippets(df, "q", context=2, k=10).collect()}
    assert got == {
        (1, 1): "q a b",       # clamped at the left edge
        (2, 3): "x y q",       # clamped at the right edge
        (3, 1): "q",           # both edges
    }


def test_kwic_multiple_occurrences_ordered(spark):
    df = spark.createDataFrame([(5, "t o t o t")], ["doc_id", "text"])
    out = kwic_snippets(df, "t", context=1, k=2).collect()
    assert [(r.doc_id, r.pos, r.snippet) for r in out] == [
        (5, 1, "t o"), (5, 3, "o t o")
    ]
