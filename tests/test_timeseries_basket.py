"""Tests for the round-6 wave-C operators: Apriori frequent triples,
OHLC candlestick rollup, per-key time-weighted average."""

from __future__ import annotations

import datetime as dt
import itertools

from sea_express_customs_etl_spark.operators.cf import basket_items, frequent_triples
from sea_express_customs_etl_spark.operators.timeseries import (
    ohlc_by_bucket,
    time_weighted_avg,
)


def _py_triples(baskets, min_support):
    counts: dict[tuple, int] = {}
    for items in baskets.values():
        for t in itertools.combinations(sorted(set(items)), 3):
            counts[t] = counts.get(t, 0) + 1
    return sorted(
        (p1, p2, p3, n)
        for (p1, p2, p3), n in counts.items()
        if n >= min_support
    )


def test_frequent_triples_matches_python(spark):
    baskets = {
        1: [10, 20, 30, 40],
        2: [10, 20, 30],
        3: [10, 20, 40],
        4: [20, 30, 40],
        5: [10, 20, 30, 40],
        6: [50, 60, 70],  # unique triple — below support
        7: [10, 50],
    }
    rows = [(o, p) for o, ps in baskets.items() for p in ps]
    df = spark.createDataFrame(rows, ["l_orderkey", "l_partkey"])
    got = sorted(
        (r.p1, r.p2, r.p3, r.support)
        for r in frequent_triples(basket_items(df), min_support=2).collect()
    )
    assert got == _py_triples(baskets, 2)
    assert got  # non-degenerate fixture


def test_frequent_triples_duplicate_lineitems_collapse(spark):
    # the same part twice in one order is ONE basket membership
    rows = [(1, 10), (1, 10), (1, 20), (1, 30), (2, 10), (2, 20), (2, 30)]
    df = spark.createDataFrame(rows, ["l_orderkey", "l_partkey"])
    got = [tuple(r) for r in frequent_triples(basket_items(df), min_support=2).collect()]
    assert got == [(10, 20, 30, 2)]


def _t(minute: int, second: int = 0) -> dt.datetime:
    return dt.datetime(2024, 1, 1, 0, minute, second)


def test_ohlc_golden_and_order_dependence(spark):
    rows = [
        # one hour bucket, deliberately out of insertion order
        (3, _t(30), "m", 500),
        (1, _t(5), "m", 700),   # open (earliest ts)
        (2, _t(59), "m", 100),  # close (latest ts)
        (4, _t(10), "m", 900),  # high
        # ts tie: event_id breaks it — id 5 before id 6
        (5, _t(20), "n", 10),
        (6, _t(20), "n", 30),
        (7, _t(40), "n", 20),
    ]
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "event_type", "value_c"]
    )
    got = {
        r.type: (r.open_c, r.high_c, r.low_c, r.close_c, r.n_events)
        for r in ohlc_by_bucket(df).collect()
    }
    assert got["m"] == (700, 900, 100, 100, 4)
    assert got["n"] == (10, 30, 10, 20, 3)


def test_ohlc_bucket_boundaries(spark):
    rows = [
        (1, dt.datetime(2024, 1, 1, 0, 59, 59), "m", 1),
        (2, dt.datetime(2024, 1, 1, 1, 0, 0), "m", 2),
    ]
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "event_type", "value_c"]
    )
    assert ohlc_by_bucket(df).count() == 2  # adjacent hours, 2 buckets


def test_twap_golden(spark):
    # value 100 held 10 s, then 300 held 30 s -> twap = (100*10+300*30)/40
    rows = [
        (1, _t(0, 0), 7, 100),
        (2, _t(0, 10), 7, 300),
        (3, _t(0, 40), 7, 999),  # terminal event: no segment
        (4, _t(0, 0), 8, 50),    # single event: dropped
    ]
    df = spark.createDataFrame(rows, ["event_id", "ts", "user_id", "value_c"])
    got = {r.user_id: r for r in time_weighted_avg(df).collect()}
    assert set(got) == {7}
    r = got[7]
    assert r.n_segments == 2
    assert r.held_us == 40_000_000
    assert r.twap_c == (100 * 10 + 300 * 30) // 40


def test_twap_layout_invariance(spark):
    rows = [
        (i, _t(i % 60, (i * 7) % 60), i % 5, (i * i) % 400)
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, ["event_id", "ts", "user_id", "value_c"])
    a = sorted(map(tuple, time_weighted_avg(df).collect()))
    b = sorted(
        map(tuple, time_weighted_avg(df.repartition(13, "event_id")).collect())
    )
    assert a == b


def test_basket_rules_confidence_and_lift(spark):
    from sea_express_customs_etl_spark.operators.cf import basket_rules

    # 4 orders: {1,2} x3, {1,3} x1 -> sup(1)=4, sup(2)=3, sup(3)=1, N=4
    rows = [
        (10, 1), (10, 2),
        (11, 1), (11, 2),
        (12, 1), (12, 2),
        (13, 1), (13, 3),
    ]
    df = spark.createDataFrame(rows, ["l_orderkey", "l_partkey"])
    got = {
        (r.ante, r.cons): (r.support, r.conf_ppm, r.lift_ppm)
        for r in basket_rules(basket_items(df), min_support=2, k=10).collect()
    }
    # 1->2: sup=3, conf = 3/4, lift = 3*4/(4*3) = 1.0
    assert got[(1, 2)] == (3, 750_000, 1_000_000)
    # 2->1: conf = 3/3 = 1.0, same lift
    assert got[(2, 1)] == (3, 1_000_000, 1_000_000)
    # pairs below min_support (1-3) are pruned
    assert (1, 3) not in got


def test_forecast_mae_golden(spark):
    from sea_express_customs_etl_spark.operators.timeseries import (
        naive_forecast_mae,
    )

    # hourly sums for one type: 100, 130, 90, 100 (4 consecutive hours)
    base = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for h, v in enumerate([100, 130, 90, 100]):
        rows.append((eid, base + dt.timedelta(hours=h), "m", v))
        eid += 1
    df = spark.createDataFrame(rows, ["event_id", "ts", "event_type", "value_c"])
    got = {
        (r.type, r.method): (r.n_eval, r.mae_c)
        for r in naive_forecast_mae(df, season=2).collect()
    }
    # naive_1: errors |130-100|,|90-130|,|100-90| = 30,40,10 -> 80//3=26
    assert got[("m", "naive_1")] == (3, 26)
    # seasonal_2: errors |90-100|,|100-130| = 10,30 -> 40//2=20
    assert got[("m", "seasonal_2")] == (2, 20)
