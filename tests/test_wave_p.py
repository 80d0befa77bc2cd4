"""Goldens for wave P: deletion-neighborhood set join,
gaps-and-islands runs, Pareto concentration."""

import datetime as dt
import itertools

import pyspark.sql.functions as F


def _pairs(spark, baskets):
    from sea_express_customs_etl_spark.operators.setjoin import (
        deletion_neighbor_pairs,
    )

    rows = [(i, x) for i, b in baskets.items() for x in b]
    df = spark.createDataFrame(rows, ["id", "it"])
    return {
        (r.id_a, r.id_b): (r.n_common, r.sym_diff)
        for r in deletion_neighbor_pairs(df, "id", "it").collect()
    }


def test_deletion_neighbors_cases(spark):
    got = _pairs(spark, {
        1: [10, 20, 30],
        2: [10, 20, 30],        # equal -> sym 0
        3: [10, 20],            # subset by one -> sym 1
        4: [10, 20, 40],        # one-for-one swap vs 1 -> sym 2
        5: [99],                # no overlap with anything
    })
    assert got == {
        (1, 2): (3, 0), (1, 3): (2, 1), (1, 4): (2, 2),
        (2, 3): (2, 1), (2, 4): (2, 2), (3, 4): (2, 1),
    }


def test_deletion_neighbors_excludes_two_per_side(spark):
    # 2-element swap (sym 4) and a 2-superset: both out of scope
    got = _pairs(spark, {
        1: [1, 2, 3, 4],
        2: [1, 2, 5, 6],        # two swapped
        3: [1, 2],              # |A| = |B| + 2 superset of it
    })
    assert got == {}


def test_deletion_neighbors_matches_naive(spark):
    import random

    rng = random.Random(7)
    baskets = {
        i: sorted(rng.sample(range(12), rng.randint(2, 5)))
        for i in range(25)
    }
    got = _pairs(spark, baskets)
    naive = {}
    for a, b in itertools.combinations(sorted(baskets), 2):
        sa, sb = set(baskets[a]), set(baskets[b])
        c = len(sa & sb)
        if c >= 1 and len(sa) - c <= 1 and len(sb) - c <= 1:
            naive[(a, b)] = (c, len(sa) + len(sb) - 2 * c)
    assert got == naive


def test_run_stats_islands(spark):
    from sea_express_customs_etl_spark.operators.timeseries import (
        above_mean_run_stats,
    )

    base = dt.datetime(2024, 1, 1)
    # type mean = 5; user 1: values 9,9,9,1,9 -> runs [3, 1];
    # user 2: 1,1 -> no runs. (sum=48, n=8 -> above iff v*8 > 48)
    vals = [(1, [9.0, 9.0, 9.0, 1.0, 9.0]), (2, [1.0, 1.0])]
    rows = []
    i = 0
    for u, vs in vals:
        for v in vs:
            rows.append((i, base + dt.timedelta(minutes=i), u, "t", v, "{}"))
            i += 1
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    r = above_mean_run_stats(df).collect()[0]
    assert (r.n_runs, r.max_run_len, r.n_runs_ge3) == (2, 3, 1)


def test_pareto_concentrated_revenue(spark, tmp_path):
    from __spark_entry__ import queries

    # one whale with 80x the revenue of each of 9 minnows:
    # whale alone holds 80/89 < 80%? 80/89 = 89.9% >= 80% -> n_to_80 = 1
    rows = [(1, dt.datetime(2024, 1, 1), 8000.0)] + [
        (u, dt.datetime(2024, 1, 1), 100.0) for u in range(2, 11)
    ]
    orders = spark.createDataFrame(
        rows, ["o_custkey", "o_orderdate", "o_totalprice"]
    )
    sf = str(tmp_path)
    orders.write.parquet(f"{sf}/orders.parquet")
    r = queries()["revenue_pareto"](spark, sf).collect()[0]
    assert (r.n_customers, r.n_to_80pct, r.pareto_ppm) == (10, 1, 100_000)
