"""Goldens for wave N: Gini stump, token-vote classifier, growth
accounting, forward as-of."""

import datetime as dt

import pyspark.sql.functions as F


def test_stump_finds_perfect_split(spark):
    from sea_express_customs_etl_spark.operators.stump import (
        best_stump_split,
    )

    # x <= 2 is pure 1s, x >= 3 pure 0s -> score 0 at split 2
    rows = [(1, 1), (2, 1), (3, 0), (4, 0), (5, 0)]
    df = spark.createDataFrame(rows, ["x", "y"])
    r = best_stump_split(df, F.col("x"), F.col("y")).collect()[0]
    assert (r.split_value, r.n_left, r.n_right, r.score_u6) == (2, 2, 3, 0)


def test_stump_tie_breaks_on_smaller_threshold(spark):
    from sea_express_customs_etl_spark.operators.stump import (
        best_stump_split,
    )

    # perfectly mixed everywhere: all candidate splits score equal;
    # the argmin must pick the SMALLEST threshold deterministically
    rows = [(1, 1), (1, 0), (2, 1), (2, 0), (3, 1), (3, 0)]
    df = spark.createDataFrame(rows, ["x", "y"])
    r = best_stump_split(df, F.col("x"), F.col("y")).collect()[0]
    assert r.split_value == 1
    # weighted Gini of a 50/50 split is 0.5 -> 500000 u6, any cut
    assert r.score_u6 == 500_000


def test_stump_excludes_degenerate_full_split(spark):
    from sea_express_customs_etl_spark.operators.stump import (
        best_stump_split,
    )

    rows = [(1, 1), (2, 0)]
    df = spark.createDataFrame(rows, ["x", "y"])
    out = best_stump_split(df, F.col("x"), F.col("y")).collect()
    # only split_value=1 is legal (x<=2 leaves an empty right side)
    assert len(out) == 1 and out[0].split_value == 1


def test_token_vote_separable_corpus(spark):
    from sea_express_customs_etl_spark.operators.nb import (
        token_vote_confusion,
    )

    docs = [
        (1, "aa aa bb", 1), (2, "aa cc", 1),
        (3, "zz zz", 0), (4, "zz yy", 0),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text", "y"])
    got = {(r.pred_pos, r.actual_pos): r.n_docs
           for r in token_vote_confusion(df, F.col("y") == 1).collect()}
    # fully separable vocab -> diagonal confusion
    assert got == {(1, 1): 2, (0, 0): 2}


def test_token_vote_tie_predicts_negative(spark):
    from sea_express_customs_etl_spark.operators.nb import (
        token_vote_confusion,
    )

    # one shared token with equal rates everywhere -> vote 0 -> tie ->
    # predicted negative for both docs
    docs = [(1, "ww", 1), (2, "ww", 0)]
    df = spark.createDataFrame(docs, ["doc_id", "text", "y"])
    got = {(r.pred_pos, r.actual_pos): r.n_docs
           for r in token_vote_confusion(df, F.col("y") == 1).collect()}
    assert got == {(0, 1): 1, (0, 0): 1}


def test_daily_growth_new_vs_returning(spark, tmp_path):
    from sea_express_customs_etl_spark.plans.relational import (
        daily_active_growth,
    )

    base = dt.datetime(2024, 1, 1)
    rows = [
        (0, base, 1, "view", 1.0, "{}"),
        (1, base, 2, "view", 1.0, "{}"),
        (2, base + dt.timedelta(days=1), 1, "view", 1.0, "{}"),  # returning
        (3, base + dt.timedelta(days=1), 3, "view", 1.0, "{}"),  # new
        (4, base + dt.timedelta(days=1), 3, "click", 1.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    sf = str(tmp_path)
    df.write.parquet(f"{sf}/events.parquet")
    d0 = int(base.timestamp()) // 86400
    got = {r.epoch_day: (r.n_events, r.n_active, r.n_new, r.cum_users)
           for r in daily_active_growth(spark, sf).collect()}
    assert got == {d0: (2, 2, 2, 2), d0 + 1: (3, 2, 1, 3)}


def test_forward_asof_next_purchase(spark, tmp_path):
    from sea_express_customs_etl_spark.plans.relational import (
        click_next_purchase_fwd,
    )

    base = dt.datetime(2024, 1, 1)
    s = lambda sec: base + dt.timedelta(seconds=sec)  # noqa: E731
    rows = [
        (0, s(0), 1, "click", 1.0, "{}"),     # -> purchase id 2 (t=10)
        (1, s(5), 1, "click", 1.0, "{}"),     # -> purchase id 2 (t=10)
        (2, s(10), 1, "purchase", 1.0, "{}"),
        (3, s(20), 1, "click", 1.0, "{}"),    # no later purchase -> NULL
        (4, s(10), 2, "click", 1.0, "{}"),    # equal ts counts (>=)
        (5, s(10), 2, "purchase", 1.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    sf = str(tmp_path)
    df.write.parquet(f"{sf}/events.parquet")
    got = {r.event_id: (r.next_purchase_id, r.lag_us)
           for r in click_next_purchase_fwd(spark, sf).collect()}
    assert got[0] == (2, 10_000_000)
    assert got[1] == (2, 5_000_000)
    assert got[3] == (None, None)
    assert got[4] == (5, 0)
