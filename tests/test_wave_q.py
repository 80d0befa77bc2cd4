"""Goldens for wave Q: sweep-line peak concurrency, behavioral
diversity."""

import datetime as dt

import pyspark.sql.functions as F


def _events(spark, rows):
    return spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )


def test_peak_concurrency_overlap_and_boundary(spark):
    from sea_express_customs_etl_spark.operators.timeseries import (
        peak_concurrency,
    )

    base = dt.datetime(2024, 1, 1)
    s = lambda sec: base + dt.timedelta(seconds=sec)  # noqa: E731
    rows = [
        # type a: three overlapping 10s windows -> peak 3
        (0, s(0), 1, "a", 1.0, "{}"),
        (1, s(3), 1, "a", 1.0, "{}"),
        (2, s(6), 1, "a", 1.0, "{}"),
        # type b: back-to-back (end == next start) must NOT overlap
        (3, s(0), 1, "b", 1.0, "{}"),
        (4, s(10), 1, "b", 1.0, "{}"),
    ]
    got = {
        r.event_type: (r.peak_concurrency, r.peak_t_us)
        for r in peak_concurrency(
            _events(spark, rows), duration_us=10_000_000
        ).collect()
    }
    t0 = int(base.timestamp()) * 1_000_000
    assert got["a"] == (3, t0 + 6_000_000)
    assert got["b"][0] == 1


def test_peak_concurrency_earliest_tie(spark):
    from sea_express_customs_etl_spark.operators.timeseries import (
        peak_concurrency,
    )

    base = dt.datetime(2024, 1, 1)
    s = lambda sec: base + dt.timedelta(seconds=sec)  # noqa: E731
    # two separate single-interval peaks -> earliest instant reported
    rows = [(0, s(0), 1, "a", 1.0, "{}"), (1, s(100), 1, "a", 1.0, "{}")]
    r = peak_concurrency(_events(spark, rows), duration_us=5_000_000)
    row = r.collect()[0]
    assert row.peak_concurrency == 1
    assert row.peak_t_us == int(base.timestamp()) * 1_000_000


def test_behavior_diversity_golden(spark, tmp_path):
    from __spark_entry__ import queries

    base = dt.datetime(2024, 1, 1)
    rows = (
        # user 1: 2 types x 2 each -> 1 - (4+4)/16 = 0.5
        [(i, base, 1, t, 1.0, "{}") for i, t in
         enumerate(["x", "x", "y", "y"])]
        # user 2: all same type -> 0
        + [(10 + i, base, 2, "x", 1.0, "{}") for i in range(3)]
    )
    df = _events(spark, rows)
    sf = str(tmp_path)
    df.write.parquet(f"{sf}/events.parquet")
    got = {r.user_id: (r.n_events, r.diversity_ppm)
           for r in queries()["user_behavior_diversity"](spark, sf).collect()}
    assert got == {1: (4, 500_000), 2: (3, 0)}
