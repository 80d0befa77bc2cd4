"""JSON extraction + interval join: semantics and plan shape."""

import contextlib
import datetime as dt
import io
import re

import pyspark.sql.functions as F
import pytest

from sea_express_customs_etl_spark.operators.jsonops import (
    interval_join,
    props_rollup,
)


def _ts(minute: int) -> dt.datetime:
    return dt.datetime(2024, 1, 1, 12, minute, 0)


def test_props_rollup_parses_and_aggregates(spark):
    df = spark.createDataFrame(
        [
            (1, "click", '{"k": 10}'),
            (2, "click", '{"k": 30}'),
            (3, "click", "not json"),  # malformed -> NULL, counted out
            (4, "view", '{"other": 5}'),  # field absent -> NULL
            (5, "view", '{"k": 7}'),
        ],
        "event_id long, event_type string, props string",
    )
    got = {r.event_type: r for r in props_rollup(df).collect()}
    assert got["click"].n_parsed == 2
    assert got["click"].sum_v == 40
    assert got["click"].avg_v == 20.0
    assert got["view"].n_parsed == 1
    assert got["view"].min_v == 7 and got["view"].max_v == 7


def test_interval_join_bounds(spark):
    left = spark.createDataFrame(
        [(1, _ts(30), 100)], "user_id long, ts timestamp, event_id long"
    )
    right = spark.createDataFrame(
        [
            (1, _ts(30), 200),  # exactly at left.ts -> included
            (1, _ts(20), 201),  # inside window -> included
            (1, _ts(0), 202),   # exactly lookback before -> EXCLUDED (strict)
            (1, _ts(31), 203),  # after left -> excluded
            (2, _ts(29), 204),  # other key -> excluded
        ],
        "user_id long, ts timestamp, event_id long",
    )
    rows = interval_join(
        left, right, ["user_id"], "ts", "ts", 30 * 60, ["event_id"]
    ).collect()
    assert sorted(r.prior_event_id for r in rows) == [200, 201]


def test_interval_join_is_single_equi_join(spark):
    left = spark.createDataFrame(
        [(1, _ts(1), 1)], "user_id long, ts timestamp, event_id long"
    )
    right = spark.createDataFrame(
        [(1, _ts(0), 2)], "user_id long, ts timestamp, event_id long"
    )
    plan_df = interval_join(left, right, ["user_id"], "ts", "ts", 3600, ["event_id"])
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        plan_df.explain("formatted")
    plan = buf.getvalue()
    # the time bound must be a range predicate on a hash equi-join,
    # never a BroadcastNestedLoop/cartesian
    assert "NestedLoop" not in plan and "Cartesian" not in plan


def test_props_rollup_is_map_side_before_single_shuffle(spark):
    df = spark.createDataFrame(
        [(1, "click", '{"k": 1}')], "event_id long, event_type string, props string"
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        props_rollup(df).explain("formatted")
    plan = buf.getvalue()
    # formatted mode prints each node twice (tree + detail section) —
    # count detail headers only
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert "partial_sum" in plan  # map-side combine present
