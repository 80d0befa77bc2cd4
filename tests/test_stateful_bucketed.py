"""Tests: shuffle-free joins over bucketed tables."""

from __future__ import annotations

import pyspark.sql.functions as F

from sea_express_customs_etl_spark.sinks.bucketed import write_bucketed


def test_bucketed_join_no_shuffle(spark, tmp_path):
    left = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v1")
    )
    right = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v2")
    )
    write_bucketed(left, "t_left", ("k",), num_buckets=4, sort_cols=("k",))
    write_bucketed(right, "t_right", ("k",), num_buckets=4, sort_cols=("k",))
    try:
        joined = spark.table("t_left").join(spark.table("t_right"), ["k"])
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" not in plan  # bucket-local join
        assert joined.count() == 1000
    finally:
        spark.sql("DROP TABLE IF EXISTS t_left")
        spark.sql("DROP TABLE IF EXISTS t_right")
