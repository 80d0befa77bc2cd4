"""Golden tests for the wave-X operators: interval-union coverage,
local clustering coefficient, CDC apply (merge ≡ replay), readability,
deterministic bootstrap."""

import datetime as dt

import pyspark.sql.functions as F

from sea_express_customs_etl_spark.operators.graph import (
    clustering_coefficient,
    triangle_triples,
)
from sea_express_customs_etl_spark.operators.scd import cdc_apply
from sea_express_customs_etl_spark.operators.stats_tests import (
    bootstrap_sum_ci,
)
from sea_express_customs_etl_spark.operators.textstats import (
    readability_scores,
)
from sea_express_customs_etl_spark.operators.timeseries import (
    interval_union_coverage,
)


def _ts(s):
    return dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s)


def test_interval_union_merges_overlaps(spark):
    # user 1: [0,300) ∪ [100,400) ∪ [700,1000) = 400 + 300 = 700 s
    ev = spark.createDataFrame(
        [(1, _ts(0), 10), (1, _ts(100), 11), (1, _ts(700), 12)],
        ["user_id", "ts", "event_id"],
    )
    row = interval_union_coverage(ev, 300 * 1_000_000).collect()[0]
    assert row.n_events == 3
    assert row.n_spans == 2
    assert row.covered_us == 700 * 1_000_000


def test_interval_union_contained_interval(spark):
    # second interval fully inside the first contributes zero
    ev = spark.createDataFrame(
        [(1, _ts(0), 1), (1, _ts(10), 2)], ["user_id", "ts", "event_id"]
    )
    row = interval_union_coverage(ev, 300 * 1_000_000).collect()[0]
    assert row.n_spans == 1
    assert row.covered_us == 310 * 1_000_000


def test_clustering_coefficient_golden(spark):
    # triangle 1-2-3 plus pendant edge 3-4
    e = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)], ["src", "dst"]
    )
    rows = {r.node: r for r in clustering_coefficient(e, triangle_triples(e)).collect()}
    assert 4 not in rows  # degree 1: undefined, excluded
    assert rows[1].coeff_ppm == 1_000_000  # deg 2, 1 triangle
    assert rows[3].degree == 3
    assert rows[3].coeff_ppm == 333_333  # 2*1e6 DIV 6


def test_cdc_terminal_delete_tombstones(spark):
    ch = spark.createDataFrame(
        [(1, 1, "U", 10), (1, 2, "D", 0), (2, 1, "D", 0), (2, 2, "U", 7)],
        ["k", "seq", "op", "v"],
    )
    rows = {r.k: r.v for r in
            cdc_apply(ch, ["k"], ["seq"], "op", ["v"]).collect()}
    assert rows == {2: 7}  # key 1 deleted last; key 2 resurrected


def test_cdc_merge_equals_replay(spark):
    ch = spark.createDataFrame(
        [(1, 1, "U", 10), (1, 3, "U", 30), (2, 2, "U", 5), (2, 4, "D", 0),
         (3, 1, "D", 0), (3, 5, "U", 50), (4, 2, "U", 8)],
        ["k", "seq", "op", "v"],
    )
    replay = cdc_apply(ch, ["k"], ["seq"], "op", ["v"])
    state = cdc_apply(ch.filter(F.col("seq") <= 2), ["k"], ["seq"],
                      "op", ["v"])
    merged = cdc_apply(ch.filter(F.col("seq") > 2), ["k"], ["seq"],
                       "op", ["v"], state=state)
    assert sorted(map(tuple, replay.collect())) == sorted(
        map(tuple, merged.collect())
    )


def test_readability_golden(spark):
    # 6 words, 2 sentence runs, 6 vowel groups:
    # 206835 - (1015*6)//2 - (84600*6)//6 = 119190
    docs = spark.createDataFrame(
        [(1, "The cat sat. The cat ran!")], ["doc_id", "text"]
    )
    row = readability_scores(docs).collect()[0]
    assert (row.n_words, row.n_sents, row.n_syllables) == (6, 2, 6)
    assert row.flesch_milli == 119_190


def test_readability_zero_word_docs_dropped(spark):
    docs = spark.createDataFrame([(1, "!!! ..."), (2, "ok")],
                                 ["doc_id", "text"])
    assert [r.doc_id for r in readability_scores(docs).collect()] == [2]


def test_bootstrap_deterministic_and_bounded(spark):
    rows = [("a", i, (i * 7) % 13) for i in range(40)]
    df = spark.createDataFrame(rows, ["g", "id", "v"])
    r1 = bootstrap_sum_ci(df, "g", "v", "id").collect()[0]
    r2 = bootstrap_sum_ci(df, "g", "v", "id").collect()[0]
    assert (r1.lo_sum_u6, r1.hi_sum_u6) == (r2.lo_sum_u6, r2.hi_sum_u6)
    assert r1.lo_sum_u6 <= r1.hi_sum_u6
    # every replicate draws n rows, so totals live in [n·min, n·max]
    vals = [v for _, _, v in rows]
    assert 40 * min(vals) <= r1.lo_sum_u6
    assert r1.hi_sum_u6 <= 40 * max(vals)
    assert r1.n_rows == 40 and r1.n_reps == 20
