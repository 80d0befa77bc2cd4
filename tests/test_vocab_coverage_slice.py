"""Property tests for the wave-4 report queries (gate hash-checks
both at sf0.01; these pin the curve/report invariants on the real
fixture tables)."""

from __future__ import annotations

import os

import pyspark.sql.functions as F

import __spark_entry__ as entry
from sea_express_customs_etl_spark.plans.cache import release_tracked

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def test_vocab_coverage_monotone_and_bounded(spark):
    try:
        rows = {
            r.vocab_k: r
            for r in entry.queries()["vocab_coverage_curve"](spark, SF_DIR).collect()
        }
    finally:
        release_tracked()
    ks = sorted(rows)
    assert ks == [64, 256, 1024, 4096]
    # coverage is monotone in k and bounded by the corpus total
    prev = 0
    for k in ks:
        r = rows[k]
        assert prev <= r.covered <= r.total
        assert 0 < r.coverage_ppm <= 1_000_000
        assert r.n_types_used <= k
        prev = r.covered
    # a vocab covering every type covers every token
    if rows[4096].n_types_used < 4096:
        assert rows[4096].covered == rows[4096].total
        assert rows[4096].coverage_ppm == 1_000_000


def test_lm_slice_report_partitions_corpus(spark):
    from sea_express_customs_etl_spark.operators.lm import lm_score
    from sea_express_customs_etl_spark.plans.standins import load_table

    rep = entry.queries()["lm_slice_report"](spark, SF_DIR)
    agg = rep.agg(
        F.sum("n_docs").alias("docs"),
        F.sum("total_bigrams").alias("bg"),
        F.sum("sum_logprob_u6").alias("lp"),
    ).collect()[0]
    docs = load_table(spark, SF_DIR, "documents")
    base = lm_score(docs).agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum("n_bigrams").alias("bg"),
        F.sum("logprob_u6").alias("lp"),
    ).collect()[0]
    # slices partition the corpus exactly: totals must reconcile
    assert (agg.docs, agg.bg, agg.lp) == (base.docs, base.bg, base.lp)
    # mean NLL is positive wherever bigrams exist
    for r in rep.collect():
        if r.total_bigrams > 0:
            assert r.mean_nll_u6 > 0
