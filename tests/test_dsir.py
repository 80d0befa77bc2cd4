"""Tests for DSIR-style importance weighting (operators/dsir.py)."""

from __future__ import annotations

import hashlib

import pyspark.sql.functions as F
import pytest

from sea_express_customs_etl_spark.operators.dsir import (
    MICRO,
    dsir_bucket_weights,
    dsir_pipeline,
    dsir_scores,
    token_buckets,
)

RAW = [
    (1, "the quick brown fox", "en"),
    (2, "the lazy dog sleeps", "en"),
    (3, "der schnelle braune fuchs", "de"),
    (4, "le renard brun rapide", "fr"),
    (5, "the the the the", "en"),
]


@pytest.fixture(scope="module")
def raw(spark):
    return spark.createDataFrame(RAW, ["doc_id", "text", "lang"])


def _bucket(tok: str, buckets: int = 1024) -> int:
    return int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % buckets


def test_token_buckets_multiplicity_and_hash(raw):
    rows = token_buckets(raw).collect()
    # doc 5 has 4 occurrences of "the" — multiplicity preserved
    doc5 = [r.bucket for r in rows if r.doc_id == 5]
    assert len(doc5) == 4
    assert set(doc5) == {_bucket("the")}


def test_bucket_weights_laplace_ratio(spark, raw):
    target = raw.filter(F.col("lang") == "en")
    w = {r.bucket: r.w for r in dsir_bucket_weights(raw, target).collect()}
    # "the": 6 occurrences raw (2 in docs 1-2 + 4 in doc 5), all in
    # target too → ratio (6+1)*1e6 // (6+1) = 1e6
    assert w[_bucket("the")] == MICRO
    # "fuchs": 1 raw, 0 target → (0+1)*1e6 // (1+1) = 500000
    assert w[_bucket("fuchs")] == MICRO // 2
    # every raw bucket gets a weight; none are negative
    assert all(v > 0 for v in w.values())


def test_scores_rank_target_like_docs_higher(spark, raw):
    target = raw.filter(F.col("lang") == "en")
    weights = dsir_bucket_weights(raw, target)
    scores = {r.doc_id: r.dsir_score for r in dsir_scores(raw, weights).collect()}
    assert set(scores) == {1, 2, 3, 4, 5}
    # per-token average: English docs must beat the German/French docs
    n_toks = {1: 4, 2: 4, 3: 4, 4: 4, 5: 4}
    per_tok = {d: scores[d] / n_toks[d] for d in scores}
    assert min(per_tok[1], per_tok[2], per_tok[5]) > max(per_tok[3], per_tok[4])


def test_pipeline_equals_two_step(spark, raw):
    target = raw.filter(F.col("lang") == "en")
    two_step = {
        r.doc_id: r.dsir_score
        for r in dsir_scores(raw, dsir_bucket_weights(raw, target)).collect()
    }
    fused = {r.doc_id: r.dsir_score for r in dsir_pipeline(raw, target).collect()}
    assert fused == two_step
