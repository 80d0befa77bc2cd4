"""Semantic invariants for ANN-store hard-negative mining
(operators/knn_adc.py:hard_negative_mining) on the sf0.001 fixture:
no same-label negative survives, no self-pairs, ranks are contiguous
from 1, and distances are non-decreasing in rank per anchor."""

import __spark_entry__ as entry
from sea_express_customs_etl_spark.queries.shared import _emb


def test_ann_hard_negatives_invariants(spark, sf_dir):
    out = entry.queries()["ann_hard_negatives"](spark, sf_dir).collect()
    assert out, "mining returned no rows"
    emb = {
        r.vec_id: r.label
        for r in _emb(spark, sf_dir).select("vec_id", "label").collect()
    }
    by_anchor = {}
    for r in out:
        assert r.vec_id != r.neg_id
        assert emb[r.neg_id] != emb[r.vec_id], "same-label negative"
        assert 1 <= r.neg_rank <= 8
        by_anchor.setdefault(r.vec_id, []).append((r.neg_rank, r.dist_u12))
    for a, pairs in by_anchor.items():
        pairs.sort()
        ranks = [p[0] for p in pairs]
        assert ranks == list(range(1, len(ranks) + 1)), a
        dists = [p[1] for p in pairs]
        assert dists == sorted(dists), a
