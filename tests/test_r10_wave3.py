"""Goldens + invariants for the round-10 third-wave operators:
GroupKFold, uncertainty sampling, Hill tail index."""

import hashlib
import math

import pyspark.sql.functions as F

from sea_express_customs_etl_spark.operators.sampling import group_kfold
from sea_express_customs_etl_spark.operators.perceptron import (
    uncertainty_sample_topk,
)
from sea_express_customs_etl_spark.operators.tail import hill_tail_index


def _fold(cluster, k=5, salt="gkf"):
    h = hashlib.md5((salt + str(cluster)).encode()).hexdigest()[:8]
    return int(h, 16) % k


def test_group_kfold_matches_reference_hash(spark):
    labels = spark.createDataFrame(
        [(d, d % 7) for d in range(100)], ["doc_id", "cluster_id"]
    )
    out = {r.fold: r for r in group_kfold(labels, k=5).collect()}
    exp = {}
    for d in range(100):
        f = _fold(d % 7)
        e = exp.setdefault(f, [0, set(), 0])
        e[0] += 1
        e[1].add(d % 7)
        e[2] += d
    assert set(out) == set(exp)
    for f, (n, cl, ks) in exp.items():
        assert out[f].n_docs == n
        assert out[f].n_clusters == len(cl)
        assert out[f].key_sum == ks
    assert sum(r.n_docs for r in out.values()) == 100
    # clusters never straddle folds: distinct clusters across folds
    # sum to the global distinct count
    assert sum(r.n_clusters for r in out.values()) == 7


def test_uncertainty_topk_zero_weights_take_smallest_ids(spark):
    docs = spark.createDataFrame(
        [(i, "w%d x" % i) for i in range(50)], ["doc_id", "text"]
    )
    w = spark.createDataFrame(
        [(b, 0) for b in range(64)], "bucket int, w_avg long"
    )
    out = uncertainty_sample_topk(docs, w, k=10).collect()
    assert [r.doc_id for r in out] == list(range(10))
    assert all(r.score == 0 for r in out)


def test_uncertainty_topk_prefers_boundary_docs(spark):
    # constant +1 weights: score = n_tokens, so fewest-token docs are
    # "closest to the boundary" under |score|
    docs = spark.createDataFrame(
        [(1, "a"), (2, "a b c d e"), (3, "a b")], ["doc_id", "text"]
    )
    w = spark.createDataFrame(
        [(b, 1) for b in range(64)], "bucket int, w_avg long"
    )
    out = uncertainty_sample_topk(docs, w, k=2).collect()
    assert [r.doc_id for r in out] == [1, 3]
    assert [r.abs_score for r in out] == [1, 2]


def _hill_py(vals):
    pos = sorted((v for v in vals if v > 0), reverse=True)
    n = len(pos)
    k = math.isqrt(n)
    if k * k < n:
        k += 1
    top = pos[: k + 1]
    xk1 = top[-1]
    r = lambda x: round(math.log(x) * 1e6)
    s = sum(r(x) - r(xk1) for x in top)
    alpha = 0 if s == 0 else (k * 10**12) // s
    return n, k, s, alpha


def test_hill_matches_python_reference(spark):
    vals = [(i, (i * i * 7) % 5000 + 1) for i in range(1, 301)]
    df = spark.createDataFrame(vals, ["k", "y"])
    r = hill_tail_index(df, F.col("y"), "k").collect()[0]
    n, k, s, alpha = _hill_py([v for _, v in vals])
    assert (r.n, r.k, r.sum_ln_u6, r.alpha_u6) == (n, k, s, alpha)


def test_hill_degenerate_tail_is_zero(spark):
    df = spark.createDataFrame(
        [(i, 100) for i in range(1, 50)], ["k", "y"]
    )
    r = hill_tail_index(df, F.col("y"), "k").collect()[0]
    assert r.sum_ln_u6 == 0 and r.alpha_u6 == 0


def test_hill_excludes_nonpositive(spark):
    df = spark.createDataFrame(
        [(1, -5), (2, 0)] + [(i, i * 11 % 97 + 1) for i in range(3, 103)],
        ["k", "y"],
    )
    r = hill_tail_index(df, F.col("y"), "k").collect()[0]
    assert r.n == 100


def test_dedup_threshold_sweep_invariants(spark):
    from sea_express_customs_etl_spark.operators.dedup import (
        jaccard_threshold_sweep,
        shingle_profiles,
    )
    from sea_express_customs_etl_spark.plans.cache import release_tracked

    base = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon"
    )
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base),  # identical -> jaccard 1.0 -> band 10
            (3, base + " extra tokens here now"),  # high but < 1
            (4, "completely different content with nothing shared at all"),
        ],
        ["doc_id", "text"],
    )
    out = {r.band: r for r in jaccard_threshold_sweep(shingle_profiles(docs)).collect()}
    release_tracked()
    assert set(out) == set(range(11))
    assert out[10].n_pairs >= 1  # the identical pair
    # cumulative is monotone non-increasing in band and tops out at
    # the total candidate count at band 0
    total = sum(r.n_pairs for r in out.values())
    assert out[0].pairs_at_or_above == total
    prev = None
    for b in range(10, -1, -1):
        v = out[b].pairs_at_or_above
        assert prev is None or v >= prev
        prev = v
