"""Physical-plan property tests: the scale guarantees SCALE.md claims
(zero-shuffle map-only ops, broadcast joins, no cartesian products, no
driver-side stages) asserted against the actual executed plans, so a
refactor that silently regresses the plan shape fails CI."""

from __future__ import annotations

import contextlib
import io

import pyspark.sql.functions as F


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _docs(spark, n=50):
    rows = [(i, f"word{i} the and some text line {i % 7}") for i in range(n)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_quality_ops_are_shuffle_free(spark):
    from sea_express_customs_etl_spark.operators.textstats import (
        quality_gate,
        repetition_stats,
    )

    for op in (repetition_stats, quality_gate):
        plan = _plan(op(_docs(spark)))
        assert "Exchange" not in plan, f"{op.__name__} must not shuffle:\n{plan}"


def test_sampling_is_shuffle_free(spark):
    from sea_express_customs_etl_spark.operators.sampling import (
        hash_sample,
        hash_split,
    )

    df = spark.range(100).withColumnRenamed("id", "doc_id")
    assert "Exchange" not in _plan(hash_sample(df, 0.5))
    assert "Exchange" not in _plan(
        hash_split(df, {"train": 0.9, "test": 0.1})
    )


def test_ivf_assign_broadcasts_centroids_no_cartesian(spark):
    from sea_express_customs_etl_spark.operators.similarity import ivf_assign

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    plan = _plan(ivf_assign(emb, emb.filter(F.col("vec_id") < 4)))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_blocked_near_dup_single_pair_shuffle(spark):
    """The block×block kernel: broadcast joins against the literal
    pair table, ONE hash exchange on (bi, bj), no cartesian product,
    no driver-side collect stage."""
    from sea_express_customs_etl_spark.operators.dedup import embedding_near_dups

    emb = spark.createDataFrame(
        [(i, [float(i % 5), 1.0]) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    plan = _plan(embedding_near_dups(emb, 0.9, num_blocks=4))
    assert "CartesianProduct" not in plan
    assert "CollectLimit" not in plan
    # the only non-broadcast exchange is the cogroup on the block pair
    import re

    n_hash_exchanges = len(re.findall(r"^\(\d+\) Exchange$", plan, re.M))
    assert n_hash_exchanges == 1, f"expected 1 pair-shuffle, saw {n_hash_exchanges}:\n{plan}"


def test_redact_pii_is_shuffle_free(spark):
    from sea_express_customs_etl_spark.operators.hygiene import redact_pii

    plan = _plan(redact_pii(_docs(spark)))
    assert "Exchange" not in plan, f"redact_pii must be map-only:\n{plan}"


def test_decontaminate_broadcasts_benchmark(spark):
    """The eval-set n-gram side must be the broadcast build side; the
    corpus side must never feed a cartesian product."""
    from sea_express_customs_etl_spark.operators.hygiene import decontaminate

    plan = _plan(decontaminate(_docs(spark, 60), _docs(spark, 5)))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_flagship_broadcasts_nothing_unexpected(spark, sf_dir):
    """Flagship knowledge plan: no cartesian products, no collects."""
    from sea_express_customs_etl_spark.plans.knowledge import knowledge_base
    from sea_express_customs_etl_spark.plans.standins import (
        declared_table,
        official_table,
    )

    plan = _plan(
        knowledge_base(
            declared_table(spark, sf_dir), official_table(spark, sf_dir),
            use_nfkc=False,
        )
    )
    assert "CartesianProduct" not in plan
    assert "CollectLimit" not in plan


def _own_exchanges(df) -> int:
    """Shuffle exchanges in ``df``'s executed plan, not counting those
    under an InMemoryRelation: a persisted input (the stand-ins) keeps
    the plan it was first cached with, which depends on the session
    state at that moment, not on ``df``."""
    n, skip = 0, None
    for line in df._jdf.queryExecution().executedPlan().toString().splitlines():
        node = line.lstrip(" :+-")
        depth = len(line) - len(node)
        if skip is not None and depth > skip:
            continue
        skip = None
        if node.startswith("InMemoryRelation"):
            skip = depth
        elif node.startswith("Exchange "):
            n += 1
    return n


def test_flagship_exchange_counts(spark, sf_dir):
    """The one link-align-vote plan keeps its shuffles: each side's
    collect_list exchange on link_key is reused by the join (no
    re-shuffle for the count match or the alignment), and the vote adds
    two. The aligned-pairs session table's build has the aligned
    frame's shape."""
    from sea_express_customs_etl_spark.plans.knowledge import (
        knowledge_aligned,
        knowledge_base,
    )
    from sea_express_customs_etl_spark.plans.standins import (
        declared_table,
        official_table,
    )
    from sea_express_customs_etl_spark.queries.shared import _aligned

    a, b = declared_table(spark, sf_dir), official_table(spark, sf_dir)
    assert _own_exchanges(knowledge_base(a, b, use_nfkc=False)) == 4
    assert _own_exchanges(knowledge_aligned(a, b, use_nfkc=False)) == 2
    assert _own_exchanges(_aligned(spark, sf_dir)) == 2


def test_ann_search_exchange_counts(spark, sf_dir):
    """The IVF search family keeps its shuffles. The trained index
    shuffles the corpus assignment, the queries' assignment (the probe
    window reuses its partitioning) and the top-k. The store's codes
    are bucketed by cell, so only the probe window and the top-k
    shuffle. The float index adds two assignments of its codebook
    sample. The exact-integer search shuffles the same for a query set
    drawn from the corpus and for a disjoint one."""
    from sea_express_customs_etl_spark.operators.pq import (
        ivfpq_topk,
        ivfpq_trained_topk,
    )
    from sea_express_customs_etl_spark.operators.similarity import (
        ivf_topk_q,
        kmeans_fit_q,
    )
    from sea_express_customs_etl_spark.queries.shared import (
        _ann_shared_store,
        _emb,
    )
    from sea_express_customs_etl_spark.streaming.ann_store import (
        store_adc_topk,
    )

    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < 10)
    cen, codebook, prefix = _ann_shared_store(spark, sf_dir)
    trained = ivfpq_trained_topk(emb, cen, codebook, q, k=5, nprobe=2)
    assert _own_exchanges(trained) == 3
    store = store_adc_topk(spark, prefix, cen, codebook, q, k=5, nprobe=2)
    assert _own_exchanges(store) == 2
    assert _own_exchanges(ivfpq_topk(emb, cen, q, k=5, nprobe=2)) == 5

    cents = kmeans_fit_q(emb, k=4, iters=2)
    assert _own_exchanges(ivf_topk_q(emb, cents, q, k=5, nprobe=2)) == 5
    train = emb.filter(F.col("vec_id") % 2 == 0)
    test = emb.filter(F.col("vec_id") % 2 == 1)
    assert _own_exchanges(ivf_topk_q(train, cents, test, k=5, nprobe=2)) == 5
