"""Unit tests for operators/perceptron.py (integer full-batch
perceptron training)."""

from __future__ import annotations

import pyspark.sql.functions as F

from sea_express_customs_etl_spark.operators.perceptron import (
    _train_weight_dicts,
    _weights_frame,
    confusion_stats,
)


def _final_weights(df, label, buckets=64, epochs=3):
    """(bucket, w): the final weights of one training run, read the way
    the classifier family's shared build reads them."""
    cnt, w, _, _ = _train_weight_dicts(df, label, buckets=buckets, epochs=epochs)
    return _weights_frame(cnt, w, "w")


def _averaged_weights(df, label, buckets=64, epochs=3):
    """(bucket, w_avg): the sum of the per-epoch weight snapshots."""
    cnt, _, wsum, _ = _train_weight_dicts(df, label, buckets=buckets, epochs=epochs)
    return _weights_frame(cnt, wsum, "w_avg")


def _score(cnt_rows, weights):
    w = {b: v for b, v in weights}
    return sum(w.get(b, 0) * c for b, c in cnt_rows)


def test_separable_corpus_learns_the_signal(spark):
    """Disjoint vocabularies: after 3 full-batch epochs the learned
    weights score every positive doc above every negative doc."""
    pos_words = "alpha beta gamma"
    neg_words = "delta epsilon zeta"
    rows = [(i, f"{pos_words} extra{i % 2}", "en") for i in range(10)]
    rows += [(i + 10, f"{neg_words} extra{i % 2}", "de") for i in range(10)]
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    w = [
        (r.bucket, r.w)
        for r in _final_weights(
            df, F.col("lang") == "en", buckets=64, epochs=3
        ).collect()
    ]
    # re-derive each doc's bucket counts through the same hashing
    from sea_express_customs_etl_spark.operators.dsir import token_buckets

    cnt = (
        token_buckets(df, buckets=64)
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    )
    by_doc: dict[int, list] = {}
    for r in cnt:
        by_doc.setdefault(r.doc_id, []).append((r.bucket, r.c))
    pos = [_score(by_doc[i], w) for i in range(10)]
    neg = [_score(by_doc[i + 10], w) for i in range(10)]
    assert min(pos) > 0 >= max(neg)


def test_trajectory_is_layout_invariant(spark):
    rows = [
        (i, f"tok{i % 7} tok{(i * 3) % 5} filler", "en" if i % 3 else "de")
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    a = sorted(
        map(
            tuple,
            _final_weights(df, F.col("lang") == "en", epochs=3).collect(),
        )
    )
    b = sorted(
        map(
            tuple,
            _final_weights(
                df.repartition(7), F.col("lang") == "en", epochs=3
            ).collect(),
        )
    )
    assert a == b and len(a) > 3


def test_averaged_is_snapshot_sum(spark):
    """w_avg must equal the integer sum of the three post-epoch weight
    snapshots — verified by retraining at epochs=1/2/3 (each run's
    output IS that epoch's snapshot: full-batch training is
    deterministic, so prefixes of the trajectory coincide)."""
    rows = [
        (i, f"tok{i % 7} tok{(i * 3) % 5} filler", "en" if i % 3 else "de")
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    label = F.col("lang") == "en"
    snaps = [
        {r.bucket: r.w for r in _final_weights(df, label, epochs=e).collect()}
        for e in (1, 2, 3)
    ]
    avg = {
        r.bucket: r.w_avg
        for r in _averaged_weights(df, label, epochs=3).collect()
    }
    want = {b: snaps[0][b] + snaps[1][b] + snaps[2][b] for b in snaps[2]}
    assert avg == want and len(avg) > 3


def _confusion(df, weights_df, wcol):
    from sea_express_customs_etl_spark.operators.dsir import token_buckets

    cnt = (
        token_buckets(df, buckets=64)
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("_c"))
    )
    score = (
        cnt.join(weights_df, "bucket")
        .groupBy("doc_id")
        .agg(F.sum(F.col(wcol) * F.col("_c")).alias("_s"))
    )
    pt = df.select("doc_id", "lang").join(score, "doc_id", "left").select(
        (F.coalesce(F.col("_s"), F.lit(0)) > 0).cast("int").alias("pred"),
        (F.col("lang") == "en").cast("int").alias("truth"),
    )
    return confusion_stats(pt, "pred", "truth").collect()[0]


def test_averaged_at_least_as_good_on_noisy_corpus(spark):
    """On a non-separable corpus the last-epoch weights oscillate; the
    epoch average damps the oscillation (Freund & Schapire's point).
    The averaged variant's precision/recall/accuracy must each be >=
    the plain perceptron's here — the r6-VERDICT acceptance claim,
    pinned at unit scale (and as gate hashes by
    averaged_classifier_confusion vs classifier_confusion)."""
    # mostly-separable signal + label-noise collisions shared by both
    # classes -> the trajectory keeps correcting back and forth
    rows = [(i, f"alpha beta shared{i % 4}", "en") for i in range(12)]
    rows += [(i + 12, f"delta zeta shared{i % 4}", "de") for i in range(12)]
    rows += [(24 + i, "alpha beta shared0", "de") for i in range(3)]  # noise
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    label = F.col("lang") == "en"
    plain = _confusion(df, _final_weights(df, label, epochs=3), "w")
    avg = _confusion(
        df, _averaged_weights(df, label, epochs=3), "w_avg"
    )
    assert avg.precision_ppm >= plain.precision_ppm
    assert avg.recall_ppm >= plain.recall_ppm
    assert avg.accuracy_ppm >= plain.accuracy_ppm
