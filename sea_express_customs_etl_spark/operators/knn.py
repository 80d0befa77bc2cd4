"""Holdout k-nearest-neighbor label classification over the embedding
table — the representation-quality eval that needs no training beyond
the IVF index (Fix & Hodges 1951; the "kNN probe" of the
representation-learning eval toolbox, next to the linear-probe-lite
``pca_label_anova``).

Beyond-parity operator (the reference's pandas core has no embedding
surface). Train/test split by vec_id parity: integer k-means
(``kmeans_fit_q``) indexes the EVEN half, every ODD vector is
classified by majority label among its k nearest even neighbors under
the exact-integer IVF search (``ivf_topk_q``, queries quantized from
their own frame — a test vector can never be its own neighbor by
construction). Vote tie-break: count DESC, label ASC — deterministic
on both engines.

Scale shape: the classifier adds ONE |test|·k-row join against the
train-label table and one per-query top-1 window (WindowGroupLimit
shape) on top of the IVF search; nothing touches a corpus cross
product. The coarse quantizer is sized ``nlist = max(4, ⌈√N_train⌉)``
(the standard IVF dial, measured in SCALE.md's knn probe row): with a
FIXED nlist, probed-cell populations grow linearly while the query set
also grows, so query×candidate pairs grow quadratically (the r9 probe
measured 23.4× wall at 8× data at nlist=4); with nlist ∝ √N the
candidate count per query is O(√N) and total pair work O(N^1.5) — the
2.4×-at-8× regime the ADC variant already ships.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
import pyspark.sql.functions as F

from sea_express_customs_etl_spark.operators.similarity import (
    ivf_topk_q,
    kmeans_fit_q,
)


def knn_label_vote(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
    k: int = 5,
    n_centroids: int | None = None,
    iters: int = 2,
    nprobe: int = 2,
) -> DataFrame:
    """Classify every odd-``id`` vector by the majority label of its
    ``k`` nearest even-``id`` neighbors (IVF-pruned, exact bigint
    squared-L2, ties → lowest neighbor id; vote ties → lowest label).

    ``n_centroids=None`` (the default) derives ``max(4, ⌈√N_train⌉)``
    from one count action — O(1) driver state, the same index-sizing
    rule the oracle recomputes in its ``LIMIT`` subquery (IEEE-double
    ``sqrt`` on both engines, so the ceil agrees bit-for-bit).

    Output: id, pred_label, true_label, correct (int 0/1) — per-test
    grain, so the hash pins every single prediction, not just the
    accuracy scalar.
    """
    train = df.filter(F.col(id_col) % 2 == 0)
    test = df.filter(F.col(id_col) % 2 == 1)
    if n_centroids is None:
        n_centroids = max(4, math.ceil(math.sqrt(train.count())))
    cents = kmeans_fit_q(train, k=n_centroids, iters=iters,
                         vec_col=vec_col, id_col=id_col)
    nn = ivf_topk_q(train, cents, test, k=k, nprobe=nprobe,
                    vec_col=vec_col, id_col=id_col)
    votes = (
        nn.join(
            train.select(
                F.col(id_col).alias("neighbor_id"),
                F.col(label_col).alias("_nl"),
            ),
            "neighbor_id",
        )
        .groupBy("query_id", "_nl")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("_c").desc(), F.col("_nl").asc()
    )
    pred = (
        votes.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("query_id", F.col("_nl").alias("pred_label"))
    )
    return (
        pred.join(
            test.select(
                F.col(id_col).alias("query_id"),
                F.col(label_col).alias("true_label"),
            ),
            "query_id",
        )
        .select(
            F.col("query_id").alias(id_col),
            "pred_label",
            "true_label",
            (F.col("pred_label") == F.col("true_label"))
            .cast("int")
            .alias("correct"),
        )
    )
