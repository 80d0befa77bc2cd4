"""Holdout kNN label classification over the COMPRESSED code store —
the 100 TB sibling of ``operators/knn.py:knn_label_vote`` and the
follow-through on SCALE.md's knn probe note: classify from the PQ
store's ADC distances (8 LUT lookups per candidate) instead of exact
64-dim integer folds, the ``mmr_ann_rerank`` recipe applied to
classification.

The search is ``streaming/ann_store.py:store_adc_topk`` with its
``neighbor_pred`` candidate scope applied to the committed codes
BEFORE ranking (here: even vec_ids only — the train half; the same
hook scopes a store to a tenant or a time window). The frozen
quantizer (centroids + codebook) comes from the session's shared
store — codebook training is label-free compression, so including
odd vectors in the TRAINING SAMPLE leaks no labels into the
classifier; the candidate scope is what enforces train/test
separation.

Scale: per-candidate cost collapses from a 64-dim interpreted fold to
an m=8-row LUT sum (the ADC win); candidate COUNT still follows the
probed-cell populations, so the nlist ∝ √N dial documented in
SCALE.md applies to the coarse quantizer exactly as it does to the
exact-search variant.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
import pyspark.sql.functions as F

from sea_express_customs_etl_spark.streaming.ann_store import store_adc_topk


def hard_negative_mining(
    spark: SparkSession,
    emb: DataFrame,
    table_prefix: str,
    centroids: DataFrame,
    codebook: DataFrame,
    anchor_mod: int = 16,
    shortlist: int = 32,
    k: int = 8,
    nprobe: int = 2,
    id_col: str = "vec_id",
    label_col: str = "label",
) -> DataFrame:
    """Contrastive hard-negative mining from the shared ADC store —
    the ANCE/DPR recipe (Xiong et al. 2021; Karpukhin et al. 2020):
    for every anchor (ids divisible by ``anchor_mod``), retrieve a
    ``shortlist``-sized ADC top list from the code store, drop
    same-label neighbors, and keep the ``k`` CLOSEST different-label
    candidates — the negatives that are hardest for a contrastive
    loss precisely because the index ranks them nearest.

    Shortlist-filtered semantics on purpose: production miners filter
    a retrieved shortlist rather than scanning the corpus per label
    (a per-anchor different-label exact top-k would defeat the
    index). The oracle mirrors the identical shortlist-then-filter
    pipeline, so the hash pins both the ADC ranking and the filter.

    Scale: anchors are a fixed modulus slice; per-anchor cost is the
    store's cell-pruned ADC probe (nlist dial applies); the label
    join is id-grain. Output: vec_id, neg_id, neg_rank, dist_u12.
    """
    anchors = emb.filter(F.col(id_col) % anchor_mod == 0)
    sl = store_adc_topk(
        spark,
        table_prefix,
        centroids,
        codebook,
        anchors,
        k=shortlist,
        nprobe=nprobe,
        id_col=id_col,
    )
    lab = emb.select(F.col(id_col), F.col(label_col))
    flt = (
        sl.join(
            lab.select(
                F.col(id_col).alias("query_id"),
                F.col(label_col).alias("_ql"),
            ),
            "query_id",
        )
        .join(
            lab.select(
                F.col(id_col).alias("neighbor_id"),
                F.col(label_col).alias("_nl"),
            ),
            "neighbor_id",
        )
        .filter(F.col("_nl") != F.col("_ql"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("dist_u12").asc(), F.col("neighbor_id").asc()
    )
    return (
        flt.withColumn("neg_rank", F.row_number().over(w))
        .filter(F.col("neg_rank") <= k)
        .select(
            F.col("query_id").alias(id_col),
            F.col("neighbor_id").alias("neg_id"),
            F.col("neg_rank").cast("bigint").alias("neg_rank"),
            "dist_u12",
        )
    )


def knn_adc_vote(
    spark: SparkSession,
    emb: DataFrame,
    table_prefix: str,
    centroids: DataFrame,
    codebook: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    label_col: str = "label",
) -> DataFrame:
    """Classify every odd-id vector by majority label of its ``k``
    nearest EVEN neighbors under ADC distances from the code store
    (vote ties → lowest label). Output: id, pred_label, true_label,
    correct — the same per-prediction grain as ``knn_label_vote``, so
    the two classifiers' quality is directly comparable under the
    gate."""
    test = emb.filter(F.col(id_col) % 2 == 1)
    nn = store_adc_topk(
        spark,
        table_prefix,
        centroids,
        codebook,
        test,
        neighbor_pred=F.col(id_col) % 2 == 0,
        k=k,
        nprobe=nprobe,
        id_col=id_col,
    )
    votes = (
        nn.join(
            emb.select(
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
            emb.select(
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
