"""In-engine classifier TRAINING: a full-batch integer perceptron over
hashed token-bucket features — the "train the quality classifier
inside the pipeline" op (fastText-style linear text classifiers are
the standard quality-filter models; ``textstats.hashed_logit_score``
is the inference side with fixed weights, this module learns them).

Why full-batch: per-sample perceptron updates are inherently
sequential (the trajectory depends on sample order → partitioning-
dependent, unhashable, undistributable). The full-batch form

    w_{e+1}[b] = w_e[b] + Σ_docs (y_doc − 1[w_e·x_doc > 0]) · x_doc[b]

needs ONE aggregate per epoch, is embarrassingly parallel, and its
trajectory is exact integer arithmetic — partitioning-independent and
hash-checkable against an unrolled SQL oracle (the ``kmeans_fit_q``
discipline applied to supervised training).

Scale shape: features are (doc, bucket, count) rows — one explode +
one partial-aggregated groupBy off the corpus scan, persisted across
epochs. Each epoch is: one broadcast join against the B-row weight
table (model-sized), one per-doc partial-aggregated score sum, one
per-bucket partial-aggregated delta sum, and one B-row collect (the
k-means centroid license: the MODEL crosses the driver, never the
corpus). Epoch cost is two shuffles regardless of corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
import pyspark.sql.functions as F

from ..plans.cache import tracked_persist
from .dsir import token_buckets


def _train_weight_dicts(
    df: DataFrame,
    label_expr,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = 64,
    epochs: int = 3,
) -> tuple[DataFrame, dict[int, int], dict[int, int], list[dict[int, int]]]:
    """Shared epoch loop: returns (persisted per-doc bucket counts,
    final weights, sum of per-epoch weight SNAPSHOTS, and the list of
    per-epoch snapshots themselves — the training-dynamics record the
    cartography operator reads). The snapshot sum is the
    averaged-perceptron accumulator — Σ_e w_e stays integer-exact,
    and since every epoch contributes exactly once the unnormalized
    sum ranks identically to the mean."""
    spark = df.sparkSession
    cnt = tracked_persist(
        token_buckets(df, text_col, id_col, buckets)
        .groupBy(id_col, "bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("_c"))
    )  # scanned twice per epoch (score + delta)
    labels = tracked_persist(
        # coalesce: a NULL label must behave like the oracle's CASE
        # ... ELSE 0 (a NULL error term would silently drop the doc
        # from every delta sum instead of applying the -pred correction)
        df.select(
            F.col(id_col),
            F.coalesce(label_expr.cast("bigint"), F.lit(0)).alias("_y"),
        )
    )
    w: dict[int, int] = {}
    wsum: dict[int, int] = {}
    snaps: list[dict[int, int]] = []
    for _ in range(epochs):
        if w:
            wdf = spark.createDataFrame(
                [(b, v) for b, v in sorted(w.items())], "bucket int, _w long"
            )
            scores = (
                cnt.join(F.broadcast(wdf), "bucket")
                .groupBy(id_col)
                .agg(F.sum(F.col("_w") * F.col("_c")).alias("_s"))
            )
        else:
            # w = 0 → every score is 0; skip the join entirely
            scores = cnt.select(id_col).distinct().withColumn(
                "_s", F.lit(0).cast("bigint")
            )
        err = labels.join(scores, id_col, "left").select(
            F.col(id_col),
            (
                F.col("_y")
                - (F.coalesce(F.col("_s"), F.lit(0)) > 0).cast("bigint")
            ).alias("_e"),
        )
        delta = (
            cnt.join(err, id_col)
            .groupBy("bucket")
            .agg(F.sum(F.col("_e") * F.col("_c")).alias("_dw"))
            .collect()  # B rows — the model crosses the driver, nothing else
        )
        for r in delta:
            w[r.bucket] = w.get(r.bucket, 0) + r._dw
        for b, v in w.items():
            wsum[b] = wsum.get(b, 0) + v
        snaps.append(dict(w))
    return cnt, w, wsum, snaps


def _weights_frame(
    cnt: DataFrame, w: dict[int, int], out_col: str
) -> DataFrame:
    """(bucket, weight) over every bucket OCCUPIED by the corpus —
    buckets no token hashes into can never receive an update and are
    omitted, matching the oracle."""
    spark = cnt.sparkSession
    occupied = cnt.select("bucket").distinct()
    wdf = spark.createDataFrame(
        [(b, v) for b, v in sorted(w.items())], "bucket int, _wv long"
    )
    return occupied.join(wdf, "bucket", "left").select(
        "bucket",
        F.coalesce(F.col("_wv"), F.lit(0)).cast("bigint").alias(out_col),
    )


def confusion_stats(
    df: DataFrame, pred_col: str, truth_col: str
) -> DataFrame:
    """Binary-classifier evaluation in one conditional-sum scan: the
    confusion matrix (tp/fp/fn/tn) plus exact integer ppm
    precision / recall / accuracy — the eval harness the ANN family
    has (``ann_recall_matrix``) applied to the classifier family.
    ``pred_col``/``truth_col`` are 0/1 ints. ZERO-denominator guards
    return 0 (no positive predictions → precision 0, the conservative
    reading). One map-side aggregate, a single output row —
    trivially mergeable across shards (all four cells are sums)."""
    p, t = F.col(pred_col), F.col(truth_col)
    m = df.agg(
        F.sum(p * t).cast("bigint").alias("tp"),
        F.sum(p * (1 - t)).cast("bigint").alias("fp"),
        F.sum((1 - p) * t).cast("bigint").alias("fn"),
        F.sum((1 - p) * (1 - t)).cast("bigint").alias("tn"),
    )
    return m.select(
        "tp",
        "fp",
        "fn",
        "tn",
        F.expr(
            "CAST(CASE WHEN tp + fp = 0 THEN 0 "
            "ELSE (1000000 * tp) DIV (tp + fp) END AS BIGINT)"
        ).alias("precision_ppm"),
        F.expr(
            "CAST(CASE WHEN tp + fn = 0 THEN 0 "
            "ELSE (1000000 * tp) DIV (tp + fn) END AS BIGINT)"
        ).alias("recall_ppm"),
        F.expr(
            "CAST((1000000 * (tp + tn)) DIV (tp + fp + fn + tn) AS BIGINT)"
        ).alias("accuracy_ppm"),
    )


def training_cartography(
    docs: DataFrame,
    label_expr,
    snap_frames: list[DataFrame],
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = 64,
) -> DataFrame:
    """Dataset cartography over the perceptron's training dynamics
    (Swayamdipta et al. 2020, "Dataset Cartography"): score every
    document under each POST-EPOCH weight snapshot, take the signed
    margin m_e = (2y-1) * s_e, and map the corpus by

    - ``conf_num``  = sum_e m_e          (confidence numerator),
    - ``var_num``   = E * sum m_e^2 - (sum m_e)^2  (variability
      numerator — population-variance x E^2, >= 0),
    - ``region``    = 'easy' (every margin positive) / 'hard' (none
      positive) / 'ambiguous' (sign flips across epochs) — the
      label-error / hard-example candidates a curation pass reviews.

    Exactness: margins are integer bucket-count dot products with the
    integer snapshot weights; the variance products are lifted to
    DECIMAL(38,0) (ols rule). Scale: one token-grain pass builds the
    per-doc bucket counts; each epoch is a broadcast model join +
    doc-grain partial agg (the classifier-family license); docs with
    no tokens score 0 in every epoch on both engines.
    """
    cnt = (
        token_buckets(docs, text_col, id_col, buckets)
        .groupBy(id_col, "bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("_c"))
    )
    lab = docs.select(
        F.col(id_col),
        (
            F.when(F.coalesce(label_expr.cast("bigint"), F.lit(0)) == 1, 1)
            .otherwise(-1)
        )
        .cast("bigint")
        .alias("_pm"),
    )
    out = lab
    for e, wdf in enumerate(snap_frames, start=1):
        se = (
            cnt.join(
                F.broadcast(wdf.select("bucket", F.col("we").alias("_we"))),
                "bucket",
            )
            .groupBy(id_col)
            .agg(F.sum(F.col("_we") * F.col("_c")).alias(f"_s{e}"))
        )
        out = out.join(se, id_col, "left").withColumn(
            f"_m{e}",
            F.col("_pm") * F.coalesce(F.col(f"_s{e}"), F.lit(0)),
        )
    ms = [F.col(f"_m{e}") for e in range(1, len(snap_frames) + 1)]
    e_n = len(snap_frames)
    dec = "decimal(38,0)"
    conf = ms[0]
    sq = ms[0].cast(dec) * ms[0].cast(dec)
    for m in ms[1:]:
        conf = conf + m
        sq = sq + m.cast(dec) * m.cast(dec)
    var_num = (F.lit(e_n).cast(dec) * sq - conf.cast(dec) * conf.cast(dec))
    region = (
        F.when(F.least(*ms) > 0, F.lit("easy"))
        .when(F.greatest(*ms) <= 0, F.lit("hard"))
        .otherwise(F.lit("ambiguous"))
    )
    return out.select(
        F.col(id_col),
        conf.cast("bigint").alias("conf_num"),
        var_num.cast("bigint").alias("var_num"),
        region.alias("region"),
    )



def classifier_scores(
    docs: DataFrame,
    weights: DataFrame,
    weight_col: str = "w_avg",
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = 64,
) -> DataFrame:
    """(id, score) for every document under a trained weight frame —
    integer bucket-count dot products, broadcast model join, docs
    with no tokens score 0 via the left join. The shared scoring
    surface for uncertainty_sample_topk / psm_att."""
    cnt = (
        token_buckets(docs, text_col, id_col, buckets)
        .groupBy(id_col, "bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("_c"))
    )
    scores = (
        cnt.join(
            F.broadcast(
                weights.select("bucket", F.col(weight_col).alias("_w"))
            ),
            "bucket",
        )
        .groupBy(id_col)
        .agg(F.sum(F.col("_w") * F.col("_c")).alias("_s"))
    )
    return docs.select(id_col).join(scores, id_col, "left").select(
        F.col(id_col),
        F.coalesce(F.col("_s"), F.lit(0)).cast("bigint").alias("score"),
    )


def uncertainty_sample_topk(
    docs: DataFrame,
    weights: DataFrame,
    k: int = 32,
    weight_col: str = "w_avg",
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = 64,
) -> DataFrame:
    """Margin-based active-learning acquisition (Lewis & Gale 1994,
    uncertainty sampling): the ``k`` documents whose classifier score
    sits CLOSEST to the decision boundary — the rows a labeling pass
    reviews first. Scores are integer bucket-count dot products with
    the trained model; docs with no tokens score 0 (maximal
    uncertainty) and are included via the left join.

    Output (``k`` rows): ``doc_id``, ``score`` (signed),
    ``abs_score``. Selection is orderBy(abs, id) + limit — the
    distributed TakeOrderedAndProject top-k, no window.
    """
    scored = classifier_scores(
        docs, weights, weight_col, text_col, id_col, buckets
    )
    return (
        scored.withColumn("abs_score", F.abs(F.col("score")))
        .orderBy(F.col("abs_score").asc(), F.col(id_col).asc())
        .limit(k)
    )
