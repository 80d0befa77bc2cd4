"""Pretraining-data curation: the composed flagships, sampling, mixing,
splits and packing."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
import pyspark.sql.functions as F

from sea_express_customs_etl_spark.operators.augment import (
    span_corruption,
    word_dropout,
)
from sea_express_customs_etl_spark.operators.bpe import FIXED_MERGES
from sea_express_customs_etl_spark.operators.calibrate import (
    preference_pairs,
    quantile_normalize,
)
from sea_express_customs_etl_spark.operators.dedup import dedup_clusters, shingles
from sea_express_customs_etl_spark.operators.dispersion import corpus_balance
from sea_express_customs_etl_spark.operators.dsir import dsir_pipeline, token_buckets
from sea_express_customs_etl_spark.operators.lm import lm_score, perplexity_gain
from sea_express_customs_etl_spark.operators.memorization import memorization_scores
from sea_express_customs_etl_spark.operators.packing import (
    chunk_documents,
    pack_sequences,
)
from sea_express_customs_etl_spark.operators.ranking import (
    global_rank,
    ntile_by_rank,
    round_robin_shards,
)
from sea_express_customs_etl_spark.operators.reweight import domain_reweight_mw
from sea_express_customs_etl_spark.operators.sampling import (
    domain_mix,
    group_kfold,
    group_reservoir_sample,
    hash_sample,
    hash_split,
    hex_threshold,
    neyman_allocation_sample,
    pps_systematic_sample,
    split_srm_check,
    stratified_exact,
    temperature_allocation,
    unimax_alloc,
)
from sea_express_customs_etl_spark.plans import (
    oracles_ext as ext,
    oracles_r10 as r10,
    oracles_r9 as r9,
    oracles_wab as wab,
)
from sea_express_customs_etl_spark.plans.cache import (
    tracked_persist as _tracked_persist,
)
from sea_express_customs_etl_spark.plans.curation import curation_pipeline
from sea_express_customs_etl_spark.plans.oracles_ext import pretrain_prep_sql
from sea_express_customs_etl_spark.plans.oracles_pretrain_e2e import (
    pretrain_e2e_datacard_sql,
    pretrain_e2e_sql,
)
from sea_express_customs_etl_spark.plans.pretrain import pretrain_prep
from sea_express_customs_etl_spark.plans.pretrain_e2e import (
    pretrain_e2e,
    pretrain_e2e_datacard,
)
from sea_express_customs_etl_spark.plans.standins import load_table
from sea_express_customs_etl_spark.queries import query
from sea_express_customs_etl_spark.queries.shared import (
    _docs,
    _emb,
    _lm_scored_by_source,
    _pretrain_shared,
    _pretrain_stage,
    _shared_text_pairs,
    _tok_dict,
    _trained_en_perceptron,
)


@query(
    oracle=ext.CURATION_PIPELINE_SQL.format(
        t_train=hex_threshold(0.8), t_val=hex_threshold(0.9)
    )
)
def _q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed curation flagship over the documents corpus."""
    return curation_pipeline(_docs(spark, sf_dir))


@query(oracle=pretrain_e2e_sql())
def _q_pretrain_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship composition #3 (r9 VERDICT #4) — the FULL production
    pretraining-data run as ONE checked lineage: integrity quarantine →
    Gopher gate → multi-signal dedup (exact ∪ MinHash-LSH ∪
    embedding-SRP, one component pass) → benchmark decontamination →
    UniMax mix (budget = 70 % of survivors, ≤2 epochs/source) →
    BPE learned ON the selection → 512-token pack → per-(shard, bin)
    manifest. One DuckDB statement re-derives everything including the
    merge-training trajectory (plans/oracles_pretrain_e2e.py). The
    selection chain runs once per session into the staging table
    (_pretrain_shared); encode + pack read it back."""
    m = _pretrain_shared(spark, sf_dir)
    return pretrain_e2e(
        spark,
        _docs(spark, sf_dir),
        _emb(spark, sf_dir),
        merges=m["merges"],
        sel=_pretrain_stage(spark, m, 5),
    )


@query(oracle=pretrain_e2e_datacard_sql())
def _q_pretrain_e2e_datacard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The e2e flagship's DATACARD: one row per raw source with the
    count surviving each stage (raw → gated → exact → kept → clean →
    UniMax alloc → selected → BPE tokens shipped) — the governance
    funnel a corpus release publishes, re-derived by the SAME oracle
    WITH-chain as the manifest so the card can never drift from the
    pipeline it describes. Counts the stage frames read back from the
    session staging table (_pretrain_shared — same rows by
    construction) and shares the session's learned merges."""
    m = _pretrain_shared(spark, sf_dir)
    stages = {
        "gated": _pretrain_stage(spark, m, 1),
        "exact": _pretrain_stage(spark, m, 2),
        "kept": _pretrain_stage(spark, m, 3),
        "clean": _pretrain_stage(spark, m, 4),
        "sel": _pretrain_stage(spark, m, 5),
        "alloc": spark.createDataFrame(
            m["alloc"], "source string, alloc bigint"
        ),
    }
    return pretrain_e2e_datacard(
        spark,
        _docs(spark, sf_dir),
        _emb(spark, sf_dir),
        merges=m["merges"],
        stages=stages,
    )


@query(oracle=ext.PPS_SAMPLE_SQL)
def _q_pps_length_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic PPS systematic sample: exactly 100 picks over
    documents proportional to token count — the 'sample training docs
    by length/quality mass' op, in exact integer arithmetic (global
    two-phase cumsum, map-only closed-form pick counting)."""
    docs = _docs(spark, sf_dir)
    weighted = docs.select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("n_tokens"),
    )
    return pps_systematic_sample(weighted, k=100, weight_col="n_tokens")


@query(oracle=r9.perplexity_gain_sql(ext.LM_SCORE_SQL, ext.TRIGRAM_BACKOFF_SQL))
def _q_perplexity_gain_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moore–Lewis contrastive-perplexity selection (Moore & Lewis
    2010): held-out (odd) docs ranked by mean bigram NLL minus mean
    stupid-backoff trigram NLL — the cross-entropy-difference filter
    CCNet/DSIR descend from, composed from the two existing LM
    scorers. Negate-first signed DIVs, top-100 under (gain DESC, id)
    via TakeOrderedAndProject."""
    return perplexity_gain(_docs(spark, sf_dir), top_k=100)


@query(oracle=r10.NEYMAN_SAMPLE_SQL)
def _q_neyman_allocation_sample(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Neyman-optimal stratified order sample: budget ceil(N/30)
    allocated across order priorities by N_h*sd_h (exact integer sd
    via corrected isqrt), largest-remainder rounded, drawn by the
    two-phase md5 rank — the checksum columns pin exact membership."""
    return neyman_allocation_sample(
        load_table(spark, sf_dir, "orders"),
        strata_col="o_orderpriority",
        cents_col=F.expr("CAST(round(o_totalprice * 100) AS BIGINT)"),
        key_col="o_orderkey",
    )


@query(oracle=r10.domain_reweight_sql(5))
def _q_domain_reweight_mw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned domain mixture: 5 multiplicative-weights rounds on
    per-domain corpus-unigram loss (DoReMi's adaptive-mixture idea
    with the AHK linearized update), largest-remainder ppm
    normalization each round — a genuine integer trajectory hash.
    One corpus pass; every round runs at |domains| grain."""
    return domain_reweight_mw(_docs(spark, sf_dir), rounds=5)


@query(oracle=ext.GROUP_KFOLD_SQL)
def _q_group_kfold_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GroupKFold over near-dup clusters: deterministic md5 fold
    assignment on the cluster label, so no near-duplicate pair
    straddles a CV boundary — the k-fold sibling of
    cluster_safe_split, with membership checksums per fold."""
    docs = _docs(spark, sf_dir)
    # near-dup pairs from the session's shared LSH-verified table
    pairs = _shared_text_pairs(spark, sf_dir).select("id_a", "id_b")
    labels = dedup_clusters(docs, pairs).select("doc_id", "cluster_id")
    return group_kfold(labels, k=5)


@query(oracle=r10.split_srm_sql(hex_threshold(0.8), hex_threshold(0.9)))
def _q_split_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch audit of the 80/10/10 hash split — the
    pre-flight every experiment platform runs; chi-square of observed
    counts vs intended ppm, all-integer terms. One map-side
    assignment + one split-grain count."""
    return split_srm_check(_docs(spark, sf_dir))


@query(oracle=r10.CORPUS_BALANCE_SQL)
def _q_corpus_balance_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl concentration + effective source count + max share
    of the corpus mixture — the balance alarm a mixing pipeline
    watches (effective_sources collapsing toward 1 means one domain
    swallowed the mix). One group-grain agg + 1-row rollup."""
    return corpus_balance(_docs(spark, sf_dir))


@query(
    oracle=ext.CLUSTER_SAFE_SPLIT_SQL.format(
        t_train=hex_threshold(0.8),
        t_val=hex_threshold(0.9),
    )
)
def _q_cluster_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leak-proof train/val/test split: hash_split keyed on the
    near-dup CLUSTER label instead of the doc id, so no near-duplicate
    pair ever straddles a split boundary — the assignment a pipeline
    needs when it keeps duplicates (for weighting) rather than
    dropping them (curation_pipeline's mode)."""
    docs = _docs(spark, sf_dir)
    # near-dup pairs from the session's shared LSH-verified table
    pairs = _shared_text_pairs(spark, sf_dir).select("id_a", "id_b")
    labels = dedup_clusters(docs, pairs).select("doc_id", "cluster_id")
    return hash_split(
        labels,
        {"train": 0.8, "val": 0.1, "test": 0.1},
        key_col="cluster_id",
        salt="split",
    )


@query(
    oracle=ext.SPLIT_LEAKAGE_AUDIT_SQL.format(
        t_train=hex_threshold(0.8),
        t_val=hex_threshold(0.9),
    )
)
def _q_split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test contamination audit (r8): every verified near-dup
    pair tagged with its endpoints' split assignments under BOTH
    policies — naive doc-id-keyed hashing vs the cluster-keyed
    `cluster_safe_split` — aggregated to (policy, split_a, split_b,
    n_pairs). The cluster policy's invariant (no pair straddles a
    boundary: both endpoints share a cluster ⇒ share a split) and the
    naive policy's measured leakage are both pinned by ONE gate hash;
    the audit a pipeline runs before trusting its held-out numbers.
    Same near-dup machinery as cluster_safe_split, one extra
    broadcast-size join + a 2×|pairs| aggregation."""
    docs = _docs(spark, sf_dir)
    # verified pairs from the session's shared table (joined twice —
    # a table scan each, no recompute)
    pairs = _shared_text_pairs(spark, sf_dir).select("id_a", "id_b")
    labels = dedup_clusters(docs, pairs).select("doc_id", "cluster_id")
    w = {"train": 0.8, "val": 0.1, "test": 0.1}
    # pinned: joined twice (once per pair endpoint)
    sp = _tracked_persist(
        hash_split(
            hash_split(labels, w, key_col="doc_id", salt="split")
            .withColumnRenamed("split", "s_doc"),
            w,
            key_col="cluster_id",
            salt="split",
        )
        .withColumnRenamed("split", "s_cluster")
        .select("doc_id", "s_doc", "s_cluster")
    )
    a = sp.select(
        F.col("doc_id").alias("id_a"),
        F.col("s_doc").alias("_da"),
        F.col("s_cluster").alias("_ca"),
    )
    b = sp.select(
        F.col("doc_id").alias("id_b"),
        F.col("s_doc").alias("_db"),
        F.col("s_cluster").alias("_cb"),
    )
    tagged = (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .select(
            F.explode(
                F.array(
                    F.struct(
                        F.lit("by_doc").alias("policy"),
                        F.least("_da", "_db").alias("split_a"),
                        F.greatest("_da", "_db").alias("split_b"),
                    ),
                    F.struct(
                        F.lit("by_cluster").alias("policy"),
                        F.least("_ca", "_cb").alias("split_a"),
                        F.greatest("_ca", "_cb").alias("split_b"),
                    ),
                )
            ).alias("_t")
        )
        .select("_t.policy", "_t.split_a", "_t.split_b")
    )
    return tagged.groupBy("policy", "split_a", "split_b").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs")
    )


@query(oracle=ext.CORPUS_DATACARD_SQL)
def _q_corpus_datacard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datasheet-for-datasets snapshot: per (lang, source) slice —
    doc count, token mass, integer average length, corpus share in
    ppm, exact-duplicate count. One partial-aggregated pass over the
    corpus + a digest-grained dup join; the 1-row total joins in as a
    broadcast scalar. Every figure integer-exact."""
    docs = _docs(spark, sf_dir)
    d = docs.select(
        "doc_id",
        "lang",
        "source",
        F.size(F.split(F.trim(F.col("text")), r"\s+"))
        .cast("bigint")
        .alias("_nt"),
        F.md5(F.col("text")).alias("_h"),
    )
    total = d.agg(F.count(F.lit(1)).cast("bigint").alias("_total"))
    dup = (
        d.groupBy("_h")
        .agg(F.count(F.lit(1)).alias("_c"))
        .filter(F.col("_c") > 1)
        .select("_h", F.lit(1).alias("_isdup"))
    )
    return (
        d.join(F.broadcast(total))
        .join(dup, "_h", "left")
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("_nt").cast("bigint").alias("total_tokens"),
            F.expr("sum(_nt) DIV count(1)").cast("bigint").alias("avg_tokens"),
            F.expr("(count(1) * 1000000) DIV max(_total)")
            .cast("bigint")
            .alias("share_ppm"),
            F.sum(F.coalesce(F.col("_isdup"), F.lit(0)))
            .cast("bigint")
            .alias("n_dup_docs"),
        )
    )


@query(oracle=ext.WORD_DROPOUT_SQL.format(t=hex_threshold(0.15)))
def _q_word_dropout_aug(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic T5-style word dropout (15%): positional md5
    replaces randomness so the corruption replays bit-for-bit across
    engines, retries, and partitionings — map-only, the token array
    never leaves its row. The corrupted TEXT itself is hash-checked."""
    return word_dropout(_docs(spark, sf_dir), drop_fraction=0.15)


@query(oracle=ext.SPAN_CORRUPTION_SQL.format(t=hex_threshold(0.15)))
def _q_span_corruption_aug(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5 span-corruption denoising objective as data prep (r8):
    i.i.d.-by-hash masking merged into spans, one <extra_id_k>
    sentinel per span in the input, sentinel+hidden-tokens in the
    target — deterministic (positional md5), so corrupted INPUT and
    TARGET strings both hash-check; changing the salt re-corrupts per
    epoch for free. One explode + per-DOC window + regroup."""
    return span_corruption(_docs(spark, sf_dir), corrupt_fraction=0.15)


@query(oracle=ext.CLUSTER_CAP_SAMPLE_SQL)
def _q_cluster_cap_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeat-capped dedup (r8): keep at most K=2 members per near-dup
    cluster, chosen by deterministic md5 order — the middle ground
    between keep-one dedup and keep-all weighting (production corpora
    often retain a bounded number of near-duplicates: some repetition
    helps, unbounded repetition memorizes; cf. the dedup guidance in
    Lee et al. 2022). Kept rows only, with their within-cluster rank;
    row_number-then-filter keeps the WindowGroupLimit shape (map-side
    partial top-K per cluster)."""
    docs = _docs(spark, sf_dir)
    # near-dup pairs from the session's shared LSH-verified table
    pairs = _shared_text_pairs(spark, sf_dir).select("id_a", "id_b")
    labels = dedup_clusters(docs, pairs).select("doc_id", "cluster_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.md5(F.concat(F.lit("cap"), F.col("doc_id").cast("string"))),
        F.col("doc_id"),
    )
    return (
        labels.withColumn("kept_rank", F.row_number().over(w))
        .filter(F.col("kept_rank") <= 2)
        .select("doc_id", "cluster_id", "kept_rank")
    )


@query(oracle=ext.UNIMAX_SQL)
def _q_unimax_mix_alloc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax mixture allocation (budget 700 rows, <=2 epochs per
    source): epoch-capped waterfill with exact largest-remainder
    apportionment of the uncapped tail — the tuning-free successor to
    temperature_mix_alloc (operators/sampling.py:unimax_alloc)."""
    return unimax_alloc(_docs(spark, sf_dir), "source", budget=700)


@query(oracle=ext.QUANTILE_NORM_SQL)
def _q_source_quantile_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source quantile normalization of the bigram-LM document
    scores: rank-matched to the global distribution in exact integer
    rank arithmetic, so per-source score scales become comparable
    before mixing/filtering (operators/calibrate.py:
    quantile_normalize). The scored frame is persisted — it feeds both
    the per-source window pass and the global rank."""
    scored = _tracked_persist(_lm_scored_by_source(spark, sf_dir))
    return quantile_normalize(
        scored, group_col="source", score_col="logprob_u6"
    )


@query(oracle=ext.PREFERENCE_PAIRS_SQL)
def _q_preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source (chosen, rejected) preference pairs by bigram-LM
    score — the DPO/reward-model data-prep extraction, argmax/argmin
    per group in two WindowGroupLimit passes with exact margins
    (operators/calibrate.py:preference_pairs)."""
    scored = _tracked_persist(_lm_scored_by_source(spark, sf_dir))
    return preference_pairs(
        scored, group_col="source", score_col="logprob_u6"
    )


@query(oracle=ext.DOC_NOVELTY_GAIN_SQL)
def _q_doc_novelty_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marginal-diversity scoring for data selection: per document,
    the fraction of its distinct 3-gram shingles that are
    corpus-UNIQUE (df = 1) — near-dup family members score near zero,
    genuinely novel text near 10⁶ ppm; the rank signal for
    diversity-greedy selection (the facility-coreset objective at
    shingle grain). One shingle explode + one df aggregation + one
    doc-grain rollup, all partial-agg shuffles."""
    docs = _docs(spark, sf_dir)
    # consumed by both the df aggregation and the per-doc join — pin
    # it or the shingle explode + distinct shuffle runs twice
    sh = _tracked_persist(shingles(docs).distinct())
    dfreq = sh.groupBy("shingle").agg(
        F.count(F.lit(1)).cast("bigint").alias("_df")
    )
    per_doc = (
        sh.join(dfreq, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
            F.sum((F.col("_df") == 1).cast("bigint"))
            .cast("bigint")
            .alias("n_unique"),
        )
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_shingles", F.lit(0))
            .cast("bigint")
            .alias("n_shingles"),
            F.coalesce("n_unique", F.lit(0))
            .cast("bigint")
            .alias("n_unique"),
            F.expr(
                "CAST(CASE WHEN coalesce(n_shingles, 0) = 0 THEN 0"
                " ELSE (1000000 * n_unique) DIV n_shingles END AS BIGINT)"
            ).alias("novelty_ppm"),
        )
    )


@query(oracle=ext.VOCAB_COVERAGE_SQL)
def _q_vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-budget sizing curve: corpus token coverage of the
    top-k vocabulary at k ∈ {64, 256, 1024, 4096} — what fraction of
    running tokens a k-type vocab explains (the Heaps/Zipf readout a
    vocab-size decision reads). Token ranks come from the two-phase
    ``global_rank`` under the total order (freq DESC, token ASC); the
    cumulative mass runs on the ≤4096-row TOP slice only (model-sized
    window license), so nothing corpus-sized funnels through one
    partition."""
    freq = (
        _docs(spark, sf_dir)
        .select(
            F.explode(
                F.filter(
                    F.split(F.trim(F.lower(F.col("text"))), r"\s+"),
                    lambda x: x != "",
                )
            ).alias("tok")
        )
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
    )
    ranked = global_rank(
        freq, [F.col("freq").desc(), F.col("tok").asc()], rank_col="_r"
    )
    top = ranked.filter(F.col("_r") <= 4096).withColumn(
        "_cum",
        F.sum("freq").over(
            Window.orderBy("_r").rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    tot = freq.agg(
        F.sum("freq").cast("bigint").alias("total"),
        F.count(F.lit(1)).cast("bigint").alias("_n_types"),
    )
    ks = spark.createDataFrame(
        [(64,), (256,), (1024,), (4096,)], "vocab_k int"
    )
    return (
        ks.crossJoin(F.broadcast(tot))
        .withColumn("_target", F.least(F.col("vocab_k"), F.col("_n_types")))
        .join(
            top.select(F.col("_r").alias("_target"), "_cum"), "_target"
        )
        .select(
            "vocab_k",
            F.col("_target").cast("bigint").alias("n_types_used"),
            F.col("_cum").cast("bigint").alias("covered"),
            "total",
            F.expr("CAST((1000000 * _cum) DIV total AS BIGINT)").alias(
                "coverage_ppm"
            ),
        )
    )


@query(oracle=ext.LM_SLICE_REPORT_SQL)
def _q_lm_slice_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(lang, source) corpus-quality report from the bigram-LM
    scores: document count, bigram mass, and the mean per-bigram
    negative log-likelihood in micro-units — which slices read as
    fluent vs word salad, the mixing-table quality column. The mean is
    computed as (−Σ logprob) DIV Σ bigrams on the POSITIVE numerator
    so both engines' integer division agrees regardless of their
    negative-operand rounding convention."""
    docs = _docs(spark, sf_dir)
    s = lm_score(docs).join(
        docs.select("doc_id", "lang", "source"), "doc_id"
    )
    return (
        s.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_bigrams").cast("bigint").alias("total_bigrams"),
            F.sum("logprob_u6").cast("bigint").alias("sum_logprob_u6"),
        )
        .select(
            "lang",
            "source",
            "n_docs",
            "total_bigrams",
            "sum_logprob_u6",
            F.expr(
                "CAST(CASE WHEN total_bigrams = 0 THEN 0"
                " ELSE (-sum_logprob_u6) DIV total_bigrams END AS BIGINT)"
            ).alias("mean_nll_u6"),
        )
    )


@query(oracle=ext.DEDUP_RATE_BY_SOURCE_SQL)
def _q_dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source duplication scorecard: how much of each source is
    exact-duplicated (md5 digest multiplicity > 1) and near-duplicated
    (endpoint of any LSH-candidate pair verified at Jaccard ≥ 0.5) —
    the column a mixing/acquisition decision reads ("source X is 40%
    recycled"). Composes the checked exact-dedup digest grouping with
    the checked LSH → verify pipeline; membership only, no cluster
    closure needed (an endpoint test is exact for 'has a near-dup')."""
    docs = _docs(spark, sf_dir)
    dig = docs.select("doc_id", "source", F.md5("text").alias("_d"))
    sizes = dig.groupBy("_d").agg(F.count(F.lit(1)).alias("_n"))
    # verified pairs from the session's shared table (both endpoint
    # unions read it — a table scan each, no recompute)
    vp = _shared_text_pairs(spark, sf_dir)
    ends = (
        vp.select(F.col("id_a").alias("doc_id"))
        .unionByName(vp.select(F.col("id_b").alias("doc_id")))
        .distinct()
        .withColumn("_near", F.lit(1).cast("bigint"))
    )
    return (
        dig.join(sizes, "_d")
        .join(ends, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum((F.col("_n") > 1).cast("bigint"))
            .cast("bigint")
            .alias("n_exact_dup"),
            F.sum(F.coalesce(F.col("_near"), F.lit(0)))
            .cast("bigint")
            .alias("n_near_dup"),
        )
        .select(
            "source",
            "n_docs",
            "n_exact_dup",
            "n_near_dup",
            F.expr("(1000000 * n_exact_dup) DIV n_docs").alias("exact_ppm"),
            F.expr("(1000000 * n_near_dup) DIV n_docs").alias("near_ppm"),
        )
    )


@query(oracle=ext.LEARNED_QUALITY_FILTER_SQL)
def _q_learned_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train → apply in one plan: the 3-epoch integer perceptron's
    trained weights score every document (broadcast model join + one
    partial-aggregated sum) and the gate keeps score > 0 — the full
    learned-quality-filter loop a pretraining pipeline runs, composed
    and hash-checked as ONE statement. Weights come from the session's
    single shared training run (_trained_en_perceptron memo)."""
    docs = _docs(spark, sf_dir)
    w = _trained_en_perceptron(spark, sf_dir)
    cnt = (
        token_buckets(docs, buckets=64)
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("_c"))
    )
    score = (
        cnt.join(F.broadcast(w), "bucket")
        .groupBy("doc_id")
        .agg(F.sum(F.col("w") * F.col("_c")).alias("_score"))
    )
    return docs.select("doc_id").join(score, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("_score"), F.lit(0)).cast("bigint").alias("score"),
        (F.coalesce(F.col("_score"), F.lit(0)) > 0).cast("int").alias("kept"),
    )


@query(oracle=wab.GROUP_RESERVOIR_SAMPLE_SQL)
def _q_group_reservoir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k=7 reservoir per event type: min-k md5 order —
    fixed-count uniform sampling with nested-sample property."""
    return group_reservoir_sample(
        load_table(spark, sf_dir, "events"), "event_type", "event_id", k=7
    )


@query(oracle=ext.CHUNK_DOCUMENTS_SQL)
def _q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return chunk_documents(_docs(spark, sf_dir), chunk_chars=256, overlap=64)


@query(oracle=ext.PACK_SEQUENCES_SQL)
def _q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = _docs(spark, sf_dir).select(
        "doc_id",
        F.ceil(F.length("text") / 4.0).cast("bigint").alias("n_tokens"),
    )
    return pack_sequences(toks, seq_len=512, num_shards=4)


@query(oracle=pretrain_prep_sql(FIXED_MERGES))
def _q_pretrain_prep_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed flagship #2 (tokenization side): quality gate → real
    BPE tokenization (pinned merges, actual token counts) → 512-token
    sequence packing — the 'raw corpus → training batches' composition,
    hash-checked as ONE DuckDB statement."""
    return pretrain_prep(
        _docs(spark, sf_dir),
        enc=_tok_dict(spark, sf_dir, "bpe_fixed"),
    )


@query(oracle=ext.STRATIFIED_SAMPLE_SQL)
def _q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stratified_exact(
        _docs(spark, sf_dir).select("doc_id", "lang"), "lang", 20
    )


@query(
    oracle=ext.HASH_SAMPLE_SPLIT_SQL.format(
        t=hex_threshold(0.25),
        t_train=hex_threshold(0.8),
        t_val=hex_threshold(0.9),
    )
)
def _q_hash_sample_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed deterministic draw: 25% hash-sample of the corpus, then
    an 80/10/10 split of the SAMPLE under a different salt — the salt
    is what makes the two decisions independent (same-salt composition
    would put every sampled row in 'train', since sample membership
    already pins the hash prefix below 0.25 < 0.8)."""
    return hash_split(
        hash_sample(
            _docs(spark, sf_dir).select("doc_id", "lang", "source", "n_chars"),
            0.25,
        ),
        {"train": 0.8, "val": 0.1, "test": 0.1},
        salt="split",
    )


@query(oracle=ext.DOMAIN_MIX_SQL)
def _q_domain_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture resampling to target domain weights (no upsampling):
    src0-3 at 40/30/20/10% of the achievable budget, other sources
    dropped. Hash membership is engine-portable (md5-prefix vs a
    count-derived numeric threshold)."""
    return domain_mix(
        _docs(spark, sf_dir).select("doc_id", "lang", "source"),
        {"src0": 0.4, "src1": 0.3, "src2": 0.2, "src3": 0.1},
    )


@query(oracle=ext.DSIR_SCORES_SQL)
def _q_dsir_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weighting toward the English slice — hashed-token
    buckets, integer Laplace ratios, integer sums."""
    docs = _docs(spark, sf_dir)
    return dsir_pipeline(docs, docs.filter(F.col("lang") == "en"))


@query(oracle=ext.LM_TERCILES_SQL)
def _q_lm_terciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail perplexity buckets via a DISTRIBUTED global rank
    (no single-partition window funnel)."""
    scored = lm_score(_docs(spark, sf_dir)).withColumn(
        "_avg",
        F.col("logprob_u6").cast("double")
        / F.greatest(F.col("n_bigrams"), F.lit(1)),
    )
    ranked = global_rank(scored, [F.col("_avg").desc(), F.col("doc_id")])
    return ntile_by_rank(ranked, 3).select("doc_id", "bucket")


@query(oracle=ext.CURRICULUM_SHARDS_SQL)
def _q_curriculum_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difficulty-stratified sharding: docs ranked by avg bigram
    logprob (the lm_terciles order, two-phase global rank) and dealt
    round-robin into 8 shards — every shard gets the same difficulty
    distribution, the curriculum complement of hash_split."""
    scored = lm_score(_docs(spark, sf_dir)).withColumn(
        "_avg",
        F.col("logprob_u6").cast("double")
        / F.greatest(F.col("n_bigrams"), F.lit(1)),
    )
    ranked = global_rank(
        scored, [F.col("_avg").desc(), F.col("doc_id")], rank_col="rnk"
    )
    return round_robin_shards(ranked, 8, rank_col="rnk").select(
        "doc_id", F.col("rnk").cast("bigint").alias("rnk"), "shard"
    )


@query(oracle=ext.TEMPERATURE_MIX_ALLOC_SQL)
def _q_temperature_mix_alloc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture design: α=1/2 temperature weights (exact integer isqrt)
    + largest-remainder apportionment of a 10,000-doc budget across
    sources — Σ alloc = budget exactly."""
    return temperature_allocation(_docs(spark, sf_dir), "source", 10_000)


@query(oracle=wab.MEMORIZATION_SCORES_SQL)
def _q_memorization_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-eval-doc novelty vs the train split's shingle dictionary —
    the measurement form of decontaminate (leakage quantification)."""
    return memorization_scores(load_table(spark, sf_dir, "documents"))
