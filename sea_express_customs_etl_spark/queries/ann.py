"""Vector search: flat, IVF, PQ, SQ8 and trained indexes, reranking,
coresets, k-NN and retrieval evaluation."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
import pyspark.sql.functions as F

from sea_express_customs_etl_spark.operators.bm25 import FIXED_QUERIES
from sea_express_customs_etl_spark.operators.clustereval import kmeans_label_ari
from sea_express_customs_etl_spark.operators.coreset import (
    facility_location_from_sims,
    facility_location_select,
)
from sea_express_customs_etl_spark.operators.dedup import (
    dedup_clusters,
    embedding_near_dups,
    ivf_near_dups,
)
from sea_express_customs_etl_spark.operators.graph import centroid_affinity
from sea_express_customs_etl_spark.operators.knn import knn_label_vote
from sea_express_customs_etl_spark.operators.knn_adc import (
    hard_negative_mining,
    knn_adc_vote,
)
from sea_express_customs_etl_spark.operators.mmr import (
    mmr_rerank,
    mmr_rerank_from_candidates,
)
from sea_express_customs_etl_spark.operators.pca import (
    pca_component_df,
    pca_label_anova,
    pca_project,
)
from sea_express_customs_etl_spark.operators.pq import (
    ivfpq_topk,
    ivfpq_trained_topk,
    pq_adc_topk,
    pq_codebook,
    pq_encode,
)
from sea_express_customs_etl_spark.operators.retrieval_eval import (
    NDCG_DISC_PPM,
    RBO10_DENOM,
    RBO10_SUFFIX_W,
    binary_truth,
    dcg_ppm,
    graded_truth,
    ideal_dcg_ppm,
    map_mrr,
    rbo_overlap,
)
from sea_express_customs_etl_spark.operators.rp import random_project, srp_near_dups
from sea_express_customs_etl_spark.operators.similarity import (
    _dot,
    brute_force_topk,
    cosine,
    ivf_topk,
    ivf_topk_q,
    kmeans_fit_q,
    pool_embeddings_q,
    refine_exact_topk,
    with_norm,
)
from sea_express_customs_etl_spark.operators.sq import sq8_encode, sq8_topk
from sea_express_customs_etl_spark.plans import (
    oracles_coreset as ocs,
    oracles_ext as ext,
    oracles_mmr as omr,
    oracles_r10 as r10,
    oracles_r9 as r9,
    oracles_r9b as r9b,
)
from sea_express_customs_etl_spark.plans.cache import (
    tracked_persist as _tracked_persist,
)
from sea_express_customs_etl_spark.plans.oracles_ext import bm25_sql, rrf_sql
from sea_express_customs_etl_spark.plans.oracles_r9 import (
    ranking_rbo_sql,
    retrieval_map_mrr_sql,
    retrieval_ndcg_sql,
)
from sea_express_customs_etl_spark.queries import query
from sea_express_customs_etl_spark.queries.shared import (
    _ann_model,
    _ann_shared_store,
    _docs,
    _emb,
    _pca_cached,
    _retrieval_rows,
    _retrieval_systems_cached,
)
from sea_express_customs_etl_spark.streaming.ann_store import store_adc_topk


@query(oracle=omr.MMR_RERANK_SQL)
def _q_mmr_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversified re-ranking (Carbonell-Goldstein λ=1/2) over
    each query's exact top-10 cosine candidates: the greedy
    SELECTION TRAJECTORY — every step's integer score, argmax, and
    tie-break — hash-matches an oracle that unrolls the five picks
    into chained CTEs. The retrieval-diversity stage between ANN
    recall and a RAG context window; especially pointed on this
    corpus, whose embedding space is one near-dup family."""
    emb = _emb(spark, sf_dir)
    return mmr_rerank(
        emb, emb.filter(F.col("vec_id") < 10), k_cand=10, k_out=5
    )


@query(oracle=ocs.FACILITY_CORESET_SQL)
def _q_facility_coreset_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Facility-location greedy coreset selection: 4 exemplars from a
    fixed 32-vector pool maximizing total corpus coverage — the
    submodular data-subset-selection op (instruction-data picking,
    exemplar selection), MMR's corpus-side sibling. Nonnegative
    micro-unit integer similarities make every marginal-gain sum and
    argmax exact; the greedy trajectory (winner + gain per step)
    hash-matches the unrolled cover/gain CTE oracle."""
    emb = _emb(spark, sf_dir)
    return facility_location_select(
        emb, emb.filter(F.col("vec_id") < 32), k=4
    )


@query(oracle=ocs.FACILITY_ANN_CORESET_SQL)
def _q_facility_coreset_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN-fed facility-location coreset (VERDICT r8 #6): the greedy
    coverage selection WITHOUT the pool × full-corpus scoring scan —
    the session's trained store proposes each pool member's ADC
    top-200 corpus points, exact clamped micro-cosine refines the
    TOUCHED pairs only, and the greedy loop runs over that sparse
    table (untouched pairs contribute 0 coverage — the sparse-
    candidate approximation, stated identically by the oracle). The
    100 TB path: candidate generation is index work, the per-step
    gain aggregation is |pool|·200 rows instead of |corpus|·|pool|.
    Composition lineage-cut via localCheckpoint before the iterative
    loop (the mmr_ann_rerank plan-string-OOM lesson)."""
    emb = _emb(spark, sf_dir)
    cen, codebook, prefix = _ann_shared_store(spark, sf_dir)
    cand = store_adc_topk(
        spark,
        prefix,
        cen,
        codebook,
        emb.filter(F.col("vec_id") < 32),
        k=200,
        nprobe=2,
    ).select("query_id", "neighbor_id")
    pts = with_norm(emb, "embedding", "vec_id").select(
        F.col("vec_id").alias("_p"),
        F.col("_v").alias("_pv"),
        F.col("_n").alias("_pn"),
    )
    pool = with_norm(
        emb.filter(F.col("vec_id") < 32), "embedding", "vec_id"
    ).select(
        F.col("vec_id").alias("_c"),
        F.col("_v").alias("_cv"),
        F.col("_n").alias("_cn"),
    )
    sim = F.greatest(
        F.lit(0).cast("bigint"),
        F.round(
            F.lit(1_000_000)
            * _dot(F.col("_pv"), F.col("_cv"))
            / (F.col("_pn") * F.col("_cn"))
        ).cast("bigint"),
    )
    # model-sized (≤ 32·200 rows); the lineage CUT keeps the greedy
    # loop's plan at sparse-table size under the store composition
    sims = (
        cand.join(pts, cand.neighbor_id == pts._p)
        .join(F.broadcast(pool), cand.query_id == pool._c)
        .select("_p", "_c", sim.alias("_s"))
        .localCheckpoint()
    )
    return facility_location_from_sims(sims, k=4)


@query(oracle=omr.MMR_ANN_RERANK_SQL)
def _q_mmr_ann_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR riding the trained ANN store (r7 VERDICT #5) — the 100 TB
    diversity path with NO brute-force corpus scan: the incremental
    code store's multi-probe ADC proposes top-200 candidates per
    query, ``refine_exact_topk`` re-ranks them by exact cosine to
    top-10, and the greedy λ=1/2 selection runs at |q|·k² model grain
    over those. All three stages hash-pinned in ONE statement: the
    store ≡ one-shot encode (per-row determinism), the refine ordering
    is the checked rounded cosine, and the selection trajectory
    matches the unrolled per-pick CTEs."""
    emb = _emb(spark, sf_dir)
    # one train + one store build per session (VERDICT r8 #2)
    cen, codebook, prefix = _ann_shared_store(spark, sf_dir)
    # pinned: consumed twice inside the refine (ids + join)
    cand = _tracked_persist(
        store_adc_topk(
            spark,
            prefix,
            cen,
            codebook,
            emb.filter(F.col("vec_id") < 10),
            k=200,
            nprobe=2,
        ).select("query_id", "neighbor_id")
    )
    # localCheckpoint (not persist): the |q|·10-row refined candidate
    # set is model-sized, and TRUNCATING its lineage here keeps the
    # greedy loop's plan at brute-force-MMR size — without it the
    # store→refine→selection logical plan nests multiplicatively and
    # the plan STRING alone OOMs the driver at 8× (probe-caught)
    rel = refine_exact_topk(emb, cand, k=10).select(
        "query_id",
        "neighbor_id",
        F.round(F.col("cosine") * 1_000_000).cast("bigint").alias("rel_u6"),
    ).localCheckpoint()
    return mmr_rerank_from_candidates(emb, rel, k_out=5)


@query(oracle=ext.PQ_TRAINED_CODEBOOK_SQL)
def _q_pq_trained_codebook(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TRAINED PQ model itself as a checked artifact (VERDICT r4
    #3): integer Lloyd's per subspace over micro-unit residuals — every
    codeword component hash-matches the unrolled DuckDB oracle, closing
    the 'training isn't bit-portable' gap of float-mean pq_train.
    The training run itself comes from the session model memo
    (_ann_model — the same pq_train_q recipe, executed once per
    session, shared with the whole trained-index family)."""
    _cen, cb = _ann_model(spark, sf_dir)
    return cb.select(
        "subspace", "code", F.posexplode("cw_u6").alias("pos", "c_u6")
    )


@query(oracle=ext.IVFPQ_TRAINED_TOPK_SQL)
def _q_ivfpq_trained_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFPQ search over the TRAINED integer codebooks — the shipped
    index form: codebooks and results both bit-portable. Codebook from
    the session model memo (one training run per session)."""
    emb = _emb(spark, sf_dir)
    cen, codebook = _ann_model(spark, sf_dir)
    return ivfpq_trained_topk(
        emb,
        cen,
        emb.filter(F.col("vec_id") < 10),
        k=5,
        nprobe=2,
        codebook=codebook,
    )


@query(oracle=ext.ANN_RECALL_MATRIX_SQL)
def _q_ann_recall_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of every approximate index vs brute-force cosine truth
    (VERDICT r4 #7): per (method, query) integer hit counts, so any
    quality regression in the ANN family — a probe-ranking change, a
    quantizer drift, an LUT bug — surfaces as a HASH MISMATCH in the
    gate, not just a property-test failure. The truth table is the
    checked ``cosine_topk`` result re-ranked to its top 5; retrieved
    sets are the checked method plans verbatim.

    Shared-state build (VERDICT r5 #6): ONE persisted embedding scan
    feeds every pipeline, the IVFPQ codebook trains ONCE
    (``ivfpq_residual_codebook``) and is shared by the trained-ADC and
    refined pipelines, and the trained method's top-5 is derived from
    the SAME persisted top-200 candidate frame the refine stage
    consumes — deterministic ordering makes it bit-identical to an
    independent k=5 run, at one pipeline execution instead of four."""
    emb = _tracked_persist(_emb(spark, sf_dir))
    cen = emb.filter(F.col("vec_id") < 16)
    q10 = emb.filter(F.col("vec_id") < 10)

    truth = brute_force_topk(emb, q10, k=10)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    truth5 = (
        truth.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= 5)
        .select("query_id", "neighbor_id", F.lit(1).alias("_t"))
    )

    # the session's one trained model (≡ ivfpq_residual_codebook here
    # by construction — see _ann_model); already a local relation
    _cen_unused, codebook = _ann_model(spark, sf_dir)
    # feeds BOTH the trained top-5 and the refine stage, and is
    # model-sized (|q|·200 rows at ANY corpus size) downstream of a
    # multi-stage composition — localCheckpoint, not persist: the
    # lineage CUT keeps the refine/union/jaccard plan from dragging
    # the whole IVFPQ train+encode subtree into every consumer's
    # plan string (the mmr_ann_rerank rule; r11 probe 13.0 → 9.8 s
    # same-session)
    adc50 = (
        ivfpq_trained_topk(emb, cen, q10, k=200, nprobe=2, codebook=codebook)
        .select("query_id", "neighbor_id", "dist_u12")
        .localCheckpoint()
    )
    tw = Window.partitionBy("query_id").orderBy(
        F.col("dist_u12").asc(), F.col("neighbor_id").asc()
    )
    trained5 = (
        adc50.withColumn("_rn", F.row_number().over(tw))
        .filter(F.col("_rn") <= 5)
        .select("query_id", "neighbor_id")
    )
    refined5 = refine_exact_topk(
        emb, adc50.select("query_id", "neighbor_id"), k=5
    ).select("query_id", "neighbor_id")

    retrieved = None
    for name, part in (
        ("ivf_nprobe2", ivf_topk(emb, cen, q10, k=5, nprobe=2)),
        ("sq8", sq8_topk(emb, q10, k=5)),
        ("ivfpq_nprobe2", ivfpq_topk(emb, cen, q10, k=5, nprobe=2)),
        ("ivfpq_trained", trained5),
        ("ivfpq_refined", refined5),
    ):
        part = part.select(
            F.lit(name).alias("method"), "query_id", "neighbor_id"
        )
        retrieved = part if retrieved is None else retrieved.unionByName(part)
    # truth5 is |queries|·5 rows at ANY corpus size — model-sized pin
    return (
        retrieved.join(
            F.broadcast(truth5), ["query_id", "neighbor_id"], "left"
        )
        .groupBy("method", "query_id")
        .agg(F.count("_t").alias("hits_at_5"))
        .withColumn("k", F.lit(5).cast("bigint"))
    )


@query(oracle=ext.MRL_RECALL_CURVE_SQL)
def _q_mrl_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka truncation recall curve (MRL, Kusupati et al.
    NeurIPS'22 — public): recall@5 of TRUNCATED-dimension cosine
    retrieval (dims 8/16/32/64, leading prefix of the embedding)
    against the full-dimension truth — the memory/quality dial every
    embedding pipeline turns before provisioning an index (half the
    dimensions = half the ANN store). Integer hit counts per (dim,
    query) make the whole curve one gate hash — a truncation-quality
    regression shows up as a mismatch, the ann_recall_matrix
    discipline applied to the dimension axis. Four brute-force passes
    over ONE persisted sliced scan; at 100 TB each pass is the
    broadcast-query linear scan of cosine_topk."""
    emb = _tracked_persist(_emb(spark, sf_dir))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )

    def top5(d: int) -> DataFrame:
        sliced = emb.select(
            "vec_id", F.slice("embedding", 1, d).alias("embedding")
        )
        return (
            brute_force_topk(
                sliced, sliced.filter(F.col("vec_id") < 10), k=10
            )
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= 5)
            .select("query_id", "neighbor_id")
        )

    truth = _tracked_persist(top5(64).withColumn("_t", F.lit(1)))
    out = None
    for d in (8, 16, 32, 64):
        hits = (
            top5(d)
            .join(truth, ["query_id", "neighbor_id"], "left")
            .groupBy("query_id")
            .agg(F.count("_t").cast("bigint").alias("hits_at_5"))
            .select(
                F.lit(d).cast("int").alias("dim"),
                "query_id",
                "hits_at_5",
                F.lit(5).cast("bigint").alias("k"),
            )
        )
        out = hits if out is None else out.unionByName(hits)
    return out


@query(oracle=ext.SQ8_TOPK_SQL)
def _q_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric SQ8 search: full-precision queries vs reconstructed
    corpus codes, exact integer squared-L2 ranking."""
    emb = _emb(spark, sf_dir)
    return sq8_topk(emb, emb.filter(F.col("vec_id") < 10), k=5)


@query(oracle=r10.hard_negative_sql())
def _q_ann_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive hard negatives from the session's SHARED ADC
    store (zero extra builds): per anchor slice, top-32 ADC
    shortlist, same-label dropped, 8 hardest kept — the ANCE/DPR
    mining recipe as a checked query; the hash pins both the index
    ranking and the label filter."""
    cen, codebook, prefix = _ann_shared_store(spark, sf_dir)
    return hard_negative_mining(
        spark, _emb(spark, sf_dir), prefix, cen, codebook
    )


@query(oracle=r9.pca_component_sql(5))
def _q_pca_power_topcomp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the centered quantized embedding
    corpus after 5 integer power-iteration rounds (von Mises) — the
    linear-algebra trained artifact next to kmeans/PQ/perceptron/BPE.
    Every round is two partial-agg matvec shuffles; the oracle
    re-derives the ENTIRE trajectory through chained MATERIALIZED
    CTEs (quantize → signed-DIV center → d/w/max-norm per round) so
    the hash checks every round, not a replayed answer. On this
    near-isotropic synthetic corpus (eigengap 1.013) five rounds are
    a point in the top eigenSPACE — the checked contract is the exact
    integer trajectory; convergence on an anisotropic fixture is
    pinned by unit test (cos > 0.999)."""
    v, mu = _pca_cached(spark, sf_dir)
    return pca_component_df(spark, v, mu)


@query(oracle=r9.pca_project_sql(5))
def _q_pca_doc_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector 1-D PCA score under the session's trained component
    (the anisotropy-removal / drift-histogram projection, Mu &
    Viswanath 2018): centered integer dot with the final iterate,
    signed micro-unit div. Map-only — the component enters as 64
    literals, no join, no shuffle."""
    v, mu = _pca_cached(spark, sf_dir)
    return pca_project(_emb(spark, sf_dir), v, mu)


@query(oracle=r9.pca_label_anova_sql(5))
def _q_pca_label_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA of the PCA projection by class label — the
    linear-probe-lite "is the top component informative?" eval.
    Truncated-mean integer spec, SSW at row grain, SSB at label
    grain, F as one DECIMAL(38,0) rational; measured F ≈ 0.87 at
    sf0.01 (the synthetic labels genuinely do not align with the top
    component — the metric, not the fixture, is the product)."""
    v, mu = _pca_cached(spark, sf_dir)
    return pca_label_anova(_emb(spark, sf_dir), v, mu)


@query(oracle=r9.knn_label_vote_sql())
def _q_knn_label_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holdout kNN label classifier (Fix & Hodges 1951) — the kNN
    probe of the representation-eval toolbox: odd vectors classified
    by majority label of their 5 nearest even neighbors under the
    exact-integer IVF search (train/test disjoint by construction —
    ivf_knn_q quantizes queries from their own frame). Per-prediction
    output grain, so the hash pins every vote. Accuracy at sf0.01
    sits at the 10-class chance floor — consistent with
    pca_label_anova's F ≈ 0.87: the synthetic labels carry no
    embedding signal, and the eval honestly says so. nlist is the
    operator default max(4, ceil(sqrt(N_train))) (r9 VERDICT #2 —
    the measured dial that holds pair work to N^1.5); the oracle
    re-derives the same count in its LIMIT subquery."""
    return knn_label_vote(_emb(spark, sf_dir))


@query(oracle=r9b.knn_adc_vote_sql())
def _q_knn_adc_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB sibling of knn_label_vote (the SCALE.md follow-
    through): classify every odd vector from the SESSION'S SHARED
    code store via ADC distances — 8 LUT lookups per candidate
    instead of a 64-dim integer fold — with the committed codes
    scoped to even ids BEFORE ranking (store_adc_topk_scoped: the
    tombstone-view mechanism as a candidate-scope predicate; the same
    hook scopes a store to a tenant or time window). The frozen
    quantizer is label-free compression, so training it on the full
    sample leaks nothing; accuracy 0.10 ≈ chance, agreeing with the
    exact variant's 0.108. Zero extra store builds — rides
    _ann_shared_store."""
    cen, codebook, prefix = _ann_shared_store(spark, sf_dir)
    return knn_adc_vote(spark, _emb(spark, sf_dir), prefix, cen, codebook)


@query(oracle=r9b.kmeans_label_ari_sql())
def _q_kmeans_label_ari(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjusted Rand Index between the integer-Lloyd's clustering and
    the class labels (Hubert & Arabie 1985) — chance-corrected
    pair-counting agreement as ONE signed DECIMAL(38,0) rational (no
    libm — the reason ARI is chosen over NMI here). Train → assign →
    agree sits under one oracle hash (the kmeans_q trajectory chain
    extended by the contingency pair sums). Measured ARI 0.0046 ≈
    chance — the third independent eval (ANOVA F 0.87, kNN accuracy
    0.10) agreeing the synthetic labels carry no embedding signal."""
    return kmeans_label_ari(_emb(spark, sf_dir))


@query(oracle=bm25_sql(FIXED_QUERIES, k=10))
def _q_bm25_doc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 keyword retrieval in exact integer arithmetic
    (k1=1.2, b=0.75 rationalized to one integer DIV per term;
    integer-rational IDF — the tfidf_cosine discipline): top-10 docs
    for each of the 3 pinned keyword queries. Served from the
    session's ONE retrieval-system build (_retrieval_rows): a
    (q, doc) pair's score_u6 is k-independent, so the rank ≤ 10 slice
    of the shared k = 20 run is bit-identical to a standalone k = 10
    bm25_topk — previously this query re-tokenized and re-scored the
    corpus the eval trio had already ranked."""
    m = _retrieval_rows(spark, sf_dir)
    return spark.createDataFrame(
        [(q, d, s) for (q, d, rank, s) in m["bm25"] if rank <= 10],
        "query_id string, doc_id bigint, score_u6 bigint",
    )


@query(oracle=rrf_sql(FIXED_QUERIES, per_ranker_k=20, k=10, c=60))
def _q_hybrid_rrf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid-search fusion: BM25 and term-coverage rankings (top-20
    each) merged by integer reciprocal-rank fusion
    (Σ 10⁶ DIV (60 + rank)) — the score-calibration-free combiner
    production retrieval stacks run; fused top-10 per query. Served
    from the session's ONE retrieval-system build
    (_retrieval_rows): the memoized hybrid ranking IS
    rrf_fuse([bm25 k=20, coverage k=20], k=10) with its rrf_u6 kept —
    previously this query re-ran both rankers from a fresh corpus
    tokenization."""
    m = _retrieval_rows(spark, sf_dir)
    return spark.createDataFrame(
        [(q, d, s) for (q, d, _rank, s) in m["rrf"]],
        "query_id string, doc_id bigint, rrf_u6 bigint",
    )


@query(
    oracle=retrieval_ndcg_sql(FIXED_QUERIES, NDCG_DISC_PPM, k=10, per_ranker_k=20, c=60)
)
def _q_retrieval_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact integer nDCG@10 of BOTH checked retrieval systems (BM25,
    hybrid RRF) against a deterministic graded-relevance truth
    (gain = 2^g − 1, g = distinct query terms present — derived from
    the same tokenization BM25 uses), completing the eval family
    (VERDICT r8 #4: classification ✓, ANN recall ✓, ranking ✗→✓).
    The 1/log2(rank+1) discount table is FIXED integer ppm literals
    shared by plan and oracle (the order_benford_digits rule); both
    system rankings, the ideal ranking, and the final
    (10⁶·DCG) DIV IDCG are all bigint-exact. Output: one row per
    (ranker, query)."""
    docs = _docs(spark, sf_dir)
    # truth feeds 2 DCG joins + the ideal ranking (≥2-consumers rule)
    truth = _tracked_persist(graded_truth(docs))
    sys_bm25, sys_rrf = _retrieval_systems_cached(spark, sf_dir)
    dcg = dcg_ppm(sys_bm25, truth, "bm25").unionByName(
        dcg_ppm(sys_rrf, truth, "rrf")
    )
    return dcg.join(ideal_dcg_ppm(truth, k=10), "query_id").select(
        "ranker",
        "query_id",
        "dcg_ppm",
        "idcg_ppm",
        F.expr("(1000000 * dcg_ppm) DIV idcg_ppm")
        .cast("bigint")
        .alias("ndcg_u6"),
    )


@query(
    oracle=retrieval_map_mrr_sql(FIXED_QUERIES, k=10, per_ranker_k=20, c=60, min_tf=4)
)
def _q_retrieval_map_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAP@10 + MRR of both checked retrieval systems — the binary-
    relevance siblings of retrieval_ndcg, completing the TREC metric
    trio (nDCG graded / AP position-weighted / RR first-hit). Binary
    truth = doc carries EVERY query term with tf ≥ 4 (presence-only
    saturates to AP = 1.0 on the bag-of-words corpus; the tf
    threshold keeps R at 3-18 docs so positions discriminate). P@i
    exact via the 2520 = lcm(1..10) rescale; AP and RR integer DIVs —
    no float ever enters (operators/retrieval_eval.py)."""
    docs = _docs(spark, sf_dir)
    # the relevant set feeds both systems' AP joins + both R counts
    rel = _tracked_persist(binary_truth(docs, min_tf=4))
    sys_bm25, sys_rrf = _retrieval_systems_cached(spark, sf_dir)
    return map_mrr(sys_bm25, rel, "bm25").unionByName(
        map_mrr(sys_rrf, rel, "rrf")
    )


@query(
    oracle=ranking_rbo_sql(
        FIXED_QUERIES, RBO10_SUFFIX_W, RBO10_DENOM, k=10, per_ranker_k=20
    )
)
def _q_ranking_rbo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biased overlap @10 (p = 9/10) between the two checked
    retrieval systems — TRUTH-FREE ranker agreement (how much did the
    hybrid fusion actually change the BM25 prefix?), the third leg of
    the ranking-eval family next to truth-based nDCG/MAP. Every term
    exact over the 10¹⁰·2520 common denominator with FIXED suffix-
    weight literals shared by plan and oracle; identical rankings
    score 1 − 0.9¹⁰ = 651321 u6 (prefix form, no extrapolation)."""
    sys_bm25, sys_rrf = _retrieval_systems_cached(spark, sf_dir)
    return rbo_overlap(sys_bm25, sys_rrf)


@query(oracle=ext.HARD_NEGATIVE_MINE_SQL)
def _q_hard_negative_mine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive/retrieval training (r8):
    for each anchor, the top-5 most-similar vectors that are NOT in
    its near-dup cluster — similar enough to be informative, verified
    not to be the same content (a near-dup mislabeled as a negative
    poisons the loss; the standard curation step before training
    embedding models). Composes the checked semantic-dedup components
    with the checked rounded-cosine ranking in one statement: cluster
    labels exclude positives, then rank survivors. Candidate
    generation here is the exact broadcast-anchor scan; at 100 TB it
    rides the ANN store exactly like mmr_ann_rerank."""
    emb = _emb(spark, sf_dir)
    pairs = ivf_near_dups(
        emb, emb.filter(F.col("vec_id") < 16), threshold=0.4
    ).select("id_a", "id_b")
    # pinned: consumed per pair endpoint below
    lab = _tracked_persist(
        dedup_clusters(emb, pairs, id_col="vec_id").select(
            "vec_id", "cluster_id"
        )
    )
    base = with_norm(emb).join(lab, "vec_id")
    q = base.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("_v").alias("_qv"),
        F.col("_n").alias("_qn"),
        F.col("cluster_id").alias("_qc"),
    )
    # pinned broadcast: the anchor set is query-budget-sized at any
    # scale (the cosine_topk license) — unpinned, the non-equi join
    # has no stats and plans as a CartesianProduct
    sims = (
        base.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .filter(F.col("cluster_id") != F.col("_qc"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine(
                F.col("_qv"), F.col("_qn"), F.col("_v"), F.col("_n")
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        sims.withColumn("neg_rank", F.row_number().over(w))
        .filter(F.col("neg_rank") <= 5)
        .select("query_id", "neighbor_id", "neg_rank", "cosine")
    )


@query(oracle=ext.EMBEDDING_NEAR_DUPS_SQL)
def _q_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    return embedding_near_dups(_emb(spark, sf_dir), threshold=0.4)


@query(oracle=ext.IVF_NEAR_DUPS_SQL)
def _q_ivf_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    return ivf_near_dups(emb, emb.filter(F.col("vec_id") < 16), threshold=0.4)


@query(oracle=ext.SEMANTIC_DEDUP_SQL)
def _q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style composition: IVF-cluster-blocked cosine pairs
    (sublinear candidate generation) resolved to connected components
    → per-vector keep/drop manifest. Same component machinery as the
    text-side `dedup_clusters`, driven by embedding similarity."""
    emb = _emb(spark, sf_dir)
    pairs = ivf_near_dups(
        emb, emb.filter(F.col("vec_id") < 16), threshold=0.4
    ).select("id_a", "id_b")
    return dedup_clusters(emb, pairs, id_col="vec_id")


@query(oracle=ext.COSINE_TOPK_SQL)
def _q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    return brute_force_topk(emb, emb.filter(F.col("vec_id") < 10), k=10)


@query(oracle=ext.ANN_IVF_NPROBE2_SQL)
def _q_ann_ivf_nprobe2(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    return ivf_topk(
        emb,
        emb.filter(F.col("vec_id") < 16),
        emb.filter(F.col("vec_id") < 10),
        k=5,
        nprobe=2,
    )


@query(oracle=ext.PQ_TOPK_SQL)
def _q_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC top-5 over PQ codes (queries vec_id < 10) — the compressed
    ANN path: corpus vectors are never read at search time."""
    emb = _emb(spark, sf_dir)
    cb = pq_codebook(emb.filter(F.col("vec_id") < 16))
    return pq_adc_topk(emb, cb, emb.filter(F.col("vec_id") < 10), k=5)


@query(oracle=ext.IVFPQ_TOPK_SQL)
def _q_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FAISS-style IVFPQ: L2 coarse cells (centroids vec_id<16) + PQ
    over residuals + ADC within the query's own cell — the
    billion-scale index shape, hash-checked end-to-end via exact
    micro-integer distances."""
    emb = _emb(spark, sf_dir)
    return ivfpq_topk(
        emb, emb.filter(F.col("vec_id") < 16), emb.filter(F.col("vec_id") < 10), k=5
    )


@query(oracle=ext.ANN_REFINED_TOPK_SQL)
def _q_ann_refined_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN refine stage (VERDICT r5 #2): the trained IVFPQ index
    proposes its top-200 ADC candidates per query (nprobe=2), then
    ``refine_exact_topk`` fetches the ORIGINAL vectors of those
    candidates only and re-ranks by the exact rounded cosine — the
    production recipe that recovers recall to candidate-coverage level
    at PQ memory cost. End-to-end hash-checked: the candidate ordering
    is the checked integer ADC, the re-rank the checked cosine."""
    emb = _emb(spark, sf_dir)
    cen, codebook = _ann_model(spark, sf_dir)
    # pinned: consumed twice inside the refine (ids + join)
    cand = _tracked_persist(
        ivfpq_trained_topk(
            emb,
            cen,
            emb.filter(F.col("vec_id") < 10),
            k=200,
            nprobe=2,
            codebook=codebook,
        )
        .select("query_id", "neighbor_id")
    )
    return refine_exact_topk(emb, cand, k=5)


@query(oracle=ext.KMEANS_IVF_TOPK_SQL)
def _q_kmeans_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF search over TRAINED centroids, hash-checked end to end
    (VERDICT r5 #1): training is the bit-portable integer Lloyd's
    (``kmeans_fit_q`` — the same trainer the checked
    ``kmeans_q_centroids`` pins), and the search (``ivf_topk_q``)
    ranks by exact bigint squared-L2, so train → index → query all
    hash-match the unrolled DuckDB oracle. The float-mean trainer
    (``kmeans_fit``) remains recall-property-tested
    (tests/test_similarity.py::test_kmeans_ivf_recall_floor)."""
    emb = _emb(spark, sf_dir)
    cents = kmeans_fit_q(emb, k=4, iters=2)
    return ivf_topk_q(
        emb, cents, emb.filter(F.col("vec_id") < 10), k=5, nprobe=2
    )


@query(oracle=ext.PQ_CODES_SQL)
def _q_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ compression of the embedding corpus: 8 subspaces × 8 dims,
    codebook = subvectors of vec_id < 16 (deterministic sample)."""
    emb = _emb(spark, sf_dir)
    cb = pq_codebook(emb.filter(F.col("vec_id") < 16))
    return pq_encode(emb, cb)


@query(oracle=ext.IVFPQ_NPROBE2_SQL)
def _q_ivfpq_nprobe2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe IVFPQ: each query ADC-scans its TWO nearest coarse
    cells with cell-relative residual LUTs — the recall dial of the
    production index, oracle-checked end-to-end (probe ranking ties
    and all distances are micro-unit integers)."""
    emb = _emb(spark, sf_dir)
    return ivfpq_topk(
        emb,
        emb.filter(F.col("vec_id") < 16),
        emb.filter(F.col("vec_id") < 10),
        k=5,
        nprobe=2,
    )


@query(oracle=ext.KMEANS_Q_SQL)
def _q_kmeans_q_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bit-portable k-means: training over micro-unit integer vectors
    (exact distances/sums, floor means, md5-seeded init) — the trained
    centroids themselves hash-match the unrolled DuckDB oracle."""
    return kmeans_fit_q(_emb(spark, sf_dir), k=4, iters=2)


@query(oracle=ext.EMBEDDING_POOL_SQL)
def _q_embedding_pool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk→document embedding mean-pooling in micro-unit integers
    (8 consecutive vec_ids pool into one group) — quantize-then-sum
    keeps the pooled vector aggregation-order-exact, the kmeans_fit_q
    bit-portability rule applied to pooling."""
    emb = _emb(spark, sf_dir).withColumn(
        "group_id", F.expr("vec_id div 8")
    )
    return pool_embeddings_q(emb, "group_id")


@query(oracle=ext.RANDOM_PROJECT_SQL)
def _q_random_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ±1 random projections: micro-unit integer dot products
    (dim-reduce) and SRP hyperplane LSH → cosine verify."""
    return random_project(_emb(spark, sf_dir))


@query(oracle=ext.SRP_NEAR_DUPS_SQL)
def _q_srp_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    return srp_near_dups(_emb(spark, sf_dir), threshold=0.4)


@query(oracle=ext.SQ8_CODES_SQL)
def _q_sq8_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 scalar quantization of the corpus: 8 bits per DIMENSION
    (vs PQ's 8 bits per subspace) — the low-distortion middle rung of
    the compressed-index family, integer-exact so every code
    hash-matches the oracle."""
    return sq8_encode(_emb(spark, sf_dir))


@query(oracle=ext.LABEL_CENTROID_AFFINITY_SQL)
def _q_label_centroid_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space slice similarity: pairwise cosine affinity
    between label centroids — floor-mean integer centroids bound every
    product on the MODEL, not the data."""
    return centroid_affinity(_emb(spark, sf_dir))
