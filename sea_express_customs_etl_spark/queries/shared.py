"""Session builds and table loaders that several query families share:
the aligned link-and-vote pairs, the co-purchase graph tables, the
trained ANN/perceptron/tokenizer models and the pretraining stages.
Each build runs once per session through ``session_tables.shared``."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
import pyspark.sql.functions as F

from sea_express_customs_etl_spark.functions.strings import normalize_text_col
from sea_express_customs_etl_spark.operators.bm25 import (
    bm25_topk,
    term_coverage_ranked,
    tokenize_docs,
)
from sea_express_customs_etl_spark.operators.bpe import (
    FIXED_MERGES,
    _chars,
    apply_merge,
    bpe_train,
    wordpiece_encode_pieces,
    wordpiece_train,
)
from sea_express_customs_etl_spark.operators.dedup import (
    jaccard_verify_profiles,
    lsh_bands,
    lsh_candidate_pairs,
    shingle_profiles,
)
from sea_express_customs_etl_spark.operators.dsir import token_buckets
from sea_express_customs_etl_spark.operators.fusion import rrf_fuse
from sea_express_customs_etl_spark.operators.graph import (
    _triangle_triples,
    _walk_frontiers,
    label_propagation,
)
from sea_express_customs_etl_spark.operators.linking import add_link_key
from sea_express_customs_etl_spark.operators.lm import lm_score
from sea_express_customs_etl_spark.operators.pca import pca_power_train
from sea_express_customs_etl_spark.operators.perceptron import (
    _train_weight_dicts,
    _weights_frame,
    confusion_stats,
)
from sea_express_customs_etl_spark.operators.scd import scd2_from_snapshots
from sea_express_customs_etl_spark.operators.unigram import (
    segment_words,
    unigram_train,
    word_dict,
)
from sea_express_customs_etl_spark.plans.cache import (
    release_tracked,
    tracked_persist as _tracked_persist,
)
from sea_express_customs_etl_spark.plans.pretrain_e2e import (
    N_MERGES,
    pretrain_e2e_select_stages,
)
from sea_express_customs_etl_spark.plans.session_tables import shared
from sea_express_customs_etl_spark.plans.standins import (
    declared_table,
    load_table,
    official_table,
)
from sea_express_customs_etl_spark.streaming.ann_store import (
    ann_store_batch_writer,
    train_frozen_model,
)


def _ab_linked(spark: SparkSession, sf_dir: str):
    a = add_link_key(
        declared_table(spark, sf_dir).filter(
            F.col("mawb_no").isNotNull()
            & F.col("hawb_no").isNotNull()
            & F.col("description_original").isNotNull()
        )
    ).select(
        "link_key",
        "item_no",
        normalize_text_col(F.col("description_original"), use_nfkc=False).alias(
            "original_description"
        ),
    )
    b = add_link_key(
        official_table(spark, sf_dir).filter(
            F.col("mawb_no").isNotNull() & F.col("hawb_no").isNotNull()
        )
    ).select("link_key", "item_sequence", "description_official", "ccc_code")
    return a, b


def _aligned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-match + positional alignment on the packed-array scale
    path (one collect_list aggregate per side, join reusing the
    link_key exchanges, posexplode for ordinals) — same semantics as
    ``positional_align`` over ``count_matched_keys``-filtered inputs,
    which the window-strategy ``knowledge_base`` and the operator unit
    tests exercise directly."""
    a, b = _ab_linked(spark, sf_dir)
    a_packed = a.groupBy("link_key").agg(
        F.sort_array(F.collect_list(F.struct("item_no", "original_description"))).alias(
            "_ia"
        )
    )
    b_packed = b.groupBy("link_key").agg(
        F.sort_array(
            F.collect_list(F.struct("item_sequence", "description_official", "ccc_code"))
        ).alias("_ib")
    )
    return (
        a_packed.join(b_packed, "link_key", "inner")
        .filter((F.size("_ia") - F.size("_ib")) == 0)
        .select(
            "link_key",
            F.posexplode(
                F.arrays_zip(
                    F.col("_ia.original_description").alias("original_description"),
                    F.col("_ib.description_official").alias("description_official"),
                    F.col("_ib.ccc_code").alias("ccc_code"),
                )
            ).alias("_pos0", "_p"),
        )
        .select(
            "link_key",
            (F.col("_pos0") + 1).alias("pos"),
            "_p.original_description",
            "_p.description_official",
            "_p.ccc_code",
        )
    )


def _aligned_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The aligned frame positional_align and vote_counts both consume,
    as a session table: the table IS the frame, written once."""

    def build(tbl: str) -> str:
        _aligned(spark, sf_dir).write.mode("overwrite").format(
            "parquet"
        ).saveAsTable(tbl)
        return tbl

    return spark.table(shared(spark, sf_dir, "aligned_shared", build))


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "embeddings")


def _perceptron_model(spark: SparkSession, sf_dir: str) -> dict:
    """The classifier family's ONE training run as collected weight
    rows (<= 64 per variant: model-sized). Row-identical to an inline
    train_perceptron_q call: the build runs that function's own epoch
    loop."""

    def build(_tbl: str) -> dict:
        cnt, w, wsum, snaps = _train_weight_dicts(
            _docs(spark, sf_dir), F.col("lang") == "en", buckets=64, epochs=3
        )
        return {
            "w": [
                (r.bucket, r.w)
                for r in _weights_frame(cnt, w, "w").collect()
            ],
            "w_avg": [
                (r.bucket, r.w_avg)
                for r in _weights_frame(cnt, wsum, "w_avg").collect()
            ],
            "snaps": [
                [
                    (r.bucket, r.we)
                    for r in _weights_frame(cnt, se, "we").collect()
                ]
                for se in snaps
            ],
        }

    return shared(spark, sf_dir, "perceptron_train", build)


def _trained_en_perceptron(
    spark: SparkSession, sf_dir: str, averaged: bool = False
) -> DataFrame:
    col = "w_avg" if averaged else "w"
    return spark.createDataFrame(
        sorted(_perceptron_model(spark, sf_dir)[col]), f"bucket int, {col} long"
    )


def _trained_en_perceptron_snaps(
    spark: SparkSession, sf_dir: str
) -> list[DataFrame]:
    """Per-epoch post-update weight snapshots from the SAME shared
    training run."""
    return [
        spark.createDataFrame(sorted(s), "bucket int, we long")
        for s in _perceptron_model(spark, sf_dir)["snaps"]
    ]


def _ann_model(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """The session's ONE trained PQ model as (centroids, codebook), the
    codebook kept as collected rows (m·k = 128: model-sized).
    train_frozen_model's codebook is bit-identical to the one-shot
    queries' own ``pq_train_q``/``ivfpq_residual_codebook`` recipe
    (same sample ids 16..48, same centroids, same integer Lloyd's —
    ``_l2_assign`` is row-wise so filtering before/after assignment is
    the same frame), so pq_trained_codebook / ivfpq_trained_topk /
    ann_refined_topk / the recall matrix's trained tier and the store
    family all legitimately share it."""
    emb = _emb(spark, sf_dir)
    cen = emb.filter(F.col("vec_id") < 16)

    def build(_tbl: str) -> list[tuple]:
        sample = emb.filter(
            (F.col("vec_id") >= 16) & (F.col("vec_id") < 48)
        )
        return sorted(
            (r["subspace"], r["code"], list(r["cw_u6"]))
            for r in train_frozen_model(sample, cen).collect()
        )

    codebook = spark.createDataFrame(
        shared(spark, sf_dir, "ann_model_train", build),
        "subspace int, code int, cw_u6 array<bigint>",
    )
    return cen, codebook


def _ann_shared_store(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, str]:
    """ONE two-batch code store for ann_store_topk / ann_store_delete_topk
    / mmr_ann_rerank: per-row encode determinism makes the committed
    codes the rows each query would write itself. Returns the model and
    the store prefix."""
    cen, codebook = _ann_model(spark, sf_dir)

    def build(prefix: str) -> str:
        emb = _emb(spark, sf_dir)
        writer = ann_store_batch_writer(
            prefix, cen, codebook, num_buckets=4
        )
        writer(emb.filter(F.col("vec_id") % 2 == 0), 0)
        writer(emb.filter(F.col("vec_id") % 2 == 1), 1)
        return prefix

    return cen, codebook, shared(spark, sf_dir, "ann_store_build", build)


def _graph_shared(spark: SparkSession, sf_dir: str) -> dict[str, str]:
    """The co-purchase graph family's session tables: the distinct
    basket projection (``items``), ONE weighted edge build (``ew``) and
    ONE degree-oriented triangle enumeration over the unthresholded
    graph (``tri1``). Row-identical to the per-query builds:
    cooccur_edges(min_weight=w) ≡ the weighted table filtered to
    w ≥ min_weight, and triangle triples are position-invariant for
    every consumer (counts explode all corners, support canonicalizes
    to (min, max))."""

    def build(base: str) -> dict[str, str]:
        (
            load_table(spark, sf_dir, "lineitem")
            .select("l_orderkey", "l_partkey")
            .distinct()
        ).write.mode("overwrite").format("parquet").saveAsTable(
            base + "_items"
        )
        # the edge build and the Apriori family (basket_rules /
        # frequent_part_triples) read the same materialized distinct
        items = spark.table(base + "_items")
        a, b = items.alias("a"), items.alias("b")
        ew = (
            a.join(b, "l_orderkey")
            .filter(F.col("a.l_partkey") != F.col("b.l_partkey"))
            .groupBy(
                F.col("a.l_partkey").alias("src"),
                F.col("b.l_partkey").alias("dst"),
            )
            .agg(F.count(F.lit(1)).cast("bigint").alias("w"))
        )
        # bucketed BY SRC (r10 VERDICT #8, guide §2.4 exchange removal):
        # every src-keyed consumer — the pagerank/ppr outdegree groupBy
        # + edge join, kcore/lpa degree passes — reads the hash
        # distribution straight from the bucket spec instead of paying
        # its own exchange (ppr ed-build 2.0 → 0.7 s, full query
        # 8.6 → 4.0 s at sf0.1). Bucket count is env-parameterised:
        # local default 16; at cluster scale size buckets to ~1 GB of
        # edges each (SPARK_GRAFT_GRAPH_BUCKETS).
        nb = int(os.environ.get("SPARK_GRAFT_GRAPH_BUCKETS", "16"))
        ew.write.mode("overwrite").format("parquet").bucketBy(
            nb, "src"
        ).sortBy("src", "dst").saveAsTable(base + "_ew")
        _triangle_triples(
            spark.table(base + "_ew").select("src", "dst")
        ).write.mode("overwrite").format("parquet").saveAsTable(
            base + "_tri1"
        )
        release_tracked()  # the build's internal pins die with the build
        return {
            "ew": base + "_ew",
            "tri1": base + "_tri1",
            "items": base + "_items",
        }

    return shared(spark, sf_dir, "graph_shared", build)


def _shared_edges(
    spark: SparkSession, sf_dir: str, min_weight: int = 1
) -> DataFrame:
    """(src, dst) co-purchase edges at the given weight threshold, read
    from the session's materialized weighted edge table — row-identical
    to ``cooccur_edges(lineitem, min_weight)`` / ``copurchase_edges``."""
    ew = spark.table(_graph_shared(spark, sf_dir)["ew"])
    if min_weight > 1:
        ew = ew.filter(F.col("w") >= min_weight)
    return ew.select("src", "dst")


def _shared_weighted_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(src, dst, w) co-occurrence-count edges from the session table."""
    return spark.table(_graph_shared(spark, sf_dir)["ew"])


def _shared_triples_w1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-per-triangle (x, y, z) enumeration of the unthresholded
    co-purchase graph, from the session table."""
    return spark.table(_graph_shared(spark, sf_dir)["tri1"])


def _shared_walk_trail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session walk-trail table (step, start, walk_id, cur) for the
    4-step × 2-walk deterministic DeepWalk sampling over the ≥2-weight
    graph, shared by graph_hash_walks and walk_covisit_pairs: the
    md5-argmin walks are bit-identical across partitionings."""

    def build(tbl: str) -> str:
        steps = _walk_frontiers(
            _shared_edges(spark, sf_dir, 2), walk_length=4, n_walks=2
        )
        trail = None
        for t, fr in enumerate(steps, start=1):
            part = fr.select(
                F.lit(t).alias("step"), "start", "walk_id", "cur"
            )
            trail = part if trail is None else trail.unionByName(part)
        trail.write.mode("overwrite").format("parquet").saveAsTable(tbl)
        release_tracked()
        return tbl

    return spark.table(shared(spark, sf_dir, "walk_trail", build))


def _shared_lpa_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session LPA-community table (node, label) for copurchase_lpa and
    lpa_modularity: the 4-sweep synchronous label propagation over the
    ≥2-weight graph is deterministic (sync updates, integer counts,
    (count desc, label asc) tie-break — the property its oracle
    checks)."""

    def build(tbl: str) -> str:
        label_propagation(
            _shared_edges(spark, sf_dir, 2), rounds=4
        ).write.mode("overwrite").format("parquet").saveAsTable(tbl)
        release_tracked()
        return tbl

    return spark.table(shared(spark, sf_dir, "lpa_labels", build))


def _shared_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (l_orderkey, l_partkey) basket projection from the
    session table — row-identical to
    lineitem.select(...).distinct()."""
    return spark.table(_graph_shared(spark, sf_dir)["items"])


def _textdup_shared(spark: SparkSession, sf_dir: str) -> dict[str, str]:
    """The dedup family's session tables: ONE shingle-profile build
    (``prof``) and ONE LSH-verified default-threshold (0.5) pair table
    (``pairs``). Row-identical to the per-query builds, and every
    consumer is set/size-based, so the parquet array order of
    ``_sh_set`` is immaterial."""

    def build(base: str) -> dict[str, str]:
        shingle_profiles(_docs(spark, sf_dir)).write.mode(
            "overwrite"
        ).format("parquet").saveAsTable(base + "_prof")
        proft = spark.table(base + "_prof")
        jaccard_verify_profiles(
            lsh_candidate_pairs(lsh_bands(proft)), proft
        ).write.mode("overwrite").format("parquet").saveAsTable(
            base + "_pairs"
        )
        release_tracked()  # the build's internal pins die with the build
        return {"prof": base + "_prof", "pairs": base + "_pairs"}

    return shared(spark, sf_dir, "textdup_shared", build)


def _shared_profiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """shingle_profiles(documents) read from the session table —
    row-identical to a fresh build (set/size consumers only)."""
    return spark.table(_textdup_shared(spark, sf_dir)["prof"])


def _shared_text_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Default-threshold (0.5) LSH-verified near-dup pairs
    (id_a, id_b, jaccard) from the session table — row-identical to
    jaccard_verify_profiles(lsh_candidate_pairs(lsh_bands(prof)),
    prof) on a fresh profile build."""
    return spark.table(_textdup_shared(spark, sf_dir)["pairs"])


def _sketch_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, tok): lowercased whitespace tokens — the shared input
    of the sketch queries (mirrored verbatim by ``_SKETCH_TOKS`` in
    the oracle SQL)."""
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.explode(
            F.split(F.trim(F.lower(F.col("text"))), r"\s+")
        ).alias("tok"),
    )


# BPE and WordPiece model sizes: one learned model per family serves
# both its trajectory query and its apply queries.
_BPE_MERGES = 10
_WORDPIECE_MERGES = 8


def _tok_dict(spark: SparkSession, sf_dir: str, kind: str) -> DataFrame:
    """Session word→pieces dictionary table of one subword model:
    bpe_fixed (FIXED_MERGES), bpe_learned (the session BPE model),
    wordpiece (the session WordPiece model), unigram_vocab (the trained
    SentencePiece-style vocabulary itself) and unigram (word→piece
    count under that vocabulary). The encoding is a pure function of
    the word, so one table over the full corpus vocabulary is
    row-identical for every subset corpus after the inner join."""

    def build(tbl: str) -> str:
        if kind == "unigram_vocab":
            enc = unigram_train(_docs(spark, sf_dir), rounds=2)
        elif kind == "unigram":
            enc = segment_words(
                word_dict(_docs(spark, sf_dir)),
                _tok_dict(spark, sf_dir, "unigram_vocab"),
            ).select(
                "word",
                F.size(
                    F.filter(F.split("seg", " "), lambda x: x != "")
                )
                .cast("bigint")
                .alias("np"),
            )
        else:
            words = (
                _docs(spark, sf_dir)
                .select(
                    F.explode(
                        F.filter(
                            F.split(
                                F.trim(F.lower(F.col("text"))), r"\s+"
                            ),
                            lambda x: x != "",
                        )
                    ).alias("_w")
                )
                .distinct()
            )
            if kind == "wordpiece":
                enc = wordpiece_encode_pieces(
                    words.select(F.col("_w").alias("word")),
                    _wordpiece_merges_cached(spark, sf_dir),
                    rounds=20,
                )
            else:
                merges = (
                    list(FIXED_MERGES)
                    if kind == "bpe_fixed"
                    else _bpe_merges_cached(spark, sf_dir)
                )
                syms = _chars(F.col("_w"))
                for left, right in merges:
                    syms = apply_merge(syms, left, right)
                enc = words.select("_w", syms.alias("_toks"))
        enc.write.mode("overwrite").format("parquet").saveAsTable(tbl)
        release_tracked()  # build-internal pins die with the build
        return tbl

    return spark.table(shared(spark, sf_dir, f"tokdict_{kind}", build))


def _bpe_merges_cached(
    spark: SparkSession, sf_dir: str
) -> list[tuple[str, str]]:
    """The session BPE model: bpe_learned_merges checks its trajectory,
    and the apply queries replay the same merges."""
    return shared(
        spark,
        sf_dir,
        "bpe_train",
        lambda _tbl: bpe_train(_docs(spark, sf_dir), n_merges=_BPE_MERGES),
    )


def _wordpiece_merges_cached(
    spark: SparkSession, sf_dir: str
) -> list[tuple[str, str]]:
    """The session WordPiece model: wordpiece_merges checks its
    trajectory, and the apply queries replay the same merges."""
    return shared(
        spark,
        sf_dir,
        "wordpiece_train",
        lambda _tbl: wordpiece_train(
            _docs(spark, sf_dir), n_merges=_WORDPIECE_MERGES
        ),
    )


_PCA_ROUNDS = 5


def _pca_cached(
    spark: SparkSession, sf_dir: str
) -> tuple[list[int], list[int]]:
    """The session PCA model: pca_power_topcomp checks its trajectory,
    and the projection queries reuse the same final iterate."""
    return shared(
        spark,
        sf_dir,
        "pca_train",
        lambda _tbl: pca_power_train(_emb(spark, sf_dir), rounds=_PCA_ROUNDS),
    )


def _scd2_orders_hist(
    spark: SparkSession, sf_dir: str, d1: str, d2: str
) -> DataFrame:
    """Shared SCD2 fixture: snapshot 2 derived deterministically from
    orders (every 17th key deleted, every 10th price bumped by exactly
    10% in integer cents, every 13th key re-inserted under key+3e6)."""
    snap1 = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderstatus").alias("status"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("price_u2"),
    )
    snap2 = (
        snap1.filter(F.col("o_orderkey") % 17 != 0)
        .select(
            "o_orderkey",
            "status",
            F.when(
                F.col("o_orderkey") % 10 == 0,
                F.col("price_u2") + F.expr("price_u2 div 10"),
            )
            .otherwise(F.col("price_u2"))
            .alias("price_u2"),
        )
        .unionByName(
            snap1.filter(F.col("o_orderkey") % 13 == 0).select(
                (F.col("o_orderkey") + 3000000).alias("o_orderkey"),
                "status",
                (F.col("price_u2") + 555).alias("price_u2"),
            )
        )
    )
    return scd2_from_snapshots(
        snap1, snap2, "o_orderkey", ["status", "price_u2"], d1, d2
    )


def _pretrain_shared(spark: SparkSession, sf_dir: str) -> dict:
    """The e2e flagship's selection chain staged as ONE session table
    (doc_id, text, source, stage_rank), stage_rank = furthest stage
    survived (1 = gated, 2 = exact-kept, 3 = component-kept, 4 = clean/
    decontaminated, 5 = selected). The stages are nested subsets with
    identical payload, so a rank filter reconstructs each stage frame
    row-identically. Also returns the learned merges (trained on the
    selection read back from the table: same rows, same trajectory),
    the UniMax alloc rows (|sources|: model-sized) and the budget."""

    def build(tbl: str) -> dict:
        docs, emb = _docs(spark, sf_dir), _emb(spark, sf_dir)
        st = pretrain_e2e_select_stages(docs, emb)
        marks = None
        for rank, frame in (
            (2, st["exact"]),
            (3, st["kept"]),
            (4, st["clean"]),
            (5, st["sel"]),
        ):
            part = frame.select("doc_id", F.lit(rank).alias("_stage"))
            marks = part if marks is None else marks.unionByName(part)
        staged = (
            st["gated"]
            .select("doc_id", "text", "source")
            .join(
                marks.groupBy("doc_id").agg(
                    F.max("_stage").alias("stage_rank")
                ),
                "doc_id",
                "left",
            )
            .select(
                "doc_id",
                "text",
                "source",
                F.coalesce("stage_rank", F.lit(1)).cast("int").alias(
                    "stage_rank"
                ),
            )
        )
        staged.write.mode("overwrite").format("parquet").saveAsTable(tbl)
        alloc_rows = sorted(
            (r["source"], int(r["alloc"])) for r in st["alloc"].collect()
        )
        release_tracked()  # the build's internal pins die with the build
        sel = (
            spark.table(tbl)
            .filter(F.col("stage_rank") >= 5)
            .select("doc_id", "text", "source")
        )
        return {
            "table": tbl,
            "budget": st["budget"],
            "alloc": alloc_rows,
            "merges": bpe_train(sel, n_merges=N_MERGES),
        }

    return shared(spark, sf_dir, "pretrain_shared", build)


def _pretrain_stage(spark: SparkSession, m: dict, rank: int) -> DataFrame:
    return (
        spark.table(m["table"])
        .filter(F.col("stage_rank") >= rank)
        .select("doc_id", "text", "source")
    )


def _retrieval_systems(
    docs: DataFrame, staged: DataFrame | None = None
) -> tuple[DataFrame, DataFrame]:
    """Both checked retrieval systems as top-10 frames: BM25 (the
    top-10 slice of its own top-20 — same ordering, and a pair's
    score_u6 is k-independent) and the hybrid RRF fusion re-ranked.
    Carries the scores alongside the ranks (bm25: score_u6, rrf:
    rrf_u6) so ONE build serves the eval trio AND the scored top-k
    queries (bm25_doc_topk / hybrid_rrf_topk). r1 feeds the bm25
    slice AND the fusion union (the ≥2-consumers rule); ``staged``
    shares the composed query's ONE persisted tokenization across the
    bm25 and coverage passes (the eval queries were re-splitting the
    corpus 3-4×)."""
    r1 = _tracked_persist(
        bm25_topk(
            docs, k=20, include_rank=True, staged=staged, include_score=True
        )
    )
    sys_bm25 = r1.filter(F.col("rank") <= 10)
    fused = rrf_fuse(
        [r1, term_coverage_ranked(docs, k=20, staged=staged)], k=10
    )
    wr = Window.partitionBy("query_id").orderBy(
        F.col("rrf_u6").desc(), F.col("doc_id")
    )
    sys_rrf = fused.withColumn("rank", F.row_number().over(wr)).select(
        "query_id", "doc_id", "rank", "rrf_u6"
    )
    return sys_bm25, sys_rrf


def _retrieval_rows(spark: SparkSession, sf_dir: str) -> dict[str, list[tuple]]:
    """Both retrieval systems' top-10 rankings as collected rows,
    |queries|·10 each: model-sized. The ranking plans stay
    independently checked by bm25_doc_topk / hybrid_rrf_topk; the
    collected rows replay bit-identically because the ordering is
    deterministic."""

    def build(_tbl: str) -> dict[str, list[tuple]]:
        docs = _docs(spark, sf_dir)
        st = _tracked_persist(tokenize_docs(docs))
        b, r = _retrieval_systems(docs, staged=st)
        return {
            "bm25": sorted(
                (x.query_id, x.doc_id, x["rank"], x.score_u6)
                for x in b.collect()
            ),
            "rrf": sorted(
                (x.query_id, x.doc_id, x["rank"], x.rrf_u6)
                for x in r.collect()
            ),
        }

    return shared(spark, sf_dir, "retrieval_systems", build)


def _retrieval_systems_cached(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    m = _retrieval_rows(spark, sf_dir)
    schema = "query_id string, doc_id bigint, rank int"
    return (
        spark.createDataFrame(
            [t[:3] for t in m["bm25"]], schema
        ),
        spark.createDataFrame(
            [t[:3] for t in m["rrf"]], schema
        ),
    )


def _classifier_confusion_for(
    spark: SparkSession, sf_dir: str, averaged: bool
) -> DataFrame:
    docs = _docs(spark, sf_dir)
    wcol = "w_avg" if averaged else "w"
    w = _trained_en_perceptron(spark, sf_dir, averaged=averaged)
    cnt = (
        token_buckets(docs, buckets=64)
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("_c"))
    )
    score = (
        cnt.join(F.broadcast(w), "bucket")
        .groupBy("doc_id")
        .agg(F.sum(F.col(wcol) * F.col("_c")).alias("_score"))
    )
    pt = docs.select("doc_id", "lang").join(score, "doc_id", "left").select(
        (F.coalesce(F.col("_score"), F.lit(0)) > 0).cast("int").alias("pred"),
        (F.col("lang") == "en").cast("int").alias("truth"),
    )
    return confusion_stats(pt, "pred", "truth")


def _en_scored_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, score, truth) for the trained plain perceptron — the
    shared scoring prelude of the AUC / decile eval queries (same
    bucket-count join as _classifier_confusion_for, weights from the
    session's single training run)."""
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
    return (
        docs.select("doc_id", "lang")
        .join(score, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("_score"), F.lit(0))
            .cast("bigint")
            .alias("score"),
            (F.col("lang") == "en").cast("int").alias("truth"),
        )
    )


def _lm_scored_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return (
        lm_score(docs)
        .join(docs.select("doc_id", "source"), "doc_id")
        .select("doc_id", "source", "logprob_u6")
    )
