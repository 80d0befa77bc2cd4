"""Flagship composition #3 — the FULL production pretraining-data run
as one checked lineage (r9 VERDICT #4), closing the gap between
``plans/curation.py`` (clean side) and ``plans/pretrain.py``
(tokenize side):

    raw docs → integrity quarantine → Gopher quality gate
             → multi-signal dedup (exact ∪ text-LSH ∪ embedding-SRP,
               one component pass)
             → benchmark decontamination
             → UniMax domain mix (budget = 70 % of survivors,
               ≤ 2 epochs/source) + per-source deterministic draw
             → BPE tokenization under merges LEARNED ON THE SELECTION
             → 512-token greedy pack into 8 shards
             → per-(shard, bin) manifest

Every stage is an already-gate-checked operator; the composition's own
oracle (``plans/oracles_pretrain_e2e.py``) nests each stage's SQL as
prefixed CTEs and threads the BPE training trajectory through
MATERIALIZED CTEs (the wordpiece 3^k lesson), so the one hash checks
the whole chain end-to-end — including that the tokenizer was trained
on exactly the mixed corpus it encodes.

Reference analogue: the reference's insert-if-new knowledge refresh
(``src/batch_train.py:66-80``) is the single-table ancestor of the
quarantine → dedup → commit shape; everything after dedup is the
LLM-pipeline extension surface.

Scale: each stage only narrows the corpus or is map-only; the dedup
signals are banded/blocked (never all-pairs), the benchmark n-gram set
broadcasts, the UniMax draw is one per-source rank window over the
already-mixed survivor set, BPE cost is dictionary-grain, and the pack
is one per-shard cumulative window. The two driver-side artifacts
(budget scalar, 10 learned merges) are O(1)/model-sized — the
trained-artifact license.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
import pyspark.sql.functions as F

from .cache import tracked_persist

PACK_LEN = 512
N_SHARDS = 8
N_MERGES = 10


def pretrain_e2e_stages(
    docs: DataFrame, emb: DataFrame
) -> dict[str, DataFrame]:
    """The cleaning stages with every intermediate exposed (the
    datacard's audit surface): gated → exact → kept, each a
    (doc_id, text, source) frame."""
    from sea_express_customs_etl_spark.operators.dedup import (
        dedup_clusters,
        jaccard_verify_profiles,
        lsh_bands,
        lsh_candidate_pairs,
        shingle_profiles,
    )
    from sea_express_customs_etl_spark.operators.rp import srp_near_dups
    from sea_express_customs_etl_spark.operators.textstats import quality_gate

    quar = docs.filter(
        (F.length(F.trim(F.col("text"))) > 0)
        & F.col("lang").isNotNull()
        & (F.col("n_chars") == F.length(F.col("text")))
    ).select("doc_id", "text", "source")
    passed = quar.join(
        quality_gate(quar).filter(F.col("passed")).select("doc_id"),
        "doc_id",
    )
    exact_kept = tracked_persist(
        passed.join(
            passed.groupBy(F.md5(F.col("text")).alias("_h"))
            .agg(F.min("doc_id").alias("doc_id"))
            .select("doc_id"),
            "doc_id",
        )
    )
    prof = tracked_persist(shingle_profiles(exact_kept))
    text_pairs = jaccard_verify_profiles(
        lsh_candidate_pairs(lsh_bands(prof)), prof
    ).select("id_a", "id_b")
    emb_pairs = srp_near_dups(
        emb.join(
            exact_kept.select(F.col("doc_id").alias("vec_id")),
            "vec_id",
            "left_semi",
        ),
        threshold=0.4,
    ).select(
        F.col("id_a").cast("bigint").alias("id_a"),
        F.col("id_b").cast("bigint").alias("id_b"),
    )
    pairs = text_pairs.unionByName(emb_pairs).distinct()
    kept = exact_kept.join(
        dedup_clusters(exact_kept.select("doc_id"), pairs)
        .filter(F.col("keep") == 1)
        .select("doc_id"),
        "doc_id",
    )
    return {"gated": passed, "exact": exact_kept, "kept": kept}


def pretrain_e2e_select_stages(
    docs: DataFrame, emb: DataFrame
) -> dict:
    """The selection stages with intermediates exposed (the datacard's
    audit surface): gated/exact/kept (cleaning) + clean/alloc/sel/
    budget (mixing)."""
    from sea_express_customs_etl_spark.operators.hygiene import decontaminate
    from sea_express_customs_etl_spark.operators.sampling import unimax_alloc

    st = pretrain_e2e_stages(docs, emb)
    kept = st["kept"]
    corpus = kept.filter(F.col("doc_id") % 50 != 0)
    bench = docs.filter(F.col("doc_id") % 50 == 0).select("doc_id", "text")
    clean = tracked_persist(
        corpus.join(
            decontaminate(corpus, bench)
            .filter(F.col("contaminated") == 0)
            .select("doc_id"),
            "doc_id",
        )
    )
    # budget = 70 % of the clean survivor count — ONE driver scalar
    # (index-sizing license, the knn_label_vote nlist rule); the oracle
    # recomputes the same count in a scalar CTE.
    budget = (clean.count() * 7) // 10
    alloc = unimax_alloc(clean, "source", budget=budget, max_epochs=2)
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    sel = (
        clean.withColumn("_rk", F.row_number().over(w))
        .join(F.broadcast(alloc.select("source", "alloc")), "source")
        .filter(F.col("_rk") <= F.col("alloc"))
        .select("doc_id", "text", "source")
    )
    st.update({"clean": clean, "alloc": alloc, "sel": sel, "budget": budget})
    return st


def pretrain_e2e_datacard(
    docs: DataFrame, stages: dict, merges: list[tuple[str, str]]
) -> DataFrame:
    """The flagship's DATACARD: one row per raw source with the
    document count surviving each stage — raw → gated (quarantine +
    Gopher gate) → exact → kept (multi-signal components) → clean
    (decontaminated corpus slice) → alloc (UniMax) → selected → total
    BPE tokens shipped. The per-source funnel IS the governance
    artifact a production corpus release publishes; each count is
    re-derived by the shared oracle WITH-chain, so the datacard can
    never drift from the pipeline it describes.

    ``stages`` holds the stage frames of
    :func:`pretrain_e2e_select_stages` (gated/exact/kept/clean/sel/
    alloc), read back from the session staging table so their lineage
    is flat, and ``merges`` is ``bpe_train(stages["sel"], N_MERGES)``.
    Scale: eight partial-agg groupBys on the stage frames +
    |sources|-grained joins."""
    from sea_express_customs_etl_spark.operators.bpe import bpe_encode

    sel = stages["sel"]
    ntok = (
        bpe_encode(sel, merges, counts_only=True)
        .select("doc_id", "n_tokens")
        .join(sel.select("doc_id", "source"), "doc_id")
    )

    def _cnt(df: DataFrame, name: str) -> DataFrame:
        return df.groupBy("source").agg(
            F.count(F.lit(1)).cast("bigint").alias(name)
        )

    kept = tracked_persist(stages["kept"])
    out = (
        _cnt(docs, "n_raw")
        .join(_cnt(stages["gated"], "n_gated"), "source", "left")
        .join(_cnt(stages["exact"], "n_exact"), "source", "left")
        .join(_cnt(kept, "n_kept"), "source", "left")
        .join(_cnt(stages["clean"], "n_clean"), "source", "left")
        .join(
            stages["alloc"].select(
                "source", F.col("alloc").cast("bigint").alias("alloc")
            ),
            "source",
            "left",
        )
        .join(_cnt(sel, "n_selected"), "source", "left")
        .join(
            ntok.groupBy("source").agg(
                F.sum("n_tokens").cast("bigint").alias("n_tokens")
            ),
            "source",
            "left",
        )
    )
    fill = [
        "n_gated", "n_exact", "n_kept", "n_clean",
        "alloc", "n_selected", "n_tokens",
    ]
    return out.select(
        "source",
        "n_raw",
        *[F.coalesce(c, F.lit(0)).cast("bigint").alias(c) for c in fill],
    )


def pretrain_e2e(sel: DataFrame, merges: list[tuple[str, str]]) -> DataFrame:
    """The chain after selection: encode the selected (doc_id, text,
    source) frame ``sel`` under ``merges`` — which MUST be
    ``bpe_train(sel, N_MERGES)`` of this exact selection (the oracle
    re-derives the trajectory) — and pack it. ``sel`` is read back from
    the session staging table (:func:`pretrain_e2e_select_stages`
    staged once per session), so its upstream lineage is never derived
    here. Output: shard, bin_id, n_docs, n_tokens — the sharded pack
    manifest, one row per (shard, 512-token bin)."""
    from sea_express_customs_etl_spark.operators.bpe import bpe_encode

    tok = bpe_encode(sel, merges, counts_only=True).select(
        "doc_id", "n_tokens"
    )
    shard = (F.col("doc_id") % N_SHARDS).cast("int")
    w = Window.partitionBy("shard").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    packed = (
        tok.select("doc_id", shard.alias("shard"), "n_tokens")
        .withColumn(
            "_cum",
            F.sum("n_tokens").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .select(
            "shard",
            F.expr(f"(_cum - n_tokens) DIV {PACK_LEN}")
            .cast("int")
            .alias("bin_id"),
            "n_tokens",
        )
    )
    return (
        packed.groupBy("shard", "bin_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        )
        .select("shard", "bin_id", "n_docs", "n_tokens")
    )
