"""DSIR-style data selection with hashed n-gram importance weights
(Xie et al. 2023, "Data Selection for Language Models via Importance
Resampling") — re-expressed as integer-exact DataFrame ops.

Beyond reference parity (the reference has no corpus-selection stage);
this is the importance-weighting step a pretraining pipeline runs
between raw-crawl ingest and tokenization: score every raw document by
how much its hashed-token distribution looks like a TARGET corpus
(e.g. the English or curated slice), then keep the top mass.

Determinism/portability: features are md5-hashed token buckets
(``('0x'||md5[:8])::BIGINT % B`` — identical in Spark, DuckDB,
Python); per-bucket importance ratios are Laplace-smoothed and held as
micro-unit INTEGER quotients (``(c_t+1)·1e6 div (c_r+1)``), so the
per-document score is an integer sum — aggregation-order-exact and
bit-identical cross-engine. The real DSIR multiplies probability
ratios (sums log-ratios); the linearized integer form keeps the same
ranking signal (monotone per-bucket ratio, token-frequency weighted)
while staying oracle-checkable — logs of counts are not bit-portable
across engines.

Scale shape: bucket counting is the word-count shape (explode →
partial-aggregated groupBy on a key domain CAPPED at ``buckets``);
the weight table is ≤ ``buckets`` rows — model-sized BY CONSTRUCTION
(caller-fixed B, independent of corpus size), so its broadcast is
pinned legitimately (CLAUDE.md broadcast policy); scoring is one
map-side broadcast join + one groupBy on the doc id. Nothing grows
with the corpus except the two linear explode passes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
import pyspark.sql.functions as F

from ..plans.cache import tracked_persist

MICRO = 1_000_000


def token_buckets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = 1024,
) -> DataFrame:
    """One row per token OCCURRENCE (multiplicity kept — DSIR weights
    are token-frequency weighted): (id, bucket)."""
    tok = F.explode(
        F.split(F.trim(F.col(text_col)), r"\s+")
    ).alias("_tok")
    return df.select(F.col(id_col), tok).select(
        F.col(id_col),
        (
            F.conv(F.substring(F.md5(F.col("_tok")), 1, 8), 16, 10).cast("bigint")
            % buckets
        )
        .cast("int")
        .alias("bucket"),
    )


def dsir_bucket_weights(
    raw: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = 1024,
) -> DataFrame:
    """Per-bucket importance ratio: Laplace-smoothed target/raw count
    quotient in micro-units. Output: bucket, w (bigint). Buckets never
    seen in ``raw`` don't appear (documents being scored are drawn
    from ``raw``, so they can't reference them)."""
    rc = (
        token_buckets(raw, text_col, id_col, buckets)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("c_r"))
    )
    tc = (
        token_buckets(target, text_col, id_col, buckets)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("c_t"))
    )
    return (
        rc.join(tc, "bucket", "left")
        .select(
            "bucket",
            F.expr(
                f"CAST(((coalesce(c_t, 0) + 1) * {MICRO}) DIV (c_r + 1) AS BIGINT)"
            ).alias("w"),
        )
    )


def dsir_scores(
    df: DataFrame,
    weights: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = 1024,
) -> DataFrame:
    """Score each document: integer sum of its tokens' bucket weights.
    Output: id, dsir_score (bigint). Higher = more target-like."""
    tb = token_buckets(df, text_col, id_col, buckets)
    return (
        tb.join(F.broadcast(weights), "bucket")
        .groupBy(id_col)
        .agg(F.sum("w").alias("dsir_score"))
    )


def dsir_pipeline(
    raw: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = 1024,
) -> DataFrame:
    """Weights + scoring in one plan, with the raw token-bucket frame
    STAGED: it feeds both the raw bucket counts and the per-document
    scoring join, and recomputing it would repeat the full explode +
    md5 pass over the corpus (the same measured staging decision as
    ``plans/curation.py``'s shingle frame — the persisted rows are two
    ints each, far narrower than the text they derive from)."""
    tb = tracked_persist(token_buckets(raw, text_col, id_col, buckets))
    rc = tb.groupBy("bucket").agg(F.count(F.lit(1)).alias("c_r"))
    tc = (
        token_buckets(target, text_col, id_col, buckets)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("c_t"))
    )
    w = rc.join(tc, "bucket", "left").select(
        "bucket",
        F.expr(
            f"CAST(((coalesce(c_t, 0) + 1) * {MICRO}) DIV (c_r + 1) AS BIGINT)"
        ).alias("w"),
    )
    return (
        tb.join(F.broadcast(w), "bucket")
        .groupBy(id_col)
        .agg(F.sum("w").alias("dsir_score"))
    )
