"""Deterministic random projections over embedding columns — the
dimensionality-reduction / hyperplane-LSH family.

Beyond reference parity (the reference has no vector ops at all; its
analytics stop at the SQL in ``/root/reference/src/batch_train.py``) —
these are the embedding-side primitives a training-data pipeline needs
next to the IVF/PQ family:

* :func:`random_project` — project ``dim``-d vectors onto ``n_planes``
  fixed hyperplanes. The planes are ±1-valued and derived from md5 of
  ``f"{salt}_{plane}_{dim}"``, so BOTH engines (Spark here, DuckDB in
  the oracle) can re-derive the identical matrix — no model state to
  ship, no RNG. Vector components are scaled to micro-unit bigints
  first, making every projection an INTEGER dot product:
  aggregation-order-exact and bit-identical cross-engine (the same
  trick as ``operators/pq.py``).
* :func:`srp_signatures` — sign bits of those projections packed into
  one bigint: the classic SRP (signed-random-projection) locality-
  sensitive hash for cosine similarity (Charikar 2002's hyperplane
  rounding).
* :func:`srp_near_dups` — banded bucketing over the SRP signature for
  candidate pairs (share ≥ 1 whole band), then EXACT cosine verify
  restricted to candidates — the embedding-side sibling of
  MinHash-LSH → Jaccard-verify in ``operators/dedup.py``.

Scale shape: the ±1 plane matrix is ``dim × n_planes`` integers —
model-sized, broadcast. ``random_project`` explodes to (id, dim-pos,
component) rows — linear inflation, same as ``pq.subvectors`` — and
collapses in ONE partial-aggregated groupBy keyed on the vector id.
The SRP self-join shuffles on (band, slice) buckets: Σ bucket² pair
work, never n². Candidates carry only ids until the verify join pulls
the two vectors back in — the narrow-pairs-first discipline every
dedup operator here follows. At 100 TB, a fully map-only variant
(Arrow-batched numpy int64 matmul in ``mapInPandas``) trades the
explode shuffle for CPU; the declarative form is kept because the
shuffle rows are narrow (id, int, bigint) and Catalyst keeps the whole
chain codegen'd.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
import pyspark.sql.functions as F

from ..plans.cache import tracked_persist

from sea_express_customs_etl_spark.operators.dedup import band_slices
from sea_express_customs_etl_spark.operators.similarity import cosine, with_norm

MICRO = 1_000_000


def projection_signs(
    n_planes: int, dim: int, salt: str = "rp"
) -> list[list[int]]:
    """The ±1 plane matrix: ``signs[p][d]`` is +1 when the leading md5
    nibble of ``f"{salt}_{p}_{d}"`` is even. Pure function of
    (salt, p, d) — any engine with md5 re-derives it exactly."""
    return [
        [
            1
            if int(hashlib.md5(f"{salt}_{p}_{d}".encode()).hexdigest()[0], 16) % 2
            == 0
            else -1
            for d in range(dim)
        ]
        for p in range(n_planes)
    ]


def micro_vec(col: Column) -> Column:
    """array<float> → array<bigint> in micro-units (exact cross-engine
    integer arithmetic from here on)."""
    return F.transform(
        col, lambda x: F.round(x.cast("double") * MICRO).cast("bigint")
    )


def random_project(
    df: DataFrame,
    n_planes: int = 16,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    salt: str = "rp",
) -> DataFrame:
    """Project each vector onto ``n_planes`` deterministic ±1
    hyperplanes. Output: id, p_0..p_{n_planes-1} (bigint micro-unit
    dot products).

    Plan: posexplode (map-only, linear) → broadcast join with the
    dim-rowed sign matrix → one partial-aggregated groupBy on the id.
    """
    signs = projection_signs(n_planes, dim, salt)
    spark = df.sparkSession
    wdf = spark.createDataFrame(
        [(d, *[signs[p][d] for p in range(n_planes)]) for d in range(dim)],
        ["_d"] + [f"_w{p}" for p in range(n_planes)],
    )
    ex = df.select(
        F.col(id_col),
        F.posexplode(micro_vec(F.col(vec_col))).alias("_d", "_val"),
    )
    return (
        ex.join(F.broadcast(wdf), "_d")
        .groupBy(id_col)
        .agg(
            *[
                F.sum(F.col("_val") * F.col(f"_w{p}")).alias(f"p_{p}")
                for p in range(n_planes)
            ]
        )
    )


def srp_signatures(
    df: DataFrame,
    n_planes: int = 16,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    salt: str = "rp",
) -> DataFrame:
    """Pack the projection signs into one bigint LSH signature
    (bit j = 1 iff projection j ≥ 0). Output: id, srp."""
    proj = random_project(df, n_planes, dim, vec_col, id_col, salt)
    sig = None
    for p in range(n_planes):
        term = F.when(F.col(f"p_{p}") >= 0, F.lit(1 << p)).otherwise(F.lit(0))
        sig = term if sig is None else sig + term
    return proj.select(F.col(id_col), sig.cast("bigint").alias("srp"))


def srp_near_dups(
    df: DataFrame,
    n_planes: int = 16,
    bands: int = 4,
    threshold: float = 0.8,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    salt: str = "rp",
) -> DataFrame:
    """Cosine near-duplicate pairs via SRP-LSH: candidates share at
    least one of ``bands`` signature slices (:func:`..dedup.band_slices`,
    the Hamming search's banding); candidates are verified
    with the exact (rounded-6dp) cosine and kept at ≥ ``threshold``.
    Output: id_a < id_b, cosine.

    Unlike Hamming banding this candidate set is approximate-recall by
    design (two vectors at cosine 0.8 disagree on each SRP bit with
    p = acos(0.8)/π ≈ 0.205, so a 4-of-4-bit band agrees with
    p ≈ 0.40 and ≥1-of-4 bands with p ≈ 0.87) — the verify stage makes
    precision exact, and the oracle reproduces the SAME candidate set
    (signatures are bit-portable), so the query checks the composed
    semantics, not a lucky subset.
    """
    sig = tracked_persist(srp_signatures(df, n_planes, dim, vec_col, id_col, salt))
    banded = band_slices(sig, "srp", n_planes, bands, id_col)
    cands = (
        banded.select(F.col(id_col).alias("id_a"), "_band", "_slice")
        .join(
            banded.select(F.col(id_col).alias("id_b"), "_band", "_slice"),
            ["_band", "_slice"],
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    n = with_norm(df, vec_col, id_col)
    a = n.select(
        F.col(id_col).alias("id_a"), F.col("_v").alias("_va"), F.col("_n").alias("_na")
    )
    b = n.select(
        F.col(id_col).alias("id_b"), F.col("_v").alias("_vb"), F.col("_n").alias("_nb")
    )
    return (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .withColumn(
            "cosine",
            cosine(F.col("_va"), F.col("_na"), F.col("_vb"), F.col("_nb")),
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )
