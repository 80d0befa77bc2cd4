"""Deterministic probabilistic sketches — cardinality (HyperLogLog),
frequency (Count-Min), membership (Bloom filter).

At 100 TB these replace exact answers wherever the question tolerates
small error: ``count_distinct`` over billions of tokens shuffles every
distinct value, while an HLL shuffles 256 registers; an exact
frequency table is vocabulary-sized, while a CMS is d·w cells; an
exact membership semi-join shuffles both sides, while a Bloom filter
broadcasts ~16 KB and prunes map-side (the same trick Spark's runtime
row-filter pushdown plays, here as an explicit, engine-portable
operator).

No reference-parity citation: the reference has no approximate layer;
this extends the training-data operator family the same way the dedup
and ANN families do.

Determinism contract (what makes these ORACLE-CHECKABLE, unlike the
built-in ``approx_count_distinct``/sketch functions whose internal
hashing differs per engine): every hash is ``md5`` (bit-identical in
Spark, DuckDB, Python), every aggregate is ``max``/``sum``/``bit_or``
over integers (associative + commutative → partition-order-exact), and
the sketch state itself — registers, cells, bit-words — is the
operator output. Estimates derived from the state (which may involve
floats/logs) live in separate helpers; the checked artifact is the
sufficient statistic.

All three sketches are MERGEABLE (max/sum/bit_or of the state tables
merges shards) — the property that makes sketching distributable at
all: build per partition, merge model-sized states.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
import pyspark.sql.functions as F

from ..plans.cache import tracked_persist

# --------------------------------------------------------------------------
# HyperLogLog (p=8 → m=256 registers)
# --------------------------------------------------------------------------

HLL_P = 8
HLL_M = 1 << HLL_P  # 256 registers
_HLL_WBITS = 40  # rank window: 48 hash bits minus the 8 bucket bits


def _h48(value: Column, salt: str) -> Column:
    """First 48 bits of md5(salt || value) as a non-negative bigint —
    12 hex chars keep `conv` far from the 64-bit sign boundary and are
    bit-identical to DuckDB's ``('0x' || substring(md5(..)))::BIGINT``.
    """
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(salt), value.cast("string"))), 1, 12),
        16,
        10,
    ).cast("bigint")


def _hll_registers(
    df: DataFrame, value_col: str, salt: str, *groups: str
) -> DataFrame:
    """HyperLogLog register table over a value column: per ``groups``
    value, 256 rows of (bucket, max_rank). Duplicate values are
    harmless (``max`` is idempotent), so no pre-distinct — the one
    shuffle is keyed on (groups, bucket) and carries only partial
    maxima, never the values.

    rank = 1-based position of the first set bit in the 40-bit window
    (0 window → 41) = 41 − bit_length(w), computed as the LENGTH of
    the minimal binary string (Spark's ``bin`` is minimal already; the
    DuckDB oracle ltrims its padding) — integer/string ops only, no
    floating-point ``log2`` edge cases at register boundaries."""
    h = _h48(F.col(value_col), salt)
    bucket = (h % F.lit(HLL_M)).cast("int")
    w = (h / F.lit(HLL_M)).cast("bigint")  # exact: 2^48 / 2^8 fits a double
    rank = F.when(w == 0, F.lit(_HLL_WBITS + 1)).otherwise(
        F.lit(_HLL_WBITS + 1) - F.length(F.bin(w))
    )
    return (
        df.select(*groups, bucket.alias("bucket"), rank.cast("int").alias("_rank"))
        .groupBy(*groups, "bucket")
        .agg(F.max("_rank").alias("max_rank"))
    )


def hll_registers(
    df: DataFrame, value_col: str, salt: str = ""
) -> DataFrame:
    """The 256-register HyperLogLog state of a value column:
    (bucket, max_rank)."""
    return _hll_registers(df, value_col, salt)


def hll_stats(df: DataFrame, value_col: str, salt: str = "") -> DataFrame:
    """One-row sufficient statistics, all integers (hash-portable):
    ``n_buckets`` (observed), ``n_zero`` (= m − observed: registers
    never hit), ``s_scaled`` = Σ 2^(41−max_rank) over observed buckets
    — i.e. 2⁴¹·Σ 2^−M with the unobserved registers' Σ 2^0 terms left
    for the estimator to add back. Exact bigint arithmetic end-to-end.
    """
    regs = hll_registers(df, value_col, salt)
    return regs.agg(
        F.count(F.lit(1)).cast("int").alias("n_buckets"),
        (F.lit(HLL_M) - F.count(F.lit(1))).cast("int").alias("n_zero"),
        F.sum(
            F.pow(F.lit(2.0), F.lit(_HLL_WBITS + 1) - F.col("max_rank"))
            .cast("bigint")
        ).alias("s_scaled"),
    )


def _hll_cardinality(n_zero: int, s_scaled: int) -> float:
    """HLL estimate from the :func:`hll_stats` encoding of one sketch."""
    m = HLL_M
    # Σ 2^-M over all m registers: observed from s_scaled, plus 2^0
    # for every never-hit register
    z = s_scaled / float(1 << (_HLL_WBITS + 1)) + n_zero
    alpha = 0.7213 / (1 + 1.079 / m)
    est = alpha * m * m / z
    if est <= 2.5 * m and n_zero > 0:  # small-range correction
        est = m * math.log(m / n_zero)
    return est


def hll_estimate(df: DataFrame, value_col: str, salt: str = "") -> float:
    """The HLL cardinality estimate (driver-side float math over the
    one-row stats — NOT part of the oracle-checked surface; accuracy
    is property-tested at ~1/√m ≈ 6.5% instead)."""
    row = hll_stats(df, value_col, salt).first()
    return _hll_cardinality(row["n_zero"], row["s_scaled"])


# --------------------------------------------------------------------------
# Count-Min sketch (d rows × w columns)
# --------------------------------------------------------------------------

CMS_D = 4
CMS_W = 256


def cms_cells(
    df: DataFrame,
    value_col: str,
    weight_col: str | None = None,
    d: int = CMS_D,
    w: int = CMS_W,
    salt: str = "",
) -> DataFrame:
    """Count-Min sketch as a cell table: (sketch_row, col, cnt), at
    most d·w rows. Each input row lands in one cell per sketch row
    (d md5 evaluations, map-only) and the single shuffle carries d·w
    partial sums per task — the sketch, never the values. ``cnt`` sums
    ``weight_col`` when given (pre-aggregated inputs merge for free:
    CMS is linear)."""
    wt = F.col(weight_col) if weight_col else F.lit(1)
    rows = [
        df.select(
            F.lit(i).alias("sketch_row"),
            (_h48(F.col(value_col), f"{salt}{i}|") % F.lit(w))
            .cast("int")
            .alias("col"),
            wt.alias("_w"),
        )
        for i in range(d)
    ]
    unioned = rows[0]
    for r in rows[1:]:
        unioned = unioned.unionByName(r)
    return unioned.groupBy("sketch_row", "col").agg(
        F.sum("_w").cast("bigint").alias("cnt")
    )


def cms_point_estimates(
    queries: DataFrame,
    cells: DataFrame,
    value_col: str,
    d: int = CMS_D,
    w: int = CMS_W,
    salt: str = "",
) -> DataFrame:
    """Estimated count per queried value: min over the d cells the
    value hashes to (the CMS guarantee: estimate ≥ true count, with
    overshoot bounded by collisions). The cell table is model-sized →
    broadcast; probing is map-only + one partial-aggregated min per
    value."""
    probes = [
        queries.select(
            F.col(value_col),
            F.lit(i).alias("sketch_row"),
            (_h48(F.col(value_col), f"{salt}{i}|") % F.lit(w))
            .cast("int")
            .alias("col"),
        )
        for i in range(d)
    ]
    unioned = probes[0]
    for p in probes[1:]:
        unioned = unioned.unionByName(p)
    return (
        unioned.join(F.broadcast(cells), ["sketch_row", "col"], "left")
        .groupBy(value_col)
        .agg(F.min(F.coalesce("cnt", F.lit(0))).alias("est_count"))
    )


def cms_heavy_hitters(
    df: DataFrame,
    value_col: str,
    min_share_ppm: int = 5000,
    k: int = 20,
    d: int = CMS_D,
    w: int = CMS_W,
    salt: str = "",
) -> DataFrame:
    """Approximate heavy hitters from the Count-Min sketch: every
    DISTINCT value is probed against the cell table and kept when its
    estimate reaches ``min_share_ppm`` of the total row count; top-``k``
    by (estimate desc, value asc). Output: value, est_count,
    share_ppm (exact integer floor-division ppm of the ESTIMATE).

    The CMS one-sided guarantee (estimate ≥ true count) makes recall 1
    for true heavy hitters — misses are impossible, only borderline
    false admits (collision overshoot), the standard heavy-hitter
    contract.

    Scale: the candidate set is the distinct vocabulary (one
    partial-aggregated shuffle — Heaps-law sized, not corpus-sized);
    probing is map-only against the broadcast d·w cell table; the
    1-row total is a broadcast scalar; top-k is TakeOrdered, never a
    global sort. At 100 TB the exact per-token count table this
    replaces is itself vocabulary-sized — the sketch's win is that the
    CELLS are mergeable across shards/streams (``cms_cells`` is
    linear), so the estimate state stays d·w rows under any ingestion
    pattern."""
    cells = cms_cells(df, value_col, None, d, w, salt)
    cand = df.select(value_col).distinct()
    est = cms_point_estimates(cand, cells, value_col, d, w, salt)
    total = df.groupBy().agg(F.count(F.lit(1)).alias("_n"))
    return (
        est.join(F.broadcast(total))
        .filter(
            F.col("est_count") * F.lit(1_000_000)
            >= F.col("_n") * F.lit(min_share_ppm)
        )
        .select(
            value_col,
            "est_count",
            F.expr("est_count * 1000000 DIV _n").alias("share_ppm"),
        )
        .orderBy(F.col("est_count").desc(), F.col(value_col).asc())
        .limit(k)
    )


# --------------------------------------------------------------------------
# Bloom filter (k hashes over m bits, packed 32 bits per bigint word)
# --------------------------------------------------------------------------

BLOOM_K = 4
BLOOM_BITS = 1 << 16  # 65536 bits = 2048 words
_WORD_BITS = 32  # 32 bits/word keeps every mask positive (no sign games)


def _bloom_bits(value: Column, k: int, m_bits: int, salt: str) -> list[Column]:
    return [
        (_h48(value, f"{salt}{j}|") % F.lit(m_bits)).cast("bigint")
        for j in range(k)
    ]


def bloom_build(
    df: DataFrame,
    value_col: str,
    k: int = BLOOM_K,
    m_bits: int = BLOOM_BITS,
    salt: str = "",
) -> DataFrame:
    """Bloom filter as a word table: (word_idx, bits) with bits packed
    32 per bigint word (masks stay positive → two's-complement-free,
    identical in every engine). One ``bit_or`` shuffle of ≤ m/32
    partials per task. The word table is the broadcastable membership
    structure (~m_bits/8 bytes total)."""
    bit_rows = [
        df.select(bit.alias("_bit")) for bit in _bloom_bits(F.col(value_col), k, m_bits, salt)
    ]
    unioned = bit_rows[0]
    for b in bit_rows[1:]:
        unioned = unioned.unionByName(b)
    # mask via pow(2, r): exact in IEEE double for r ≤ 31 — the reason
    # for 32-bit words — and identical in DuckDB's power()
    mask = F.pow(F.lit(2.0), F.col("_bit") % F.lit(_WORD_BITS)).cast("bigint")
    return (
        unioned.select(
            (F.col("_bit") / F.lit(_WORD_BITS)).cast("int").alias("word_idx"),
            mask.alias("_mask"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("_mask").alias("bits"))
    )


def bloom_might_contain(
    df: DataFrame,
    bloom: DataFrame,
    value_col: str,
    k: int = BLOOM_K,
    m_bits: int = BLOOM_BITS,
    salt: str = "",
) -> DataFrame:
    """Adds ``might_contain`` (1/0): 1 iff ALL k bits are set — never
    a false negative, false positives at the standard Bloom rate. The
    word table joins in by broadcast k times on ``word_idx`` (each a
    map-side hash join against a ≤2048-row build side), so the probe
    is one pass over ``df`` with no shuffle of it."""
    out = df
    cond = F.lit(True)
    for j, bit in enumerate(_bloom_bits(F.col(value_col), k, m_bits, salt)):
        wcol, mcol = f"_w{j}", f"_m{j}"
        probe = bloom.select(
            F.col("word_idx").alias(wcol), F.col("bits").alias(mcol)
        )
        out = out.withColumn(
            wcol, (bit / F.lit(_WORD_BITS)).cast("int")
        ).withColumn(
            f"_k{j}",
            F.pow(F.lit(2.0), bit % F.lit(_WORD_BITS)).cast("bigint"),
        )
        out = out.join(F.broadcast(probe), wcol, "left")
        cond = cond & (
            F.coalesce(F.col(mcol), F.lit(0)).bitwiseAND(F.col(f"_k{j}"))
            != F.lit(0)
        )
    keep = [c for c in df.columns]
    return out.select(
        *keep, F.when(cond, F.lit(1)).otherwise(F.lit(0)).alias("might_contain")
    )


def hll_registers_by(
    df: DataFrame, value_col: str, group_col: str, salt: str = ""
) -> DataFrame:
    """Per-GROUP HyperLogLog register tables — the partitioned form of
    :func:`hll_registers`: one 256-register state per group value, so
    per-domain/per-language distinct counts ship as |groups|·256
    mergeable integer rows instead of |groups| exact distinct scans."""
    return _hll_registers(df, value_col, salt, group_col)


def hll_pair_overlap(
    df: DataFrame, value_col: str, group_col: str, salt: str = ""
) -> DataFrame:
    """Pairwise distinct-overlap SUFFICIENT STATISTICS via HLL
    inclusion-exclusion: |A∩B| ≈ est(A) + est(B) − est(A∪B), where the
    union sketch is the register-wise MAX of the two register tables —
    the mergeability property that makes HLL distributable, exercised
    here as a cross-slice operator (the sketch-space sibling of the
    exact ``collocations.source_vocab_overlap``).

    Everything emitted is an exact integer: per ordered slice pair,
    each side's and the union's (n_zero, s_scaled) in the
    :func:`hll_stats` encoding. The float estimator stays OUT of the
    hash-checked surface (same license as :func:`hll_estimate` —
    finishing the harmonic mean + small-range correction is driver
    arithmetic over these one-row stats, property-tested for accuracy).

    Scale: one (group, bucket) partial-max shuffle over the corpus;
    every frame after it is |groups|·256 rows — the pair spine
    (|groups|² nested loop), the per-pair register merge (full outer
    on bucket), and the final aggregate are all model-sized.
    """
    regs = tracked_persist(hll_registers_by(df, value_col, group_col, salt))
    slices = regs.select(F.col(group_col).alias("_g")).distinct()
    pairs = slices.select(F.col("_g").alias("g_a")).join(
        slices.select(F.col("_g").alias("g_b")),
        F.col("g_a") < F.col("g_b"),
    )
    ra = regs.select(
        F.col(group_col).alias("g_a"),
        "bucket",
        F.col("max_rank").alias("_ra"),
    )
    rb = regs.select(
        F.col(group_col).alias("g_b"),
        "bucket",
        F.col("max_rank").alias("_rb"),
    )
    # union-of-attachments rather than a per-pair full outer join: a
    # bucket present on only one side still contributes its rank, and
    # the max over the two attachments IS the merged register
    u = (
        pairs.join(ra, "g_a")
        .select("g_a", "g_b", "bucket", F.col("_ra").alias("_r"))
        .unionByName(
            pairs.join(rb, "g_b")
            .select("g_a", "g_b", "bucket", F.col("_rb").alias("_r"))
        )
        .groupBy("g_a", "g_b", "bucket")
        .agg(F.max("_r").alias("_ru"))
    )
    pow_u = F.pow(F.lit(2.0), F.lit(_HLL_WBITS + 1) - F.col("_ru")).cast(
        "bigint"
    )
    agg_u = u.groupBy("g_a", "g_b").agg(
        (F.lit(HLL_M) - F.count(F.lit(1))).cast("int").alias("n_zero_u"),
        F.sum(pow_u).alias("s_scaled_u"),
    )
    pow_s = F.pow(F.lit(2.0), F.lit(_HLL_WBITS + 1) - F.col("max_rank")).cast(
        "bigint"
    )
    sides = regs.groupBy(group_col).agg(
        (F.lit(HLL_M) - F.count(F.lit(1))).cast("int").alias("_nz"),
        F.sum(pow_s).alias("_ss"),
    )
    return (
        agg_u.join(
            sides.select(
                F.col(group_col).alias("g_a"),
                F.col("_nz").alias("n_zero_a"),
                F.col("_ss").alias("s_scaled_a"),
            ),
            "g_a",
        )
        .join(
            sides.select(
                F.col(group_col).alias("g_b"),
                F.col("_nz").alias("n_zero_b"),
                F.col("_ss").alias("s_scaled_b"),
            ),
            "g_b",
        )
        .select(
            "g_a",
            "g_b",
            "n_zero_a",
            "s_scaled_a",
            "n_zero_b",
            "s_scaled_b",
            "n_zero_u",
            "s_scaled_u",
        )
    )


def hll_overlap_estimate(stats_row) -> float:
    """Driver-side inclusion-exclusion finish over one
    :func:`hll_pair_overlap` row — NOT oracle-checked (float), accuracy
    property-tested like :func:`hll_estimate`."""
    return (
        _hll_cardinality(stats_row["n_zero_a"], stats_row["s_scaled_a"])
        + _hll_cardinality(stats_row["n_zero_b"], stats_row["s_scaled_b"])
        - _hll_cardinality(stats_row["n_zero_u"], stats_row["s_scaled_u"])
    )


def cms_join_size(
    left: DataFrame,
    right: DataFrame,
    left_col: str,
    right_col: str,
    d: int = CMS_D,
    w: int = CMS_W,
    salt: str = "",
) -> DataFrame:
    """Equi-join cardinality estimate from two Count-Min sketches —
    the Cormode/Muthukrishnan inner-product estimator (J. Algorithms
    2005, §4.2): |A ⋈ B| = Σ_k cntA(k)·cntB(k) is estimated by

        est = min over sketch rows r of  Σ_col A[r][col]·B[r][col]

    (each row OVERestimates by collision mass — the min is the least
    biased; one-sided error, like the point-query form). This is what
    a cost-based planner consults before choosing join strategy/skew
    handling WITHOUT scanning either side: both inputs reduce to d·w
    cell tables (model-sized, mergeable across shards/batches — the
    sketch family's distributability), the estimate is one cell-table
    join + a d-row min. All integer arithmetic: per-cell products run
    in DECIMAL(38,0) (two 10¹²-row sides put ~(n/w)² ≈ 10¹⁹ in a cell
    product — past int64, the sigma_outliers rule). Output: one row,
    ``est_pairs`` (bigint)."""
    a = cms_cells(left, left_col, d=d, w=w, salt=salt).withColumnRenamed(
        "cnt", "_ca"
    )
    b = cms_cells(right, right_col, d=d, w=w, salt=salt).withColumnRenamed(
        "cnt", "_cb"
    )
    per_row = (
        a.join(b, ["sketch_row", "col"])
        .groupBy("sketch_row")
        .agg(
            F.sum(
                F.expr(
                    "CAST(_ca AS DECIMAL(38,0)) * CAST(_cb AS DECIMAL(38,0))"
                )
            ).alias("_ip")
        )
    )
    return per_row.agg(F.min("_ip").cast("bigint").alias("est_pairs"))


def hll_sliding_stats(
    events: DataFrame,
    ts_col: str = "ts",
    value_col: str = "user_id",
    window_hours: int = 24,
    salt: str = "",
) -> DataFrame:
    """Sliding-window distinct-count via MERGEABLE HLL states: one
    256-register sketch per hour, then each hour's trailing
    ``window_hours`` sketches merge by register-wise max — the
    streaming-warehouse recipe for "distinct users, trailing 24 h,
    every hour" that never re-touches raw events per window (an exact
    distinct would re-shuffle every (window x user) pair; the sketch
    path shuffles hours x 256 integers).

    Exactness: the OUTPUT is the integer sufficient-statistics triple
    (``n_buckets``, ``n_zero``, ``s_scaled``) per hour — the same
    hash-portable surface as ``hll_stats`` (the float estimate stays
    driver-side and property-tested). Merge-then-estimate equals
    estimate-over-union by register-max associativity.

    Scale: register grain throughout — per-hour partial-max shuffle,
    a window_hours-way explode of the hour-register table (bounded by
    time span, not corpus rows), and a second partial max. The hour
    spine is a left-semi join (only hours with data emit)."""
    h = _h48(F.col(value_col), salt)
    bucket = (h % F.lit(HLL_M)).cast("int")
    w = (h / F.lit(HLL_M)).cast("bigint")
    rank = F.when(w == 0, F.lit(_HLL_WBITS + 1)).otherwise(
        F.lit(_HLL_WBITS + 1) - F.length(F.bin(w))
    )
    eh = F.expr(
        f"unix_micros(CAST({ts_col} AS TIMESTAMP)) div 3600000000"
    )
    regs = (
        events.select(
            eh.alias("_eh"),
            bucket.alias("bucket"),
            rank.cast("int").alias("_rank"),
        )
        .groupBy("_eh", "bucket")
        .agg(F.max("_rank").alias("max_rank"))
    )
    hours = regs.select(F.col("_eh").alias("whour")).distinct()
    contrib = (
        regs.withColumn(
            "_off",
            F.explode(F.sequence(F.lit(0), F.lit(window_hours - 1))),
        )
        .withColumn("whour", F.col("_eh") + F.col("_off"))
        .join(hours, "whour", "left_semi")
    )
    merged = contrib.groupBy("whour", "bucket").agg(
        F.max("max_rank").alias("_mr")
    )
    return (
        merged.groupBy("whour")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_buckets"),
            (F.lit(HLL_M) - F.count(F.lit(1)))
            .cast("int")
            .alias("n_zero"),
            F.sum(
                F.pow(
                    F.lit(2.0), F.lit(_HLL_WBITS + 1) - F.col("_mr")
                ).cast("bigint")
            )
            .cast("bigint")
            .alias("s_scaled"),
        )
        .select(
            F.col("whour").cast("bigint").alias("epoch_hour"),
            "n_buckets",
            "n_zero",
            "s_scaled",
        )
    )
