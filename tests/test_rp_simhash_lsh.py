"""Tests for the bit-sampling LSH family: the banded Hamming search and
simhash on top of it (operators/dedup.py), and deterministic random
projections / SRP-LSH (operators/rp.py)."""

from __future__ import annotations

import hashlib

import pyspark.sql.functions as F
import pytest

from sea_express_customs_etl_spark.operators.dedup import (
    hamming_pairs,
    simhash,
    simhash_hamming_pairs,
)
from sea_express_customs_etl_spark.operators.rp import (
    MICRO,
    projection_signs,
    random_project,
    srp_near_dups,
    srp_signatures,
)

DOCS = [
    (1, "alpha beta gamma delta epsilon zeta"),
    (2, "alpha beta gamma delta epsilon zeta"),  # exact dup of 1
    (3, "alpha beta gamma delta epsilon eta"),  # one-token edit of 1
    (4, "totally different words entirely here now"),
    (5, "quick brown fox jumps over dogs"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


def test_simhash_hamming_pairs_match_brute_force(docs):
    """The banded plan must return EXACTLY the all-pairs popcount
    result for max_hamming < bands (the pigeonhole guarantee)."""
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash_hamming_pairs(
            docs, num_bits=32, bands=4, max_hamming=3
        ).collect()
    }
    sig = {r.doc_id: r.simhash for r in simhash(docs, num_bits=32).collect()}
    ids = sorted(sig)
    want = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            h = bin(sig[a] ^ sig[b]).count("1")
            if h <= 3:
                want[(a, b)] = h
    assert got == want
    assert (1, 2) in got and got[(1, 2)] == 0  # exact dup → distance 0


def test_hamming_pairs_match_brute_force_64bit(spark):
    """64-bit signatures, half with the sign bit set: the banded plan
    returns EXACTLY the all-pairs popcount result. Each planted copy
    leaves one 16-bit band intact — cycling through all four — and
    flips the edge bits next to it (the top bit of the band below, the
    bottom bit of the band above) plus the top bit of the remaining
    band, the sign bit when that band is the top one. It can only pair
    through the intact band, so a slice that is mis-cut, sign-extended
    or taken modulo loses it."""
    import random

    rng = random.Random(64)
    full = (1 << 64) - 1

    def signed(u):
        return u - (1 << 64) if u >> 63 else u

    def flips(keep):
        return [
            16 * b + (0 if b == keep + 1 else 15) for b in range(4) if b != keep
        ]

    sigs = {}
    for i in range(40):
        base = rng.getrandbits(64) | ((i % 2) << 63)
        sigs[i] = base
        keep = i % 4  # the band the copy leaves intact
        n = 3 if i % 5 else 4 if i % 10 else 0  # hamming 3, 4 (out) or 0
        copy = base
        for bit in (flips(keep) + [16 * keep + 7])[:n]:
            copy ^= 1 << bit
        sigs[1000 + i] = copy
    df = spark.createDataFrame(
        [(k, signed(v)) for k, v in sigs.items()], "id long, sig long"
    )
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in hamming_pairs(df, "sig", 64, 4, 3, "id").collect()
    }
    ids = sorted(sigs)
    want = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            h = bin((sigs[a] ^ sigs[b]) & full).count("1")
            if h <= 3:
                want[(a, b)] = h
    assert got == want
    assert sum(h == 3 for h in want.values()) >= 20


@pytest.mark.parametrize(
    "num_bits,bands,max_hamming",
    [(64, 4, 4), (32, 4, 4), (16, 4, 5), (16, 3, 2)],
    ids=["64bit-max4", "32bit-max4", "16bit-max5", "16bit-3bands"],
)
def test_hamming_pairs_rejects_lossy_params(spark, num_bits, bands, max_hamming):
    """``max_hamming >= bands`` loses the pigeonhole exactness, and
    ``bands`` must cut ``num_bits`` into equal slices."""
    df = spark.createDataFrame([(1, 5)], "id long, sig long")
    with pytest.raises(ValueError):
        hamming_pairs(df, "sig", num_bits, bands, max_hamming, "id")


def test_projection_signs_deterministic_and_md5_derived():
    s1 = projection_signs(4, 8)
    s2 = projection_signs(4, 8)
    assert s1 == s2
    nib = int(hashlib.md5(b"rp_2_5").hexdigest()[0], 16)
    assert s1[2][5] == (1 if nib % 2 == 0 else -1)
    assert {v for row in s1 for v in row} <= {1, -1}


def test_random_project_integer_exact(spark):
    """Projection p of vector v must equal the plain integer dot
    product of micro-scaled components with the ±1 matrix."""
    vec = [0.5, -0.25, 0.125, 1.0]
    df = spark.createDataFrame([(7, vec)], ["vec_id", "embedding"])
    row = random_project(df, n_planes=3, dim=4).collect()[0]
    signs = projection_signs(3, 4)
    micro = [round(x * MICRO) for x in vec]
    for p in range(3):
        assert row[f"p_{p}"] == sum(m * s for m, s in zip(micro, signs[p]))


def test_srp_signature_bits_are_projection_signs(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0, 4.0]), (2, [-1.0, -2.0, -3.0, -4.0])],
        ["vec_id", "embedding"],
    )
    proj = {
        r.vec_id: [r[f"p_{p}"] for p in range(4)]
        for r in random_project(df, n_planes=4, dim=4).collect()
    }
    sig = {r.vec_id: r.srp for r in srp_signatures(df, n_planes=4, dim=4).collect()}
    for vid, ps in proj.items():
        want = sum((1 << p) for p in range(4) if ps[p] >= 0)
        assert sig[vid] == want
    # antipodal vectors disagree on every non-zero projection
    assert sig[1] ^ sig[2] == sum(
        (1 << p) for p in range(4) if proj[1][p] != 0 or proj[2][p] != 0
    ) or sig[1] != sig[2]


def test_srp_near_dups_precision_and_subset(spark):
    """Every returned pair must clear the cosine threshold (exact
    precision) and be a subset of the brute-force cosine pairs."""
    import random

    rng = random.Random(42)
    base = [rng.uniform(-1, 1) for _ in range(16)]
    rows = []
    for i in range(12):
        jitter = [x + rng.uniform(-0.01, 0.01) for x in base]
        rows.append((i, jitter))  # tight cluster → near-dups
    for i in range(12, 24):
        rows.append((i, [rng.uniform(-1, 1) for _ in range(16)]))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    got = srp_near_dups(df, n_planes=16, bands=4, threshold=0.9, dim=16).collect()
    assert got, "tight cluster must surface at least one near-dup pair"
    for r in got:
        assert r.cosine >= 0.9
        assert r.id_a < r.id_b
    # the jittered cluster members collide in every band (signatures
    # are equal for near-identical vectors) → all 66 cluster pairs found
    cluster_pairs = {(r.id_a, r.id_b) for r in got if r.id_a < 12 and r.id_b < 12}
    assert len(cluster_pairs) == 66
