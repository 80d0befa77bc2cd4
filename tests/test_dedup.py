"""Unit tests for dedup operators (exact, MinHash-LSH, Jaccard, SimHash)."""

from __future__ import annotations

from sea_express_customs_etl_spark.operators.dedup import (
    exact_duplicates,
    jaccard_verify,
    lsh_bands,
    lsh_candidate_pairs,
    minhash_signatures,
    shingles,
    simhash,
)

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
    (3, "the quick brown fox jumps over the sleepy dog"),  # near dup of 1
    (4, "completely different text about spark engines and shuffles"),
    (5, "hi"),  # < 3 words → no shingles
]


def _docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_duplicates(spark):
    got = {
        r.rep_doc_id: r.n_copies for r in exact_duplicates(_docs(spark)).collect()
    }
    assert got[1] == 2  # docs 1+2 collapse
    assert got[3] == 1 and got[4] == 1 and got[5] == 1


def test_shingles_set_semantics(spark):
    sh = shingles(_docs(spark))
    rows = sh.filter("doc_id = 1").collect()
    # 9 words → 7 trigrams, all distinct here
    assert len(rows) == 7
    assert sh.filter("doc_id = 5").count() == 0


def test_lsh_finds_near_duplicates(spark):
    sh = shingles(_docs(spark))
    pairs = lsh_candidate_pairs(lsh_bands(minhash_signatures(sh)))
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (1, 2) in got  # identical docs always share all bands
    assert not any(4 in p for p in got)  # unrelated doc never pairs


def test_jaccard_verify_scores(spark):
    sh = shingles(_docs(spark))
    pairs = lsh_candidate_pairs(lsh_bands(minhash_signatures(sh)))
    verified = {
        (r.id_a, r.id_b): r.jaccard
        for r in jaccard_verify(pairs, sh, threshold=0.0).collect()
    }
    assert verified[(1, 2)] == 1.0


def test_shingle_profiles_equal_staged_pipeline(spark, sf_dir):
    """The fused profile frame (one explode + one groupBy) must carry
    exactly the information of the staged pipeline: same minhash
    signatures, same distinct-shingle counts, same LSH pairs, and
    bit-identical Jaccard scores via array_intersect — on the toy
    corpus AND the real documents table."""
    from sea_express_customs_etl_spark.operators.dedup import (
        jaccard_verify_profiles,
        shingle_profiles,
    )

    for df in (
        _docs(spark),
        spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            "doc_id", "text"
        ),
    ):
        sh = shingles(df)
        sig = minhash_signatures(sh)
        prof = shingle_profiles(df)

        mh_cols = [f"mh_{i}" for i in range(8)]
        staged_sig = {
            r.doc_id: tuple(r[c] for c in mh_cols) for r in sig.collect()
        }
        fused = {
            r.doc_id: (tuple(r[c] for c in mh_cols), r.n_sh)
            for r in prof.collect()
        }
        assert {d: s for d, (s, _) in fused.items()} == staged_sig
        staged_sizes = {
            r.doc_id: r.cnt
            for r in sh.groupBy("doc_id").count().withColumnRenamed(
                "count", "cnt"
            ).collect()
        }
        assert {d: n for d, (_, n) in fused.items()} == staged_sizes

        pairs = lsh_candidate_pairs(lsh_bands(sig))
        staged_j = {
            (r.id_a, r.id_b): r.jaccard
            for r in jaccard_verify(pairs, sh, threshold=0.0).collect()
        }
        fused_j = {
            (r.id_a, r.id_b): r.jaccard
            for r in jaccard_verify_profiles(
                lsh_candidate_pairs(lsh_bands(prof)), prof, threshold=0.0
            ).collect()
        }
        assert fused_j == staged_j


def test_simhash_properties(spark):
    sigs = {r.doc_id: r.simhash for r in simhash(_docs(spark)).collect()}
    assert sigs[1] == sigs[2]  # identical text → identical signature
    assert sigs[1] != sigs[4]  # unrelated text → different signature
    assert all(0 <= s < 2**16 for s in sigs.values())


def _hamming(a: int, b: int) -> int:
    return bin(a ^ b).count("1")


def test_simhash_near_dup_closer_than_unrelated(spark):
    sigs = {r.doc_id: r.simhash for r in simhash(_docs(spark)).collect()}
    assert _hamming(sigs[1], sigs[3]) < _hamming(sigs[1], sigs[4])


def test_containment_catches_prefix_dup_jaccard_misses(spark):
    """A short doc fully contained in a long one: containment ≈ 1 while
    Jaccard is low — the asymmetric signal the operator exists for."""
    from sea_express_customs_etl_spark.operators.dedup import (
        containment_verify_profiles,
        shingle_profiles,
    )

    long_text = " ".join(f"w{i}" for i in range(40))
    short_text = " ".join(f"w{i}" for i in range(10))  # strict prefix
    df = spark.createDataFrame(
        [(1, long_text), (2, short_text)], "doc_id long, text string"
    )
    prof = shingle_profiles(df)
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    got = containment_verify_profiles(pairs, prof, threshold=0.8).collect()
    assert len(got) == 1
    r = got[0]
    assert r.containment == 1.0  # all 8 short-doc shingles inside long doc
    assert r.jaccard < 0.25  # symmetric measure reads it as unrelated


def test_keep_by_quality_moves_representative_only(spark):
    """keep_by_quality must keep exactly one member per cluster (the
    highest-quality, ties -> lowest id) without changing cluster
    assignments; members missing a quality row rank lowest."""
    import pyspark.sql.functions as F

    from sea_express_customs_etl_spark.operators.dedup import keep_by_quality

    clustered = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (9, 9)], "doc_id long, cluster_id long"
    )
    quality = spark.createDataFrame(
        [(1, 10), (2, 99), (3, 99)], "doc_id long, quality long"
    )  # doc 9 has no quality row
    got = {r.doc_id: (r.cluster_id, r.keep) for r in keep_by_quality(
        clustered, quality
    ).collect()}
    assert got == {1: (1, 0), 2: (1, 1), 3: (1, 0), 9: (9, 1)}
