"""Unit tests for linking + vote operators on tiny inline frames
(SURVEY.md §2.4-2.5). Count-mismatch exclusion mirrors the reference's
observed behavior (1035 keys → 1030 valid, ``training.log:8-9``)."""

from __future__ import annotations

import pyspark.sql.functions as F

from sea_express_customs_etl_spark.operators import (
    add_link_key,
    count_matched_keys,
    majority_vote,
)
from sea_express_customs_etl_spark.plans.knowledge import knowledge_aligned


def _raw_ab(spark):
    # key K1: 2 items on both sides (valid); K2: 2 vs 1 (count mismatch);
    # K3: only in A (no intersection)
    a = spark.createDataFrame(
        [
            ("M1", "K1", 1, "apple"),
            ("M1", "K1", 2, "banana"),
            ("M1", "K2", 1, "pear"),
            ("M1", "K2", 2, "plum"),
            ("M1", "K3", 1, "kiwi"),
        ],
        "mawb_no string, hawb_no string, item_no int, description_original string",
    )
    b = spark.createDataFrame(
        [
            ("m-1", "k 1", 1, "APPLE_OFF", "C1"),
            ("m-1", "k 1", 2, "BANANA_OFF", "C2"),
            ("m-1", "k 2", 1, "PEAR_OFF", "C3"),
        ],
        "mawb_no string, hawb_no string, item_sequence int,"
        " description_official string, ccc_code string",
    )
    return a, b


def _ab(spark):
    a, b = _raw_ab(spark)
    return add_link_key(a), add_link_key(b)


def test_count_match_excludes_mismatched_and_orphans(spark):
    a, b = _ab(spark)
    valid = count_matched_keys(a, b)
    assert [r.link_key for r in valid.collect()] == ["M1_K1"]


def test_positional_align_pairs_by_rank(spark):
    # only K1 is count-matched; its items pair by rank, 1-based
    aligned = knowledge_aligned(*_raw_ab(spark), use_nfkc=False)
    rows = {
        (r.link_key, r.pos, r.original_description, r.official_description, r.ccc_code)
        for r in aligned.collect()
    }
    assert rows == {
        ("M1_K1", 1, "APPLE", "APPLE_OFF", "C1"),
        ("M1_K1", 2, "BANANA", "BANANA_OFF", "C2"),
    }


def test_positional_align_ignores_gaps_in_order_values(spark):
    # ordinal rank matters, not the raw order values (10,30 ≡ 1,2)
    a = spark.createDataFrame(
        [("M", "K", 10, "first"), ("M", "K", 30, "second")],
        "mawb_no string, hawb_no string, item_no int, description_original string",
    )
    b = spark.createDataFrame(
        [("M", "K", 2, "SECOND", "C2"), ("M", "K", 1, "FIRST", "C1")],
        "mawb_no string, hawb_no string, item_sequence int,"
        " description_official string, ccc_code string",
    )
    got = {
        (r.pos, r.original_description, r.official_description)
        for r in knowledge_aligned(a, b, use_nfkc=False).collect()
    }
    assert got == {(1, "FIRST", "FIRST"), (2, "SECOND", "SECOND")}


def test_majority_vote_winner_and_tiebreak(spark):
    df = spark.createDataFrame(
        [
            ("shirt", "POLO", "C1"),
            ("shirt", "POLO", "C1"),
            ("shirt", "TEE", "C2"),
            ("cup", "MUG", "C9"),  # exact 50/50 tie → lexicographic winner
            ("cup", "ZCUP", "C0"),
            ("", "EMPTY", "CX"),  # empty src excluded (batch_train.py:127)
        ],
        "original_description string, official_description string, ccc_code string",
    )
    got = {
        r.original_description: (r.official_description, r.ccc_code, r.frequency)
        for r in majority_vote(df).collect()
    }
    assert got == {
        "shirt": ("POLO", "C1", 2),
        "cup": ("MUG", "C9", 1),
    }


def test_majority_vote_permutation_invariant(spark):
    rows = [
        ("a", "X", "1"),
        ("a", "Y", "2"),
        ("a", "X", "1"),
        ("b", "Z", "3"),
    ]
    schema = "original_description string, official_description string, ccc_code string"
    base = majority_vote(spark.createDataFrame(rows, schema)).collect()
    perm = majority_vote(
        spark.createDataFrame(list(reversed(rows)), schema).repartition(3)
    ).collect()
    assert sorted(map(tuple, base)) == sorted(map(tuple, perm))


def test_knowledge_ivm_three_batch_fold_equals_rebuild(spark, sf_dir):
    """Folding three waybill-complete loads through knowledge_base_ivm
    must equal the full rebuild exactly — winners, frequencies, and
    tie-breaks (the merged state re-ranks touched sources over FULL
    history, so a late batch can flip a winner and must)."""
    from sea_express_customs_etl_spark.functions.strings import link_key
    from sea_express_customs_etl_spark.operators.vote import (
        state_winners,
        vote_counts,
    )
    from sea_express_customs_etl_spark.plans.knowledge import (
        knowledge_aligned,
        knowledge_base,
        knowledge_base_ivm,
    )
    from sea_express_customs_etl_spark.plans.standins import (
        declared_table,
        official_table,
    )

    a = declared_table(spark, sf_dir)
    b = official_table(spark, sf_dir)

    def part(df, i):
        lk = link_key(F.col("mawb_no"), F.col("hawb_no"))
        return df.filter(F.crc32(lk) % 3 == i)

    state = vote_counts(
        knowledge_aligned(part(a, 0), part(b, 0), use_nfkc=False)
    )
    kb = state_winners(state).select(
        "original_description", "official_description", "ccc_code", "frequency"
    )
    for i in (1, 2):
        state, kb = knowledge_base_ivm(
            state, kb, part(a, i), part(b, i), use_nfkc=False
        )
    got = sorted(map(tuple, kb.collect()))
    want = sorted(map(tuple, knowledge_base(a, b, use_nfkc=False).collect()))
    assert got == want and len(got) > 0


def test_knowledge_ivm_empty_delta_is_identity(spark, sf_dir):
    """A delta with no rows must leave state and KB unchanged (no
    sources touched -> pure anti-join passthrough)."""
    from sea_express_customs_etl_spark.operators.vote import (
        state_winners,
        vote_counts,
    )
    from sea_express_customs_etl_spark.plans.knowledge import (
        knowledge_aligned,
        knowledge_base_ivm,
    )
    from sea_express_customs_etl_spark.plans.standins import (
        declared_table,
        official_table,
    )

    a = declared_table(spark, sf_dir)
    b = official_table(spark, sf_dir)
    state = vote_counts(knowledge_aligned(a, b, use_nfkc=False))
    kb = state_winners(state).select(
        "original_description", "official_description", "ccc_code", "frequency"
    )
    state2, kb2 = knowledge_base_ivm(
        state, kb, a.limit(0), b.limit(0), use_nfkc=False
    )
    assert sorted(map(tuple, kb2.collect())) == sorted(map(tuple, kb.collect()))
    assert sorted(map(tuple, state2.collect())) == sorted(
        map(tuple, state.collect())
    )
