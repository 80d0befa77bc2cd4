"""Goldens + invariants for the round-10 second-wave operators:
tokenizer fertility (bpe), PSI drift, dataset cartography."""

import pyspark.sql.functions as F

from sea_express_customs_etl_spark.operators.bpe import (
    bpe_fertility,
    bpe_pieces,
    word_freq,
)
from sea_express_customs_etl_spark.operators.psi import value_psi_drift


def _fertility(docs, merges):
    vocab = word_freq(docs).select(F.col("word").alias("_w"))
    return bpe_fertility(docs, bpe_pieces(vocab, merges))


def test_bpe_fertility_golden_no_merges(spark):
    # "ab" -> a|b|</w> = 3 pieces, "c" -> c|</w> = 2; every word multi
    docs = spark.createDataFrame(
        [(1, "ab c", "s1"), (2, "ab", "s2")],
        ["doc_id", "text", "source"],
    )
    out = {r.source: r for r in _fertility(docs, []).collect()}
    assert out["s1"].n_words == 2 and out["s1"].n_pieces == 5
    assert out["s1"].fert_u6 == 2_500_000
    assert out["s1"].multi_ppm == 1_000_000
    assert out["s2"].n_pieces == 3


def test_bpe_fertility_merge_lowers_fertility(spark):
    docs = spark.createDataFrame(
        [(1, "ab ab ab", "s")], ["doc_id", "text", "source"]
    )
    none = _fertility(docs, []).collect()[0]
    merged = _fertility(docs, [("a", "b")]).collect()[0]
    assert merged.n_pieces < none.n_pieces
    assert merged.fert_u6 < none.fert_u6


def _psi(spark, ref_vals, cur_vals):
    rows = [(i, v, 0) for i, v in enumerate(ref_vals)]
    rows += [(10_000 + i, v, 1) for i, v in enumerate(cur_vals)]
    df = spark.createDataFrame(rows, ["k", "y", "cur"])
    return value_psi_drift(
        df,
        value_col=F.col("y"),
        is_current=F.col("cur") == 1,
        key_col="k",
    ).collect()


def test_psi_identical_distributions_zero(spark):
    vals = list(range(1, 41))
    out = _psi(spark, vals, vals)
    assert len(out) == 10
    assert all(r.term_u6 == 0 for r in out)
    assert sum(r.ref_n for r in out) == 40
    assert sum(r.cur_n for r in out) == 40


def test_psi_shift_detected_and_nonnegative(spark):
    ref = list(range(1, 41))
    cur = [v + 100 for v in ref]  # everything lands in bucket 10
    out = {r.bucket: r for r in _psi(spark, ref, cur)}
    assert out[10].cur_n == 40
    assert all(r.term_u6 >= 0 for r in out.values())
    assert sum(r.term_u6 for r in out.values()) > 500_000  # PSI >> 0.25


def test_psi_layout_invariance(spark):
    ref = [(i * 37) % 900 for i in range(80)]
    cur = [(i * 53) % 900 for i in range(60)]
    rows = [(i, v, 0) for i, v in enumerate(ref)]
    rows += [(10_000 + i, v, 1) for i, v in enumerate(cur)]
    df = spark.createDataFrame(rows, ["k", "y", "cur"])

    def run(d):
        return sorted(
            map(
                tuple,
                value_psi_drift(
                    d,
                    value_col=F.col("y"),
                    is_current=F.col("cur") == 1,
                    key_col="k",
                ).collect(),
            )
        )

    assert run(df) == run(df.repartition(7))


def test_training_cartography_invariants(spark, sf_dir):
    import __spark_entry__ as entry
    from sea_express_customs_etl_spark.queries.shared import _docs

    out = entry.queries()["training_cartography"](spark, sf_dir).collect()
    docs = _docs(spark, sf_dir).count()
    assert len(out) == docs
    for r in out:
        assert r.var_num >= 0
        assert r.region in ("easy", "hard", "ambiguous")
        if r.region == "easy":
            assert r.conf_num > 0
    regions = {r.region for r in out}
    assert regions <= {"easy", "hard", "ambiguous"} and regions


def test_training_cartography_region_golden(spark):
    # Constant per-epoch weights across ALL buckets make each margin
    # m_e = pm * w_e * n_tokens — hash-independent, so regions are
    # fully controlled: (+,+,+) easy for y=1; sign-flip ambiguous;
    # all-nonpositive hard.
    from sea_express_customs_etl_spark.operators.perceptron import (
        training_cartography,
    )

    docs = spark.createDataFrame(
        [(1, "aa bb cc", "en"), (2, "dd ee", "fr")],
        ["doc_id", "text", "lang"],
    )

    def snaps(ws):
        return [
            spark.createDataFrame(
                [(b, w) for b in range(64)], "bucket int, we long"
            )
            for w in ws
        ]

    lab = F.col("lang") == "en"
    easy = {
        r.doc_id: r
        for r in training_cartography(docs, lab, snaps([1, 2, 3])).collect()
    }
    # doc 1 (y=1): margins 3,6,9 -> easy, conf=18, var = 3*(9+36+81)-324
    assert easy[1].region == "easy" and easy[1].conf_num == 18
    assert easy[1].var_num == 3 * (9 + 36 + 81) - 18 * 18
    # doc 2 (y=-1): margins -2,-4,-6 -> hard
    assert easy[2].region == "hard" and easy[2].conf_num == -12
    flip = {
        r.doc_id: r
        for r in training_cartography(docs, lab, snaps([1, -1, 1])).collect()
    }
    assert flip[1].region == "ambiguous"
    assert flip[2].region == "ambiguous"
