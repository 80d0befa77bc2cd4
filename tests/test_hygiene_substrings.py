"""Exact-substring dedup (operators/hygiene.py: dup_substring_stats) —
the MassiveText granularity between document- and line-level dedup.
The stats are oracle-checked by the ``substring_dedup`` query; this
test pins the edge semantics."""

from __future__ import annotations

from sea_express_customs_etl_spark.operators.hygiene import dup_substring_stats

BOILER = "x" * 80  # an 80-char run shared by two docs


def _docs(spark):
    return spark.createDataFrame(
        [
            (1, "A" * 30 + BOILER + "B" * 30),
            (2, "C" * 50 + BOILER + "D" * 10),
            (3, "short"),
        ],
        "doc_id long, text string",
    )


def test_stats_marks_shared_spans_and_keeps_short_docs(spark):
    got = {
        r.doc_id: r
        for r in dup_substring_stats(_docs(spark), window=32, stride=8)
        .collect()
    }
    # doc 1: x-run spans chars 30..110; fully-x windows start at the
    # stride-aligned offsets 32..72 → span [32, 104)
    assert (got[1].dup_lo, got[1].dup_hi) == (32, 104)
    assert got[1].n_dup_windows == 6
    # doc 2: C-run windows ALSO self-repeat (49 identical chars > one
    # 32-char window) → duplicated from offset 0
    assert got[2].dup_lo == 0
    # < window chars → zero windows, NULL bounds, row kept
    assert (got[3].n_windows, got[3].dup_lo) == (0, None)
