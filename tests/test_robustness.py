"""Robustness: distribution-invariance of the flagship and
crash-freedom of the byte parsers under fuzzed input."""

from __future__ import annotations

import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from sea_express_customs_etl_spark.plans.knowledge import knowledge_base
from sea_express_customs_etl_spark.plans.standins import declared_table, official_table
from sea_express_customs_etl_spark.sources.excel_source import (
    _parse_partition as parse_excel,
)
from sea_express_customs_etl_spark.sources.xml_source import (
    _parse_partition as parse_xml,
)


def test_knowledge_base_invariant_under_repartitioning(spark, sf_dir):
    """The distributed result must not depend on physical layout —
    the determinism property the reference lacks (Counter insertion
    order) and the engine guarantees (SURVEY §7.3.2)."""
    a, b = declared_table(spark, sf_dir), official_table(spark, sf_dir)
    base = sorted(map(tuple, knowledge_base(a, b, use_nfkc=False).collect()))
    shuffled = sorted(
        map(
            tuple,
            knowledge_base(
                a.repartition(13), b.repartition(3), use_nfkc=False
            ).collect(),
        )
    )
    assert base == shuffled and len(base) > 0


def _batches(name: str, payload: bytes):
    yield pd.DataFrame({"path": [f"/in/{name}"], "content": [payload]})


@settings(max_examples=30, deadline=None)
@given(st.binary(min_size=0, max_size=400))
def test_excel_parser_never_raises(payload):
    for suffix in ("csv", "xlsx", "xls"):
        out = list(_batches(f"fuzz.{suffix}", payload))
        frames = list(parse_excel(iter(out)))
        assert all(isinstance(f, pd.DataFrame) for f in frames)


@settings(max_examples=25, deadline=None)
@given(st.binary(min_size=0, max_size=600), st.integers(0, 5000))
def test_truncated_xls_never_raises(payload, cut):
    """A VALID BIFF8 prefix chopped or tail-corrupted at an arbitrary
    byte must be contained per-file, never crash the task."""
    from tests.xls_writer import write_xls

    good = write_xls(
        [["25040104EX"], [], ["h1", "h2", "h3"], ["a", 1, 2.5], ["b", 2, None]]
    )
    mangled = good[: min(cut, len(good))] + payload
    frames = list(parse_excel(_batches("fuzz.xls", mangled)))
    assert all(isinstance(f, pd.DataFrame) for f in frames)


@settings(max_examples=25, deadline=None)
@given(st.binary(min_size=0, max_size=600), st.integers(0, 3000))
def test_truncated_xlsx_never_raises(payload, cut):
    from sea_express_customs_etl_spark.sources.xlsx_stdlib import write_xlsx

    good = write_xlsx(
        [["25040104EX"], [], ["h1", "h2", "h3"], ["a", 1, 2.5], ["b", 2, None]]
    )
    mangled = good[: min(cut, len(good))] + payload
    frames = list(parse_excel(_batches("fuzz.xlsx", mangled)))
    assert all(isinstance(f, pd.DataFrame) for f in frames)


@settings(max_examples=30, deadline=None)
@given(st.binary(min_size=0, max_size=400))
def test_xml_parser_never_raises(payload):
    for suffix in ("xml", "zip"):
        frames = list(parse_xml(_batches(f"fuzz.{suffix}", payload)))
        assert all(isinstance(f, pd.DataFrame) for f in frames)


@settings(max_examples=20, deadline=None)
@given(st.text(max_size=300))
def test_excel_parser_never_raises_texty(payload):
    frames = list(parse_excel(_batches("fuzz.csv", payload.encode("utf-8"))))
    assert all(isinstance(f, pd.DataFrame) for f in frames)
