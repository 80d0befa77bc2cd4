"""The query registry behind ``queries()`` and ``oracle_sql()``: one
declaration per query, no drift between the two maps. No Spark session."""

from __future__ import annotations

import inspect

import pytest

import __spark_entry__ as entrymod
from sea_express_customs_etl_spark.queries import REGISTRY, query


def test_duplicate_registration_raises():
    before = dict(REGISTRY)

    def _q_knowledge_extraction(spark, sf_dir):
        raise AssertionError("never called")

    with pytest.raises(RuntimeError, match="knowledge_extraction"):
        query(oracle="SELECT 1")(_q_knowledge_extraction)
    assert REGISTRY == before


def test_every_oracle_is_nonempty_sql():
    bad = [
        n
        for n, q in REGISTRY.items()
        if not (isinstance(q.oracle, str) and q.oracle.strip())
    ]
    assert not bad


def test_prefix_leads_queries():
    assert list(entrymod.queries())[:50] == list(entrymod._PREFIX)


def test_queries_and_oracles_cover_the_same_349_names():
    qs, os_ = entrymod.queries(), entrymod.oracle_sql()
    assert set(qs) == set(os_)
    assert len(qs) == 349


def test_entry_module_defines_no_query_function():
    local = [
        n
        for n, f in vars(entrymod).items()
        if n.startswith("_q_") and inspect.isfunction(f)
    ]
    assert not local
