"""The session-table registry (plans/session_tables.py) on tiny builds.

A fake session object stands in for a SparkSession where only the
applicationId matters; the registry's dicts are swapped for fresh ones
per test, so nothing here touches the builds of the real test session.
"""

from __future__ import annotations

import os
import re
from types import SimpleNamespace

import pytest

from sea_express_customs_etl_spark.plans import session_tables as st


class _App:
    """A session with its own applicationId; everything else (catalog,
    sql, reads, writes) is the wrapped real session, if any."""

    def __init__(self, app_id: str, spark=None) -> None:
        self.sparkContext = SimpleNamespace(applicationId=app_id)
        self._spark = spark

    def __getattr__(self, name):
        return getattr(self._spark, name)


@pytest.fixture
def reg(monkeypatch):
    monkeypatch.setattr(st, "_MEMO", {})
    monkeypatch.setattr(st, "_NAMES", {})
    monkeypatch.setattr(st, "SESSION_BUILD_SECONDS", {})
    return st


def _counting(calls: list, value=None):
    def build(name: str):
        calls.append(name)
        return name if value is None else value

    return build


def test_build_runs_once_per_key(reg):
    s, calls = _App("local-1"), []
    first = reg.shared(s, "/d/sf0.01", "aligned_shared", _counting(calls))
    again = reg.shared(s, "/d/sf0.01", "aligned_shared", _counting(calls))
    assert calls == [first] and again == first
    assert first == reg.session_name(s, "/d/sf0.01", "aligned_shared")
    reg.shared(s, "/d/sf0.01", "graph_shared", _counting(calls))
    assert len(calls) == 2


def test_build_value_is_returned_as_is(reg):
    rows = [(0, 1), (1, 2)]
    got = reg.shared(_App("a"), "sf", "pca_train", _counting([], rows))
    assert got is rows


def test_compaction_names_never_evict_each_other(reg):
    # the r10 bug class: one compaction's purge evicted the other's key,
    # and the evicted one replayed its writer onto a compacted store
    s, calls = _App("local-1"), []
    for name in (
        "sketch_compact_build",
        "ann_compact_build",
        "sketch_compact_build",
        "ann_compact_build",
    ):
        reg.shared(s, "sf", name, _counting(calls))
    assert len(calls) == 2


def test_entries_of_another_application_are_purged(reg):
    calls: list = []
    reg.shared(_App("old"), "sf", "aligned_shared", _counting(calls))
    reg.shared(_App("new"), "sf", "aligned_shared", _counting(calls))
    assert len(calls) == 2
    assert {k[0] for k in reg._MEMO} == {"new"}


def test_nested_build(reg):
    s, calls = _App("local-1"), []

    def outer(name):
        inner = reg.shared(s, "sf", "tokdict_unigram_vocab", _counting(calls))
        calls.append(name)
        return (name, inner)

    got = reg.shared(s, "sf", "tokdict_unigram", outer)
    assert reg.shared(s, "sf", "tokdict_unigram", outer) == got
    assert reg.shared(
        s, "sf", "tokdict_unigram_vocab", _counting(calls)
    ) == got[1]
    assert len(calls) == 2


def test_build_seconds_gain_the_name(reg):
    reg.shared(_App("a"), "sf", "walk_trail", _counting([]))
    reg.shared(_App("a"), "sf", "walk_trail", _counting([]))
    assert list(reg.SESSION_BUILD_SECONDS) == ["walk_trail"]
    assert reg.SESSION_BUILD_SECONDS["walk_trail"] >= 0.0


def test_names_differ_across_sf_dirs_and_sessions(reg):
    a, b = _App("local-1"), _App("local-2")
    names = {
        reg.session_name(a, "/d/sf0.001", "kbstore"),
        reg.session_name(a, "/d/sf0.01", "kbstore"),
        reg.session_name(b, "/d/sf0.001", "kbstore"),
    }
    assert len(names) == 3
    assert all(re.fullmatch(r"\w+", n) for n in names)


def test_drop_session_tables_drops_only_this_sessions_names(reg, spark):
    s = _App("droptest-1", spark)
    base = reg.session_name(s, "sf", "store")
    spark.range(3).write.mode("overwrite").saveAsTable(base + "_codes")
    spark.sql(f"CREATE VIEW {base}_del_codes AS SELECT * FROM {base}_codes")
    d = reg.scratch_dir(s, "sf", "orc_rt")
    open(os.path.join(d, "part"), "w").close()
    other = reg.session_name(_App("droptest-2", spark), "sf", "store")
    spark.range(1).write.mode("overwrite").saveAsTable(other + "_codes")
    reg.shared(s, "sf", "store", _counting([]))

    reg.drop_session_tables(s)

    left = {t.name for t in spark.catalog.listTables()}
    assert base + "_codes" not in left and base + "_del_codes" not in left
    assert other + "_codes" in left
    assert not os.path.exists(d)
    assert not any(k[0] == "droptest-1" for k in reg._MEMO)
    spark.sql(f"DROP TABLE {other}_codes")
