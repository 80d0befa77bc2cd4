"""Repo-wide cache hygiene audit (VERDICT r5 "what's wrong" #2).

Every operator-internal ``persist()`` must go through
``plans.cache.tracked_persist`` so harnesses can release it after the
consuming action — otherwise a long-lived production session
accumulates cached partitions until eviction thrashes. This test runs
EVERY ``queries()`` entry at sf0.001 (doubling as a smallest-SF smoke
test), releases the tracked pins, and asserts the session's
CacheManager holds nothing beyond the intentional session-scoped
table caches (``plans/standins._MATERIALIZED`` — the in-session form
of the reference's materialized staging tables, deliberately
session-long).

``localCheckpoint`` storage (pagerank sweeps) is RDD-level, not
CacheManager-level, and is reclaimed by the ContextCleaner when the
driver-side frames are garbage-collected — out of scope here.

A static sweep also pins the rule at the source level: no module may
call ``.persist()`` directly unless it also unpersists in the same
file (the eager train-consume-release pattern: pq/bpe/similarity) or
is the standins table cache.
"""

from __future__ import annotations

import os
import re

import pytest

import __spark_entry__ as entrymod
from sea_express_customs_etl_spark.plans import standins
from sea_express_customs_etl_spark.plans.cache import (
    _TRACKED,
    release_tracked,
)

SF_DIR = "/root/testdata/sf0.001"

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _cached_entries(spark) -> int:
    return (
        spark._jsparkSession.sharedState().cacheManager().cachedData().size()
    )


def test_no_untracked_persist_calls():
    """Static rule: ``.persist()`` appears only in cache.py itself, in
    the standins table cache, or in modules that unpersist in-file."""
    offenders = []
    for root, _dirs, files in os.walk(
        os.path.join(PKG, "sea_express_customs_etl_spark")
    ):
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(root, f)
            src = open(path).read()
            uses = len(re.findall(r"\.persist\(", src))
            if not uses or f == "cache.py":
                continue
            if f == "standins.py":
                continue  # the intentional session-long table cache
            releases = len(re.findall(r"\.unpersist\(", src))
            if releases >= uses:
                continue  # every persist eagerly released in-file
            offenders.append(path)
    entry_src = open(os.path.join(PKG, "__spark_entry__.py")).read()
    if re.search(r"\.persist\(", entry_src):
        offenders.append("__spark_entry__.py")
    assert not offenders, f"untracked persist() in: {offenders}"


@pytest.mark.parametrize("name", list(entrymod.queries()))
def test_query_releases_all_caches(spark, name):
    """Growth-based assertion: in the full suite, unit tests that ran
    earlier may hold their own (test-scoped) persisted frames, so the
    absolute CacheManager count is not ours to pin — but a query may
    not ADD cached plans beyond the session-scoped table caches it
    legitimately warms on first touch."""
    release_tracked()  # clear pins left by earlier tests in the session
    before = _cached_entries(spark)
    mat_before = len(standins._MATERIALIZED)
    fn = entrymod.queries()[name]
    fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
    release_tracked()
    assert not _TRACKED
    grown = _cached_entries(spark) - before
    allowed = len(standins._MATERIALIZED) - mat_before
    assert grown <= allowed, (
        f"{name}: leaked {grown - allowed} cached plans after release "
        f"(cache entries grew {grown}, new table caches {allowed})"
    )
