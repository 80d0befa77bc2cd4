"""Regression: the two compaction queries' session builds
(`ann_store_compact_topk`'s "ann_compact_build" and
`sketch_compact_merged`'s "sketch_compact_build") must never evict each
other. Both now go through `plans/session_tables.shared`, keyed by
(applicationId, sf_dir, name); before that they shared one hand-rolled
memo set with two key shapes, and a purge that matched k[0] evicted the
sketch key every time the ANN query ran. The next sketch invocation
then replayed its writer batches onto an ALREADY-COMPACTED store (whose
batch markers were collapsed), resurrecting deleted users (r10
suite-caught hash mismatch on sketch_compact_merged; order-dependent,
so this test pins the exact interleaving).
"""

from __future__ import annotations

import duckdb
import pytest

import __spark_entry__ as entrymod
from sea_express_customs_etl_spark.plans.cache import release_tracked
from tools.check_oracle import TABLES, value_hash


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    yield con
    con.close()


def _check(spark, sf_dir, duck, name):
    sdf = entrymod.queries()[name](spark, sf_dir)
    srows = [tuple(r) for r in sdf.collect()]
    release_tracked()
    res = duck.sql(entrymod.oracle_sql()[name])
    orows = res.fetchall()
    assert len(srows) == len(orows), f"{name}: row count"
    assert value_hash(sdf.columns, srows) == value_hash(
        res.columns, orows
    ), f"{name}: hash after interleaved compaction"


def test_sketch_survives_ann_compact_interleaving(spark, sf_dir, duck):
    # sketch builds+compacts, ANN compact runs (its purge must NOT
    # evict the sketch key), then BOTH re-run against the same oracles
    for name in (
        "sketch_compact_merged",
        "ann_store_compact_topk",
        "sketch_compact_merged",
        "ann_store_compact_topk",
    ):
        _check(spark, sf_dir, duck, name)
