"""Regression: a store query's table prefix carries the sf dir.

The incremental-store queries fold fixed batch ids into a store and
skip ids already committed there. With a prefix taken from the
applicationId alone, a second sf dir in the same session found the
first dir's batches committed, folded nothing and read back the first
dir's knowledge base (knowledge_ivm_stream: 62 rows against 64 at
sf0.01 after sf0.001).
"""

from __future__ import annotations

import os

import duckdb
import pytest

import __spark_entry__ as entrymod
from sea_express_customs_etl_spark.plans.cache import release_tracked
from tools.check_oracle import TABLES, value_hash


def test_knowledge_ivm_stream_second_sf_dir_reads_its_own_store(spark, sf_dir):
    root = os.path.dirname(sf_dir)
    first, second = os.path.join(root, "sf0.001"), os.path.join(root, "sf0.01")
    if not (os.path.isdir(first) and os.path.isdir(second)):
        pytest.skip("needs the sf0.001 and sf0.01 test data")
    q = entrymod.queries()["knowledge_ivm_stream"]
    for d in (first, second):
        sdf = q(spark, d)
        srows = [tuple(r) for r in sdf.collect()]
        release_tracked()

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{second}/{t}.parquet')"
        )
    res = con.sql(entrymod.oracle_sql()["knowledge_ivm_stream"])
    orows = res.fetchall()
    con.close()
    assert len(srows) == len(orows)
    assert value_hash(sdf.columns, srows) == value_hash(res.columns, orows)
