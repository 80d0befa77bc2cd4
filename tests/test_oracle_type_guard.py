"""The gate's type guard (tools/check_oracle.type_violations): a final
oracle column typed HUGEINT, DECIMAL wider than 18 digits, LIST, STRUCT
or MAP fails the gate, read from the schema before any value exists.
dedup_threshold_sweep's window sum and did_lift's numerator and
denominator were HUGEINT and hash-matched locally while the external
canonicalizer rejected them."""

from __future__ import annotations

import duckdb
import pytest

from tools.check_oracle import type_violations


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    yield c
    c.close()


@pytest.mark.parametrize(
    "expr",
    [
        "1::HUGEINT",
        "1::DECIMAL(19,0)",
        "1::DECIMAL(38,0)",
        "[1, 2]",
        "{'a': 1}",
        "map([1], [2])",
        "sum(1::BIGINT) OVER ()",  # DuckDB widens a BIGINT sum
    ],
)
def test_rejected_types(con, expr):
    assert type_violations(con.sql(f"SELECT 0 AS ok, {expr} AS bad")) == ["bad"]


def test_accepted_types(con):
    rel = con.sql(
        "SELECT 1::BIGINT a, 1::INTEGER b, 1.5::DOUBLE c, 1::DECIMAL(18,2) d, "
        "'x' e, DATE '2024-01-01' f, TIMESTAMP '2024-01-01' g, true h, "
        "(sum(1::HUGEINT) OVER ())::BIGINT i"
    )
    assert type_violations(rel) == []


def test_guard_reads_the_schema_without_running_the_query(con):
    # the relation is bound, not executed: a value that would overflow
    # on execution does not have to exist for the guard to fire
    rel = con.sql("SELECT 9223372036854775807::HUGEINT * 4 AS big")
    assert type_violations(rel) == ["big"]
