"""Local replica of the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry at a given sf dir and
compares it with its ``oracle_sql()`` DuckDB result: row count, column
names, an order-insensitive value hash (rows canonicalized to strings,
sorted columns, sorted rows) and the oracle's final column types.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import sys
import time

import duckdb

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _canon_cell(v) -> str:
    import datetime
    import math

    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(round(v, 9))
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon_cell(x) for x in v) + "]"
    return str(v)


INT64_MAX = 2**63 - 1


def envelope_violations(cols: list[str], rows: list[tuple]) -> list[str]:
    """Columns whose integer/Decimal values exceed int64 (round-8 guard:
    the driver's hash envelope canonicalizes int64 exactly but mangles
    wider decimals — a >int64 FINAL column is a latent driver FAIL even
    when the local gate is green; see cuped_adjusted_lift, VERDICT r7)."""
    import decimal

    bad = set()
    for r in rows:
        for i, v in enumerate(r):
            if isinstance(v, bool):
                continue
            if isinstance(v, (int, decimal.Decimal)) and abs(v) > INT64_MAX:
                bad.add(cols[i])
    return sorted(bad)


# DuckDB type ids of final columns that the external canonicalizer cannot
# hash the way the Spark side's values hash (found on
# dedup_threshold_sweep and did_lift: HUGEINT finals).
_BAD_TYPE_IDS = frozenset({"hugeint", "uhugeint", "list", "array", "struct", "map"})


def type_violations(rel) -> list[str]:
    """Final columns of a DuckDB relation typed HUGEINT, DECIMAL wider
    than 18 digits, LIST, STRUCT or MAP. Read from the schema, so no
    value has to overflow first."""
    return [
        col
        for col, t in zip(rel.columns, rel.types)
        if t.id in _BAD_TYPE_IDS
        or (t.id == "decimal" and dict(t.children)["precision"] > 18)
    ]


def value_hash(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon = sorted("\x1f".join(_canon_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in canon:
        h.update(line.encode("utf-8"))
        h.update(b"\x1e")
    return h.hexdigest()


def witness_summary(qs: dict) -> None:
    """One-line driver-witness coverage report (VERDICT r8 #7): which
    queries have never appeared in any CORRECTNESS_r*.json driver
    artifact, and whether the current 50-entry prefix is spent on
    already-witnessed rows — rotation planning without a judge-side
    diff."""
    import glob
    import json
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    witnessed: set[str] = set()
    arts = sorted(glob.glob(os.path.join(repo, "CORRECTNESS_r*.json")))
    for path in arts:
        try:
            with open(path) as f:
                witnessed |= set(json.load(f))
        except (OSError, ValueError):
            pass
    if not arts:
        return
    names = list(qs)
    unw = [n for n in names if n not in witnessed]
    prefix_witnessed = [n for n in names[:50] if n in witnessed]
    print(
        f"[witness] {len(names) - len(unw)}/{len(names)} driver-witnessed "
        f"across {len(arts)} rounds; {len(unw)} never witnessed; "
        f"current 50-prefix re-checks {len(prefix_witnessed)} already-"
        f"witnessed rows: {prefix_witnessed if len(prefix_witnessed) <= 8 else prefix_witnessed[:8] + ['...']}"
    )
    if unw:
        print(f"[witness] never witnessed: {unw}")
    # Plan-vs-actual (r9 VERDICT #7): diff the current prefix against
    # the checked-in rotation manifest so a rotation miss shows in the
    # gate output, not just in the judge's cross-round diff.
    plan_path = os.path.join(repo, "tools", "rotation_plan.json")
    rnd = 1 + max(
        (int(os.path.basename(p)[len("CORRECTNESS_r"):-len(".json")])
         for p in arts),
        default=0,
    )
    try:
        with open(plan_path) as f:
            planned = json.load(f).get(f"r{rnd}", [])
    except (OSError, ValueError):
        planned = []
    if planned:
        missed = [n for n in planned if n not in names[:50]]
        extra_first_time = [
            n for n in names[:50] if n not in witnessed and n not in planned
        ]
        print(
            f"[witness] rotation plan r{rnd}: {len(planned) - len(missed)}"
            f"/{len(planned)} planned rows in prefix"
            + (f"; MISSED: {missed}" if missed else "")
            + (
                f"; unplanned first-time rows: {extra_first_time}"
                if extra_first_time
                else ""
            )
        )


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as entrymod

    from sea_express_customs_etl_spark.plans.cache import release_tracked
    from sea_express_customs_etl_spark.plans.session_tables import (
        drop_session_tables,
    )
    from sea_express_customs_etl_spark.session import get_spark

    spark = get_spark(shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    witness_summary(qs)
    only = set(sys.argv[2:])
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        sdf = fn(spark, sf_dir)
        scols = sdf.columns
        srows = [tuple(r) for r in sdf.collect()]
        t_spark = time.time() - t0
        release_tracked()  # operator-internal pins die with the query
        if name not in oracles:
            print(f"{name:24s} rows={len(srows):7d} (rows-only, no oracle) {t_spark:.1f}s")
            continue
        t0 = time.time()
        res = con.sql(oracles[name])
        ocols = res.columns
        bad_types = type_violations(res)
        orows = res.fetchall()
        t_duck = time.time() - t0
        ok_count = len(srows) == len(orows)
        ok_schema = sorted(scols) == sorted(ocols)
        ok_hash = value_hash(scols, srows) == value_hash(ocols, orows)
        over64 = envelope_violations(scols, srows)
        if over64:
            print(f"{name:24s} ENVELOPE >int64 in columns: {over64}")
        if bad_types:
            print(f"{name:24s} ORACLE column types HUGEINT/wide DECIMAL/nested: {bad_types}")
        ok = ok_count and ok_schema and ok_hash and not over64 and not bad_types
        status = "OK" if ok else "FAIL"
        if status == "FAIL":
            failures += 1
        print(
            f"{name:24s} {status} rows={len(srows)}/{len(orows)} "
            f"schema={'ok' if ok_schema else f'{sorted(scols)} vs {sorted(ocols)}'} "
            f"hash={'ok' if ok_hash else 'MISMATCH'} spark={t_spark:.1f}s duck={t_duck:.1f}s"
        )
        if not ok_hash and ok_count and ok_schema:
            order_s = sorted(range(len(scols)), key=lambda i: scols[i])
            order_o = sorted(range(len(ocols)), key=lambda i: ocols[i])
            ss = sorted("\x1f".join(_canon_cell(r[i]) for i in order_s) for r in srows)
            oo = sorted("\x1f".join(_canon_cell(r[i]) for i in order_o) for r in orows)
            for a, b in zip(ss, oo):
                if a != b:
                    print(f"  spark: {a[:200]}\n  duck : {b[:200]}")
                    break
    drop_session_tables(spark)
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
