"""One query runner for every harness.

``bench.py``, ``tools/check_oracle.py`` and ``tools/capture_plans.py``
take their session, sf-dir default, warm-up and timed loop from here.
The timed loop runs ``queries()`` entries into the noop sink (full
distributed execution, no driver-side row transfer) and returns one
record per (query, sf dir)::

    {"query", "sf_dir", "reps": [wall, ...], "best_s", "build_s",
     "exec_s", "session_builds": {name: s}, "error"?, "cut_s"?}

``build_s`` is the query function (the plan build, including the eager
jobs an operator fires while building its frame) and ``exec_s`` the
``.save()``, both of the best rep, so ``build_s + exec_s == best_s``.
Every rep is kept: a best-of-2 minimum hides the session build that the
first rep pays. ``session_builds`` holds the ``SESSION_BUILD_SECONDS``
the query added. A query that raises keeps its ``error``; ``cut_s``
says a rep's jobs were cancelled after ``CAP_S`` seconds.

Scaling runs the same ``queries()`` at an 8× replica of an sf dir,
written by :func:`replicate` as an ordinary sf dir.

Usage:
    python tools/runner.py [--sf DIR]... [--conf K=V]... [QUERY ...]

Runs the named queries (default: all) at each ``--sf`` dir (default
``$SPARK_GRAFT_SF_DIR``) on ``local[$SPARK_GRAFT_CPUS]``, printing one
JSON record per line and a summary line last. With ``--conf`` the same
loop runs again in a second session built with those confs, and both
sides are reported.

    python -c 'from tools.runner import replicate; replicate(SRC, DST)'
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys
import threading
import time
import traceback
from collections.abc import Callable, Iterator

# The tree this file sits in, never a fixed checkout: a gate run from a
# copy must import that copy's ``__spark_entry__``.
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if sys.path[0] != ROOT:
    sys.path.insert(0, ROOT)

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()
WARM_TABLES = ("lineitem", "orders", "part", "documents", "embeddings", "events")
REPS = 2
# A rep still running after this long has its jobs cancelled and the
# record keeps the error; the loop moves on to the next query.
CAP_S = 600

REPLICAS = 8
KEY_SHIFT = 10_000_000
# BIGINT keys shifted by ``i * KEY_SHIFT`` in replica ``i``; both sides of
# every join key move together, so joins stay replica-local. ``region``
# and ``nation`` are copied unchanged.
SHIFTED_KEYS = {
    "customer": ("c_custkey",),
    "supplier": ("s_suppkey",),
    "part": ("p_partkey",),
    "orders": ("o_orderkey", "o_custkey"),
    "lineitem": ("l_orderkey", "l_partkey", "l_suppkey"),
    "events": ("event_id", "user_id"),
    "documents": ("doc_id",),
    "embeddings": ("vec_id",),
}


def sf_dir() -> str:
    return os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def cpus() -> str:
    return os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))


@contextlib.contextmanager
def session(**get_spark_args) -> Iterator:
    """``get_spark(**get_spark_args)`` whose session tables are dropped
    and whose session is stopped however the block exits."""
    from sea_express_customs_etl_spark.plans.session_tables import (
        drop_session_tables,
    )
    from sea_express_customs_etl_spark.session import get_spark

    spark = get_spark(**get_spark_args)
    try:
        yield spark
    finally:
        try:
            drop_session_tables(spark)
        finally:
            spark.stop()


def bench_session(app_name: str, extra_conf: dict[str, str] | None = None):
    """The timed harnesses' session: ``local[cpus]``, 2 × cpus partitions."""
    c = cpus()
    return session(
        app_name=app_name,
        master=f"local[{c}]",
        shuffle_partitions=int(c) * 2 if c.isdigit() else 32,
        extra_conf=extra_conf,
    )


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def warm(spark, qs: dict, sf: str) -> None:
    """Touch every large table once, then run the flagship end to end,
    so JIT, codegen and shuffle machinery are warm before timing."""
    from sea_express_customs_etl_spark.plans.standins import load_table

    for t in WARM_TABLES:
        load_table(spark, sf, t).count()
    if "knowledge_extraction" in qs:
        noop(qs["knowledge_extraction"](spark, sf))


def _cut(spark, rec: dict) -> None:
    rec["cut_s"] = CAP_S
    spark.sparkContext.cancelAllJobs()


def _timed(spark, name: str, fn: Callable, sf: str) -> dict:
    from sea_express_customs_etl_spark.plans.cache import release_tracked
    from sea_express_customs_etl_spark.plans.session_tables import (
        SESSION_BUILD_SECONDS,
    )

    before = dict(SESSION_BUILD_SECONDS)
    rec: dict = {"query": name, "sf_dir": sf, "reps": []}
    best = None
    spark.sparkContext.setJobDescription(f"{name} @ {sf}")
    try:
        for _ in range(REPS):
            cut = threading.Timer(CAP_S, _cut, (spark, rec))
            cut.start()
            try:
                t0 = time.time()
                df = fn(spark, sf)
                t1 = time.time()
                noop(df)
                t2 = time.time()
            finally:
                cut.cancel()
            build_s, exec_s = round(t1 - t0, 3), round(t2 - t1, 3)
            wall = round(build_s + exec_s, 3)
            rec["reps"].append(wall)
            if best is None or wall < best[0]:
                best = (wall, build_s, exec_s)
    except Exception as e:  # recorded, not dropped; the loop goes on
        traceback.print_exc()
        rec["error"] = f"{type(e).__name__}: {e}"[:400]
    finally:
        release_tracked()  # queries stay independent; reps share pins
        spark.sparkContext.setJobDescription(None)
    rec["best_s"], rec["build_s"], rec["exec_s"] = best or (None, None, None)
    rec["session_builds"] = {
        k: round(v - before.get(k, 0.0), 3)
        for k, v in SESSION_BUILD_SECONDS.items()
        if v != before.get(k)
    }
    return rec


def run(
    spark, qs: dict, names, sf_dirs, emit: Callable[[dict], None] | None = None
) -> list[dict]:
    """The timed loop: ``REPS`` noop-sink reps of each named query at
    each sf dir (the sf dirs of one query back to back), one record
    per (query, sf dir). ``emit`` sees each record as it lands."""
    out = []
    for name in names:
        for sf in sf_dirs:
            rec = _timed(spark, name, qs[name], sf)
            if emit:
                emit(rec)
            out.append(rec)
    return out


def replicate(src: str, dst: str) -> None:
    """Write an 8× copy of sf dir ``src`` to ``dst`` as an ordinary sf
    dir. Replica ``i`` shifts every key in ``SHIFTED_KEYS`` by
    ``i * KEY_SHIFT``; replica 0 keeps the source ids, so model-sized
    slices such as ``vec_id < 16`` select the same rows at 8×. Rows are
    written replica by replica in source order, in row groups of up to
    2^20 rows (the pyarrow writer's default)."""
    import duckdb

    os.makedirs(dst, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    for t in TABLES:
        s, d = os.path.join(src, f"{t}.parquet"), os.path.join(dst, f"{t}.parquet")
        if t not in SHIFTED_KEYS:
            shutil.copyfile(s, d)
            continue
        shifted = ", ".join(f"{k} + i * {KEY_SHIFT} AS {k}" for k in SHIFTED_KEYS[t])
        con.execute(
            f"COPY (SELECT * EXCLUDE (i, file_row_number) REPLACE ({shifted})"
            f" FROM read_parquet('{s}', file_row_number = true),"
            f" range({REPLICAS}) r(i) ORDER BY i, file_row_number)"
            f" TO '{d}' (FORMAT parquet, ROW_GROUP_SIZE 1048576)"
        )
    con.close()


def _side(label: str, conf: dict[str, str], names, sf_dirs) -> list[dict]:
    import __spark_entry__ as entrymod

    def emit(rec: dict) -> None:
        print(json.dumps({"side": label, **rec}), flush=True)

    with bench_session(f"runner_{label}", conf or None) as spark:
        qs = entrymod.queries()
        unknown = [n for n in names if n not in qs]
        if unknown:
            raise SystemExit(f"unknown queries: {unknown}")
        for sf in sf_dirs:
            warm(spark, qs, sf)
        return run(spark, qs, names or list(qs), sf_dirs, emit)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--sf", action="append", help="sf dir (repeatable)")
    ap.add_argument("--conf", action="append", default=[], help="K=V for a second session")
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()
    if any("=" not in kv for kv in args.conf):
        ap.error("--conf takes K=V")
    sf_dirs = args.sf or [sf_dir()]
    cand = dict(kv.split("=", 1) for kv in args.conf)
    sides = {"base": _side("base", {}, args.queries, sf_dirs)}
    if cand:
        sides["cand"] = _side("cand", cand, args.queries, sf_dirs)
    summary: dict = {"conf": cand, "sf_dirs": sf_dirs, "totals": {}, "results": {}}
    for label, recs in sides.items():
        for r in recs:
            summary["results"].setdefault(r["query"], {}).setdefault(
                r["sf_dir"], {}
            )[label] = r["best_s"]
        summary["totals"][label] = {
            sf: round(sum(r["best_s"] or 0.0 for r in recs if r["sf_dir"] == sf), 3)
            for sf in sf_dirs
        }
    summary["errors"] = sum("error" in r for recs in sides.values() for r in recs)
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
