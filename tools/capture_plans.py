"""Capture ``explain("formatted")`` for declared queries (guide §1 /
§7.2): builds each named query at the given sf_dir and writes the
formatted physical plan to ``plans/r10/<name>_<suffix>.txt`` — the
optimization round's before/after plan evidence.

Usage:
    python tools/capture_plans.py SF_DIR SUFFIX QUERY [QUERY ...]
    python tools/capture_plans.py SF_DIR SUFFIX --top N   # N slowest from BENCH_HISTORY latest

Plan-build side effects (session memos, store builds) run for real —
plans are captured as the bench would see them on a warm session.
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def latest_history(hist_dir: str) -> str:
    """The ``BENCH_HISTORY`` file of the latest round, and within that
    round the run with the most cores: ``r<round>[_c<cores>].json``,
    compared as numbers (``r11_c32`` beats ``r11_c8``; a file without
    a core count ranks below one with)."""

    def key(name: str) -> tuple[int, int]:
        m = re.fullmatch(r"r(\d+)(?:_c(\d+))?\.json", name)
        return (int(m.group(1)), int(m.group(2) or 0)) if m else (-1, -1)

    return max(os.listdir(hist_dir), key=key)


def main() -> None:
    sf_dir = sys.argv[1]
    suffix = sys.argv[2]
    names = sys.argv[3:]

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out_dir = os.path.join(
        repo, "plans", os.environ.get("SPARK_GRAFT_PLAN_ROUND", "r11")
    )
    os.makedirs(out_dir, exist_ok=True)

    if names and names[0] == "--top":
        n = int(names[1])
        hist_dir = os.path.join(repo, "BENCH_HISTORY")
        with open(os.path.join(hist_dir, latest_history(hist_dir))) as f:
            q = json.load(f)["queries"]
        names = [k for k, _ in sorted(q.items(), key=lambda kv: -kv[1])[:n]]

    import __spark_entry__ as entrymod
    from sea_express_customs_etl_spark.plans.cache import release_tracked
    from sea_express_customs_etl_spark.session import get_spark

    spark = get_spark(app_name="capture_plans")
    qs = entrymod.queries()
    for name in names:
        if name not in qs:
            print(f"SKIP unknown query: {name}")
            continue
        try:
            df = qs[name](spark, sf_dir)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
        except Exception as e:  # capture the failure, keep going
            plan = f"PLAN BUILD FAILED: {e!r}"
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        release_tracked()
        print(f"wrote {path} ({len(plan)} chars)")
    spark.stop()


if __name__ == "__main__":
    main()
