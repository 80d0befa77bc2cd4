"""tools/runner.py: the replica sf dir, the timed loop's record, the
``--conf`` CLI, and the harness sessions that clean up after a raise
and import the tree they sit in."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

import duckdb
import pytest

from sea_express_customs_etl_spark.plans import session_tables as st
from sea_express_customs_etl_spark.plans.cache import _TRACKED, tracked_persist
from sea_express_customs_etl_spark.plans.standins import load_table
from tools import runner

ROOT = runner.ROOT


def _env(**extra) -> dict:
    return {**os.environ, "PYTHONPATH": ROOT, "SPARK_GRAFT_CPUS": "2", **extra}


@pytest.fixture(scope="module")
def replica(tmp_path_factory, sf_dir):
    dst = str(tmp_path_factory.mktemp("replica") / "sfx8")
    runner.replicate(sf_dir, dst)
    return dst


def _count(con, sql: str, d: str) -> int:
    for t in runner.TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{d}/{t}.parquet')"
        )
    return con.sql(sql).fetchone()[0]


@pytest.mark.parametrize(
    "sql, factor",
    [
        ("SELECT count(*) FROM lineitem", 8),
        ("SELECT count(*) FROM orders", 8),
        ("SELECT count(*) FROM events", 8),
        ("SELECT count(*) FROM embeddings", 8),
        ("SELECT count(*) FROM region", 1),
        ("SELECT count(*) FROM nation", 1),
        ("SELECT count(*) FROM lineitem JOIN orders ON l_orderkey = o_orderkey", 8),
        ("SELECT count(*) FROM orders JOIN customer ON o_custkey = c_custkey", 8),
        ("SELECT count(*) FROM lineitem JOIN part ON l_partkey = p_partkey", 8),
    ],
)
def test_replica_scales_rows_and_joins(replica, sf_dir, sql, factor):
    con = duckdb.connect()
    n = _count(con, sql, sf_dir)
    assert n > 0
    assert _count(con, sql, replica) == factor * n


def test_replica_zero_keeps_source_ids(replica, sf_dir):
    con = duckdb.connect()
    for t, keys in runner.SHIFTED_KEYS.items():
        for k in keys:
            q = "SELECT {k} FROM read_parquet('{d}/{t}.parquet') {w} ORDER BY 1"
            src = con.sql(q.format(k=k, d=sf_dir, t=t, w="")).fetchall()
            rep0 = con.sql(
                q.format(k=k, d=replica, t=t, w=f"WHERE {k} < {runner.KEY_SHIFT}")
            ).fetchall()
            assert max(src)[0] < runner.KEY_SHIFT
            assert rep0 == src, (t, k)


def test_replica_loads_with_source_schema(spark, replica, sf_dir):
    for t in runner.TABLES:
        assert load_table(spark, replica, t).schema == load_table(spark, sf_dir, t).schema, t


def test_run_records_every_rep_and_the_split(spark, sf_dir):
    def built(spark_, sf):
        st.shared(spark_, sf, "runner_test_build", lambda name: time.sleep(0.05) or 1)
        return load_table(spark_, sf, "region")

    def pinned(spark_, sf):
        return tracked_persist(load_table(spark_, sf, "nation"))

    qs = {"built": built, "pinned": pinned}
    seen = []
    recs = runner.run(spark, qs, list(qs), [sf_dir], seen.append)
    assert seen == recs
    assert [(r["query"], r["sf_dir"]) for r in recs] == [
        ("built", sf_dir),
        ("pinned", sf_dir),
    ]
    for r in recs:
        assert "error" not in r
        assert len(r["reps"]) == runner.REPS
        assert r["best_s"] == min(r["reps"])
        assert r["build_s"] + r["exec_s"] == pytest.approx(r["best_s"], abs=1e-6)
    assert set(recs[0]["session_builds"]) == {"runner_test_build"}
    assert recs[0]["session_builds"]["runner_test_build"] >= 0.05
    assert recs[1]["session_builds"] == {}
    assert not _TRACKED


def test_run_records_a_failing_query_and_goes_on(spark, sf_dir):
    def boom(spark_, sf):
        raise ValueError("no such plan")

    qs = {"boom": boom, "ok": lambda s, d: load_table(s, d, "region")}
    bad, ok = runner.run(spark, qs, list(qs), [sf_dir])
    assert bad["error"] == "ValueError: no such plan"
    assert bad["reps"] == [] and bad["best_s"] is None
    assert "error" not in ok and len(ok["reps"]) == runner.REPS


def test_conf_cli_reports_both_sides(sf_dir):
    out = subprocess.run(
        [
            sys.executable,
            os.path.join(ROOT, "tools", "runner.py"),
            "--sf",
            sf_dir,
            "--conf",
            "spark.sql.shuffle.partitions=3",
            "hll_tokens",
        ],
        env=_env(),
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    lines = [json.loads(x) for x in out.stdout.splitlines() if x.startswith("{")]
    recs, summary = lines[:-1], lines[-1]
    assert [(r["side"], r["query"]) for r in recs] == [
        ("base", "hll_tokens"),
        ("cand", "hll_tokens"),
    ]
    assert summary["conf"] == {"spark.sql.shuffle.partitions": "3"}
    assert set(summary["results"]["hll_tokens"][sf_dir]) == {"base", "cand"}
    assert set(summary["totals"]) == {"base", "cand"}
    assert summary["errors"] == 0


_LEAK = """
import os, tempfile
from tools.runner import session
from sea_express_customs_etl_spark.plans import session_tables as st

with session(app_name="leak", master="local[1]", shuffle_partitions=1) as spark:
    def build(name):
        spark.range(3).write.saveAsTable(name)
        open(os.path.join(st.scratch_dir(spark, "sf", "leak_scratch"), "f"), "w").close()
        return name

    st.shared(spark, "sf", "leak_probe", build)
    assert os.listdir("spark-warehouse")
    assert os.listdir(os.path.join(tempfile.gettempdir(), "spark_graft"))
    raise RuntimeError("boom")
"""


def test_session_drops_its_tables_when_the_block_raises(tmp_path):
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    out = subprocess.run(
        [sys.executable, "-c", _LEAK],
        cwd=tmp_path,
        env=_env(TMPDIR=str(tmp)),
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode != 0
    assert "RuntimeError: boom" in out.stderr, out.stderr[-2000:]
    assert os.listdir(tmp_path / "spark-warehouse") == []
    assert os.listdir(tmp / "spark_graft") == []


def test_gate_imports_the_tree_it_sits_in(tmp_path, sf_dir):
    shutil.copytree(
        os.path.join(ROOT, "tools"),
        tmp_path / "tools",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    (tmp_path / "__spark_entry__.py").write_text("def queries(:\n")
    out = subprocess.run(
        [sys.executable, str(tmp_path / "tools" / "check_oracle.py"), sf_dir, "hll_tokens"],
        env=_env(),
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode != 0
    assert "SyntaxError" in out.stderr, out.stderr[-2000:]
