"""The Python/JVM boundary confs ``get_spark`` sets: Python workers fork
from the engine's worker daemon, import pyspark from its installed copy
and import the engine wherever the driver was started, and DataFrame
call-site capture is off without losing the analysis error that names a
bad column."""

from __future__ import annotations

import os
from pathlib import Path
import subprocess
import sys

import pyspark
import pytest
from pyspark.errors import AnalysisException

from sea_express_customs_etl_spark.sources import declared_cargo, read_manifests_raw


def test_worker_daemon_rereads_no_archive_inside_a_task(spark):
    def probe(batches):
        import importlib
        import sys
        import zipimport

        import pandas as pd

        reads = []
        read = zipimport._read_directory

        def counting(archive):
            reads.append(archive)
            return read(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        zips = sum(
            isinstance(f, zipimport.zipimporter)
            for f in sys.path_importer_cache.values()
        )
        for _ in batches:
            pass
        yield pd.DataFrame(
            {
                "daemon": [sys.modules["__main__"].__spec__.name],
                "zip_importers": [zips],
                "reads": [len(reads)],
                "pyspark": [sys.modules["pyspark"].__file__],
            }
        )

    rows = (
        spark.range(4)
        .repartition(2)
        .mapInPandas(
            probe, "daemon string, zip_importers long, reads long, pyspark string"
        )
        .collect()
    )
    assert len(rows) == 2
    for r in rows:
        assert r.daemon == "sea_express_customs_etl_spark.worker_daemon"
        assert r.zip_importers > 0  # the worker imports from archives
        assert r.reads == 0
        # this host's installed pyspark is byte-identical to pyspark.zip
        # and bytecode-cached, so the daemon imports it ahead of the zip
        assert r.pyspark == pyspark.__file__


def test_call_site_capture_is_off(spark):
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"


def test_misspelled_column_still_names_it(spark, tmp_path):
    (tmp_path / "m.csv").write_text("a,b\n1,2\n", encoding="utf-8")
    cargo = declared_cargo(read_manifests_raw(spark, str(tmp_path)))
    with pytest.raises(AnalysisException, match="hawb_nmuber"):
        cargo.select("hawb_nmuber")


_OUTSIDE_THE_REPO = """
import sys

sys.path.insert(0, {root!r})
from sea_express_customs_etl_spark.session import get_spark


def probe(batches):
    import sea_express_customs_etl_spark  # noqa: F401

    yield from batches


spark = get_spark(
    master="local[2]",
    shuffle_partitions=2,
    extra_conf={{"spark.sql.warehouse.dir": {wh!r}}},
)
print("ROWS", spark.range(4).mapInPandas(probe, "id long").count())
spark.stop()
"""


def test_workers_import_the_engine_from_another_cwd(tmp_path):
    """A driver started outside the repo root with no ``PYTHONPATH``
    (the package put on ``sys.path`` by the script itself): the workers
    still find the package, through ``spark.executorEnv.PYTHONPATH``."""
    root = str(Path(__file__).resolve().parents[1])
    script = tmp_path / "job.py"
    script.write_text(_OUTSIDE_THE_REPO.format(root=root, wh=str(tmp_path / "wh")))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    out = subprocess.run(
        [sys.executable, str(script)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert "ROWS 4" in out.stdout, out.stderr[-2000:]
