"""SparkSession factory — the engine's analog of the reference's
``src/database.py:17-38`` engine factory (env-driven config, one shared
handle).

Defaults are chosen for the scale target (many-executor clusters over
100 TB parquet) while remaining correct on ``local[N]``:

* AQE on (runtime coalescing, skew-join splitting, broadcast demotion)
* shuffle partitions sized from the env (cluster overrides via
  ``spark.sql.shuffle.partitions`` when submitting)
* Arrow enabled so any pandas UDF crosses the JVM/Python boundary in
  columnar batches
* session timezone pinned to UTC so date/timestamp derivations are
  deterministic across drivers and match the DuckDB oracle
* two cuts to the per-call cost of the Python/JVM boundary: the
  engine's worker daemon (:mod:`.worker_daemon`) and no DataFrame
  call-site capture (see :func:`get_spark`)
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "sea-express-customs-etl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the configured SparkSession.

    Env knobs: ``SPARK_GRAFT_CPUS`` (local parallelism),
    ``SPARK_GRAFT_SHUFFLE_PARTITIONS``.

    Python workers fork from :mod:`.worker_daemon`, which imports the
    installed, bytecode-cached pyspark and py4j when they are
    byte-identical to Spark's zips, and stops every task from re-reading
    the pyspark, py4j and Spark jar zips. The
    workers must import this package to find it, as they must for the
    engine's own UDFs (pickled by reference), so
    ``spark.executorEnv.PYTHONPATH`` starts with the package's parent
    directory, ahead of any value given in ``extra_conf``.

    ``spark.python.sql.dataFrameDebugging.enabled`` is ``false``: each
    ``F.*`` and DataFrame call otherwise makes about four extra Py4J
    round trips to capture its Python call site. An analysis error
    still raises ``AnalysisException`` naming the column or table; what
    is lost is the Python ``file:line`` in the DataFrame query context.
    To get it back, set that conf to ``"true"`` through ``extra_conf``
    in a fresh process: pyspark reads the flag on its first DataFrame
    call and caches it for the process
    (``pyspark.errors.utils._enable_debugging_cache``), so a later
    session in the same process keeps the first setting and a
    ``tools/runner.py --conf`` A/B of the flag measures nothing.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get(
                "SPARK_GRAFT_SHUFFLE_PARTITIONS",
                str(os.cpu_count() or 8) if cpus == "*" else cpus if cpus.isdigit() else "32",
            )
        )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.python.daemon.module", "sea_express_customs_etl_spark.worker_daemon")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    conf = dict(extra_conf or {})
    key = "spark.executorEnv.PYTHONPATH"
    root = str(Path(__file__).resolve().parents[1])
    conf[key] = os.pathsep.join(filter(None, (root, conf.get(key))))
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
