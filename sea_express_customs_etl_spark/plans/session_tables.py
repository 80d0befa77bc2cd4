"""Session tables: builds that the queries of one Spark session share.

A shared build is keyed by ``(applicationId, sf_dir, name)`` and runs at
most once per key. Every build is deterministic, so a materialized
replay is row-identical: a consumer that reads the session table (or
the collected model-sized rows a build returns) sees exactly the rows
it would have derived inline.

Every catalog table, view and scratch directory a query writes takes
its name from :func:`session_name`. Catalog state is per session but
warehouse directories outlive it, so a fixed name would collide with a
stopped session's leftover location, and a name without ``sf_dir``
would let a second sf dir replay the first one's committed store.
:func:`drop_session_tables` removes everything under the names a
session was handed.
"""

from __future__ import annotations

import os
import re
import shutil
import tempfile
import time
from collections.abc import Callable
from typing import TypeVar

from pyspark.sql import SparkSession

T = TypeVar("T")

# Wall seconds per build name, summed over the process. bench.py and
# perfbench report it on its own, because a best-of-2 minimum hides the
# one-time build that the first consumer of a family pays.
SESSION_BUILD_SECONDS: dict[str, float] = {}

_MEMO: dict[tuple[str, str, str], object] = {}
_NAMES: dict[str, set[str]] = {}  # applicationId -> names handed out


def _scratch(name: str) -> str:
    return os.path.join(tempfile.gettempdir(), "spark_graft", name)


def session_name(spark: SparkSession, sf_dir: str, name: str) -> str:
    """The table/scratch name for ``name`` in this session and sf dir.
    Catalog objects live under it or under ``<it>_<suffix>``."""
    app = spark.sparkContext.applicationId
    out = re.sub(r"\W", "_", f"{name}_{app}_{sf_dir}")
    _NAMES.setdefault(app, set()).add(out)
    return out


def scratch_dir(spark: SparkSession, sf_dir: str, name: str) -> str:
    """Scratch directory for a query whose plan build writes files:
    repeated builds in one session overwrite one directory instead of
    leaking a fresh ``mkdtemp`` each."""
    d = _scratch(session_name(spark, sf_dir, name))
    os.makedirs(d, exist_ok=True)
    return d


def shared(
    spark: SparkSession, sf_dir: str, name: str, build: Callable[[str], T]
) -> T:
    """``build(session_name(spark, sf_dir, name))``, run once per
    session and sf dir. ``build`` may call ``shared`` for another name."""
    app = spark.sparkContext.applicationId
    for k in [k for k in _MEMO if k[0] != app]:
        del _MEMO[k]
    key = (app, sf_dir, name)
    if key not in _MEMO:
        t0 = time.time()
        _MEMO[key] = build(session_name(spark, sf_dir, name))
        SESSION_BUILD_SECONDS[name] = round(
            SESSION_BUILD_SECONDS.get(name, 0.0) + (time.time() - t0), 3
        )
    return _MEMO[key]  # type: ignore[return-value]


def drop_session_tables(spark: SparkSession) -> None:
    """Drop the catalog tables and views under every name this session
    was handed, remove their scratch directories and forget its builds."""
    app = spark.sparkContext.applicationId
    names = _NAMES.pop(app, set())
    for k in [k for k in _MEMO if k[0] == app]:
        del _MEMO[k]
    lower = {n.lower() for n in names}  # the catalog lower-cases names
    # views first: dropping a view whose table is gone logs a stack trace
    objs = sorted(spark.catalog.listTables(), key=lambda t: t.tableType != "VIEW")
    for t in objs:
        if not t.isTemporary and any(
            t.name == n or t.name.startswith(n + "_") for n in lower
        ):
            kind = "VIEW" if t.tableType == "VIEW" else "TABLE"
            spark.sql(f"DROP {kind} IF EXISTS `{t.name}`")
    for n in names:
        shutil.rmtree(_scratch(n), ignore_errors=True)
