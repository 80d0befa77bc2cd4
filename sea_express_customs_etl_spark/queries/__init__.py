"""The query registry: every ``queries()`` entry is declared once, at its
definition, by ``@query(oracle=...)`` with the DuckDB SQL it must
hash-match.

The family modules of this package and ``plans/relational*.py``
register on import; ``__spark_entry__`` imports them all and reads
``queries()`` and ``oracle_sql()`` from ``REGISTRY``. This module
imports nothing of the engine, so a plans module can decorate its own
functions without an import cycle.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession


class Query(NamedTuple):
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str


# query name -> (callable, oracle SQL), in registration order
REGISTRY: dict[str, Query] = {}


def query(oracle: str):
    """Register ``fn`` under its name without the ``_q_`` prefix, with the
    DuckDB ``oracle`` it must hash-match; returns ``fn`` unchanged.

    A second function under the same name raises ``RuntimeError`` (not
    an assert: the check must hold under ``python -O``)."""

    def register(fn):
        name = fn.__name__.removeprefix("_q_")
        if name in REGISTRY:
            raise RuntimeError(f"query {name!r} is registered twice")
        REGISTRY[name] = Query(fn, oracle)
        return fn

    return register
