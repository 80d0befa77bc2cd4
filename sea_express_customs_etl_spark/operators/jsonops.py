"""Semi-structured (JSON) column extraction and interval (time-range)
joins over the events stream table.

The reference pipeline stores everything relational, but its event-log
shape (`/root/reference/src/import_xml.py:31-53` writes history rows
with free-form attributes) is the classic "JSON props column" pattern;
`events.props` in the test data models it. These operators keep JSON
parsing JVM-side (`from_json` / `get_json_object` — whole-stage
codegen, no Python) and show the two standard consumption shapes:

- **typed projection**: `from_json` with an explicit schema, then
  ordinary Catalyst expressions over the struct. Schema-on-read; a
  malformed document yields NULL fields, never a task failure.
- **interval join**: attach every right event inside a bounded time
  window before a left event. The bound is what makes it tractable:
  Spark compiles `l.ts BETWEEN r.ts AND r.ts + INTERVAL` per key into
  a shuffled equi-join on the key with a range predicate — and the
  SAME shape is what Structured Streaming requires for stream-stream
  joins (the watermark + time bound lets it expire join state).

Scale: JSON parse is map-only, zero shuffles. The interval join
shuffles both sides once on the key; per-key state is bounded by the
interval length × event rate (physics), not corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
import pyspark.sql.functions as F


def props_rollup(
    events: DataFrame,
    json_col: str = "props",
    field: str = "k",
    group_col: str = "event_type",
) -> DataFrame:
    """Per-``group_col`` rollup of a JSON-embedded metric: count of
    parseable rows, sum / rounded mean / min / max of ``$.field``.

    Plan: map-only typed projection (`from_json` with schema
    ``{field} BIGINT`` — permissive mode, malformed → NULL struct) into
    one partial-aggregated groupBy. One shuffle of ``|groups|`` rows.
    """
    parsed = events.select(
        F.col(group_col),
        F.from_json(F.col(json_col), f"{field} BIGINT")[field].alias("_v"),
    )
    return parsed.groupBy(group_col).agg(
        F.count("_v").alias("n_parsed"),
        F.sum("_v").alias("sum_v"),
        F.round(F.avg("_v"), 4).alias("avg_v"),
        F.min("_v").alias("min_v"),
        F.max("_v").alias("max_v"),
    )


def interval_join(
    left: DataFrame,
    right: DataFrame,
    key_cols: list[str],
    left_ts: str,
    right_ts: str,
    lookback_seconds: int,
    right_payload: list[str],
    prefix: str = "prior_",
) -> DataFrame:
    """All-pairs-within-window join: for each left row, every right row
    with ``left.ts - lookback < right.ts <= left.ts`` on the same key.

    Unlike :func:`operators.asof.asof_join` (nearest prior only, via a
    window), this keeps ALL prior rows in the interval — the
    "attribution touchpoints" / stream-stream-join shape. Strict lower
    bound, inclusive upper; a right row at exactly ``left.ts`` counts.

    The key equality makes it a shuffled equi-join; the time bound is a
    post-join range filter AND the state-expiry contract streaming
    needs. Right columns come back ``prefix``-renamed.
    """
    lhs = left
    rhs = right.select(
        *[F.col(k).alias(f"_r_{k}") for k in key_cols],
        F.col(right_ts).alias(f"{prefix}{right_ts}"),
        *[F.col(c).alias(f"{prefix}{c}") for c in right_payload],
    )
    cond = None
    for k in key_cols:
        eq = lhs[k] == rhs[f"_r_{k}"]
        cond = eq if cond is None else cond & eq
    rts = rhs[f"{prefix}{right_ts}"]
    lts = lhs[left_ts]
    cond = (
        cond
        & (rts <= lts)
        & (rts > lts - F.expr(f"INTERVAL {int(lookback_seconds)} SECONDS"))
    )
    return lhs.join(rhs, cond, "inner").drop(*[f"_r_{k}" for k in key_cols])
