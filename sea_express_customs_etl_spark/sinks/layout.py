"""Z-order (Morton) clustering keys: the multi-dimensional layout key
behind Delta/Iceberg ``OPTIMIZE ZORDER`` as a Catalyst expression, and
its SQL mirror for the oracle.
"""

from __future__ import annotations

import pyspark.sql.functions as F


def morton_key(x, y, bits: int = 16):
    """Z-order (Morton) curve key: interleave the low ``bits`` bits of
    two bucketized dimensions — the multi-dimensional clustering key
    behind Delta/Iceberg ``OPTIMIZE ZORDER``. Rows close in (x, y) get
    close z-values, so range-partitioned files carry tight min/max
    stats on BOTH columns and scans filtering either dimension skip
    most files — the layout lever for 100 TB tables queried along two
    axes at once (a linear sort only serves its leading column).

    Pure integer Catalyst expression (shift/and/or folded into one
    projection); callers bucketize to ``bits`` bits first (e.g.
    ``col % 65536``)."""
    x, y = F.col(x) if isinstance(x, str) else x, F.col(y) if isinstance(y, str) else y
    z = F.lit(0).cast("bigint")
    for i in range(bits):
        z = (
            z
            + F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)), 2 * i)
            + F.shiftleft(F.shiftright(y, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return z


def morton_key_sql(x: str, y: str, bits: int = 16) -> str:
    """The identical interleave as ANSI/DuckDB SQL — the oracle mirror
    of :func:`morton_key`."""
    terms = [
        f"((({x} >> {i}) & 1) << {2 * i}) + ((({y} >> {i}) & 1) << {2 * i + 1})"
        for i in range(bits)
    ]
    return "(" + " + ".join(terms) + ")"
