"""Run metrics (OP-SNK-LOG).

The reference logs per-file row counts and run totals
(``src/import_xml_history.py:184-218``). Spark-side the idiomatic
equivalent is ``DataFrame.observe`` — named aggregate metrics computed
DURING the job (no second pass) and retrieved from the query execution.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
import pyspark.sql.functions as F


def observed_counts(df: DataFrame, name: str = "ingest") -> tuple[DataFrame, Observation]:
    """Attach row-count/metric observation to a plan. Execute the
    returned DataFrame with any action, then read ``observation.get``
    — zero extra passes over the data.

    Example::

        df, obs = observed_counts(official_history(raw))
        df.write.parquet(out)
        log.info("imported %d rows", obs.get["n_rows"])
    """
    obs = Observation(name)
    # distinct aggregates are not allowed in observed metrics →
    # approx_count_distinct (HLL) for the cardinality signal
    return (
        df.observe(
            obs,
            F.count(F.lit(1)).alias("n_rows"),
            F.approx_count_distinct(F.col(df.columns[0])).alias(
                "approx_first_col_distinct"
            ),
        ),
        obs,
    )

