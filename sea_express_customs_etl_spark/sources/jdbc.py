"""JDBC table source (OP-SRC-JDBC).

Reference: ``pd.read_sql`` with hand-written projection+predicate SQL
(``src/batch_train.py:66-80``) — the reference pulls whole tables into
driver RAM over the WAN. Spark-side, the same read is a ``jdbc`` scan
where Catalyst pushes column pruning and ``IS NOT NULL`` predicates
into the generated query automatically, and ``partitionColumn`` splits
the read across executors (the reference's 14 s single-threaded pull
becomes N parallel range queries).

LIVE in this environment since r5: Spark ships embedded Apache Derby
in its own jars, so ``tests/test_jdbc_live.py`` executes the
partitioned read (4 concurrent range queries, row parity vs the plain
read), JDBC predicate pushdown (PushedFilters in the plan), and the
option assembly against a real SQL database — no install, same
JVM.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def partitioned_read_options(
    url: str,
    table: str,
    partition_column: str,
    lower_bound: int,
    upper_bound: int,
    num_partitions: int = 8,
    fetchsize: int = 10_000,
    **props: str,
) -> dict[str, str]:
    """Assemble JDBC reader options with range partitioning.

    ``partition_column`` must be an indexed numeric/date column; Spark
    issues ``numPartitions`` range-predicate queries over
    [``lower_bound``, ``upper_bound``] so executors read concurrently
    instead of one WAN cursor.
    """
    return {
        "url": url,
        "dbtable": table,
        "fetchsize": str(fetchsize),
        **props,
        "partitionColumn": partition_column,
        "lowerBound": str(lower_bound),
        "upperBound": str(upper_bound),
        "numPartitions": str(num_partitions),
    }


def read_jdbc_table(spark: SparkSession, **options: str) -> DataFrame:
    """``spark.read.jdbc`` with the assembled options. Select only the
    columns you need afterwards — pruning and simple predicates are
    pushed into the remote query by Catalyst."""
    return spark.read.format("jdbc").options(**options).load()
