"""LIVE JDBC execution against embedded Apache Derby (ships inside
Spark's own jars — no install, same JVM), closing the long-standing
"options-only, no database in the sandbox" gap: the partitioned read,
predicate pushdown, append, and the staging-swap replace flow all
execute against a real SQL database here.

Dialect note: ``swap_sql`` emits the MySQL-family multi-table RENAME
(one atomic statement — the production target, reference
``src/batch_train.py:154-176``); Derby only renames one table per
statement, so the test's ``run_swap`` executes the equivalent two
statements through a real JDBC connection. The FLOW (staging write →
driver-side DDL swap → backup retained) is what's under test; the
single-statement atomicity is the documented MySQL property.
"""

from __future__ import annotations

import uuid

import pytest

from sea_express_customs_etl_spark.sinks.jdbc_sink import (
    append_jdbc,
    jdbc_options,
    replace_jdbc_with_backup,
    swap_sql,
)
from sea_express_customs_etl_spark.sources.jdbc import (
    partitioned_read_options,
    read_jdbc_table,
)

DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"


@pytest.fixture(scope="module")
def derby_url(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("derby")
    return f"jdbc:derby:{d}/db;create=true"


def _run_sql(spark, url: str, sql: str) -> None:
    conn = spark._sc._jvm.java.sql.DriverManager.getConnection(url)
    try:
        st = conn.createStatement()
        st.execute(sql)
        st.close()
    finally:
        conn.close()


def test_partitioned_read_and_pushdown(spark, derby_url):
    df = spark.createDataFrame(
        [(i, f"name{i}", i % 7) for i in range(200)],
        "id bigint, name string, grp bigint",
    )
    table = f"t_{uuid.uuid4().hex[:8]}"
    df.write.format("jdbc").options(
        **jdbc_options(derby_url, table), driver=DRIVER
    ).mode("overwrite").save()

    opts = partitioned_read_options(
        derby_url,
        table,
        partition_column="id",
        lower_bound=0,
        upper_bound=200,
        num_partitions=4,
        driver=DRIVER,
    )
    back = read_jdbc_table(spark, **opts)
    assert back.rdd.getNumPartitions() == 4
    assert back.count() == 200
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))

    # predicate pushdown reaches the remote query (JDBC PushedFilters)
    import contextlib
    import io

    filtered = back.filter("grp = 3").select("id")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        filtered.explain("formatted")
    plan = buf.getvalue()
    assert "PushedFilters" in plan and "grp" in plan
    assert filtered.count() == len([i for i in range(200) if i % 7 == 3])

    # option-assembly guard
    with pytest.raises(TypeError):
        partitioned_read_options(derby_url, table, partition_column="id")


def test_append_jdbc_accumulates(spark, derby_url):
    table = f"t_{uuid.uuid4().hex[:8]}"
    a = spark.createDataFrame([(1, "a"), (2, "b")], "id bigint, v string")
    b = spark.createDataFrame([(3, "c")], "id bigint, v string")
    a.write.format("jdbc").options(
        **jdbc_options(derby_url, table), driver=DRIVER
    ).mode("overwrite").save()
    append_jdbc(b, derby_url, table, driver=DRIVER)
    got = spark.read.format("jdbc").options(
        **jdbc_options(derby_url, table), driver=DRIVER
    ).load()
    assert sorted(map(tuple, got.collect())) == [(1, "a"), (2, "b"), (3, "c")]


def test_replace_with_backup_swap_flow(spark, derby_url):
    """The reference's backup→replace transaction, executed for real:
    staging write lands the new data, run_swap renames live→backup and
    staging→live through an actual JDBC connection, and both the new
    live table and the timestamped backup are readable afterwards."""
    table = f"kb_{uuid.uuid4().hex[:8]}"
    ts = "20260814"
    v1 = spark.createDataFrame([(1, "old")], "id bigint, v string")
    v1.write.format("jdbc").options(
        **jdbc_options(derby_url, table), driver=DRIVER
    ).mode("overwrite").save()
    v2 = spark.createDataFrame([(2, "new"), (3, "new")], "id bigint, v string")

    def run_swap(ddl: str) -> None:
        # Derby dialect: one rename per statement (MySQL runs the
        # emitted DDL as a single atomic statement)
        assert ddl == swap_sql(table, ts)
        _run_sql(
            spark, derby_url,
            f"RENAME TABLE {table} TO {table}_backup_{ts}",
        )
        _run_sql(
            spark, derby_url,
            f"RENAME TABLE {table}__staging TO {table}",
        )

    ddl = replace_jdbc_with_backup(
        v2, spark, derby_url, table, ts, run_swap=run_swap, driver=DRIVER
    )
    assert "RENAME TABLE" in ddl
    live = spark.read.format("jdbc").options(
        **jdbc_options(derby_url, table), driver=DRIVER
    ).load()
    backup = spark.read.format("jdbc").options(
        **jdbc_options(derby_url, f"{table}_backup_{ts}"), driver=DRIVER
    ).load()
    assert sorted(map(tuple, live.collect())) == [(2, "new"), (3, "new")]
    assert sorted(map(tuple, backup.collect())) == [(1, "old")]

    # no-callback path: staging data lands, swap DDL surfaces in error
    t2 = f"kb_{uuid.uuid4().hex[:8]}"
    spark.createDataFrame([(9, "x")], "id bigint, v string").write.format(
        "jdbc"
    ).options(**jdbc_options(derby_url, t2), driver=DRIVER).mode(
        "overwrite"
    ).save()
    with pytest.raises(NotImplementedError):
        replace_jdbc_with_backup(
            v2, spark, derby_url, t2, ts, run_swap=None, driver=DRIVER
        )
    staged = spark.read.format("jdbc").options(
        **jdbc_options(derby_url, f"{t2}__staging"), driver=DRIVER
    ).load()
    assert staged.count() == 2
