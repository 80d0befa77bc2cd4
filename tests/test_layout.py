"""Layout tests: the Morton key against a Python reference, and
schema evolution across appended parquet batches."""

from __future__ import annotations


def test_morton_key_matches_python_reference(spark):
    from sea_express_customs_etl_spark.sinks.layout import morton_key

    def ref(x, y, bits=8):
        z = 0
        for i in range(bits):
            z += ((x >> i) & 1) << (2 * i)
            z += ((y >> i) & 1) << (2 * i + 1)
        return z

    import pyspark.sql.functions as F

    rows = [(x, y) for x in (0, 1, 5, 170, 255) for y in (0, 3, 85, 255)]
    df = spark.createDataFrame(rows, "x long, y long")
    got = df.select("x", "y", morton_key("x", "y", bits=8).alias("z")).collect()
    for r in got:
        assert r.z == ref(r.x, r.y), (r.x, r.y)


def test_parquet_schema_evolution_merge(spark, tmp_path):
    """Schema drift across appended batches (a column added mid-stream
    — the nightly-feed reality): mergeSchema reads the union schema
    with NULLs for pre-drift rows, and the narrow read still prunes to
    the requested columns."""
    import pyspark.sql.functions as F

    path = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], ["k", "v"]).write.parquet(path)
    spark.createDataFrame(
        [(2, "b", 7)], ["k", "v", "extra"]
    ).write.mode("append").parquet(path)
    merged = spark.read.option("mergeSchema", "true").parquet(path)
    assert set(merged.columns) == {"k", "v", "extra"}
    rows = {r.k: r.extra for r in merged.collect()}
    assert rows == {1: None, 2: 7}
    # without mergeSchema Spark picks one file's schema; the union
    # read above is the contract consumers rely on
    narrow = merged.select("k").collect()
    assert sorted(r.k for r in narrow) == [1, 2]
