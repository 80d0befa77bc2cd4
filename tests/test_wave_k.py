"""Goldens for the wave-K operators: edge support (k-truss), HLL pair
overlap, temperature allocation, band join, two-proportion z-test."""

import itertools

import pyspark.sql.functions as F


def test_edge_support_k4_and_orientation_invariance(spark):
    from sea_express_customs_etl_spark.operators.graph import (
        edge_support,
        triangle_triples,
    )

    # K4: every edge sits in exactly 2 triangles
    edges = [(a, b) for a, b in itertools.combinations([1, 2, 3, 4], 2)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    sup = edge_support(triangle_triples(df))
    got = {(r.a, r.b): r.support for r in sup.collect()}
    assert got == {(a, b): 2 for a, b in edges}
    # both directions of every edge: the same support per canonical edge
    both = df.unionByName(df.selectExpr("dst AS src", "src AS dst"))
    sup = edge_support(triangle_triples(both))
    assert {(r.a, r.b): r.support for r in sup.collect()} == got


def test_edge_support_bridge_absent(spark):
    from sea_express_customs_etl_spark.operators.graph import (
        edge_support,
        triangle_triples,
    )

    # triangle 1-2-3 plus bridge 3-4: bridge has support 0 -> absent
    df = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)], ["src", "dst"]
    )
    sup = edge_support(triangle_triples(df))
    got = {(r.a, r.b): r.support for r in sup.collect()}
    assert got == {(1, 2): 1, (2, 3): 1, (1, 3): 1}


def test_hll_pair_overlap_estimate_accuracy(spark):
    from sea_express_customs_etl_spark.operators.sketches import (
        hll_pair_overlap,
        hll_overlap_estimate,
    )

    # two slices sharing exactly 600 of 1000/800 values
    rows = [("a", f"v{i}") for i in range(1000)] + [
        ("b", f"v{i}") for i in range(400, 1200)
    ]
    df = spark.createDataFrame(rows, ["s", "tok"])
    stats = hll_pair_overlap(df, "tok", "s").collect()
    assert len(stats) == 1
    est = hll_overlap_estimate(stats[0].asDict())
    # inclusion-exclusion stacks three ±6.5% estimates; allow 25%
    assert abs(est - 600) < 150


def test_hll_pair_overlap_union_dominates_sides(spark):
    from sea_express_customs_etl_spark.operators.sketches import (
        hll_pair_overlap,
    )

    rows = [("a", f"x{i}") for i in range(200)] + [
        ("b", f"y{i}") for i in range(300)
    ]
    df = spark.createDataFrame(rows, ["s", "tok"])
    r = hll_pair_overlap(df, "tok", "s").collect()[0]
    # union sketch can only have fewer-or-equal empty registers
    assert r.n_zero_u <= min(r.n_zero_a, r.n_zero_b)


def test_temperature_allocation_sums_to_budget(spark):
    from sea_express_customs_etl_spark.operators.sampling import (
        temperature_allocation,
    )

    rows = (
        [("big", i) for i in range(900)]
        + [("mid", i) for i in range(100)]
        + [("small", i) for i in range(9)]
    )
    df = spark.createDataFrame(rows, ["src", "i"])
    out = {r.src: r for r in
           temperature_allocation(df, "src", 77).collect()}
    assert sum(r.alloc for r in out.values()) == 77
    # isqrt exactness: 900 -> 30, 100 -> 10, 9 -> 3
    assert {k: v.weight for k, v in out.items()} == {
        "big": 30, "mid": 10, "small": 3
    }
    # largest-remainder quota property: every alloc within 1 of the
    # exact real-valued quota budget*w/W (W = 43 here)
    for r in out.values():
        assert abs(r.alloc - 77 * r.weight / 43) <= 1


def test_temperature_allocation_isqrt_edges(spark):
    from sea_express_customs_etl_spark.operators.sampling import (
        temperature_allocation,
    )

    # counts straddling perfect squares: 15 -> 3, 16 -> 4, 17 -> 4
    rows = (
        [("p", i) for i in range(15)]
        + [("q", i) for i in range(16)]
        + [("r", i) for i in range(17)]
    )
    df = spark.createDataFrame(rows, ["src", "i"])
    got = {r.src: r.weight for r in
           temperature_allocation(df, "src", 11).collect()}
    assert got == {"p": 3, "q": 4, "r": 4}


def test_band_pair_counts_matches_naive(spark):
    from sea_express_customs_etl_spark.operators.bandjoin import (
        band_pair_counts,
    )

    rows = [
        ("A", 100), ("A", 100), ("A", 130),
        ("B", 110), ("B", 160), ("C", 125),
    ]
    df = spark.createDataFrame(rows, ["k", "v"])
    got = {
        (r.key_a, r.key_b): r.n_pairs
        for r in band_pair_counts(df, "k", "v", eps=25).collect()
    }
    naive = {}
    for (i, (ka, va)), (j, (kb, vb)) in itertools.combinations(
        enumerate(rows), 2
    ):
        if abs(va - vb) <= 25:
            key = tuple(sorted((ka, kb)))
            naive[key] = naive.get(key, 0) + 1
    assert got == naive


def test_band_pair_counts_bucket_boundary(spark):
    from sea_express_customs_etl_spark.operators.bandjoin import (
        band_pair_counts,
    )

    # values in adjacent buckets (eps=10: 19 and 21 -> buckets 1, 2)
    df = spark.createDataFrame([("A", 19), ("B", 21)], ["k", "v"])
    got = band_pair_counts(df, "k", "v", eps=10).collect()
    assert {(r.key_a, r.key_b, r.n_pairs) for r in got} == {("A", "B", 1)}


def test_segment_ztest_balanced_is_zero(spark, tmp_path):
    import pyspark.sql.functions as F
    from sea_express_customs_etl_spark.plans.relational import (
        segment_conversion_ztest,
    )

    # two segments with IDENTICAL conversion rates -> z = 0 for both
    cust = spark.createDataFrame(
        [(i, "S1" if i < 10 else "S2") for i in range(20)],
        ["c_custkey", "c_mktsegment"],
    )
    orders = spark.createDataFrame(
        [(i,) for i in list(range(0, 5)) + list(range(10, 15))],
        ["o_custkey"],
    )
    sf = str(tmp_path)
    cust.write.parquet(f"{sf}/customer.parquet")
    orders.write.parquet(f"{sf}/orders.parquet")
    out = {r.c_mktsegment: r for r in
           segment_conversion_ztest(spark, sf).collect()}
    assert out["S1"].n_cust == 10 and out["S1"].n_conv == 5
    assert out["S1"].z_score == 0.0 and out["S2"].z_score == 0.0
