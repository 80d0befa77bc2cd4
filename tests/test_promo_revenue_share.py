"""promo_revenue_share where one month's promo revenue × 10⁶ exceeds
BIGINT: the ppm share must still hash-match its DuckDB oracle (the 8×
replica hit ARITHMETIC_OVERFLOW in the un-widened multiply)."""

from __future__ import annotations

import duckdb
import pyarrow.compute as pc
import pyarrow.parquet as pq

from sea_express_customs_etl_spark.plans.oracles_rel_ext import (
    PROMO_REVENUE_SHARE_SQL,
)
from sea_express_customs_etl_spark.plans.relational_ext import promo_revenue_share
from tools.check_oracle import value_hash

PRICE_SCALE = 10_000


def test_promo_share_past_bigint_matches_oracle(spark, sf_dir, tmp_path):
    sf = str(tmp_path)
    pq.write_table(pq.read_table(f"{sf_dir}/part.parquet"), f"{sf}/part.parquet")
    li = pq.read_table(f"{sf_dir}/lineitem.parquet")
    col = li.schema.get_field_index("l_extendedprice")
    li = li.set_column(
        col,
        "l_extendedprice",
        pc.multiply(li.column("l_extendedprice"), float(PRICE_SCALE)),
    )
    pq.write_table(li, f"{sf}/lineitem.parquet")

    con = duckdb.connect()
    for t in ("part", "lineitem"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')"
        )
    res = con.sql(PROMO_REVENUE_SHARE_SQL)
    ocols, orows = res.columns, res.fetchall()
    # the fixture really crosses the envelope the old multiply overflowed
    peak = max(r[ocols.index("promo_u5")] for r in orows)
    assert peak * 1_000_000 > 2**63

    sdf = promo_revenue_share(spark, sf)
    srows = [tuple(r) for r in sdf.collect()]
    assert sorted(sdf.columns) == sorted(ocols)
    assert len(srows) == len(orows)
    assert value_hash(sdf.columns, srows) == value_hash(ocols, orows)
