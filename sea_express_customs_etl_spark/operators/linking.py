"""Linking operators: key derivation and count-match validation
(SURVEY.md §2.4).

The reference implements its one analytical join imperatively
(``src/batch_train.py:84-126``: pandas groupby sizes, index
intersection, ``isin`` masks, sort + ``zip``). The flagship plan
(``plans/knowledge.py:knowledge_aligned``) does count match, semi-join
reduction and positional alignment in one pass: one sorted item array
per waybill and side, an inner join on ``link_key`` with equal array
sizes, then ``arrays_zip``. ``count_matched_keys`` is the valid-key set
on its own, one row per waybill key; key validation stays distributed,
unlike the reference's in-RAM index intersection.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
import pyspark.sql.functions as F

from sea_express_customs_etl_spark.functions.strings import link_key


def add_link_key(
    df: DataFrame,
    mawb_col: str = "mawb_no",
    hawb_col: str = "hawb_no",
    out_col: str = "link_key",
) -> DataFrame:
    """Attach the scrubbed+uppercased composite waybill key
    (OP-JOIN-KEY; reference ``src/batch_train.py:84-87``)."""
    return df.withColumn(out_col, link_key(F.col(mawb_col), F.col(hawb_col)))


def count_matched_keys(
    df_a: DataFrame,
    df_b: DataFrame,
    key: str = "link_key",
) -> DataFrame:
    """Keys present in BOTH tables with EQUAL item counts
    (OP-JOIN-COUNTEQ + OP-SET-INTERSECT; reference
    ``src/batch_train.py:91-99``).

    Returns a one-column DataFrame of valid keys. Implemented as
    count-aggregate per side + inner equi-join + count-equality filter;
    the intersection of the reference is subsumed by the inner join.
    """
    cnt_a = df_a.groupBy(key).agg(F.count(F.lit(1)).alias("_cnt_a"))
    cnt_b = df_b.groupBy(key).agg(F.count(F.lit(1)).alias("_cnt_b"))
    # `a - b == 0` instead of `a == b`: keeps the count-equality as a
    # residual join filter; a plain EqualTo between the two sides would
    # be extracted into the join keys and force a re-shuffle on
    # (key, count) on top of the aggregates' (key) partitioning.
    return (
        cnt_a.join(cnt_b, key, "inner")
        .filter((F.col("_cnt_a") - F.col("_cnt_b")) == 0)
        .select(key)
    )
