"""Relational + extension operators (SURVEY.md §2)."""

from sea_express_customs_etl_spark.operators.linking import (  # noqa: F401
    add_link_key,
    count_matched_keys,
)
from sea_express_customs_etl_spark.operators.vote import majority_vote  # noqa: F401
from sea_express_customs_etl_spark.operators.ordered import (  # noqa: F401
    ffill,
    seq_number,
)
