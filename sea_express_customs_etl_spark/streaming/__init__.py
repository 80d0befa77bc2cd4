"""Structured Streaming surface (SURVEY.md §2.12)."""

from sea_express_customs_etl_spark.streaming.file_ingest import (  # noqa: F401
    run_availablenow,
    stream_manifests,
    stream_xml_history,
)
from sea_express_customs_etl_spark.streaming.windows import (  # noqa: F401
    hourly_event_counts,
    sessionize,
)
