"""The Spark extraction job: read -> extract UDF -> bucket exchange ->
order -> one bucket-partitioned parquet sink, resumed bucket by bucket
from its completion markers (``run_with_resume``)."""

from .extract import (  # noqa: F401
    RESULT_FIELDS,
    assemble_documents,
    extraction_metrics,
    run_extraction,
    with_bucket,
)
from .checkpoint import (  # noqa: F401
    MARKER_SCHEMA,
    run_with_resume,
)
