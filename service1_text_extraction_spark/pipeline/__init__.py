"""The Spark extraction job: read -> extract UDF -> bucket exchange -> order -> sink."""

from .extract import (  # noqa: F401
    RESULT_FIELDS,
    assemble_documents,
    extraction_metrics,
    run_extraction,
    with_bucket,
)
from .checkpoint import (  # noqa: F401
    MARKER_SCHEMA,
    compute_markers,
    run_with_resume,
)
