"""Operator library — pure ``DataFrame -> DataFrame`` functions mirroring
SURVEY.md §2. Batch/streaming agnostic: the same Column expressions run
under both execution modes (Structured Streaming's batch-stream
unification is the core design bet, SURVEY.md §7.0)."""

from iotstream.operators.filters import is_valid, validity_filter  # noqa: F401
from iotstream.operators.parse import (  # noqa: F401
    normalize_missing_metrics,
    parse_sensor_json,
    to_sensor_json,
)
from iotstream.operators.project import raw_archive_projection  # noqa: F401
from iotstream.operators.windows import window_agg  # noqa: F401
