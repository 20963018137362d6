"""Structured Streaming layer (SURVEY §2B Streaming row).

The reference's incremental story is a hand-rolled micro-batch loop:
the ``_since`` cursor on kickoff (``FetchBulkData/__init__.py:609-613``)
plus sleep-based polling (``:282-326``). Here that becomes:

- a file-source ``readStream`` over a parquet landing directory
  (new files appear → new micro-batch),
- event-time tumbling and session windows with watermarks,
- stateful streaming dedup (``dropDuplicates`` under watermark),
- the incremental FHIR import (``fhir_import.start_streaming_import``):
  a stream of newly landed file paths, each micro-batch transformed by
  ``pipeline.transform_landed_files`` — the batch path's own driver, so
  the unit of correctness is the landed file on both — and committed
  through a ``$import`` callback (exactly-once via the checkpointed
  batch id = manifest id).
"""

from .sources import read_parquet_stream  # noqa: F401
from .windows import (  # noqa: F401
    enrich_with_static,
    interval_join,
    session_agg,
    streaming_dedup,
    tumbling_agg,
)
from .runner import start_stateful_query  # noqa: F401
from .sketches import StreamingCountMin, run_streaming_cms  # noqa: F401
