"""Structured Streaming layer (SURVEY §2B Streaming row).

The reference's incremental story is a hand-rolled micro-batch loop:
the ``_since`` cursor on kickoff (``FetchBulkData/__init__.py:609-613``)
plus sleep-based polling (``:282-326``). Here that becomes:

- a file-source ``readStream`` over a parquet landing directory
  (new files appear → new micro-batch),
- event-time tumbling windows with a watermark,
- a runner that starts a stateful query with ``availableNow``
  (``runner.start_stateful_query``); its state takes the session's
  shuffle count, one task wave (``session.get_spark``).

The incremental FHIR import is not a stream: it is the batch route
``POST bulkimport/latest`` with the persisted ``_since`` cursor
(``api.py``, ``pipeline.run_bulk_import``).
"""

from .sources import read_parquet_stream  # noqa: F401
from .windows import tumbling_agg  # noqa: F401
from .runner import start_stateful_query  # noqa: F401
