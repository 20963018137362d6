"""Engine-owned streaming query startup: state-partition sizing.

A stateful query pins its state-store partition count from
``spark.sql.shuffle.partitions`` at its first checkpoint, and every
micro-batch pays a commit per state partition however few keys it
holds. The session default is sized for batch shuffles, so
``start_stateful_query`` starts the query with
``DEFAULT_STATE_PARTITIONS`` instead: a ``tumbling_agg`` holding ~7k
windows drained 3x faster at 8 state partitions than at 32.

Spark 4.1 offers no per-query way to set it, hence the session-conf
flip below:

- ``writeStream.option("spark.sql.shuffle.partitions", ...)`` is
  ignored; the query keeps the session's partition count.
- A ``spark.newSession()`` child with the conf set sizes the state
  without touching the caller, but a memory sink's view then lives in
  the child, and ``spark.table(name)`` on the caller's session raises
  ``AnalysisException``.

``start()`` clones the session state synchronously, so the conf is set,
the query started and the previous value restored under a module lock.
A batch job running in another thread of the same session during that
window can still see the temporary value. A restart from an existing
checkpoint keeps its original partition count.
"""

from __future__ import annotations

import threading
import warnings
from typing import Callable

from pyspark.sql import DataFrame

DEFAULT_STATE_PARTITIONS = 8

_SHUFFLE_CONF = "spark.sql.shuffle.partitions"

# Serializes the set/start/restore window across threads (r8 advice:
# a concurrent start from another thread could pick up the temporary
# sizing value or have its own restore clobbered).
_START_LOCK = threading.Lock()


def start_stateful_query(
    stream_df: DataFrame,
    checkpoint_dir: str,
    *,
    foreach_batch: Callable[[DataFrame, int], None] | None = None,
    sink_format: str | None = None,
    output_mode: str | None = None,
    state_partitions: int | None = DEFAULT_STATE_PARTITIONS,
    query_name: str | None = None,
):
    """Start a streaming query with engine-sized state partitions.

    ``stream_df`` is the transformed streaming DataFrame (e.g. the
    output of ``tumbling_agg``/``session_agg``/``streaming_dedup``).
    Exactly one sink: ``foreach_batch`` callback, or ``sink_format``.
    The query runs with ``availableNow``: it drains what is there, then
    stops.

    ``state_partitions`` (default ``DEFAULT_STATE_PARTITIONS``) is
    snapshotted into the query's cloned session at start; pass
    ``None`` to inherit the session's shuffle default unchanged.
    Returns the started StreamingQuery.
    """
    spark = stream_df.sparkSession
    writer = stream_df.writeStream.option("checkpointLocation", checkpoint_dir)
    if output_mode is not None:
        writer = writer.outputMode(output_mode)
    if foreach_batch is not None:
        writer = writer.foreachBatch(foreach_batch)
    elif sink_format is not None:
        writer = writer.format(sink_format)
    else:
        raise ValueError("provide foreach_batch or sink_format")
    if query_name is not None:
        writer = writer.queryName(query_name)
    writer = writer.trigger(availableNow=True)

    if state_partitions is None:
        return writer.start()
    sized = str(int(state_partitions))
    with _START_LOCK:
        prev = spark.conf.get(_SHUFFLE_CONF)
        spark.conf.set(_SHUFFLE_CONF, sized)
        try:
            return writer.start()
        finally:
            observed = spark.conf.get(_SHUFFLE_CONF)
            if observed != sized:
                warnings.warn(
                    f"{_SHUFFLE_CONF} changed from {sized!r} to "
                    f"{observed!r} by another writer during streaming "
                    f"start; restoring pre-start value {prev!r} over it",
                    RuntimeWarning,
                    stacklevel=2,
                )
            spark.conf.set(_SHUFFLE_CONF, prev)
