"""Engine-owned streaming query startup.

A stateful query pins its state-store partition count from
``spark.sql.shuffle.partitions`` at its first checkpoint. ``get_spark``
sets that conf to one task wave, the count a stream needs (the
measurements are in ``session``'s module docstring), so a query started
here on a ``get_spark`` session runs one task wave of state partitions
without touching the session's conf.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame


def start_stateful_query(
    stream_df: DataFrame,
    checkpoint_dir: str,
    *,
    foreach_batch: Callable[[DataFrame, int], None] | None = None,
    sink_format: str | None = None,
    output_mode: str | None = None,
    query_name: str | None = None,
):
    """Start a streaming query whose state partitions are the session's
    shuffle count, pinned at its first checkpoint.

    ``stream_df`` is the transformed streaming DataFrame (e.g. the
    output of ``tumbling_agg``).
    Exactly one sink: ``foreach_batch`` callback, or ``sink_format``.
    The query runs with ``availableNow``: it drains what is there, then
    stops.
    Returns the started StreamingQuery.
    """
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
    return writer.trigger(availableNow=True).start()
