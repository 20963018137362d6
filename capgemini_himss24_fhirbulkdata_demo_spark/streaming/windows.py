"""Streaming windowed aggregation.

``tumbling_agg`` mirrors a batch twin in queries/streaming_batch.py —
the equivalence (streaming over a replayed complete source == batch)
is asserted in tests/test_streaming.py, and perfbench's stream drain
runs it. The watermark bounds state: windows older than it are
finalized and evicted; late rows beyond it are dropped (the late-drop
count is observable via the ``observe`` metric the tests use).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


WINDOW_SIZE = "1 hour"
WATERMARK = "2 hours"


def tumbling_agg(events: DataFrame) -> DataFrame:
    """Tumbling ``WINDOW_SIZE`` windows over ``ts`` per ``event_type``,
    with a ``WATERMARK`` watermark; append-mode safe."""
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", WINDOW_SIZE).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )

