"""Streaming windowed aggregations + stateful dedup.

Each function mirrors a batch twin in queries/streaming_batch.py —
the equivalence (streaming over a replayed complete source == batch)
is asserted in tests/test_streaming.py. Watermarks bound state:
windows older than the watermark are finalized and evicted; late rows
beyond it are dropped (the late-drop count is observable via the
``observe`` metric the tests use).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def tumbling_agg(
    events: DataFrame,
    window_size: str = "1 hour",
    watermark: str = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """Tumbling event-time windows with watermark; append-mode safe."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window_size).alias("w"), "event_type")
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


def session_agg(
    events: DataFrame,
    gap: str = "5 minutes",
    watermark: str = "2 hours",
    ts_col: str = "ts",
    key_col: str = "user_id",
) -> DataFrame:
    """Session windows (gap-merged) per key — the streaming form of the
    gaps-and-islands batch query (x32)."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(key_col, F.session_window(ts_col, gap).alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(
            key_col,
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format("w.end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            "n_events",
        )
    )


def interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    max_lag: str = "1 hour",
    watermark: str = "2 hours",
    ts_col: str = "ts",
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream interval join (batch twins: x33
    inner, x71 left-outer).

    Both sides carry a watermark and the join condition bounds
    right.ts within (left.ts, left.ts + max_lag] — exactly the
    conditions Spark needs to evict join state (left rows older than
    watermark+max_lag, right rows older than watermark). Output
    columns are renamed to the x33 contract. With ``how='left'``,
    an unmatched left row is emitted with NULL right columns only
    once the watermark passes its interval bound (state eviction IS
    the NULL-emission point) — so on a drained finite source, the
    tail of left rows younger than max-event-time − watermark −
    max_lag stays unemitted; the live test asserts exactly that
    bounded divergence from the batch twin.
    """
    l = left.withWatermark(ts_col, watermark).select(
        F.col(key), F.col("event_id").alias("view_id"), F.col(ts_col).alias("ts_a")
    )
    r = right.withWatermark(ts_col, watermark).select(
        F.col(key).alias("__rk"),
        F.col("event_id").alias("purchase_id"),
        F.col(ts_col).alias("ts_b"),
    )
    return l.join(
        r,
        (F.col(key) == F.col("__rk"))
        & (F.col("ts_b") > F.col("ts_a"))
        & (F.col("ts_b") <= F.col("ts_a") + F.expr(f"INTERVAL {max_lag}")),
        how,
    ).select(
        key,
        "view_id",
        "purchase_id",
        (F.unix_timestamp("ts_b") - F.unix_timestamp("ts_a")).alias("lag_sec"),
    )


def streaming_dedup(
    events: DataFrame,
    keys: list[str],
    watermark: str = "1 hour",
    ts_col: str = "ts",
) -> DataFrame:
    """Stateful exactly-once dedup: dropDuplicates over key columns
    with watermark-bounded state (SURVEY §2B Streaming row).

    State holds one entry per key seen within the watermark horizon;
    duplicates arriving later than the watermark are already outside
    the correctness contract (the batch layer's exact dedup is the
    backstop — the standard lambda-free two-tier design).
    """
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)


def enrich_with_static(
    stream: DataFrame,
    dim: DataFrame,
    key: str,
    how: str = "left",
    hint_broadcast: bool = True,
) -> DataFrame:
    """Stream-static equi join — the enrichment pattern (each
    micro-batch joins against the static side as of that batch's
    planning, so a dim table refreshed between batches is picked up
    without restarting the query). Stream-static joins are stateless:
    no watermark is needed and no join state accumulates, which is
    what makes this the cheap half of the join family — reach for it
    before a stream-stream join whenever one side is a slowly
    changing dimension.

    ``hint_broadcast=True`` (default) marks the dim for broadcast —
    the right call for bounded dimensions (the RxNav map shape,
    SURVEY §4.3.1); pass False for large static sides and let the
    planner shuffle the batch instead.
    """
    d = F.broadcast(dim) if hint_broadcast else dim
    return stream.join(d, key, how)
