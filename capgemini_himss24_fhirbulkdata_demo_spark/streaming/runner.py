"""Engine-owned streaming query startup: state-partition sizing.

A stateful query pins its state-store partition count from
``spark.sql.shuffle.partitions`` at its first checkpoint, and every
micro-batch runs one task per state partition, each committing its
store however few keys it holds. The session default is sized for
batch shuffles, so ``start_stateful_query`` starts the query with one
task wave instead, read when the query starts: as many state
partitions as tasks can run at once. That is
``spark.sparkContext.defaultParallelism``, the task slots, and in
local mode no more than the driver JVM's available processors, since
there the slots are threads on this host's cores: ``local[32]`` on 4
cores runs 32 tasks as eight waves.

Measured on a warm JVM (4 vCPU, ``local[4]``, checkpoints through the
session's file-system checkpoint manager), a ``tumbling_agg`` drain of
10,000 events landed as 8 files, two per micro-batch, took 1.30 s at 8
state partitions, which ran as two task waves per batch, 1.13 s at 4,
1.03 s at 2 and 0.97 s at 1 (medians of 5, interleaved). Fewer
partitions than a wave were faster still on this small state, but
leave cores idle when the state is large; one wave is the most that
adds no wave. The RocksDB state store was slower than the default
HDFS-backed store at 1, 4 and 8 partitions: 1.13, 1.19 and 1.60 s
without changelog checkpointing, 1.04, 1.16 and 1.36 s with it; at 2
partitions the three were within 0.1 s of each other. At ``local[32]``
on the same host, a drain of 100,000 events took 3.1 s at 32 state
partitions, 1.5 s at 8 and 1.2 s at the default 4 (medians of 3).
Each state-partition commit costs less than under Spark's default
FileContext checkpoint manager (2.4, 1.9, 1.5 and 1.5 s for the
``local[4]`` drain, 7.3, 2.8 and 2.5 s at ``local[32]``), so a wave
adds less than it did, but it still adds. The count is still pinned
at the first checkpoint: a query restarted on a host with more cores
keeps the count it started with.

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
window can still see the temporary value.
"""

from __future__ import annotations

import threading
import warnings
from typing import Callable

from pyspark.sql import DataFrame

_SHUFFLE_CONF = "spark.sql.shuffle.partitions"

# Serializes the set/start/restore window across threads (r8 advice:
# a concurrent start from another thread could pick up the temporary
# sizing value or have its own restore clobbered).
_START_LOCK = threading.Lock()


def _one_wave(spark) -> int:
    """How many tasks run at once: the task slots, capped in local mode
    by the processors the driver JVM, and so its task threads, has."""
    sc = spark.sparkContext
    slots = sc.defaultParallelism
    if sc.master.startswith("local"):
        slots = min(slots, sc._jvm.java.lang.Runtime.getRuntime().availableProcessors())
    return slots


def start_stateful_query(
    stream_df: DataFrame,
    checkpoint_dir: str,
    *,
    foreach_batch: Callable[[DataFrame, int], None] | None = None,
    sink_format: str | None = None,
    output_mode: str | None = None,
    query_name: str | None = None,
):
    """Start a streaming query with one task wave of state partitions
    (``_one_wave``, see the module docstring), snapshotted into the
    query's cloned session at start.

    ``stream_df`` is the transformed streaming DataFrame (e.g. the
    output of ``tumbling_agg``).
    Exactly one sink: ``foreach_batch`` callback, or ``sink_format``.
    The query runs with ``availableNow``: it drains what is there, then
    stops.
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

    sized = str(_one_wave(spark))
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
