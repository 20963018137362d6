"""SparkSession factory.

Engine-wide session policy (SURVEY §4.3.6): UTC session timezone,
Arrow enabled for pandas interchange, AQE on (join-strategy switching,
skew handling, shuffle coalescing at scale), and a shuffle-partition
count sized for the local test harness but overridable for clusters.

At 100 TB the same code runs with ``shuffle_partitions`` set to
O(2–4× total executor cores) (or left to AQE's coalescing with a high
initial value); nothing else changes.

Streaming checkpoints commit through Spark's
``FileSystemBasedCheckpointFileManager``: each file is written to a
temp name and moved into place with one ``FileSystem.rename``. Spark's
default, the ``FileContext``-based manager, stats the source and the
destination of every rename; on the local file system without Hadoop's
native library each of those stats runs ``FileUtil.readLink``, which
starts a ``readlink`` process. Measured on a ``tumbling_agg`` drain
(4 vCPU, ``local[4]``), that was 280 of the 364 process starts per
drain, and without them the state stores' commit time per
micro-batch, summed over its 4 state tasks, fell from 295 to 17 ms. This manager is the one Spark
itself picks for a scheme that has no ``FileContext``. Nothing is
switched off: Spark's checkpoint checksums, Hadoop's ``.crc`` sidecars
and the offset and commit logs' no-overwrite check (a check, then the
rename, as ``AbstractFileSystem.renameInternal`` also does locally)
all stay. On HDFS and ABFS ``FileSystem.rename`` is atomic as well;
that is the stores' contract and was not measured here.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32
DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "*")
CHECKPOINT_FILE_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager"
)


def get_spark(
    app_name: str = "capgemini-himss24-fhirbulkdata-demo-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    Deterministic-by-policy: UTC timezone so timestamp collection is
    stable against the DuckDB oracle; ANSI off (Spark 4 default is on)
    to keep permissive casts aligned with the reference's tolerant,
    schemaless handling (``FetchBulkData/__init__.py:425-428``).
    """
    master = master or f"local[{DEFAULT_CPUS}]"
    b = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        # Permissive (non-ANSI) semantics: null-on-miss element_at /
        # casts, matching the reference's tolerant, schemaless handling
        # (FetchBulkData/__init__.py:425-428). Spark 4 defaults ANSI on.
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        # Read timestamps as written; fixtures are tz-naive parquet.
        .config("spark.sql.parquet.int96RebaseModeInRead", "CORRECTED")
        .config("spark.sql.parquet.datetimeRebaseModeInRead", "CORRECTED")
        # Parquet TIMESTAMP(NANOS) has no Spark type; read as epoch-nanos
        # long and let catalog.load_table restore a timestamp column
        # (truncated to micros, matching DuckDB's ns→us behavior).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Keep driver results modest; queries() results are small aggregates.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # One rename(2) per checkpoint commit, no readlink processes (module docstring).
        .config("spark.sql.streaming.checkpointFileManagerClass", CHECKPOINT_FILE_MANAGER)
        .config("spark.ui.enabled", "false")
    )
    if not SparkSession.getActiveSession():
        b = b.master(master)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
