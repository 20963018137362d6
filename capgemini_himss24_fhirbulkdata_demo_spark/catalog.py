"""Fixture-table catalog.

Loads the driver-generated TPC-H-ish parquet tables (TESTDATA.md) and
registers them as temp views, mirroring the reference's
resource-type-as-table convention (type parsed from the blob name,
``FetchBulkData/__init__.py:218``) — here the "type" is the parquet
file stem.

Scale note: ``spark.read.parquet`` gives vectorized columnar scans with
predicate pushdown + column pruning for free; at 100 TB the same call
reads a partitioned directory tree and Catalyst prunes partitions.

Schema snapshots: Spark infers a parquet schema with a Spark job that
reads the footers, even for one file with ``mergeSchema`` off, and an
analyst query loads each of its tables afresh. ``load_table`` therefore
infers a table's schema once per session and file version, keyed on
``(abspath, size, mtime_ns, inode)`` of the file, or of every file
under it for a directory, and hands the snapshot to
``spark.read.schema(...)`` after that. A rewritten file is a new
version and is inferred again. Only the schema is kept: every call
still builds a new relation that lists and scans the data, so two
loads of one table have distinct attribute ids (self-joins resolve),
and no plan or result is cached. A path that cannot be stat'ed (a
URI, or a missing path) is left to Spark, which raises its own
``AnalysisException`` for a missing one.
"""

from __future__ import annotations

import logging
import os
import threading
import weakref
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

logger = logging.getLogger(__name__)

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


@dataclass
class _SchemaSnapshots:
    """One session's schema snapshots: abspath -> (file version, schema)."""

    by_path: dict[str, tuple[tuple, StructType]] = field(default_factory=dict)
    hits: int = 0
    misses: int = 0


# Weak keys: a session that is gone takes its snapshots with it.
_snapshots: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
_snapshots_lock = threading.Lock()


def _file_version(path: str) -> tuple | None:
    """``(abspath, size, mtime_ns, inode)`` of ``path``, or of every
    file under it when it is a directory; None when it cannot be
    stat'ed."""
    path = os.path.abspath(path)
    try:
        if os.path.isdir(path):
            files = sorted(
                os.path.join(root, f) for root, _, names in os.walk(path) for f in names
            )
        else:
            files = [path]
        version = []
        for p in files:
            st = os.stat(p)
            version.append((p, st.st_size, st.st_mtime_ns, st.st_ino))
        return tuple(version)
    except OSError:
        return None


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """A new DataFrame over table ``name``, reading its schema from the
    session's snapshot when the file is unchanged (module docstring)."""
    path = table_path(sf_dir, name)
    version = _file_version(path)
    if version is None:
        return _restore_nanos_timestamps(spark.read.parquet(path))
    key = os.path.abspath(path)
    with _snapshots_lock:
        snaps = _snapshots.setdefault(spark, _SchemaSnapshots())
        seen = snaps.by_path.get(key)
        hit = seen is not None and seen[0] == version
        if hit:
            snaps.hits += 1
    if hit:
        return _restore_nanos_timestamps(spark.read.schema(seen[1]).parquet(path))
    # inferred outside the lock, so loads of other tables do not wait;
    # two first loads of one table may both infer, which is harmless
    df = spark.read.parquet(path)
    with _snapshots_lock:
        snaps.by_path[key] = (version, df.schema)
        snaps.misses += 1
        hits, misses = snaps.hits, snaps.misses
    logger.info("schema snapshot taken for %s (%d hits, %d misses)", key, hits, misses)
    return _restore_nanos_timestamps(df)


def schema_snapshot_stats(spark: SparkSession) -> dict[str, int]:
    """The session's schema-snapshot ``hits`` and ``misses`` so far."""
    with _snapshots_lock:
        snaps = _snapshots.get(spark, _SchemaSnapshots())
        return {"hits": snaps.hits, "misses": snaps.misses}


def _restore_nanos_timestamps(df: DataFrame) -> DataFrame:
    """Re-type TIMESTAMP(NANOS) columns read as epoch-nanos longs.

    The session sets ``spark.sql.legacy.parquet.nanosAsLong`` because
    Spark has no nanosecond timestamp type; here the nanos are
    truncated to microseconds (identical to DuckDB's ns→us read) and
    surfaced as TIMESTAMP_NTZ like every other fixture timestamp.
    Only the ``events.ts`` fixture column is affected.
    """
    from pyspark.sql import functions as F

    if "ts" in df.columns and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz")
        )
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every fixture table and register ``<name>`` temp views."""
    out: dict[str, DataFrame] = {}
    for name in TABLES:
        p = table_path(sf_dir, name)
        if not os.path.exists(p):
            continue
        df = load_table(spark, sf_dir, name)  # incl. nanos re-typing
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
