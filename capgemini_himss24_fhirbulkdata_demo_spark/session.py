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

Local file system. Without Hadoop's native library,
``RawLocalFileSystem.setPermission`` starts a ``chmod`` process, and
``create()`` and ``mkdirs()`` call it for every file and directory
Spark writes: ``tools/jfr_forks.py`` counted 19 per epic/cerner delta,
9 per bcda delta and 83 per ``tumbling_agg`` drain (4 vCPU), each
4–5 ms of fork and exec on the request path. No Spark setting removes
them. For ``local`` masters, ``get_spark`` selects
``graft.NioLocalFileSystem`` (``jvm/NioLocalFileSystem.java``) through
``spark.hadoop.fs.file.impl``. It is Hadoop's ``LocalFileSystem`` with
permissions set through ``java.nio`` in-process; a mode with the sticky
bit, which NIO cannot set, still goes through Hadoop. File modes,
``.crc`` sidecars, checkpoint checksums and the commit protocol are
unchanged.

The class is built with the host's ``javac`` against the
``hadoop-client-api`` jar of the Spark that launches the JVM
(``$SPARK_HOME/jars``), into a directory under
``tempfile.gettempdir()`` keyed on the user id, the source and the
jar's name. A build takes about 1.3 s and 1.6 CPU-seconds (4 vCPU);
later launches only hash the source. Each build goes to a private
(0700) directory renamed into place, so processes starting at once
never load half-written classes. The temp directory is shared by all
users and the name is predictable, so a directory found there is used
only if it is a real directory (not a link) that this user owns and
no one else can write to. The classes reach
the JVM through ``spark.driver.extraClassPath``, appended to any the
caller passes, which takes effect only when the JVM is launched.
Hadoop's stock file system stays in three cases:

- the host has no ``javac`` (a JRE-only host), the build fails, or
  the cache directory fails the ownership check; one line is logged;
- the JVM was already running and cannot load the class, such as a
  session someone else built; a ``Class.forName`` probe decides, so
  a session restarted on a JVM ``get_spark`` launched keeps the class;
- the master is not ``local``: the classes exist only on the driver
  host, and only under ``local`` do the executors share the driver's
  JVM.
"""

from __future__ import annotations

import glob
import hashlib
import logging
import os
import re
import shutil
import stat
import subprocess
import tempfile
from pathlib import Path

from py4j.protocol import Py4JJavaError
from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

logger = logging.getLogger(__name__)

APP_NAME = "capgemini-himss24-fhirbulkdata-demo-spark"
DEFAULT_SHUFFLE_PARTITIONS = 32
DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "*")
CHECKPOINT_FILE_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager"
)
LOCAL_FS_CLASS = "graft.NioLocalFileSystem"
LOCAL_FS_SOURCE = Path(__file__).with_name("jvm") / "NioLocalFileSystem.java"
FS_IMPL = "spark.hadoop.fs.file.impl"
DRIVER_CLASSPATH = "spark.driver.extraClassPath"
# local, local[N], local[*], local[N,F]; not local-cluster, whose
# executors are separate JVMs
_LOCAL_MASTER = re.compile(r"local(\[[^\]]*\])?")


def _compiled_local_fs() -> str | None:
    """The directory holding ``LOCAL_FS_CLASS``, built on first use
    (module docstring); None when it cannot be built or the cache
    directory could hold another user's classes."""
    javac = shutil.which("javac")
    jars = sorted(glob.glob(os.path.join(_find_spark_home(), "jars", "hadoop-client-api-*.jar")))
    if javac is None or not jars:
        logger.warning("no javac or hadoop-client-api jar: keeping Hadoop's stock local file system")
        return None
    key = hashlib.sha256(LOCAL_FS_SOURCE.read_bytes() + os.path.basename(jars[0]).encode())
    out = os.path.join(tempfile.gettempdir(), f"graft-local-fs-{os.getuid()}-{key.hexdigest()[:16]}")
    if not os.path.lexists(out):
        build = tempfile.mkdtemp(prefix=os.path.basename(out) + "-", dir=os.path.dirname(out))
        try:
            try:
                # one small file: javac's own JVM needs no C2 or parallel GC,
                # and without them the build takes half the CPU time
                subprocess.run(
                    [javac, "-J-XX:TieredStopAtLevel=1", "-J-XX:+UseSerialGC", "--release", "17",
                     "-cp", jars[0], "-d", build, str(LOCAL_FS_SOURCE)],
                    check=True, capture_output=True, text=True,
                )
            except subprocess.CalledProcessError as e:
                logger.warning("javac failed, keeping Hadoop's stock local file system: %s", e.stderr.strip())
                return None
            try:
                os.rename(build, out)
            except OSError:
                if not os.path.lexists(out):  # else another process put its build in place first
                    raise
        finally:
            shutil.rmtree(build, ignore_errors=True)
    # the temp directory is shared: load only classes no other user can have put there
    st = os.lstat(out)
    if not stat.S_ISDIR(st.st_mode) or st.st_uid != os.getuid() or st.st_mode & 0o022:
        logger.warning("%s is not a directory only this user can write: keeping Hadoop's stock local file system", out)
        return None
    return out


def _local_fs_conf(master: str, extra_conf: dict[str, str]) -> dict[str, str]:
    """The conf that selects ``LOCAL_FS_CLASS``, or {} to keep Hadoop's
    stock local file system (module docstring)."""
    sc = SparkContext._active_spark_context
    if not _LOCAL_MASTER.fullmatch(sc.master if sc is not None else master):
        return {}
    if SparkContext._gateway is not None:
        try:
            SparkContext._jvm.java.lang.Class.forName(LOCAL_FS_CLASS)
        except Py4JJavaError:  # a JVM launched without the classes
            return {}
        return {FS_IMPL: LOCAL_FS_CLASS}
    classes = _compiled_local_fs()
    if classes is None:
        return {}
    cp = extra_conf.get(DRIVER_CLASSPATH)
    return {FS_IMPL: LOCAL_FS_CLASS, DRIVER_CLASSPATH: f"{cp}{os.pathsep}{classes}" if cp else classes}


def get_spark(
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
        SparkSession.builder.appName(APP_NAME)
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
    extra_conf = extra_conf or {}
    # chmod in-process instead of one process per written file (module docstring)
    for k, v in {**extra_conf, **_local_fs_conf(master, extra_conf)}.items():
        b = b.config(k, v)
    return b.getOrCreate()
