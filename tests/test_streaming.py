"""Streaming tests (SURVEY §5.2.4): replay the events fixture through
a file stream; assert streaming window aggregates equal their batch
twins; watermark late-drop; foreachBatch exactly-once shape."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from capgemini_himss24_fhirbulkdata_demo_spark.catalog import load_table
from capgemini_himss24_fhirbulkdata_demo_spark.streaming import (
    read_parquet_stream,
    start_stateful_query,
    tumbling_agg,
)

from .conftest import SF_DIR

EVENTS_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


@pytest.fixture(scope="module")
def landed_events(spark, tmp_path_factory):
    """Land the events fixture as parquet files (the 'export dir')."""
    d = str(tmp_path_factory.mktemp("landing"))
    ev = load_table(spark, SF_DIR, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    ev.repartition(4).write.mode("overwrite").parquet(d)
    return d


def _run_to_memory(stream_df, name, checkpoint, mode="append"):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def test_tumbling_stream_equals_batch(spark, landed_events, tmp_path):
    stream = read_parquet_stream(spark, landed_events, EVENTS_SCHEMA)
    agg = tumbling_agg(stream)
    _run_to_memory(agg, "tumbling_out", str(tmp_path / "ck1"), mode="append")
    got = {
        tuple(r)
        for r in spark.table("tumbling_out")
        .select("window_start", "event_type", "n_events", "sum_value")
        .collect()
    }
    batch = load_table(spark, SF_DIR, "events")
    exp = {
        tuple(r)
        for r in batch.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
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
        .collect()
    }
    # availableNow + append mode emits only watermark-finalized windows;
    # every emitted window must match its batch twin exactly, and the
    # stream must have finalized all but the watermark tail.
    assert got.issubset(exp)
    assert len(got) >= len(exp) - 40  # 2h watermark tail on a 30-day stream


def test_watermark_drops_late_rows(spark, tmp_path):
    """Two-run replay against one checkpoint: run 1 advances the
    watermark past the late rows; run 2 feeds only late rows → they
    are dropped (no new finalized windows from run 2's data)."""
    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    ck = str(tmp_path / "ck")

    def land(rows, name):
        spark.createDataFrame(rows, EVENTS_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(landing)

    import datetime as dt

    t0 = dt.datetime(2024, 6, 1, 0, 0, 0)
    on_time = [
        (1, t0, 1, "click", 1.0, "{}"),
        (2, t0 + dt.timedelta(hours=5), 1, "click", 1.0, "{}"),  # watermark -> 3h
    ]
    late = [(3, t0 + dt.timedelta(minutes=30), 1, "click", 99.0, "{}")]

    emitted: list[tuple] = []

    def run_once():
        batch_rows: list[tuple] = []

        def commit(batch_df, batch_id):
            batch_rows.extend(tuple(r) for r in batch_df.collect())

        stream = read_parquet_stream(spark, landing, EVENTS_SCHEMA)
        agg = (
            tumbling_agg(stream)
            .writeStream.foreachBatch(commit)
            .outputMode("append")
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        agg.awaitTermination(120)
        return batch_rows

    land(on_time, "f1")
    first = run_once()
    assert ("2024-06-01 00:00:00", "click", 1, 1.0) in first

    land(late, "f2")
    emitted = run_once()
    # the late event's window (00:00) was already finalized in run 1 —
    # it must NOT be re-emitted or double-counted
    assert all(r[0] != "2024-06-01 00:00:00" for r in emitted)


def test_foreach_batch_import_sink(spark, tmp_path):
    """foreachBatch commit receives (batch_df, batch_id); restart with
    the same checkpoint does not re-commit old batches."""
    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    ck = str(tmp_path / "ck")
    import datetime as dt

    t0 = dt.datetime(2024, 6, 1)
    spark.createDataFrame(
        [(1, t0, 1, "click", 1.0, "{}")], EVENTS_SCHEMA
    ).coalesce(1).write.parquet(landing, mode="append")

    committed: list[tuple[int, int]] = []

    def commit(batch_df, batch_id):
        committed.append((batch_id, batch_df.count()))

    stream = read_parquet_stream(spark, landing, EVENTS_SCHEMA)
    q = start_stateful_query(stream, ck, foreach_batch=commit)
    q.awaitTermination(120)
    assert committed == [(0, 1)]

    # restart with no new data: nothing re-committed
    committed.clear()
    stream2 = read_parquet_stream(spark, landing, EVENTS_SCHEMA)
    q2 = start_stateful_query(stream2, ck, foreach_batch=commit)
    q2.awaitTermination(120)
    assert committed == []


def test_complete_and_update_output_modes(spark, tmp_path):
    """Streaming agg in complete mode re-emits the full result table
    each batch; update mode emits only changed keys (SURVEY §2B
    Streaming row: output modes)."""
    import datetime as dt

    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    t0 = dt.datetime(2024, 6, 1)

    def land(rows):
        spark.createDataFrame(rows, EVENTS_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(landing)

    def run(mode, name, ck):
        stream = read_parquet_stream(spark, landing, EVENTS_SCHEMA)
        agg = stream.groupBy("event_type").count()
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .option("checkpointLocation", str(tmp_path / ck))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return {(r.event_type, r["count"]) for r in spark.table(name).collect()}

    land([(1, t0, 1, "click", 1.0, "{}"), (2, t0, 1, "view", 1.0, "{}")])
    got1 = run("complete", "complete_out", "ck_c")
    assert got1 == {("click", 1), ("view", 1)}

    land([(3, t0, 2, "click", 1.0, "{}")])
    got2 = run("complete", "complete_out2", "ck_c")  # resumes checkpoint
    assert got2 == {("click", 2), ("view", 1)}  # full table re-emitted

    # update mode from scratch over all files: emits current counts
    got3 = run("update", "update_out", "ck_u")
    assert ("click", 2) in got3 and ("view", 1) in got3


def _drain_rows(spark, landing, ck, *, raw=False):
    """Drain ``tumbling_agg`` over ``landing`` in update mode; the set
    of emitted rows. ``raw`` starts the query without the runner, so
    its state takes the session's shuffle partition count."""
    from capgemini_himss24_fhirbulkdata_demo_spark.streaming import (
        start_stateful_query,
    )

    rows = []

    def commit(batch_df, batch_id):
        rows.extend(tuple(r) for r in batch_df.collect())

    stream = tumbling_agg(read_parquet_stream(spark, landing, EVENTS_SCHEMA))
    if raw:
        q = (
            stream.writeStream.option("checkpointLocation", ck)
            .outputMode("update")
            .foreachBatch(commit)
            .trigger(availableNow=True)
            .start()
        )
    else:
        q = start_stateful_query(stream, ck, foreach_batch=commit, output_mode="update")
    q.awaitTermination(120)
    return set(rows)


def _state_dirs(ck):
    return sorted(
        int(d) for d in os.listdir(os.path.join(ck, "state", "0")) if d.isdigit()
    )


def test_runner_sizes_state_partitions(spark, landed_events, tmp_path, monkeypatch):
    """Engine-owned state sizing (r7 verdict #2): start_stateful_query
    pins the query's state-store partition count to the wave size at
    first checkpoint, restores the session shuffle conf right after
    start, and produces the identical result set to a raw
    session-default drain of the same plan."""
    from capgemini_himss24_fhirbulkdata_demo_spark.streaming import runner

    monkeypatch.setattr(runner, "_one_wave", lambda spark: 3)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    ck_sized = str(tmp_path / "ck_sized")
    got = _drain_rows(spark, landed_events, ck_sized)
    # session conf untouched for the caller (cloned into the query)
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev
    # state store pinned at exactly 3 partitions in the checkpoint
    assert _state_dirs(ck_sized) == [0, 1, 2]
    # sizing is a physical knob only: same rows as the raw drain
    exp = _drain_rows(spark, landed_events, str(tmp_path / "ck_default"), raw=True)
    assert got == exp and len(got) > 0


def test_runner_default_state_is_one_task_wave(spark, landed_events, tmp_path):
    """start_stateful_query pins one task wave of state partitions
    (sc.defaultParallelism, in local mode no more than the JVM's
    processors), whatever the session's shuffle count, and emits the
    same rows as a raw drain, which inherits that count."""
    ck_wave, ck_inherit = str(tmp_path / "ck_wave"), str(tmp_path / "ck_inherit")
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    try:
        got = _drain_rows(spark, landed_events, ck_wave)
        exp = _drain_rows(spark, landed_events, ck_inherit, raw=True)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    sc = spark.sparkContext
    cores = sc._jvm.java.lang.Runtime.getRuntime().availableProcessors()
    assert _state_dirs(ck_wave) == list(range(min(sc.defaultParallelism, cores)))
    assert _state_dirs(ck_inherit) == list(range(7))
    assert got == exp and len(got) > 0


def test_runner_one_wave_caps_local_slots_at_cores():
    """local[32] on a 4-processor JVM runs 32 task threads on 4 cores,
    so one wave is 4 tasks; on a cluster it is every task slot."""
    from types import SimpleNamespace

    from capgemini_himss24_fhirbulkdata_demo_spark.streaming.runner import _one_wave

    runtime = SimpleNamespace(availableProcessors=lambda: 4)
    jvm = SimpleNamespace(
        java=SimpleNamespace(lang=SimpleNamespace(Runtime=SimpleNamespace(getRuntime=lambda: runtime)))
    )

    def wave(master, slots):
        sc = SimpleNamespace(master=master, defaultParallelism=slots, _jvm=jvm)
        return _one_wave(SimpleNamespace(sparkContext=sc))

    assert wave("local[32]", 32) == 4
    assert wave("local[2]", 2) == 2
    assert wave("spark://head:7077", 32) == 32


def test_runner_restart_keeps_pinned_state_partitions(spark, tmp_path, monkeypatch):
    """Documented runner caveat: a restart from an existing checkpoint
    keeps the ORIGINALLY pinned state partition count — a restart on
    a host with a wider task wave must neither error nor repartition
    the state."""
    import datetime as dt

    from capgemini_himss24_fhirbulkdata_demo_spark.streaming import (
        runner,
        start_stateful_query,
    )

    landing = str(tmp_path / "landing")

    def land(rows, name):
        df = spark.createDataFrame(rows, EVENTS_SCHEMA)
        df.coalesce(1).write.mode("append").parquet(landing)

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    land(
        [(1, t0, 1, "view", 1.0, None), (2, t0, 1, "click", 1.0, None)],
        "first",
    )
    ck = str(tmp_path / "ck")
    rows: list = []

    def commit(batch_df, batch_id):
        rows.extend(batch_df.collect())

    def run(wave):
        monkeypatch.setattr(runner, "_one_wave", lambda spark: wave)
        q = start_stateful_query(
            tumbling_agg(
                read_parquet_stream(spark, landing, EVENTS_SCHEMA)
            ),
            ck,
            foreach_batch=commit,
            output_mode="update",
        )
        q.awaitTermination(120)

    run(3)
    land(
        [(3, t0 + dt.timedelta(minutes=5), 2, "view", 2.0, None)],
        "second",
    )
    run(16)  # restart sizes a 16-task wave; checkpoint must keep 3
    assert _state_dirs(ck) == [0, 1, 2]
    assert len(rows) > 0  # the restarted query processed the new file


_FS_MANAGER = "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager"
_FC_MANAGER = "org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager"
_MANAGER_CONF = "spark.sql.streaming.checkpointFileManagerClass"


def _checkpoint_manager(spark, path) -> str:
    """The class Spark picks to write a checkpoint at ``path`` under the
    session's current conf."""
    jvm = spark._jvm
    manager = jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.create(
        jvm.org.apache.hadoop.fs.Path(str(path)), spark._jsparkSession.sessionState().newHadoopConf()
    )
    return manager.getClass().getName()


def test_session_checkpoints_through_file_system_manager(spark, tmp_path):
    """get_spark makes every checkpoint commit with one FileSystem.rename:
    Spark's default FileContext manager starts a readlink process per
    stat on a local file system without Hadoop's native library. The
    conf is internal to Spark; if an upgrade drops or renames it, this
    fails instead of the drain slowing down unseen."""
    assert _checkpoint_manager(spark, tmp_path) == _FS_MANAGER


def test_stateful_drain_keeps_checkpoint_checksums(spark, landed_events, tmp_path):
    """The file-system manager keeps every check on: Spark's checksum
    file beside each state delta, and Hadoop's .crc sidecar beside each
    offset and commit log entry."""
    ck = tmp_path / "ck"
    q = start_stateful_query(
        tumbling_agg(read_parquet_stream(spark, landed_events, EVENTS_SCHEMA, 2)),
        str(ck),
        foreach_batch=lambda batch_df, batch_id: batch_df.collect(),
        output_mode="append",
    )
    q.awaitTermination(120)
    assert q.exception() is None
    deltas = sorted(ck.glob("state/0/*/*.delta"))
    assert deltas
    for delta in deltas:
        assert delta.with_name(delta.name + ".crc").is_file(), delta
    for log in ("offsets", "commits"):
        entries = [p for p in (ck / log).iterdir() if p.name.isdigit()]
        assert len(entries) >= 2
        for entry in entries:
            assert (ck / log / f".{entry.name}.crc").is_file(), entry


def test_checkpoint_from_file_context_manager_resumes(spark, tmp_path):
    """A checkpoint begun under Spark's default FileContext manager
    resumes under the session's file-system manager: the windows
    emitted before and after the switch are, together, exactly the
    batch twin's closed windows, none twice."""
    import datetime as dt

    landing = tmp_path / "landing"
    ck = str(tmp_path / "ck")
    t0 = dt.datetime(2024, 3, 1)
    events = [
        (i, t0 + dt.timedelta(hours=h, minutes=7 * i % 60), i % 3, et, float(i % 5), None)
        for i, (h, et) in enumerate((h, et) for h in range(11) for et in ("view", "click"))
    ]
    first, second = [e for e in events if e[1].hour <= 5], [e for e in events if e[1].hour > 5]
    assert second[0][1].hour == 6  # hours 4 and 5 are still open when the manager changes

    def land(rows):
        spark.createDataFrame(rows, EVENTS_SCHEMA).coalesce(1).write.mode("append").parquet(str(landing))

    emitted: list[tuple] = []

    def drain():
        q = start_stateful_query(
            tumbling_agg(read_parquet_stream(spark, str(landing), EVENTS_SCHEMA)),
            ck,
            foreach_batch=lambda batch_df, batch_id: emitted.extend(tuple(r) for r in batch_df.collect()),
            output_mode="append",
        )
        q.awaitTermination(120)
        assert q.exception() is None

    land(first)
    prev = spark.conf.get(_MANAGER_CONF)
    spark.conf.set(_MANAGER_CONF, _FC_MANAGER)
    try:
        assert _checkpoint_manager(spark, ck) == _FC_MANAGER
        drain()
    finally:
        spark.conf.set(_MANAGER_CONF, prev)
    assert {r[0] for r in emitted} == {"2024-03-01 00:00:00", "2024-03-01 01:00:00", "2024-03-01 02:00:00"}
    land(second)
    drain()

    watermark = max(e[1] for e in events) - dt.timedelta(hours=2)
    twin: dict[tuple[str, str], list] = {}
    for _, ts, _, et, value, _ in events:
        start = ts.replace(minute=0, second=0)
        if start + dt.timedelta(hours=1) <= watermark:
            acc = twin.setdefault((start.strftime("%Y-%m-%d %H:%M:%S"), et), [0, 0.0])
            acc[0] += 1
            acc[1] += value
    assert sorted(emitted) == sorted((w, et, n, v) for (w, et), (n, v) in twin.items())
