"""The benchmark workloads. Each has the same life cycle, driven by run.py:

- ``generate()``: benchmark side, once per run — seeded inputs and the
  oracle's expected outputs;
- ``prepare(spark)``: program side, once per session — what a user of
  the engine does before the first request;
- ``step(k)``: one operation, timed, then checked. It runs its calls
  inside ``self.tracer`` spans; outside a traced cycle that tracer is
  disabled, so timed and traced operations run the same code;
- ``instrument(tracer)``: enable ``tracer`` and wrap the layer
  boundaries in its spans; returns the function that removes them;
- ``layer_metrics(tracer)``: the per-layer numbers the traced steps
  gathered.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import statistics
import sys
import time
from dataclasses import dataclass, field
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from capgemini_himss24_fhirbulkdata_demo_spark import api, catalog, pipeline, queries
from capgemini_himss24_fhirbulkdata_demo_spark.connectors import (
    FhirBulkConnector,
    ManagedIdentityCredential,
    get_fhir_server_access_token,
)
from capgemini_himss24_fhirbulkdata_demo_spark.connectors.state import HighWaterMark
from capgemini_himss24_fhirbulkdata_demo_spark.queries import ORACLE_SQL, QUERIES
from capgemini_himss24_fhirbulkdata_demo_spark.sources import read_ndjson
from capgemini_himss24_fhirbulkdata_demo_spark.streaming import (
    read_parquet_stream,
    start_stateful_query,
    tumbling_agg,
)
from capgemini_himss24_fhirbulkdata_demo_spark.transforms import get_transform
from capgemini_himss24_fhirbulkdata_demo_spark.transforms.schemas import (
    RESOURCE_SCHEMAS,
    RXNAV_LOOKUP_SCHEMA,
)
from tests.oracle import compare, run_duck

from . import checks, gen
from .stub import StubFhirServer
from .trace import SparkProbe, Tracer


@dataclass
class StepResult:
    """One operation: its latency, the work units it took in (FHIR
    resources, or one query or drain), and its output mismatches."""

    seconds: float
    items: int
    errors: list[str] = field(default_factory=list)


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def _mean(xs) -> float:
    return sum(xs) / len(xs) if xs else 0.0


class _Workload:
    cycle = 1  # steps per whole cycle of distinct inputs

    def __init__(self, seed: int, work: str):
        self.seed, self.work = seed, work
        self.tracer = Tracer(enabled=False)
        self._probe: SparkProbe | None = None
        self._layer: dict[str, list[float]] = {}

    def _add(self, **kv) -> None:
        for k, v in kv.items():
            self._layer.setdefault(k, []).append(float(v))

    def _spark_counts(self, gc0: float) -> dict[str, float]:
        jobs, stages, tasks = self._probe.new_work()
        return {"spark.jobs": jobs, "spark.stages": stages, "spark.tasks": tasks,
                "spark.gc_ms": self._probe.gc_ms() - gc0}

    def instrument(self, tracer: Tracer):
        if self._probe is None:
            self._probe = SparkProbe(self.spark)
        self.tracer = tracer

        def undo():
            self.tracer = Tracer(enabled=False)

        return undo

    def layer_metrics(self, tracer: Tracer) -> dict[str, float]:
        return {k: _mean(v) for k, v in self._layer.items()}


# ------------------------------------------------------------------ FHIR

_CONNECTOR_CALLS = ("discover_token_url", "get_access_token", "kickoff_export", "poll_status",
                    "land_export", "bulk_import", "archive_files")


class LatestRequests(_Workload):
    """``POST bulkimport/latest`` through ``api.handle_request``: the
    callback discovers the token endpoint, exchanges a client secret,
    takes the import token from the managed identity, and runs
    ``pipeline.run_bulk_import`` against the stub servers.

    One cycle is five small deltas (epic, cerner, bcda, epic, cerner; 2-3
    files of 100-2,000 records). Every request carries its server's previous cursor
    as ``_since``."""

    def generate(self) -> None:
        rng = random.Random(self.seed)
        self.rxnav = gen.make_rxnav(rng)
        self.requests = gen.latest_requests(rng)
        self.cycle = len(self.requests)
        self.expected = [
            [checks.expected_fhir(r.server_url, f.rtype, f.records, self.rxnav) for f in r.files]
            for r in self.requests
        ]

    def prepare(self, spark) -> None:
        self.spark = spark
        rows = [(k, v["name"], v["rxnorm"]) for k, v in sorted(self.rxnav.items())]
        self.rxnav_df = spark.createDataFrame(rows, RXNAV_LOOKUP_SCHEMA)
        self.stub = StubFhirServer(self.seed)
        self.connector = FhirBulkConnector(transport=self.stub, sleep=self.stub.sleep)
        self.credential = ManagedIdentityCredential(transport=self.stub, env={})
        state = os.path.join(self.work, "state.json")
        if os.path.exists(state):
            os.remove(state)
        self.hwm = HighWaterMark(state)
        self._last_tt: dict[str, str] = {}
        self._op_dir = ""

    def _run_latest(self, body: dict) -> dict:
        conn = self.connector
        token_url = conn.discover_token_url(body["smart-url"])
        token, _ = conn.get_access_token(token_url, body["client-id"], body["client-secret"])
        import_token = get_fhir_server_access_token(gen.IMPORT_SERVER, self.credential)
        res = pipeline.run_bulk_import(
            self.spark, conn, body["server-url"], body["group-id"], token,
            gen.IMPORT_SERVER, import_token, self._op_dir,
            rxnav=self.rxnav_df, state=self.hwm, client_id=body["client-id"],
        )
        return {
            "transformed": [res.transformed[p] for p in res.landed],
            "archived": res.archived,
            "import_status_url": res.import_status_url,
            "since": res.since_advanced_to,
        }

    def step(self, k: int) -> StepResult:
        i = k % len(self.requests)
        req = self.requests[i]
        self._op_dir = os.path.join(self.work, f"op-{k}")
        self.stub.stage(req)
        body = {
            "server-url": req.server_url,
            "smart-url": f"{req.server_url}/.well-known/smart-configuration",
            "client-id": f"bench-{req.source}",
            "client-secret": "s3cret",
            "group-id": "all-patients",
        }
        n_imports = len(self.stub.imports)
        tr = self.tracer
        tr.op = k
        if tr.enabled:
            self._probe.new_work()
            gc0, calls0, polls0, bytes0 = self._probe.gc_ms(), self.stub.calls, self.stub.polls, self.stub.bytes_served
        t0 = time.perf_counter()
        with tr.span("api.handle_request"):
            resp = api.handle_request("POST", "bulkimport", "latest", body, self._run_latest, self._run_latest)
        dt = time.perf_counter() - t0
        if tr.enabled:
            self._add(
                **self._spark_counts(gc0),
                **{
                    "connectors.transport_calls": self.stub.calls - calls0,
                    "connectors.poll_attempts": self.stub.polls - polls0,
                    "connectors.bytes_landed": self.stub.bytes_served - bytes0,
                    "pipeline.files": len(req.files),
                },
            )
        errors = self._check(req, i, resp, n_imports)
        if tr.enabled and not errors:
            tr.enabled = False  # the decomposition calls are not part of the operation
            self._decompose(req, json.loads(resp.body))
            tr.enabled = True
        shutil.rmtree(self._op_dir, ignore_errors=True)
        return StepResult(dt, req.n_records, errors)

    def _check(self, req, i: int, resp, n_imports: int) -> list[str]:
        if resp.status_code != 200:
            return [f"status {resp.status_code}: {resp.body[:300]!r}"]
        out = json.loads(resp.body)
        errors = []
        server, since = self.stub.kickoffs[-1]
        if since != self._last_tt.get(server):
            errors.append(f"kickoff _since {since!r}, expected {self._last_tt.get(server)!r}")
        self._last_tt[server] = out["since"]
        if len(self.stub.imports) != n_imports + 1:
            errors.append("no $import recorded")
        else:
            inputs = [p for p in self.stub.imports[-1]["parameter"] if p["name"] == "input"]
            uris = [p["part"][1]["valueUri"] for p in inputs]
            if uris != [f"file://{p}" for p in out["transformed"]]:
                errors.append("$import manifest does not list the transformed files")
        if len(out["transformed"]) != len(req.files):
            return errors + [f"{len(out['transformed'])} files transformed, {len(req.files)} exported"]
        for exp, path in zip(self.expected[i], out["transformed"]):
            errors += checks.check_fhir_file(exp, path)
        return errors

    # ---- traced run

    def instrument(self, tracer: Tracer):
        undo_base = super().instrument(tracer)
        conn = self.connector
        for m in _CONNECTOR_CALLS:
            setattr(conn, m, tracer.wrap(f"connectors.{m}", getattr(conn, m)))
        conn.transport = tracer.wrap("stub.transport", self.stub)
        names = ("run_bulk_import", "transform_landed_file", "read_ndjson", "write_ndjson", "get_transform")
        orig = {n: getattr(pipeline, n) for n in names}

        def traced_get_transform(server_url, resource):
            fn = orig["get_transform"](server_url, resource)
            return None if fn is None else tracer.wrap("transforms.plan_build", fn)

        pipeline.run_bulk_import = tracer.wrap("pipeline.run_bulk_import", orig["run_bulk_import"])
        pipeline.transform_landed_file = tracer.wrap("pipeline.transform_landed_file", orig["transform_landed_file"])
        pipeline.read_ndjson = tracer.wrap("sources.read_ndjson", orig["read_ndjson"])
        pipeline.write_ndjson = tracer.wrap("sources.write_ndjson", orig["write_ndjson"])
        pipeline.get_transform = traced_get_transform

        def undo():
            for n, f in orig.items():
                setattr(pipeline, n, f)
            for m in _CONNECTOR_CALLS:
                del conn.__dict__[m]
            conn.transport = self.stub
            undo_base()

        return undo

    def _decompose(self, req, out: dict) -> None:
        """Layer self time from consecutive calls on the same landed files:
        read -> noop sink, read+transform -> noop sink, then the full
        ``transform_landed_file``; each layer is the difference."""
        read_s = eob_s = write_s = 0.0
        bytes_in = bytes_out = n_in = n_out = 0
        out_dir = os.path.join(self._op_dir, "decompose")
        for f, landed in zip(req.files, out["archived"]):
            schema = RESOURCE_SCHEMAS.get(f.rtype)
            fn = get_transform(req.server_url, f.rtype)
            t0 = time.perf_counter()
            read_ndjson(self.spark, landed, schema).write.format("noop").mode("overwrite").save()
            t1 = time.perf_counter()
            df = read_ndjson(self.spark, landed, schema)
            (fn(df, self.rxnav_df) if fn else df).write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            path = pipeline.transform_landed_file(self.spark, landed, req.server_url, out_dir, self.rxnav_df)
            t3 = time.perf_counter()
            read_s += t1 - t0
            if f.rtype == "ExplanationOfBenefit":
                eob_s += (t2 - t1) - (t1 - t0)
            write_s += (t3 - t2) - (t2 - t1)
            bytes_in += os.path.getsize(landed)
            bytes_out += os.path.getsize(path)
            n_in += len(f.records)
            with open(path) as fh:
                n_out += sum(1 for _ in fh)
        self._probe.new_work()  # keep these jobs out of the next operation's counts
        self._add(
            **{
                "sources.read_s": read_s, "transforms.eob_s": eob_s, "sources.write_s": write_s,
                "sources.bytes_out_per_byte_in": bytes_out / max(1, bytes_in),
                "transforms.kept_ratio": n_out / max(1, n_in),
            }
        )

    def layer_metrics(self, tracer: Tracer) -> dict[str, float]:
        m = super().layer_metrics(tracer)
        n_ops = max(1, len(self._layer.get("pipeline.files", [])))
        m["connectors.land_export_s"] = sum(tracer.durations("connectors.land_export")) / n_ops
        m["connectors.bulk_import_s"] = sum(tracer.durations("connectors.bulk_import")) / n_ops
        m["pipeline.transform_file_s_p50"] = _median(tracer.durations("pipeline.transform_landed_file"))
        per_op_max: dict[int, float] = {}
        for s in tracer.spans:
            if s.name == "pipeline.transform_landed_file":
                per_op_max[s.op] = max(per_op_max.get(s.op, 0.0), s.end - s.start)
        m["pipeline.transform_file_s_max"] = _median(list(per_op_max.values()))
        m["transforms.plan_build_ms"] = 1000 * _mean(tracer.durations("transforms.plan_build"))
        return m


# --------------------------------------------------------------- queries

ANALYST_QUERIES = (
    "q01_pricing_summary",
    "q03_top_revenue_orders",
    "q25_asof_join",
    "q31_topk_per_group",
    "x10_knn_bruteforce",
)
STREAM_OP = "stream_tumbling_drain"
EVENT_SCHEMA = "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE, props STRING"


class AnalystQueries(_Workload):
    """A seeded-order cycle of registered queries over generated parquet
    tables, each compared with its DuckDB oracle, plus one streaming
    drain: the events landed as time-ordered parquet files and drained
    by ``tumbling_agg`` (1 h windows, 2 h watermark) into a memory sink,
    two files per micro-batch, from a fresh checkpoint, compared with
    its batch ``groupBy`` twin."""

    SF = 0.01
    N_EVENTS, N_FILES, FILES_PER_TRIGGER = 8_000, 4, 2

    def __init__(self, seed: int, work: str):
        super().__init__(seed, work)
        self._catalog_ms: list[float] = []

    def generate(self) -> None:
        self.dir = os.path.join(self.work, "tables")
        gen.write_tables(self.dir, self.seed, self.SF)
        self.expected = {n: run_duck(ORACLE_SQL[n], self.dir) for n in ANALYST_QUERIES}
        self._land_events()
        self.order = [*ANALYST_QUERIES, STREAM_OP]
        random.Random(self.seed).shuffle(self.order)
        self.cycle = len(self.order)

    def _land_events(self) -> None:
        events = gen.make_events(np.random.default_rng(self.seed + 1), self.N_EVENTS, 150)
        events = events.set_column(1, "ts", events.column("ts").cast(pa.timestamp("us", tz="UTC")))
        self.landing = os.path.join(self.work, "landing")
        os.makedirs(self.landing)
        per = -(-self.N_EVENTS // self.N_FILES)
        t_mod = time.time() - 10 * self.N_FILES
        for j in range(self.N_FILES):
            p = os.path.join(self.landing, f"events-{j:04d}.parquet")
            pq.write_table(events.slice(j * per, per), p)
            os.utime(p, (t_mod + 10 * j, t_mod + 10 * j))  # the file source reads oldest first
        # the batch groupBy twin, summed in exact integer cents
        twin: dict[tuple[str, str], list[int]] = {}
        hours = events.column("ts").cast(pa.timestamp("us")).to_numpy().astype("datetime64[h]").astype(str)
        cents = np.round(events.column("value").to_numpy() * 100).astype(np.int64)
        for hour, et, c in zip(hours, events.column("event_type").to_pylist(), cents):
            acc = twin.setdefault((hour.replace("T", " ") + ":00:00", et), [0, 0])
            acc[0] += 1
            acc[1] += int(c)
        self.twin = [(w, et, n, float(Decimal(c) / 100)) for (w, et), (n, c) in twin.items()]

    def prepare(self, spark) -> None:
        """``catalog.load_all``, timed on every session start; the traced
        run reports the median as ``catalog.load_ms``."""
        self.spark = spark
        t = time.perf_counter()
        catalog.load_all(spark, self.dir)
        self._catalog_ms.append(1000 * (time.perf_counter() - t))

    def step(self, k: int) -> StepResult:
        name = self.order[k % len(self.order)]
        tr = self.tracer
        tr.op = k
        if tr.enabled:
            self._probe.new_work()
            gc0 = self._probe.gc_ms()
        res = self._drain(k) if name == STREAM_OP else self._query(name)
        if tr.enabled:
            self._add(**self._spark_counts(gc0), **{f"queries.{name}_ms": 1000 * res.seconds})
        return res

    def _query(self, name: str) -> StepResult:
        """Plan, then collect. ``collect`` reuses the physical plan the
        first span forced (one ``QueryExecution`` per DataFrame), so the
        split adds no work; it only lets the traced run time the two."""
        tr = self.tracer
        t0 = time.perf_counter()
        with tr.span("queries.plan"):
            df = QUERIES[name](self.spark, self.dir)
            df._jdf.queryExecution().executedPlan()
        t1 = time.perf_counter()
        with tr.span("queries.exec"):
            rows = [tuple(r) for r in df.collect()]
        t2 = time.perf_counter()
        for dep in getattr(df, "_cached_deps", []):
            dep.unpersist()
        dt = time.perf_counter() - t0
        if tr.enabled:
            self._add(**{"queries.plan_ms": 1000 * (t1 - t0), "queries.exec_ms": 1000 * (t2 - t1)})
        return StepResult(dt, 1, compare(name, (list(df.columns), rows), self.expected[name]))

    def _drain(self, k: int) -> StepResult:
        name = f"perfbench_drain_{k}"
        ck = os.path.join(self.work, f"ck-{k}")
        t0 = time.perf_counter()
        with self.tracer.span("streaming.drain"):
            q = self._start(name, ck)
            q.awaitTermination()
        dt = time.perf_counter() - t0
        progress = q.recentProgress
        n_in = sum(p["numInputRows"] for p in progress)
        if self.tracer.enabled:
            lat = [p["durationMs"].get("triggerExecution", 0) for p in progress]
            dur = lambda key: _mean([p["durationMs"].get(key, 0) for p in progress])  # noqa: E731
            self._add(
                **{
                    "streaming.batches": len(progress),
                    "streaming.events_per_s": n_in / dt,
                    "streaming.batch_ms_p50": _median(lat),
                    "streaming.first_batch_ms": lat[0] if lat else 0.0,
                    "streaming.add_batch_ms": dur("addBatch"),
                    "streaming.query_planning_ms": dur("queryPlanning"),
                    "streaming.wal_commit_ms": dur("walCommit"),
                    "streaming.state_commit_ms": _mean(
                        [sum(s.get("commitTimeMs", 0) for s in p.get("stateOperators", [])) for p in progress]
                    ),
                }
            )
        errors = [f"query failed: {q.exception()}"] if q.exception() is not None else []
        if n_in != self.N_EVENTS:
            errors.append(f"drained {n_in} of {self.N_EVENTS} events")
        got = [tuple(r) for r in self.spark.table(name).collect()]
        watermark = progress[-1]["eventTime"].get("watermark", "") if progress else ""
        errors += checks.check_stream(got, self.twin, watermark)
        self.spark.catalog.dropTempView(name)
        shutil.rmtree(ck, ignore_errors=True)
        return StepResult(dt, 1, errors)

    def instrument(self, tracer: Tracer):
        """Also span the queries' own ``catalog.load_table`` calls: each
        query module imported it by name, so the wrapper goes there."""
        undo_base = super().instrument(tracer)
        prefix = queries.__name__ + "."
        mods = [m for n, m in list(sys.modules.items())
                if n.startswith(prefix) and getattr(m, "load_table", None) is catalog.load_table]
        for m in mods:
            m.load_table = tracer.wrap("catalog.load_table", catalog.load_table)

        def undo():
            for m in mods:
                m.load_table = catalog.load_table
            undo_base()

        return undo

    def layer_metrics(self, tracer: Tracer) -> dict[str, float]:
        return {**super().layer_metrics(tracer), "catalog.load_ms": _median(self._catalog_ms)}

    def _start(self, name: str, ck: str):
        stream = read_parquet_stream(self.spark, self.landing, EVENT_SCHEMA, self.FILES_PER_TRIGGER)
        return start_stateful_query(
            tumbling_agg(stream), ck, sink_format="memory", output_mode="append", query_name=name
        )


WORKLOADS = {
    "latest_requests": LatestRequests,
    "analyst_queries": AnalystQueries,
}
