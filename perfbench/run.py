"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs ``local[nproc]`` from this one process with one closed-loop client.
The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` — the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. Everything the
run writes stays under ``perfbench/.work`` (scratch, removed at exit)
and ``perfbench/.results`` (the traced run's spans).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench.trace import Tracer, peak_rss_mb, reset_peak_rss  # noqa: E402
from perfbench.workloads import ANALYST_QUERIES, STREAM_OP, WORKLOADS, StepResult  # noqa: E402

END_TO_END = {  # name -> unit
    "setup_s": "s",
    "op_p50_ms": "ms",
    "items_per_s": "1/s",
    "peak_rss_mb": "MB",
}
LAYERS = ("api", "connectors", "pipeline", "sources", "transforms", "catalog", "queries", "streaming", "stub")
SESSION_ROUNDS = 3  # session starts per run; setup_s takes the median of those after the JVM launch
MIN_CYCLES = 3  # timed run: a median of three outvotes one slow cycle
MIN_TRACED_CYCLES = 8  # traced run: four untraced and four traced cycles


def traced_cycle(c: int) -> bool:
    """Cycles of the traced run go untraced, traced, traced, untraced, ...
    so a warm-up trend does not favour either side of the overhead."""
    return c % 4 in (1, 2)


def per_layer_units() -> dict[str, str]:
    units = {
        "connectors.transport_calls": "count", "connectors.poll_attempts": "count",
        "connectors.bytes_landed": "bytes", "connectors.land_export_s": "s", "connectors.bulk_import_s": "s",
        "pipeline.files": "count", "pipeline.transform_file_s_p50": "s", "pipeline.transform_file_s_max": "s",
        "sources.read_s": "s", "transforms.eob_s": "s", "sources.write_s": "s",
        "sources.bytes_out_per_byte_in": "ratio", "transforms.kept_ratio": "ratio",
        "transforms.plan_build_ms": "ms",
        "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count", "spark.gc_ms": "ms",
        "catalog.load_ms": "ms", "queries.plan_ms": "ms", "queries.exec_ms": "ms",
        **{f"queries.{n}_ms": "ms" for n in (*ANALYST_QUERIES, STREAM_OP)},
        "streaming.batches": "count", "streaming.events_per_s": "1/s", "streaming.batch_ms_p50": "ms", "streaming.first_batch_ms": "ms",
        "streaming.add_batch_ms": "ms", "streaming.query_planning_ms": "ms",
        "streaming.wal_commit_ms": "ms", "streaming.state_commit_ms": "ms",
        **{f"{layer}.self_ms": "ms" for layer in LAYERS},
        "trace.overhead_ms": "ms", "trace.overhead_pct": "%",
    }
    return units


def _isolate(work: str) -> None:
    """Keep Spark's and Python's scratch files inside the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # a fixed-size driver heap: with a growable one the resident set
    # follows heap-resize timing and varied by a quarter between runs
    mem = os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--conf "spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{mem}" '
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} pyspark-shell"
    )


def _session(cores: int):
    from capgemini_himss24_fhirbulkdata_demo_spark.session import get_spark

    spark = get_spark(
        master=f"local[{cores}]",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_jvm() -> None:
    """Stop the session and the JVM gateway process, and wait for it."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def _timed(fn, *args):
    t = time.perf_counter()
    out = fn(*args)
    return time.perf_counter() - t, out


def _pct(xs: list[float], q: float) -> float:
    s = sorted(xs)
    return s[min(len(s) - 1, int(q * len(s)))]


@dataclass
class Sample:
    input: int  # which of the cycle's distinct inputs
    cycle: int
    result: StepResult


def op_p50_ms(samples: list[Sample]) -> float:
    """Each distinct input's median latency, averaged over the inputs: the
    inputs of a cycle differ several-fold in cost, so a median pooled over
    all of them would jump between inputs from run to run."""
    by_input: dict[int, list[float]] = {}
    for s in samples:
        by_input.setdefault(s.input, []).append(s.result.seconds)
    return 1000 * statistics.fmean(statistics.median(v) for v in by_input.values())


class Loop:
    """Closed loop over ``workload.step``: one client, next step only after
    the previous one finished and was checked."""

    def __init__(self, workload):
        self.w = workload
        self.k = 0

    def run(self, seconds: float, min_cycles: int, before_cycle=None) -> list[Sample]:
        """Whole cycles until ``seconds`` have elapsed, and at least
        ``min_cycles``, so every input's median has enough samples to
        outvote one slow cycle even on a slow machine. ``before_cycle(c)``
        runs ahead of cycle ``c``, untimed."""
        out: list[Sample] = []
        c = 0
        t_end = time.perf_counter() + seconds
        while c < min_cycles or time.perf_counter() < t_end:
            if before_cycle is not None:
                before_cycle(c)
            out += [Sample(i, c, self._step()) for i in range(self.w.cycle)]
            c += 1
        return out

    def warm(self) -> list[float]:
        """One whole cycle: every distinct input runs cold once before
        anything is measured. Returns the step times."""
        steps = [self._step() for _ in range(self.w.cycle)]
        errors = [e for r in steps for e in r.errors]
        if errors:
            raise RuntimeError(f"warm-up step failed: {errors[:3]}")
        return [r.seconds for r in steps]

    def _step(self) -> StepResult:
        """One step; a step that raises counts as a failed operation."""
        t = time.perf_counter()
        try:
            return self.w.step(self.k)
        except Exception as e:  # noqa: BLE001 - the loop must keep running
            return StepResult(time.perf_counter() - t, 0, [f"step {self.k} raised {e!r}"])
        finally:
            self.k += 1


def _traced_cycles(workload, tracer: Tracer):
    """``before_cycle`` hook for the traced run, which wraps the layer
    boundaries for the traced cycles only, and the function that removes
    a wrapping left in place at the end."""
    state = {"undo": None}

    def before_cycle(c: int) -> None:
        if traced_cycle(c) and state["undo"] is None:
            state["undo"] = workload.instrument(tracer)
        elif not traced_cycle(c) and state["undo"] is not None:
            state["undo"]()
            state["undo"] = None

    def finish() -> None:
        if state["undo"] is not None:
            state["undo"]()

    return before_cycle, finish


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if args.workload not in WORKLOADS:
        p.error(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _isolate(work)
    cores = os.cpu_count() or 1
    try:
        w = WORKLOADS[args.workload](args.seed, work)
        # the JVM launches while the inputs are generated; the launch is
        # printed, not counted in setup_s (the program cannot change it)
        with ThreadPoolExecutor(1) as pool:
            launch = pool.submit(_timed, _session, cores)
            gen_s, _ = _timed(w.generate)
            launch_s, spark = launch.result()
        t = time.perf_counter()
        w.prepare(spark)
        rounds = [launch_s + time.perf_counter() - t]
        for _ in range(SESSION_ROUNDS - 1):
            spark.stop()
            t = time.perf_counter()
            spark = _session(cores)
            w.prepare(spark)
            rounds.append(time.perf_counter() - t)
        from pyspark import SparkContext

        pids = (os.getpid(), SparkContext._gateway.proc.pid)
        loop = Loop(w)
        t = time.perf_counter()
        warm_steps = loop.warm()
        warm_s = time.perf_counter() - t
        setup_s = gen_s + statistics.median(rounds[1:]) + warm_s
        info = {"workload": args.workload, "seed": args.seed, "cores": cores, "generate_s": gen_s,
                "jvm_launch_and_session_s": rounds[0], "session_s": rounds[1:], "warmup_s": warm_s,
                "warmup_steps_s": warm_steps}

        if args.trace == 0:
            reset_peak_rss(pids)
            samples = loop.run(args.seconds, MIN_CYCLES)
            lat = [s.result.seconds for s in samples]
            metrics = {
                "setup_s": setup_s,
                "op_p50_ms": op_p50_ms(samples),
                "items_per_s": sum(s.result.items for s in samples) / sum(lat),
                "peak_rss_mb": peak_rss_mb(pids),
            }
            info.update(ops=len(lat), op_p90_ms=1000 * _pct(lat, 0.9) if len(lat) >= 100 else None)
            units = END_TO_END
        else:
            tracer = Tracer()
            before_cycle, finish = _traced_cycles(w, tracer)
            try:
                samples = loop.run(args.seconds, MIN_TRACED_CYCLES, before_cycle)
            finally:
                finish()
            units = per_layer_units()
            n_ops = max(1, len({s.op for s in tracer.spans}))
            metrics = {k: 0.0 for k in units}
            metrics.update(w.layer_metrics(tracer))
            metrics.update({f"{layer}.self_ms": 1000 * v / n_ops for layer, v in tracer.self_times().items()
                            if layer in LAYERS})
            p0 = op_p50_ms([s for s in samples if not traced_cycle(s.cycle)])
            p1 = op_p50_ms([s for s in samples if traced_cycle(s.cycle)])
            metrics["trace.overhead_ms"] = p1 - p0
            metrics["trace.overhead_pct"] = 100 * (p1 - p0) / p0
            info.update(untraced_op_p50_ms=p0, traced_op_p50_ms=p1)
            tracer.dump(
                os.path.join(HERE, ".results", f"trace-{args.workload}-{args.seed}.json"),
                {**info, "metrics": metrics},
            )
        attempted = len(samples)
        errors = [e for s in samples for e in s.result.errors]
        failed = sum(bool(s.result.errors) for s in samples)
        op_ms: dict[int, list[float]] = {}
        for s in samples:
            op_ms.setdefault(s.input, []).append(round(1000 * s.result.seconds, 1))
        info.update(error_rate=failed / attempted, op_ms_by_input=op_ms)
        for e in errors[:10]:
            print("check failed:", e, file=sys.stderr)
        print(json.dumps(info))
        for name, unit in units.items():
            print(f"{name:40s} {metrics[name]:>14.4f} {unit}")
        print(f"{'error_rate':40s} {failed / attempted:>14.4f} ratio  ({failed}/{attempted} operations)")
        result = {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
        }
        print(json.dumps(result))
        return 0
    finally:
        _stop_jvm()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
