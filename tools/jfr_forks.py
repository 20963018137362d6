"""Count the OS processes the Spark JVM starts per benchmark operation.

    python3 tools/jfr_forks.py --workload analyst_queries --steps 36 [--seed 1] [--forbid chmod,readlink]

Hadoop's local file system shells out (``readlink``, ``chmod``, ...)
when its native library is missing, and each start costs milliseconds
of fork and exec on the request path. This tool prepares a workload of
``perfbench`` as ``perfbench/run.py`` does, with the driver JVM
recording ``jdk.ProcessStart`` through Java Flight Recorder, runs
``--steps`` of its operations (``step(0)``, ``step(1)``, ...), stops
the JVM, and tallies the recorded starts per operation: by command and
by the first ``org.apache.spark`` frame of the starting stack. Starts
outside every operation (session start, preparation) count under
``(setup)``. With ``--forbid``, it exits 1 when a listed command
starts inside any operation. It imports ``perfbench`` and changes
nothing there; everything it writes goes to a temporary directory,
removed at exit. Needs the JDK's ``jfr`` on PATH.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import subprocess
import sys
import tempfile
import time
from collections import Counter
from datetime import datetime

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUP = "(setup)"
NO_SPARK_FRAME = "(no org.apache.spark frame)"


def _epoch(stamp: str) -> float:
    """JFR's ISO-8601 timestamp (nanosecond fraction, ``Z`` or an
    offset) as epoch seconds."""
    stamp = re.sub(r"(\.\d{6})\d+", r"\1", stamp.replace("Z", "+00:00"))
    return datetime.fromisoformat(stamp).timestamp()


def _frame_name(frame: dict) -> str:
    method = frame["method"]
    return f"{method['type']['name'].replace('/', '.')}.{method['name']}"


def load_events(recording: dict) -> list[dict]:
    """The ``jdk.ProcessStart`` events of ``jfr print --json`` output:
    start time (epoch seconds), the command's program name, and the
    first ``org.apache.spark`` frame from the top of the stack."""
    out = []
    for e in recording["recording"]["events"]:
        if e["type"] != "jdk.ProcessStart":
            continue
        v = e["values"]
        frames = [_frame_name(f) for f in ((v.get("stackTrace") or {}).get("frames") or [])]
        command = (v.get("command") or "").split()
        out.append({
            "time": _epoch(v["startTime"]),
            "command": os.path.basename(command[0]) if command else "",
            "frame": next((f for f in frames if f.startswith("org.apache.spark.")), NO_SPARK_FRAME),
        })
    return out


def tally(events: list[dict], spans: list[tuple[str, float, float]]) -> dict[str, dict]:
    """Per operation label: how many operations ran under it, the
    process starts inside them, and those starts by command and by
    frame. ``spans`` holds one ``(label, start, end)`` per operation,
    in epoch seconds; a start outside every span counts under
    ``(setup)``."""
    out: dict[str, dict] = {}

    def row(label: str) -> dict:
        return out.setdefault(label, {"ops": 0, "starts": 0, "by_command": Counter(), "by_frame": Counter()})

    for label, _, _ in spans:
        row(label)["ops"] += 1
    for e in events:
        label = next((lb for lb, t0, t1 in spans if t0 <= e["time"] < t1), SETUP)
        r = row(label)
        r["starts"] += 1
        r["by_command"][e["command"]] += 1
        r["by_frame"][e["frame"]] += 1
    return out


def format_tally(rows: dict[str, dict], top: int = 5) -> str:
    lines = []
    for label, r in sorted(rows.items(), key=lambda kv: -kv[1]["starts"]):
        per = f"{r['starts'] / r['ops']:.1f} per operation" if r["ops"] else "outside any operation"
        lines.append(f"{label}: {r['starts']} starts over {r['ops']} operations, {per}")
        for key in ("by_command", "by_frame"):
            for name, n in r[key].most_common(top):
                lines.append(f"    {n:6d}  {name}")
    return "\n".join(lines)


def forbidden(rows: dict[str, dict], commands: list[str]) -> Counter:
    """Starts of ``commands`` inside operations (not under
    ``(setup)``), by command."""
    out = Counter()
    for label, r in rows.items():
        if label != SETUP:
            for c in commands:
                out[c] += r["by_command"][c]
    return +out


def _label(w, k: int) -> str:
    """What operation ``k`` is: the query or drain of an analyst cycle,
    or the source and file types of a FHIR delta."""
    order = getattr(w, "order", None)
    if order:
        return order[k % len(order)]
    requests = getattr(w, "requests", None)
    if requests:
        r = requests[k % len(requests)]
        return f"{r.source} " + "+".join(f.rtype for f in r.files)
    return f"step {k % w.cycle}"


def record(workload: str, seed: int, steps: int, work: str) -> tuple[str, list[tuple[str, float, float]], list[str]]:
    """Run ``steps`` operations under a flight recording; returns the
    recording's path, the operations' spans and their errors."""
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    from perfbench import run

    run._isolate(work)
    jfr = os.path.join(work, "forks.jfr")
    key = "spark.driver.extraJavaOptions="
    args = os.environ["PYSPARK_SUBMIT_ARGS"]
    if key not in args:
        raise RuntimeError(f"PYSPARK_SUBMIT_ARGS sets no {key!r}: {args}")
    os.environ["PYSPARK_SUBMIT_ARGS"] = args.replace(
        # Hadoop's shell calls sit deep below Spark's frames: keep whole stacks
        key, f"{key}-XX:FlightRecorderOptions=stackdepth=512 -XX:StartFlightRecording=filename={jfr},dumponexit=true ", 1
    )
    spans, errors = [], []
    try:
        w = run.WORKLOADS[workload](seed, work)
        w.generate()
        w.prepare(run._session(os.cpu_count() or 1))
        for k in range(steps):
            t0 = time.time()
            res = w.step(k)
            spans.append((_label(w, k), t0, time.time()))
            errors += res.errors
    finally:
        run._stop_jvm()
    return jfr, spans, errors


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--steps", type=int, required=True)
    ap.add_argument("--forbid", type=lambda v: v.split(","), default=[], metavar="CMD[,CMD...]",
                    help="exit 1 if one of these commands starts inside an operation")
    args = ap.parse_args(argv)
    work = tempfile.mkdtemp(prefix="jfr-forks-")
    try:
        jfr, spans, errors = record(args.workload, args.seed, args.steps, work)
        printed = subprocess.run(
            ["jfr", "print", "--json", "--stack-depth", "512", "--events", "jdk.ProcessStart", jfr],
            capture_output=True, text=True, check=True,
        )
        rows = tally(load_events(json.loads(printed.stdout)), spans)
        print(format_tally(rows))
        for e in errors[:10]:
            print("check failed:", e, file=sys.stderr)
        bad = forbidden(rows, args.forbid)
        if bad:
            print("forbidden process starts inside operations:", dict(bad), file=sys.stderr)
            sys.exit(1)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
