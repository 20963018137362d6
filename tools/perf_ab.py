"""A/B of the repository benchmark between two checkouts.

    python3 tools/perf_ab.py PARENT CHANGE --workload analyst_queries --seeds 31-40 [--seconds 12]

Runs ``perfbench/run.py`` from each checkout (for example a plain copy
of the parent commit and the working tree) once per seed, as a pair
that shares the seed. The side that runs first alternates from pair to
pair, so a drift of the host favours neither. Each run's result is the
last line of its output, one JSON object.

For every end-to-end metric in the parent's ``BENCHMARK.json`` it
prints each side's median and quartiles, the pairs the change won
(ties count for neither), and whether the medians differ by more than
the distance between the parent's quartiles. A gain holds when the
change wins at least nine tenths of the pairs and that last column
reads yes. Failed operations and incorrect runs are printed per side.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys


def parse_seeds(text: str) -> list[int]:
    """``"31-35,40"`` -> [31, 32, 33, 34, 35, 40]."""
    seeds = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        seeds.extend(range(int(lo), int(hi or lo) + 1))
    return seeds


def last_json(stdout: str) -> dict:
    """The run's result: the last non-empty line of its output."""
    return json.loads([line for line in stdout.splitlines() if line.strip()][-1])


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q1, q2, q3


def summarize(spec: list[dict], parent: list[dict], change: list[dict]) -> list[dict]:
    """One row per metric of ``spec`` (``BENCHMARK.json``'s
    ``end_to_end``) over paired results ``parent[i]``/``change[i]``."""
    rows = []
    for m in spec:
        sign = 1 if m["better"] == "lower" else -1
        p = [r["metrics"][m["name"]]["value"] for r in parent]
        c = [r["metrics"][m["name"]]["value"] for r in change]
        pq, cq = quartiles(p), quartiles(c)
        rows.append({
            "name": m["name"], "unit": m["unit"], "parent": pq, "change": cq,
            "wins": sum(sign * (b - a) < 0 for a, b in zip(p, c)), "pairs": len(p),
            "beyond_iqr": sign * (cq[1] - pq[1]) < 0 and abs(cq[1] - pq[1]) > pq[2] - pq[0],
        })
    return rows


def format_rows(rows: list[dict]) -> str:
    out = ["metric          parent median [q1-q3]      change median [q1-q3]      delta   wins  >IQR"]
    for r in rows:
        (p1, p2, p3), (c1, c2, c3) = r["parent"], r["change"]
        delta = f"{100 * (c2 - p2) / p2:+.1f}%" if p2 else "n/a"
        out.append(
            f"{r['name']:<15} {p2:9.4g} [{p1:.4g}-{p3:.4g}]".ljust(43)
            + f"{c2:9.4g} [{c1:.4g}-{c3:.4g}]".ljust(27)
            + f"{delta:>7}  {r['wins']:>2}/{r['pairs']:<2}  {'yes' if r['beyond_iqr'] else 'no'}"
        )
    return "\n".join(out)


def failures(runs: list[dict]) -> str:
    failed, attempted = sum(r["failed"] for r in runs), sum(r["attempted"] for r in runs)
    return f"{failed}/{attempted} operations failed, {sum(not r['correct'] for r in runs)} runs incorrect"


def run_once(checkout: str, args: argparse.Namespace, seed: int) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", args.workload, "--seed", str(seed),
           "--seconds", str(args.seconds), "--trace", "0"]
    done = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True, check=True)
    return last_json(done.stdout)


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 31-40")
    ap.add_argument("--seconds", type=float, default=12)
    args = ap.parse_args(argv)
    with open(os.path.join(args.parent, "BENCHMARK.json")) as f:
        spec = json.load(f)["end_to_end"]
    parent, change = [], []
    for i, seed in enumerate(parse_seeds(args.seeds)):
        sides = [(args.parent, parent), (args.change, change)]
        for checkout, runs in sides if i % 2 == 0 else sides[::-1]:
            runs.append(run_once(checkout, args, seed))
        p, c = parent[-1]["metrics"], change[-1]["metrics"]
        print(f"seed {seed}: " + ", ".join(
            f"{m['name']} {p[m['name']]['value']:.4g} -> {c[m['name']]['value']:.4g}" for m in spec
        ), flush=True)
    print(format_rows(summarize(spec, parent, change)))
    print(f"parent {failures(parent)}; change {failures(change)}")


if __name__ == "__main__":
    main()
