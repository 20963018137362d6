"""Output checks. Each returns a list of mismatch descriptions (empty ==
correct); the workload counts an operation with any as failed. Query
rows are checked with ``tests.oracle.compare``, the differential
harness's own rule."""

from __future__ import annotations

import json
from collections import Counter

from tests import fhir_oracle


def _normalize(v):
    # JSON numbers: the engine writes 90.0 where the oracle writes 90
    if isinstance(v, float) and v.is_integer():
        return int(v)
    if isinstance(v, dict):
        return {k: _normalize(x) for k, x in v.items()}
    if isinstance(v, list):
        return [_normalize(x) for x in v]
    return v


def canonical(records: list[dict]) -> dict[str, list[str]]:
    """id -> sorted canonical JSON of every record with that id (the
    golden-test rule, extended to the duplicate ids exports carry)."""
    out: dict[str, list[str]] = {}
    for r in records:
        out.setdefault(r.get("id"), []).append(json.dumps(_normalize(r), sort_keys=True))
    return {k: sorted(v) for k, v in out.items()}


def expected_fhir(server_url: str, rtype: str, records: list[dict], rxnav: dict) -> dict[str, list[str]]:
    return canonical(fhir_oracle.process(server_url, rtype, records, rxnav))


def check_fhir_file(expected: dict[str, list[str]], out_path: str) -> list[str]:
    with open(out_path) as f:
        got = canonical([json.loads(line) for line in f if line.strip()])
    if got == expected:
        return []
    missing, extra = expected.keys() - got.keys(), got.keys() - expected.keys()
    diff = [k for k in expected.keys() & got.keys() if expected[k] != got[k]]
    return [
        f"{out_path}: {len(missing)} ids missing, {len(extra)} unexpected, "
        f"{len(diff)} differ (e.g. {sorted(missing | extra | set(diff))[:3]})"
    ]


def check_stream(got: list[tuple], batch_twin: list[tuple], watermark: str) -> list[str]:
    """Append-mode windows emitted by the stream must be exactly the batch
    twin's windows that closed at or before the final watermark
    (``window_start`` + 1 hour <= watermark), each with equal aggregates."""
    closed = [r for r in batch_twin if _window_end(r[0]) <= watermark]
    g, e = Counter(got), Counter(closed)
    if g == e:
        return []
    return [f"stream: {sum((g - e).values())} unexpected rows, {sum((e - g).values())} missing rows"]


def _window_end(start: str) -> str:
    from datetime import datetime, timedelta

    end = datetime.strptime(start, "%Y-%m-%d %H:%M:%S") + timedelta(hours=1)
    return end.strftime("%Y-%m-%dT%H:%M:%S")
