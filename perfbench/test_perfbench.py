"""Tests of the benchmark itself (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import random
import re

import pytest

from capgemini_himss24_fhirbulkdata_demo_spark.connectors import build_import_manifest

from perfbench import checks, gen, run
from perfbench.stub import StubFhirServer
from perfbench.trace import Tracer
from perfbench.workloads import StepResult
from tests.oracle import compare

NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _fhir_bytes(seed: int) -> bytes:
    rng = random.Random(seed)
    reqs = gen.latest_requests(rng)
    return json.dumps(gen.make_rxnav(rng)).encode() + b"".join(f.payload for r in reqs for f in r.files)


def _table_bytes(tmp_path, seed: int) -> dict[str, bytes]:
    d = tmp_path / f"t{seed}-{len(os.listdir(tmp_path))}"
    gen.write_tables(str(d), seed, 0.001)
    return {p.name: p.read_bytes() for p in sorted(d.iterdir())}


def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path):
    assert _fhir_bytes(7) == _fhir_bytes(7)
    assert _fhir_bytes(7) != _fhir_bytes(8)
    a, b, c = _table_bytes(tmp_path, 7), _table_bytes(tmp_path, 7), _table_bytes(tmp_path, 8)
    assert a == b
    assert a.keys() == c.keys() and a["lineitem.parquet"] != c["lineitem.parquet"]


def test_latest_cycle_volume_does_not_depend_on_seed():
    def shape(seed):
        reqs = gen.latest_requests(random.Random(seed))
        return [(r.source, [(f.rtype, len(f.records)) for f in r.files]) for r in reqs]

    assert shape(1) == shape(2)


def _landed(tmp_path, name="ExplanationOfBenefit-c-1.ndjson"):
    p = tmp_path / name
    p.write_text('{"resourceType": "ExplanationOfBenefit", "id": "e1"}\n')
    return str(p)


def _import(stub, body):
    return stub("POST", f"{gen.IMPORT_SERVER}/$import", headers={"Authorization": "Bearer t"},
                data=json.dumps(body).encode())


def test_stub_accepts_valid_manifest(tmp_path):
    stub = StubFhirServer(0)
    body = build_import_manifest([(p := _landed(tmp_path), f"file://{p}")])
    assert _import(stub, body).status_code == 202
    assert stub.imports == [body]


@pytest.mark.parametrize(
    "corrupt",
    [
        lambda b: b["parameter"][1]["part"].pop(1),  # url entry missing
        lambda b: b["parameter"][1]["part"][1].update(valueUri=42),  # url of the wrong type
        lambda b: b["parameter"][1]["part"][0].update(valueString=["ExplanationOfBenefit"]),
        lambda b: b["parameter"].pop(0),  # inputFormat missing
        lambda b: b.update(resourceType="Bundle"),
    ],
)
def test_stub_rejects_bad_manifest(tmp_path, corrupt):
    stub = StubFhirServer(0)
    body = build_import_manifest([(p := _landed(tmp_path), f"file://{p}")])
    corrupt(body)
    assert _import(stub, body).status_code == 400
    assert stub.imports == []


def test_fhir_checker_flags_corrupted_output(tmp_path):
    rng = random.Random(3)
    rx = gen.make_rxnav(rng)
    recs = gen.make_resources(rng, "bcda", "ExplanationOfBenefit", 200, "t")
    server = gen.SERVERS["bcda"]
    expected = checks.expected_fhir(server, "ExplanationOfBenefit", recs, rx)
    from tests import fhir_oracle

    good = fhir_oracle.process(server, "ExplanationOfBenefit", recs, rx)
    out = tmp_path / "out.ndjson"
    out.write_text("".join(json.dumps(r) + "\n" for r in good))
    assert checks.check_fhir_file(expected, str(out)) == []
    good[0]["item"][0]["quantity"]["value"] = 1234.5
    out.write_text("".join(json.dumps(r) + "\n" for r in good))
    assert checks.check_fhir_file(expected, str(out))
    out.write_text("".join(json.dumps(r) + "\n" for r in good[1:]))
    assert checks.check_fhir_file(expected, str(out))


def test_query_checker_flags_corrupted_rows():
    expected = (["k", "v"], [(1, 2.5), (2, 3.0)])
    assert compare("q", (["v", "k"], [(3.0, 2), (2.5, 1)]), expected) == []
    assert compare("q", (["k", "v"], [(1, 2.5), (2, 3.01)]), expected)
    assert compare("q", (["k", "v"], [(1, 2.5)]), expected)


def test_stream_checker_flags_corrupted_rows():
    twin = [("2024-01-01 00:00:00", "click", 2, 1.5), ("2024-01-01 05:00:00", "view", 1, 2.0)]
    wm = "2024-01-01T03:00:00.000Z"  # only the first window has closed
    assert checks.check_stream([twin[0]], twin, wm) == []
    assert checks.check_stream([("2024-01-01 00:00:00", "click", 2, 1.25)], twin, wm)
    assert checks.check_stream([], twin, wm)
    assert checks.check_stream(twin, twin, wm)  # an unclosed window emitted


def test_self_time_subtracts_covered_child_intervals():
    tr = Tracer()
    with tr.span("api.a"):
        with tr.span("pipeline.b"):
            pass
    root, child = tr.spans
    root.start, root.end, child.start, child.end = 0.0, 10.0, 2.0, 5.0
    tr.spans.append(type(child)(2, "sources.c", 4.0, 7.0, root.sid, None))  # overlaps b
    st = tr.self_times()
    assert st["api"] == pytest.approx(5.0)
    assert st["pipeline"] == pytest.approx(3.0) and st["sources"] == pytest.approx(3.0)


def test_op_p50_weighs_every_input_equally():
    def samples(lat_by_input):
        return [run.Sample(i, c, StepResult(x, 1)) for i, xs in enumerate(lat_by_input) for c, x in enumerate(xs)]

    # a slow input run fewer times does not pull the figure towards the fast ones
    assert run.op_p50_ms(samples([[1.0, 1.0, 1.0], [3.0]])) == pytest.approx(2000.0)
    # one slow cycle is outvoted by the input's median
    assert run.op_p50_ms(samples([[9.0, 1.0, 1.0]])) == pytest.approx(1000.0)


def test_disabled_tracer_records_nothing():
    tr = Tracer(enabled=False)
    with tr.span("api.a"):
        tr.wrap("pipeline.b", lambda: None)()
    assert tr.spans == []


def test_metric_names_and_benchmark_json_agree():
    names = {**run.END_TO_END, **run.per_layer_units()}
    assert all(NAME.fullmatch(n) and len(n) <= 64 for n in names)
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_units()
    from perfbench.workloads import WORKLOADS

    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
