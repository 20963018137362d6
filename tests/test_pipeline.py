"""End-to-end pipeline test (SURVEY §3.1): two incremental runs
through the full export → transform → import → archive flow with a
fake server; the second run carries the advanced ``_since`` cursor."""

from __future__ import annotations

import contextlib
import json
import os
from urllib.parse import parse_qs, urlsplit

import pytest

from capgemini_himss24_fhirbulkdata_demo_spark.connectors import (
    FhirBulkConnector,
    HttpResponse,
)
from capgemini_himss24_fhirbulkdata_demo_spark.connectors.state import HighWaterMark
from capgemini_himss24_fhirbulkdata_demo_spark.pipeline import run_bulk_import
from capgemini_himss24_fhirbulkdata_demo_spark.transforms.schemas import (
    RXNAV_LOOKUP_SCHEMA,
)

PATIENTS = [
    {"resourceType": "Patient", "id": "egqBHVfQlt4Bw3XGXoxVxHg3",
     "identifier": [{"system": "old", "value": "X"}]},
    {"resourceType": "Patient", "id": "p2", "gender": "female"},
]
CONDITIONS = [
    {"resourceType": "Condition", "id": "c1",
     "code": {"coding": [{"system": "s", "code": "old"}], "text": "t"},
     "recordedDate": "1990-01-01"},
]


class FakeServer:
    def __init__(self):
        self.kickoff_urls: list[str] = []
        self.import_bodies: list[dict] = []

    def __call__(self, method, url, headers=None, data=None, params=None):
        if "$export" in url:
            self.kickoff_urls.append(url)
            return HttpResponse(202, headers={"Content-Location": "https://s/st"})
        if url == "https://s/st":
            return HttpResponse(200, content=json.dumps(
                {"output": [
                    {"type": "Patient", "url": "https://s/f/p"},
                    {"type": "Condition", "url": "https://s/f/c"},
                ]}).encode())
        if url == "https://s/f/p":
            return HttpResponse(200, content="\n".join(json.dumps(r) for r in PATIENTS).encode())
        if url == "https://s/f/c":
            return HttpResponse(200, content="\n".join(json.dumps(r) for r in CONDITIONS).encode())
        if url.endswith("/$import"):
            self.import_bodies.append(json.loads(data))
            return HttpResponse(202, headers={"Content-Location": "https://cg/st"})
        if url == "https://cg/st":
            return HttpResponse(200, content=b"{}")
        raise AssertionError(url)


def _read_out(out_path):
    """Read pipeline NDJSON output: a single file (the $import-ready
    shape) or a part-file directory."""
    if os.path.isfile(out_path):
        with open(out_path) as f:
            return [json.loads(line) for line in f if line.strip()]
    rows = []
    for name in sorted(os.listdir(out_path)):
        if name.startswith("part-"):
            with open(os.path.join(out_path, name)) as f:
                rows.extend(json.loads(line) for line in f if line.strip())
    return rows


def test_two_incremental_runs(spark, tmp_path):
    server = FakeServer()
    conn = FhirBulkConnector(transport=server, sleep=lambda s: None)
    state = HighWaterMark(str(tmp_path / "state.json"))
    rx = spark.createDataFrame([("1", "n", "r")], RXNAV_LOOKUP_SCHEMA)

    res1 = run_bulk_import(
        spark, conn, "https://fhir.epic.example", "g1", "tok",
        "https://cg", "itok", str(tmp_path / "run1"), rxnav=rx, state=state,
    )
    # first kickoff has no _since
    assert "_since" not in server.kickoff_urls[0]
    assert len(res1.landed) == 2 and len(res1.archived) == 2
    assert res1.since_advanced_to is not None

    # transforms applied per resource type
    pat_out = next(v for k, v in res1.transformed.items() if "Patient" in k)
    pats = {r["id"]: r for r in _read_out(pat_out)}
    assert pats["egqBHVfQlt4Bw3XGXoxVxHg3"]["identifier"][0]["value"] == "1S00E00AA27"
    assert pats["p2"] == PATIENTS[1]
    cond_out = next(v for k, v in res1.transformed.items() if "Condition" in k)
    conds = _read_out(cond_out)
    assert conds[0]["recordedDate"] == "2019-09-04T11:10:27.000Z"
    assert conds[0]["code"]["coding"][0]["code"] == "E11.59"

    # import manifest listed both files with types parsed from names
    types = [p["part"][0]["valueString"]
             for p in server.import_bodies[0]["parameter"] if p["name"] == "input"]
    assert sorted(types) == ["Condition", "Patient"]

    # second run: kickoff carries the persisted cursor
    run_bulk_import(
        spark, conn, "https://fhir.epic.example", "g1", "tok",
        "https://cg", "itok", str(tmp_path / "run2"), rxnav=rx, state=state,
    )
    since = parse_qs(urlsplit(server.kickoff_urls[1]).query)["_since"]
    assert since == [res1.since_advanced_to]


def test_high_water_mark_atomic(tmp_path):
    hwm = HighWaterMark(str(tmp_path / "s.json"))
    assert hwm.get("srv", "g") is None
    hwm.advance("srv", "g", "2024-01-01T00:00:00")
    hwm.advance("srv2", "g", "2024-02-02T00:00:00")
    assert hwm.get("srv", "g") == "2024-01-01T00:00:00"
    assert hwm.get("srv2", "g") == "2024-02-02T00:00:00"


def test_high_water_mark_concurrent_advances_keep_both_keys(tmp_path, monkeypatch):
    """Two requests advancing different (server, group) keys at once:
    a slow read inside one advance must not let the other's write be
    lost."""
    import threading
    import time

    load = HighWaterMark._load

    def slow_load(self):
        state = load(self)
        time.sleep(0.2)
        return state

    monkeypatch.setattr(HighWaterMark, "_load", slow_load)
    path = str(tmp_path / "s.json")
    threads = [
        threading.Thread(target=HighWaterMark(path).advance, args=(srv, "g", since))
        for srv, since in (("srv1", "2024-01-01T00:00:00"), ("srv2", "2024-02-02T00:00:00"))
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(10)
        assert not t.is_alive()
    monkeypatch.undo()
    hwm = HighWaterMark(path)
    assert hwm.get("srv1", "g") == "2024-01-01T00:00:00"
    assert hwm.get("srv2", "g") == "2024-02-02T00:00:00"


def test_high_water_mark_never_moves_back(tmp_path):
    """Overlapping requests for one key: the one that finishes last may
    hold the older transactionTime. The cursor keeps the later instant,
    compared across UTC offsets, and stores the server's string as
    sent."""
    hwm = HighWaterMark(str(tmp_path / "s.json"))
    hwm.advance("srv", "g", "2024-03-01T12:00:00+00:00")
    # 11:00Z, older: the first value stays
    assert hwm.advance("srv", "g", "2024-03-01T08:00:00-03:00") == "2024-03-01T12:00:00+00:00"
    assert hwm.get("srv", "g") == "2024-03-01T12:00:00+00:00"
    # 13:00Z, later, although its string sorts first
    assert hwm.advance("srv", "g", "2024-03-01T10:00:00-03:00") == "2024-03-01T10:00:00-03:00"
    assert hwm.get("srv", "g") == "2024-03-01T10:00:00-03:00"


def test_high_water_mark_rejects_a_cursor_that_names_no_instant(tmp_path):
    path = tmp_path / "s.json"
    hwm = HighWaterMark(str(path))
    hwm.advance("srv", "g", "2024-03-01T12:00:00+00:00")
    before = path.read_bytes()
    with pytest.raises(ValueError):
        hwm.advance("srv", "g", "yesterday")
    assert path.read_bytes() == before


_ADVANCE_200_KEYS = """
import os, sys, time
from capgemini_himss24_fhirbulkdata_demo_spark.connectors.state import HighWaterMark
path, worker, go = sys.argv[1:]
hwm = HighWaterMark(path)
while not os.path.exists(go):
    time.sleep(0.001)
for i in range(200):
    hwm.advance(f"srv-{worker}-{i}", "g", "2024-03-01T12:00:00+00:00")
"""


def test_high_water_mark_two_processes_keep_every_key(tmp_path):
    """Two processes sharing one state file, each advancing 200
    distinct keys at once: every key persists."""
    import subprocess
    import sys
    import time

    path, go = str(tmp_path / "s.json"), tmp_path / "go"
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    workers = [
        subprocess.Popen([sys.executable, "-c", _ADVANCE_200_KEYS, path, w, str(go)], cwd=repo)
        for w in "ab"
    ]
    time.sleep(1)  # both import the module, then start together
    go.touch()
    assert [w.wait(120) for w in workers] == [0, 0]
    with open(path) as f:
        assert len(json.load(f)) == 400


def test_run_reports_the_cursor_it_stored(spark, tmp_path):
    """A request whose cursor is older than the stored one (a request
    for the same key finished first) leaves the stored cursor and
    reports it."""
    state = HighWaterMark(str(tmp_path / "state.json"))
    later = "2999-01-01T00:00:00+00:00"
    state.advance("https://fhir.epic.example", "g1", later)
    res = run_bulk_import(
        spark, FhirBulkConnector(transport=FakeServer(), sleep=lambda s: None),
        "https://fhir.epic.example", "g1", "tok", "https://cg", "itok",
        str(tmp_path / "run"), state=state,
    )
    assert res.since_advanced_to == later
    assert state.get("https://fhir.epic.example", "g1") == later


def test_failed_file_fetch_fails_the_request(spark, tmp_path):
    """An export file that answers 404 is not export data: the request
    raises, posts no $import and leaves the cursor where it was."""

    class MissingFileServer(FakeServer):
        def __call__(self, method, url, headers=None, data=None, params=None):
            if url == "https://s/f/c":
                return HttpResponse(404, content=b'{"resourceType":"OperationOutcome"}')
            return super().__call__(method, url, headers, data, params)

    server = MissingFileServer()
    conn = FhirBulkConnector(transport=server, sleep=lambda s: None)
    state = HighWaterMark(str(tmp_path / "state.json"))
    state.advance("https://fhir.epic.example", "g1", "2024-01-01T00:00:00+00:00")
    with pytest.raises(RuntimeError, match="404"):
        run_bulk_import(
            spark, conn, "https://fhir.epic.example", "g1", "tok",
            "https://cg", "itok", str(tmp_path / "run"), state=state,
        )
    assert server.import_bodies == []
    assert state.get("https://fhir.epic.example", "g1") == "2024-01-01T00:00:00+00:00"


class ErrorManifestServer(FakeServer):
    """The export manifest lists one ``error`` file of OperationOutcome
    lines; its first fetch is throttled with a 429."""

    def __init__(self, severities):
        super().__init__()
        self.outcomes = [
            {"resourceType": "OperationOutcome",
             "issue": [{"severity": s, "code": "processing", "diagnostics": f"{s} on Patient/p{i}"}]}
            for i, s in enumerate(severities)
        ]
        self.error_fetches = 0

    def __call__(self, method, url, headers=None, data=None, params=None):
        if url == "https://s/st":
            manifest = json.loads(super().__call__(method, url).content)
            manifest["error"] = [{"type": "OperationOutcome", "url": "https://s/e"}]
            return HttpResponse(200, content=json.dumps(manifest).encode())
        if url == "https://s/e":
            self.error_fetches += 1
            if self.error_fetches == 1:
                return HttpResponse(429, headers={"Retry-After": "0"})
            return HttpResponse(200, content="\n".join(json.dumps(o) for o in self.outcomes).encode())
        return super().__call__(method, url, headers, data, params)


@pytest.mark.parametrize("failing", ["error", "fatal"])
def test_export_error_issue_fails_the_request(tmp_path, failing):
    """An ``error`` file reporting a fatal or error issue fails the
    request before anything is landed: no $import, cursor unchanged."""
    server = ErrorManifestServer(["warning", failing])
    conn = FhirBulkConnector(transport=server, sleep=lambda s: None)
    state = HighWaterMark(str(tmp_path / "state.json"))
    state.advance("https://fhir.epic.example", "g1", "2024-01-01T00:00:00+00:00")
    work = tmp_path / "run"
    with pytest.raises(RuntimeError, match=f"{failing}: {failing} on Patient/p1"):
        run_bulk_import(
            None, conn, "https://fhir.epic.example", "g1", "tok",
            "https://cg", "itok", str(work), state=state,
        )
    assert server.error_fetches == 2
    assert not (work / "landing").exists()
    assert server.import_bodies == []
    assert state.get("https://fhir.epic.example", "g1") == "2024-01-01T00:00:00+00:00"


def test_export_warnings_are_logged_not_fatal(spark, tmp_path, caplog):
    server = ErrorManifestServer(["warning", "information"])
    conn = FhirBulkConnector(transport=server, sleep=lambda s: None)
    with caplog.at_level("WARNING", logger="capgemini_himss24_fhirbulkdata_demo_spark.pipeline"):
        res = run_bulk_import(
            spark, conn, "https://fhir.epic.example", "g1", "tok",
            "https://cg", "itok", str(tmp_path / "run"),
        )
    assert len(res.archived) == 2 and len(server.import_bodies) == 1
    assert "warning: warning on Patient/p0" in caplog.text
    assert "information: information on Patient/p1" in caplog.text


def test_reset_and_seed(tmp_path):
    from capgemini_himss24_fhirbulkdata_demo_spark.pipeline import (
        restamp_seed_name,
        run_reset_and_seed,
    )

    assert restamp_seed_name("Patient-abc-1699999999.json", 42) == "Patient-abc-42.json"
    assert restamp_seed_name("Condition-7-8.json", 5) == "Condition-5-5.json"

    calls = []

    def transport(method, url, headers=None, data=None, params=None):
        calls.append((method, url))
        if "$bulk-delete" in url:
            assert params == {"_hardDelete": "True"}
            return HttpResponse(202, headers={"Content-Location": "https://cg/del"})
        if url == "https://cg/del":
            return HttpResponse(200, content=b"{}")
        if url.endswith("/$import"):
            return HttpResponse(202, headers={"Content-Location": "https://cg/imp"})
        if url == "https://cg/imp":
            return HttpResponse(200, content=b"{}")
        raise AssertionError(url)

    seed = tmp_path / "seed"
    seed.mkdir()
    (seed / "Patient-client-1000.json").write_text('{"resourceType":"Patient","id":"s1"}')
    (seed / "Condition-client-1000.json").write_text('{"resourceType":"Condition","id":"s2"}')

    conn = FhirBulkConnector(transport=transport, sleep=lambda s: None)
    out = run_reset_and_seed(
        conn, "https://cg", "tok", str(seed), str(tmp_path / "work"), timestamp=777
    )
    names = sorted(os.path.basename(p) for p in out["seeded"])
    assert names == ["Condition-client-777.json", "Patient-client-777.json"]
    assert ("DELETE", "https://cg/$bulk-delete") in calls


def test_transformed_outputs_are_single_ndjson_files(spark, tmp_path):
    """$import urls must point at one NDJSON blob each, not a Spark
    part-file directory."""
    server = FakeServer()
    conn = FhirBulkConnector(transport=server, sleep=lambda s: None)
    rx = spark.createDataFrame([("1", "n", "r")], RXNAV_LOOKUP_SCHEMA)
    res = run_bulk_import(
        spark, conn, "https://fhir.epic.example", "g1", "tok",
        "https://cg", "itok", str(tmp_path / "run"), rxnav=rx,
    )
    for out in res.transformed.values():
        assert os.path.isfile(out), out
        assert out.endswith(".ndjson")
    # the manifest's valueUris reference those single files
    uris = [p["part"][1]["valueUri"]
            for p in server.import_bodies[-1]["parameter"] if p["name"] == "input"]
    assert all(u.endswith(".ndjson") for u in uris)


def test_pass_through_is_byte_identical(spark, tmp_path):
    """A file with no registered transform reaches the export area byte
    for byte: bcda Patient keeps fields outside the curated schema
    (address, telecom) and their key order, and Coverage, which has no
    curated schema at all, is neither inferred nor rewritten."""
    patients = (
        '{"resourceType": "Patient", "id": "-10000000000027", "gender": "female",'
        ' "address": [{"city": "Boston", "postalCode": "02118"}],'
        ' "telecom": [{"system": "phone", "value": "555-0100"}]}\n'
        '{"id": "p2", "resourceType": "Patient", "birthDate": "1950-01-01"}\n'
    ).encode()
    coverage = (
        '{"resourceType":"Coverage","id":"c1","status":"active",'
        '"payor":[{"reference":"Organization/cms"}],"period":{"start":"2019-01-01"}}\n'
    ).encode()
    files = {"https://s/f/p": patients, "https://s/f/c": coverage}

    def transport(method, url, headers=None, data=None, params=None):
        if "$export" in url:
            return HttpResponse(202, headers={"Content-Location": "https://s/st"})
        if url == "https://s/st":
            return HttpResponse(200, content=json.dumps({"output": [
                {"type": "Patient", "url": "https://s/f/p"},
                {"type": "Coverage", "url": "https://s/f/c"},
            ]}).encode())
        if url in files:
            return HttpResponse(200, content=files[url])
        if url.endswith("/$import"):
            return HttpResponse(202, headers={"Content-Location": "https://cg/st"})
        if url == "https://cg/st":
            return HttpResponse(200, content=b"{}")
        raise AssertionError(url)

    url = "https://bcda.cms.example/api"
    rx = spark.createDataFrame([("1", "n", "r")], RXNAV_LOOKUP_SCHEMA)
    conn = FhirBulkConnector(transport=transport, sleep=lambda s: None)
    res = run_bulk_import(
        spark, conn, url, "g1", "tok", "https://cg", "itok",
        str(tmp_path / "run"), rxnav=rx,
    )
    pairs = [(res.transformed[p], a) for p, a in zip(res.landed, res.archived)]
    assert len(pairs) == 2
    for out_path, src_path in pairs:
        with open(out_path, "rb") as out, open(src_path, "rb") as src:
            assert out.read() == src.read(), src_path
    with open(pairs[0][1], "rb") as f:
        assert f.read() == patients


def test_eob_bench_landing_dir_matches_single_file(tmp_path, monkeypatch):
    """The 64-file bench landing dir carries exactly the records the
    single-file writer produces — same count, same content, contiguous
    blocks per file — so the v5 bench input change alters file layout
    only, never the measured workload."""
    import json

    from capgemini_himss24_fhirbulkdata_demo_spark.transforms import benchdata
    from capgemini_himss24_fhirbulkdata_demo_spark.transforms.benchdata import (
        write_eob_ndjson,
        write_eob_ndjson_dir,
    )

    # 7 files of 143 records leave a shorter last block
    monkeypatch.setattr(benchdata, "EOB_LANDING_FILES", 7)
    n = 1_000
    single = write_eob_ndjson(str(tmp_path / "one.ndjson"), n)
    land = write_eob_ndjson_dir(str(tmp_path / "landing"), n)
    files = sorted(
        f for f in os.listdir(land) if f.endswith(".ndjson")
    )
    assert len(files) == 7
    multi_lines = []
    for f in files:
        with open(os.path.join(land, f)) as fh:
            multi_lines.extend(fh.read().splitlines())
    single_lines = open(single).read().splitlines()
    # contiguous blocks in file order == the single-file order exactly
    assert multi_lines == single_lines
    assert len(multi_lines) == n
    # spot-check the content is real EOB JSON
    assert json.loads(multi_lines[0])["resourceType"] == "ExplanationOfBenefit"


EOB_LINE = json.dumps({
    "resourceType": "ExplanationOfBenefit",
    "id": "e1",
    "patient": {"reference": "Patient/-10000000000027"},
    "type": {"coding": []},
    "supportingInfo": [],
    "item": [],
})
BCDA_URL = "https://bcda.cms.example/api"


@contextlib.contextmanager
def _job_group(spark, group):
    """Tag the jobs this thread starts with ``group``; yields a callable
    that returns how many jobs the group has run so far."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        yield lambda: len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def _landed_eob(tmp_path, name="ExplanationOfBenefit-client-1.json"):
    p = tmp_path / name
    p.write_text(EOB_LINE + "\n")
    return str(p)


def test_eob_file_is_one_job_per_lookup_read(spark, tmp_path):
    """A bcda EOB file runs as one Spark job once its lookup has been
    read: the lookup is collected the first time a transform sees that
    DataFrame object, and a new DataFrame is read again."""
    from capgemini_himss24_fhirbulkdata_demo_spark.pipeline import transform_landed_file

    path = _landed_eob(tmp_path)
    out_dir = str(tmp_path / "out")
    rx = spark.createDataFrame([("1", "n", "r")], RXNAV_LOOKUP_SCHEMA)
    with _job_group(spark, "eob-first") as jobs:
        transform_landed_file(spark, path, BCDA_URL, out_dir, rx)
        assert jobs() == 2  # the lookup's collect, then the file's write
    with _job_group(spark, "eob-again") as jobs:
        transform_landed_file(spark, path, BCDA_URL, out_dir, rx)
        assert jobs() == 1
    rx2 = spark.createDataFrame([("1", "n", "r")], RXNAV_LOOKUP_SCHEMA)
    with _job_group(spark, "eob-new-lookup") as jobs:
        transform_landed_file(spark, path, BCDA_URL, out_dir, rx2)
        assert jobs() == 2


def test_eob_file_plan_has_no_shuffle(spark, tmp_path, monkeypatch):
    """One landed file is one partition, which satisfies the EOB
    duplicate-id window: the written plan parses the file once and has
    no Exchange."""
    import re

    from capgemini_himss24_fhirbulkdata_demo_spark import pipeline
    from capgemini_himss24_fhirbulkdata_demo_spark.plans import explain_str

    written = []
    real_write = pipeline.write_ndjson

    def capture(df, path, single_file=False):
        written.append(df)
        return real_write(df, path, single_file=single_file)

    monkeypatch.setattr(pipeline, "write_ndjson", capture)
    rx = spark.createDataFrame([("1", "n", "r")], RXNAV_LOOKUP_SCHEMA)
    pipeline.transform_landed_file(
        spark, _landed_eob(tmp_path), BCDA_URL, str(tmp_path / "out"), rx
    )
    text = explain_str(written[0], "simple")
    assert "Exchange" not in text, text
    assert len(re.findall(r"Scan json", text)) == 1, text


def test_eob_without_lookup_fails_before_any_job(spark, tmp_path):
    """A bcda export with EOB files and no rxnav= fails with a clear
    ValueError before any Spark job, and the cursor stays put."""

    class EobServer(FakeServer):
        def __call__(self, method, url, headers=None, data=None, params=None):
            if url == "https://s/st":
                return HttpResponse(200, content=json.dumps({"output": [
                    {"type": "ExplanationOfBenefit", "url": "https://s/f/e"},
                ]}).encode())
            if url == "https://s/f/e":
                return HttpResponse(200, content=EOB_LINE.encode())
            return super().__call__(method, url, headers, data, params)

    server = EobServer()
    conn = FhirBulkConnector(transport=server, sleep=lambda s: None)
    state = HighWaterMark(str(tmp_path / "state.json"))
    with _job_group(spark, "eob-no-lookup") as jobs:
        with pytest.raises(ValueError, match=r"bcda ExplanationOfBenefit.*rxnav="):
            run_bulk_import(
                spark, conn, BCDA_URL, "g1", "tok",
                "https://cg", "itok", str(tmp_path / "run"), state=state,
            )
        assert jobs() == 0
    assert server.import_bodies == []
    assert state.get(BCDA_URL, "g1") is None


def test_malformed_line_fails_the_request(spark, tmp_path):
    """A truncated NDJSON line is not a resource: the file fails, so the
    request raises, posts no $import, leaves the cursor where it was and
    writes no blob (nor temp directory) for that file."""
    good = json.dumps(CONDITIONS[0])

    class TruncatedServer(FakeServer):
        def __call__(self, method, url, headers=None, data=None, params=None):
            if url == "https://s/f/c":
                return HttpResponse(200, content=(good + "\n" + good[:25] + "\n").encode())
            return super().__call__(method, url, headers, data, params)

    server = TruncatedServer()
    conn = FhirBulkConnector(transport=server, sleep=lambda s: None)
    state = HighWaterMark(str(tmp_path / "state.json"))
    state.advance("https://fhir.epic.example", "g1", "2024-01-01T00:00:00+00:00")
    work = tmp_path / "run"
    with pytest.raises(Exception, match="MALFORMED|Malformed"):
        run_bulk_import(
            spark, conn, "https://fhir.epic.example", "g1", "tok",
            "https://cg", "itok", str(work), state=state,
        )
    assert server.import_bodies == []
    assert state.get("https://fhir.epic.example", "g1") == "2024-01-01T00:00:00+00:00"
    export = work / "export"
    left = os.listdir(export) if export.exists() else []
    assert not [n for n in left if n.startswith("Condition")], left


def test_failed_request_leaves_no_files(spark, tmp_path):
    """A request that fails before $import removes what it landed and
    what it transformed: a malformed line in the Condition file leaves
    landing/ and export/ empty (the Patient file had transformed),
    posts no $import and leaves the cursor unchanged."""
    good = json.dumps(CONDITIONS[0])

    class TruncatedServer(FakeServer):
        def __call__(self, method, url, headers=None, data=None, params=None):
            if url == "https://s/f/c":
                return HttpResponse(200, content=(good + "\n" + good[:25] + "\n").encode())
            return super().__call__(method, url, headers, data, params)

    server = TruncatedServer()
    conn = FhirBulkConnector(transport=server, sleep=lambda s: None)
    state = HighWaterMark(str(tmp_path / "state.json"))
    state.advance("https://fhir.epic.example", "g1", "2024-01-01T00:00:00+00:00")
    work = tmp_path / "run"
    with pytest.raises(Exception, match="MALFORMED|Malformed"):
        run_bulk_import(
            spark, conn, "https://fhir.epic.example", "g1", "tok",
            "https://cg", "itok", str(work), state=state,
        )
    assert os.listdir(work / "landing") == []
    assert os.listdir(work / "export") == []
    assert server.import_bodies == []
    assert state.get("https://fhir.epic.example", "g1") == "2024-01-01T00:00:00+00:00"


def test_failed_download_leaves_no_landed_files(tmp_path):
    """A fetch that fails mid-export removes the files landed before
    it, and the request fails before any transform."""

    class FailingFetch(FakeServer):
        def __call__(self, method, url, headers=None, data=None, params=None):
            if url == "https://s/f/c":
                return HttpResponse(404, content=b"gone")
            return super().__call__(method, url, headers, data, params)

    conn = FhirBulkConnector(transport=FailingFetch(), sleep=lambda s: None)
    manifest = json.loads(conn.poll_status("https://s/st", "tok"))
    landing = tmp_path / "landing"
    with pytest.raises(RuntimeError, match="404"):
        conn.land_export(manifest, "tok", str(landing))
    assert os.listdir(landing) == []
