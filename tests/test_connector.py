"""Offline end-to-end test of the FHIR bulk connector (SURVEY §3.1):
fake transport simulates a SMART server + bulk export + import; the
landed files then flow through the real Spark transform pipeline."""

from __future__ import annotations

import base64
import hashlib
import json
import logging
import os

import pytest

from capgemini_himss24_fhirbulkdata_demo_spark.connectors import (
    FhirBulkConnector,
    HttpResponse,
    build_import_manifest,
    build_jwt_assertion,
    fhir_bulk,
)
from capgemini_himss24_fhirbulkdata_demo_spark.functions.encoding import (
    b64url_encode_py,
)

PATIENT = {"resourceType": "Patient", "id": "p1", "gender": "other"}


class FakeFhirServer:
    """Minimal SMART + bulk-export + import server behind a transport."""

    def __init__(self):
        self.polls = 0
        self.import_bodies = []

    def __call__(self, method, url, headers=None, data=None, params=None):
        if url.endswith("/.well-known/smart-configuration"):
            return HttpResponse(
                200, content=json.dumps({"token_endpoint": "https://idp/token"}).encode()
            )
        if url == "https://idp/token":
            assert data["grant_type"] == "client_credentials"
            assert data["client_assertion"].count(".") == 2
            return HttpResponse(
                200,
                content=json.dumps({"access_token": "tok-123", "expires_in": 3600}).encode(),
            )
        if "$export" in url:
            assert headers["Prefer"] == "respond-async"
            assert "_since=2024-01-01T00:00:00" in url
            return HttpResponse(202, headers={"Content-Location": "https://fhir/status/1"})
        if url == "https://fhir/status/1":
            self.polls += 1
            if self.polls < 3:
                return HttpResponse(202)
            manifest = {"output": [{"type": "Patient", "url": "https://fhir/file/patient1"}]}
            return HttpResponse(200, content=json.dumps(manifest).encode())
        if url == "https://fhir/file/patient1":
            assert headers["Accept"] == "application/fhir+ndjson"
            return HttpResponse(200, content=json.dumps(PATIENT).encode())
        if url.endswith("/$import"):
            self.import_bodies.append(json.loads(data))
            return HttpResponse(202, headers={"Content-Location": "https://cg/status/9"})
        if url == "https://cg/status/9":
            return HttpResponse(200, content=b"{}")
        raise AssertionError(f"unexpected request {method} {url}")


def test_full_export_import_flow(tmp_path):
    server = FakeFhirServer()
    sleeps: list[float] = []
    conn = FhirBulkConnector(transport=server, sleep=sleeps.append)

    token_url = conn.discover_token_url("https://fhir/.well-known/smart-configuration")
    assert token_url == "https://idp/token"

    jwt = build_jwt_assertion(
        "client-1", token_url, signer=lambda digest: b"sig" + digest[:4]
    )
    token, _exp = conn.get_access_token(token_url, signed_jwt=jwt)
    assert token == "tok-123"

    status_url = conn.kickoff_export(
        "https://fhir", "grp-1", token, since="2024-01-01T00:00:00"
    )
    manifest = json.loads(conn.poll_status(status_url, token))
    assert sleeps == [2, 4]  # backoff 2·n

    landing = str(tmp_path / "landing")
    paths = conn.land_export(manifest, token, landing, client_id="client-1")
    assert len(paths) == 1
    name = os.path.basename(paths[0])
    assert name.startswith("Patient-client-1-") and name.endswith(".json")
    assert json.loads(open(paths[0]).read()) == PATIENT

    body = build_import_manifest([(p, f"https://blob/{os.path.basename(p)}") for p in paths])
    assert body["parameter"][0] == {
        "name": "inputFormat",
        "valueString": "application/fhir+ndjson",
    }
    assert body["parameter"][1]["part"][0] == {"name": "type", "valueString": "Patient"}

    import_status = conn.bulk_import("https://cg", token, body)
    assert conn.poll_status(import_status, token) == b"{}"
    assert server.import_bodies[0]["resourceType"] == "Parameters"

    archived = conn.archive_files(paths, str(tmp_path / "archive"))
    assert not os.path.exists(paths[0]) and os.path.exists(archived[0])


def test_kickoff_since_url_encoded():
    """The ``_since`` cursor's UTC offset goes out as ``%2B``: a
    form-decoding server must read back the exact cursor, not a space
    where the ``+`` was."""
    from urllib.parse import parse_qs, urlsplit

    urls = []

    def transport(method, url, headers=None, data=None, params=None):
        urls.append(url)
        return HttpResponse(202, headers={"Content-Location": "https://fhir/status/1"})

    conn = FhirBulkConnector(transport=transport, sleep=lambda s: None)
    cursor = "2024-01-01T00:00:00+00:00"
    conn.kickoff_export("https://fhir", "grp-1", "tok", since=cursor)
    assert "%2B00:00" in urls[0]
    assert parse_qs(urlsplit(urls[0]).query) == {"_since": [cursor]}


def _b64url_decode(s: str) -> bytes:
    """The stdlib decoder, re-padded: independent of the encoder."""
    return base64.urlsafe_b64decode(s + "=" * (-len(s) % 4))


def test_jwt_assertion_shape():
    import datetime as dt

    jwt = build_jwt_assertion(
        "cid",
        "https://idp/token",
        signer=lambda d: b"SIGNATURE",
        kid="kid-1",
        now=lambda: dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc),
        make_jti=lambda: "fixed-jti",
    )
    h, p, s = jwt.split(".")
    header = json.loads(_b64url_decode(h))
    payload = json.loads(_b64url_decode(p))
    assert header == {"alg": "RS384", "typ": "JWT", "kid": "kid-1"}
    assert payload["sub"] == payload["iss"] == "cid"
    assert payload["aud"] == "https://idp/token"
    assert payload["jti"] == "fixed-jti"
    assert payload["exp"] == 1704067500  # 2024-01-01T00:05:00Z
    assert _b64url_decode(s) == b"SIGNATURE"


def test_b64url_encode_matches_stdlib_decode():
    for d in [b"\xfb\xef\xbe", b"a", b"ab", b"abc", b"\x00\xff"]:
        enc = b64url_encode_py(d)
        assert "=" not in enc and "+" not in enc and "/" not in enc
        assert _b64url_decode(enc) == d


def test_poll_error_raises():
    def transport(method, url, headers=None, data=None, params=None):
        return HttpResponse(500, content=b"boom")

    conn = FhirBulkConnector(transport=transport, sleep=lambda s: None)
    with pytest.raises(RuntimeError, match="poll failed: 500"):
        conn.poll_status("https://x/status", "tok")


def _scripted(responses):
    """A transport that answers each call with the next scripted
    response and records the calls."""
    calls = []

    def transport(method, url, headers=None, data=None, params=None):
        calls.append(url)
        return responses[len(calls) - 1]

    transport.calls = calls
    return transport


def test_poll_honours_retry_after():
    """429/503 mean "come back later": the poll sleeps for Retry-After,
    then resumes the usual 2·n backoff, and returns the manifest."""
    manifest = b'{"output": []}'
    transport = _scripted([
        HttpResponse(503, headers={"Retry-After": "7"}),
        HttpResponse(202),
        HttpResponse(200, content=manifest),
    ])
    slept = []
    conn = FhirBulkConnector(transport=transport, sleep=slept.append)
    assert conn.poll_status("https://x/status", "tok") == manifest
    assert slept == [7, 4]


def test_poll_retry_after_forms_and_budget(monkeypatch):
    """An HTTP-date in the past waits 0 s; a 429 without the header
    waits 2·n; retries count against the MAX_SENDS budget."""
    transport = _scripted([
        HttpResponse(429, headers={"Retry-After": "Wed, 21 Oct 2015 07:28:00 GMT"}),
        HttpResponse(429),
        HttpResponse(200, content=b"{}"),
    ])
    slept = []
    conn = FhirBulkConnector(transport=transport, sleep=slept.append)
    assert conn.poll_status("https://x/status", "tok") == b"{}"
    assert slept == [0.0, 4]

    monkeypatch.setattr(fhir_bulk, "MAX_SENDS", 3)
    transport = _scripted([HttpResponse(503, headers={"Retry-After": "1"})] * 3)
    conn = FhirBulkConnector(transport=transport, sleep=lambda s: None)
    with pytest.raises(TimeoutError):
        conn.poll_status("https://x/status", "tok")
    assert len(transport.calls) == 3


def test_poll_honours_retry_after_on_202(monkeypatch):
    """A 202 is "still running, come back later" like a 429/503: its
    Retry-After sets the wait, and 202s that outlast the budget raise
    TimeoutError."""
    manifest = b'{"output": []}'
    transport = _scripted([
        HttpResponse(202, headers={"Retry-After": "7"}),
        HttpResponse(200, content=manifest),
    ])
    slept = []
    conn = FhirBulkConnector(transport=transport, sleep=slept.append)
    assert conn.poll_status("https://x/status", "tok") == manifest
    assert slept == [7]

    monkeypatch.setattr(fhir_bulk, "MAX_SENDS", 3)
    transport = _scripted([HttpResponse(202)] * 3)
    slept = []
    conn = FhirBulkConnector(transport=transport, sleep=slept.append)
    with pytest.raises(TimeoutError):
        conn.poll_status("https://x/status", "tok")
    assert slept == [2, 4] and len(transport.calls) == 3


def test_lower_case_response_headers():
    """Header names are case-insensitive (RFC 9110 §5.1): a server
    that sends content-location and retry-after in lower case still
    kicks off, imports and is waited for."""
    status = HttpResponse(202, headers={"content-location": "https://x/st"})
    transport = _scripted([
        HttpResponse(429, headers={"retry-after": "5"}),
        status,
        status,
    ])
    slept = []
    conn = FhirBulkConnector(transport=transport, sleep=slept.append)
    assert conn.kickoff_export("https://x", "g1", "tok") == "https://x/st"
    assert conn.bulk_import("https://cg", "itok", {"resourceType": "Parameters"}) == "https://x/st"
    assert slept == [5] and len(transport.calls) == 3


_STATUS_URL = HttpResponse(200, headers={"Content-Location": "https://x/st"}, content=b"{}")
_TOKEN = HttpResponse(200, content=b'{"access_token": "tok-1", "expires_in": 300}')

# Each call that sends one request and must retry 429/503 like the poll:
# name -> (call, its success response, what the call returns from it).
_RETRYING_CALLS = {
    "kickoff_export": (lambda c: c.kickoff_export("https://x", "g1", "tok"), _STATUS_URL, "https://x/st"),
    "bulk_import": (
        lambda c: c.bulk_import("https://cg", "itok", {"resourceType": "Parameters"}), _STATUS_URL, "https://x/st"
    ),
    "bulk_delete": (lambda c: c.bulk_delete("https://cg", "itok"), _STATUS_URL, "https://x/st"),
    "fetch_export_file": (lambda c: c.fetch_export_file("https://x/f", "tok"), _STATUS_URL, b"{}"),
    "discover_token_url": (
        lambda c: c.discover_token_url("https://fhir/.well-known/smart-configuration"),
        HttpResponse(200, content=b'{"token_endpoint": "https://idp/token"}'),
        "https://idp/token",
    ),
    "get_access_token_client_secret": (
        lambda c: c.get_access_token("https://idp/token", "client-1", client_secret="s3cret")[0], _TOKEN, "tok-1"
    ),
    "get_access_token_signed_jwt": (
        lambda c: c.get_access_token("https://idp/token", signed_jwt="jwt")[0], _TOKEN, "tok-1"
    ),
}


@pytest.mark.parametrize("call", sorted(_RETRYING_CALLS))
def test_requests_honour_retry_after(call):
    """A 429 with Retry-After: 3 then a success sleeps [3] and returns."""
    send, success, expected = _RETRYING_CALLS[call]
    transport = _scripted([HttpResponse(429, headers={"Retry-After": "3"}), success])
    slept = []
    conn = FhirBulkConnector(transport=transport, sleep=slept.append)
    assert send(conn) == expected
    assert slept == [3] and len(transport.calls) == 2


@pytest.mark.parametrize("call", sorted(_RETRYING_CALLS))
def test_requests_raise_on_other_errors_and_spent_budget(call, monkeypatch):
    """A 400 raises at once; a 503 that never clears raises after
    MAX_SENDS sends."""
    send = _RETRYING_CALLS[call][0]
    transport = _scripted([HttpResponse(400, content=b"bad")])
    slept = []
    conn = FhirBulkConnector(transport=transport, sleep=slept.append)
    with pytest.raises(RuntimeError, match="400"):
        send(conn)
    assert slept == [] and len(transport.calls) == 1

    monkeypatch.setattr(fhir_bulk, "MAX_SENDS", 3)
    transport = _scripted([HttpResponse(503)] * 3)
    conn = FhirBulkConnector(transport=transport, sleep=slept.append)
    with pytest.raises(RuntimeError, match="503"):
        send(conn)
    assert slept == [2, 4] and len(transport.calls) == 3


def test_streamed_download_honours_retry_after(tmp_path):
    """The default transport streams a file to disk; a 503 with
    Retry-After before it is retried like the injected transport's."""
    import threading
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    answers = [(503, {"Retry-After": "5"}, b""), (200, {}, b"line\n")]

    class Handler(BaseHTTPRequestHandler):
        def do_GET(self):
            status, headers, body = answers.pop(0)
            self.send_response(status)
            for k, v in {**headers, "Content-Length": str(len(body))}.items():
                self.send_header(k, v)
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *args):
            pass

    server = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    try:
        slept = []
        conn = FhirBulkConnector(sleep=slept.append)
        dest = tmp_path / "f.ndjson"
        conn._download_to(f"http://127.0.0.1:{server.server_port}/f", "tok", str(dest))
    finally:
        server.shutdown()
        server.server_close()
        thread.join(10)
    assert not thread.is_alive()
    assert slept == [5] and answers == []
    assert dest.read_bytes() == b"line\n"


# ---- O10: managed-identity token provider (reference :244-251) ----


def _imds_transport(log):
    def transport(method, url, headers=None, data=None, params=None):
        log.append((method, url, dict(headers or {}), dict(params or {})))
        return HttpResponse(
            200,
            content=json.dumps(
                {"access_token": f"tok-{len(log)}", "expires_on": "4102444800"}
            ).encode(),
        )

    return transport


def test_managed_identity_imds_flow():
    import datetime as dt

    from capgemini_himss24_fhirbulkdata_demo_spark.connectors import (
        ManagedIdentityCredential,
        get_fhir_server_access_token,
    )
    from capgemini_himss24_fhirbulkdata_demo_spark.connectors.identity import (
        IMDS_ENDPOINT,
    )

    log = []
    cred = ManagedIdentityCredential(
        transport=_imds_transport(log),
        env={},
        now=lambda: dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc),
    )
    # reference-parity helper: scope form {server}/.default
    tok = get_fhir_server_access_token("https://fhir.example", credential=cred)
    assert tok == "tok-1"
    method, url, headers, params = log[0]
    assert (method, url) == ("GET", IMDS_ENDPOINT)
    assert headers == {"Metadata": "true"}
    # /.default scope suffix stripped to the bare resource URI
    assert params["resource"] == "https://fhir.example"
    assert params["api-version"] == "2018-02-01"
    # cached until expiry: second call makes no request
    assert cred.get_token("https://fhir.example/.default") == "tok-1"
    assert len(log) == 1


def test_managed_identity_app_service_endpoint_and_errors():
    import datetime as dt

    import pytest as _pytest

    from capgemini_himss24_fhirbulkdata_demo_spark.connectors import (
        ManagedIdentityCredential,
    )

    log = []
    cred = ManagedIdentityCredential(
        transport=_imds_transport(log),
        client_id="user-assigned-123",
        env={"IDENTITY_ENDPOINT": "http://localhost:8081/msi", "IDENTITY_HEADER": "sek"},
        now=lambda: dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc),
    )
    cred.get_token("https://vault.example")
    method, url, headers, params = log[0]
    assert url == "http://localhost:8081/msi"
    assert headers == {"X-IDENTITY-HEADER": "sek"}
    assert params["client_id"] == "user-assigned-123"
    assert params["api-version"] == "2019-08-01"

    def err_transport(method, url, headers=None, data=None, params=None):
        return HttpResponse(400, content=b"no identity")

    bad = ManagedIdentityCredential(transport=err_transport, env={})
    with _pytest.raises(RuntimeError, match="managed identity token request failed"):
        bad.get_token("https://fhir.example")


def test_managed_identity_honours_retry_after():
    """The identity endpoint's throttling answer (429) is retried under
    the connector's Retry-After rule; a 400 still raises at once."""
    from capgemini_himss24_fhirbulkdata_demo_spark.connectors import (
        ManagedIdentityCredential,
    )

    log, slept = [], []
    ok = _imds_transport(log)
    answers = iter([HttpResponse(429, headers={"Retry-After": "3"})])

    def throttled(method, url, headers=None, data=None, params=None):
        r = next(answers, None)
        return r or ok(method, url, headers=headers, data=data, params=params)

    cred = ManagedIdentityCredential(transport=throttled, env={}, sleep=slept.append)
    assert cred.get_token("https://fhir.example") == "tok-1"
    assert slept == [3.0]

    sends = []

    def bad_request(method, url, headers=None, data=None, params=None):
        sends.append(url)
        return HttpResponse(400, content=b"bad resource")

    slept.clear()
    bad = ManagedIdentityCredential(transport=bad_request, env={}, sleep=slept.append)
    with pytest.raises(RuntimeError, match="managed identity token request failed: 400"):
        bad.get_token("https://fhir.example")
    assert (len(sends), slept) == (1, [])


def test_access_token_expiry_is_timezone_aware():
    import datetime as dt

    def transport(method, url, headers=None, data=None, params=None):
        return HttpResponse(
            200, content=json.dumps({"access_token": "t", "expires_in": 3600}).encode()
        )

    conn = FhirBulkConnector(transport=transport)
    _, expires = conn.get_access_token("https://idp/token", signed_jwt="jwt")
    assert expires.tzinfo is not None
    # comparable against aware datetimes without TypeError
    assert expires > dt.datetime.now(dt.timezone.utc)


def test_poll_status_surfaces_x_progress(caplog):
    """Long export waits are observable: every X-Progress header seen
    on a 202 is logged (reference logs the header at __init__.py:298),
    whatever case the server spells its name in."""
    calls = {"n": 0}

    def transport(method, url, headers=None, data=None, params=None):
        calls["n"] += 1
        if calls["n"] < 3:
            name = "X-Progress" if calls["n"] == 1 else "x-progress"
            return HttpResponse(202, headers={name: f"{calls['n'] * 40}% complete"})
        return HttpResponse(200, content=b'{"output": []}')

    c = FhirBulkConnector(transport=transport, sleep=lambda s: None)
    with caplog.at_level(logging.INFO, logger=fhir_bulk.logger.name):
        body = c.poll_status("https://fhir/status", "tok")
    assert body == b'{"output": []}'
    assert [r.getMessage() for r in caplog.records] == [
        "https://fhir/status: 40% complete",
        "https://fhir/status: 80% complete",
    ]
