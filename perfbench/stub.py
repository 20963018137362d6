"""In-process stub of the FHIR servers the connector talks to.

It is the ``transport`` injected into ``FhirBulkConnector`` and
``ManagedIdentityCredential``: SMART discovery, token exchange, the
managed-identity endpoint, ``$export`` kickoff, a seeded number of 202
polls carrying ``X-Progress``, export file fetch, and ``$import`` with
its status polls. Every ``$import`` body is validated as a FHIR
``Parameters`` manifest; an invalid one gets a 400, which the connector
raises on. ``sleep`` records the requested backoff and returns at once.
"""

from __future__ import annotations

import json
import os
import random
from datetime import datetime, timedelta, timezone
from urllib.parse import unquote, urlsplit

from capgemini_himss24_fhirbulkdata_demo_spark.connectors import HttpResponse
from capgemini_himss24_fhirbulkdata_demo_spark.connectors.fhir_bulk import NDJSON_CONTENT_TYPE

from .gen import ExportRequest

_T0 = datetime(2024, 3, 1, tzinfo=timezone.utc)  # first export's transactionTime


def manifest_errors(body) -> list[str]:
    """Why ``body`` is not a valid bulk ``$import`` Parameters manifest
    (empty list == valid): one ``inputFormat`` string naming NDJSON, then
    ``input`` entries whose ``type`` is a string and whose ``url`` is a
    string pointing at an existing single file of that resource type."""
    if not isinstance(body, dict) or body.get("resourceType") != "Parameters":
        return ["resourceType is not Parameters"]
    params = body.get("parameter")
    if not isinstance(params, list) or not params:
        return ["parameter is not a non-empty list"]
    errs = []
    fmt = [p for p in params if isinstance(p, dict) and p.get("name") == "inputFormat"]
    if len(fmt) != 1 or fmt[0].get("valueString") != NDJSON_CONTENT_TYPE:
        errs.append("inputFormat missing or not application/fhir+ndjson")
    inputs = [p for p in params if isinstance(p, dict) and p.get("name") == "input"]
    if not inputs:
        errs.append("no input entries")
    if len(fmt) + len(inputs) != len(params):
        errs.append("unknown parameter entries")
    for k, p in enumerate(inputs):
        parts = p.get("part")
        if not isinstance(parts, list):
            errs.append(f"input {k}: part is not a list")
            continue
        by_name = {q.get("name"): q for q in parts if isinstance(q, dict)}
        rtype = by_name.get("type", {}).get("valueString")
        url = by_name.get("url", {}).get("valueUri")
        if not isinstance(rtype, str) or not rtype:
            errs.append(f"input {k}: type.valueString missing or not a string")
        if not isinstance(url, str) or not url.startswith("file://"):
            errs.append(f"input {k}: url.valueUri missing or not a file:// string")
            continue
        path = url[len("file://"):]
        if not os.path.isfile(path):
            errs.append(f"input {k}: {url} is not a single file")
        elif isinstance(rtype, str) and not os.path.basename(path).startswith(rtype + "-"):
            errs.append(f"input {k}: file name does not match type {rtype}")
    return errs


class StubFhirServer:
    """All bench servers behind one transport callable.

    ``stage(request)`` sets what the next ``$export`` on that request's
    server returns. Counters (``calls``, ``polls``, ``bytes_served``,
    ``sleeps``) are read by the tracer; ``kickoffs`` and ``imports`` are
    read by the output checks.
    """

    def __init__(self, seed: int, max_polls: int = 2):
        self._rng = random.Random(seed)
        self._max_polls = max_polls
        self._staged: dict[str, ExportRequest] = {}
        self._jobs: dict[str, dict] = {}
        self._clock = 0
        self.calls = 0
        self.polls = 0
        self.bytes_served = 0
        self.sleeps: list[float] = []
        self.kickoffs: list[tuple[str, str | None]] = []  # (server, _since)
        self.imports: list[dict] = []

    # ---- harness side

    def stage(self, request: ExportRequest) -> None:
        self._staged[request.server_url] = request

    def sleep(self, seconds: float) -> None:
        self.sleeps.append(seconds)

    # ---- transport

    def __call__(self, method, url, headers=None, data=None, params=None) -> HttpResponse:
        self.calls += 1
        parts = urlsplit(url)
        base = f"{parts.scheme}://{parts.netloc}"
        path = parts.path
        if parts.netloc == "169.254.169.254" or path.endswith("/identity/oauth2/token"):
            return _json({"access_token": f"mi-{self.calls}", "expires_on": "4102444800"})
        if path.endswith("/.well-known/smart-configuration"):
            return _json({"token_endpoint": url.replace("/.well-known/smart-configuration", "/auth/token")})
        if path.endswith("/auth/token") and method == "POST":
            if not (data or {}).get("grant_type") == "client_credentials":
                return HttpResponse(400, content=b'{"error":"unsupported_grant_type"}')
            return _json({"access_token": f"tok-{self.calls}", "expires_in": 300})
        if not (headers or {}).get("Authorization", "").startswith("Bearer "):
            return HttpResponse(401, content=b"missing bearer token")
        if path.endswith("/$export") and method == "GET":
            return self._kickoff(url, parts)
        if "/jobs/" in path:
            return self._poll(path.rsplit("/", 1)[-1])
        if "/files/" in path:
            job, idx = path.rsplit("/", 2)[-2:]
            payload = self._jobs[job]["request"].files[int(idx)].payload
            self.bytes_served += len(payload)
            return HttpResponse(200, {"Content-Type": NDJSON_CONTENT_TYPE}, payload)
        if path.endswith("/$import") and method == "POST":
            try:
                body = json.loads(data)
            except (TypeError, ValueError):
                return HttpResponse(400, content=b"import body is not JSON")
            errs = manifest_errors(body)
            if errs:
                return HttpResponse(400, content=json.dumps(errs).encode())
            self.imports.append(body)
            return self._accept(base, {"result": "imported", "inputs": len(body["parameter"]) - 1})
        return HttpResponse(404, content=f"no route {method} {url}".encode())

    def _kickoff(self, url: str, parts) -> HttpResponse:
        server = url.split("/Group/")[0]
        request = self._staged.pop(server, None)
        if request is None:
            return HttpResponse(500, content=b"no export staged")
        # literal '+': the connector sends the cursor's UTC offset unencoded
        query = dict(kv.split("=", 1) for kv in parts.query.split("&") if "=" in kv)
        since = unquote(query["_since"]) if "_since" in query else None
        self.kickoffs.append((server, since))
        self._clock += 1
        job = self._new_job(server, request=request)
        job["manifest"] = {
            "transactionTime": (_T0 + timedelta(seconds=self._clock)).isoformat(),
            "requiresAccessToken": True,
            "output": [
                {"type": f.rtype, "url": f"{server}/files/{job['id']}/{i}"}
                for i, f in enumerate(request.files)
            ],
            "error": [],
        }
        return HttpResponse(202, {"Content-Location": f"{server}/jobs/{job['id']}"})

    def _accept(self, base: str, result: dict) -> HttpResponse:
        job = self._new_job(base, manifest=result)
        return HttpResponse(202, {"Content-Location": f"{base}/jobs/{job['id']}"})

    def _new_job(self, base: str, **kw) -> dict:
        jid = f"j{len(self._jobs)}"
        job = {"id": jid, "pending": self._rng.randint(0, self._max_polls), **kw}
        self._jobs[jid] = job
        return job

    def _poll(self, jid: str) -> HttpResponse:
        job = self._jobs[jid]
        if job["pending"] > 0:
            job["pending"] -= 1
            self.polls += 1
            return HttpResponse(202, {"X-Progress": f"{job['pending']} steps left"})
        return _json(job["manifest"])


def _json(payload: dict) -> HttpResponse:
    return HttpResponse(200, {"Content-Type": "application/json"}, json.dumps(payload).encode())
