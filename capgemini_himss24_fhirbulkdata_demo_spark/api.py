"""HTTP-shaped entry points (SURVEY §2A O1/O2, S4, K6).

The reference's single Azure Function routes
``himss24demo/{datatype}/{period}`` into four flows
(``FetchBulkData/__init__.py:546-746``). This module reproduces that
surface as a framework-agnostic dispatcher: any web framework (or the
Functions host) adapts its request object into :func:`handle_request`
and writes back the returned (status, body, headers).

- O1 route dispatch: (method, datatype, period) → pipeline
  (``:546-563,569,686,728``)
- O2 request validation: required body params → 400 envelope
  (``:572-607``)
- S4 static report: serve the analytics page (``:563-567``) — except
  here the "analytics" is the engine itself, so the report is a
  pointer to the query surface rather than a Power BI iframe
- K6 JSON response sink: result/error envelopes (``:736-746``)
"""

from __future__ import annotations

import json
import mimetypes
import os
from collections.abc import Callable
from dataclasses import dataclass, field

REQUIRED_IMPORT_PARAMS = ("server-url", "client-id", "group-id")
# smart-url or token-url satisfies discovery (reference accepts either,
# ``__init__.py:575-580``)
ONE_OF_PARAMS = ("smart-url", "token-url")

REPORT_HTML = """<!DOCTYPE html>
<html><head><title>Analytics</title></head>
<body><h1>Engine analytics</h1>
<p>Analytics are served natively by the Spark SQL surface — see
__spark_entry__.queries() instead of an embedded BI iframe.</p></body></html>
"""


@dataclass
class ApiResponse:
    status_code: int
    body: bytes
    headers: dict[str, str] = field(default_factory=dict)

    @classmethod
    def json(cls, payload: dict, status: int = 200) -> "ApiResponse":
        """K6: serialize a result dict to a JSON HTTP response
        (``__init__.py:736-746``)."""
        return cls(status, json.dumps(payload).encode(), {"Content-Type": "application/json"})


def validate_import_request(body: dict) -> list[str]:
    """O2: names of missing required params (empty == valid)."""
    missing = [p for p in REQUIRED_IMPORT_PARAMS if not body.get(p)]
    if not any(body.get(p) for p in ONE_OF_PARAMS):
        missing.append(" or ".join(ONE_OF_PARAMS))
    return missing


def serve_static(path: str) -> ApiResponse:
    """S4: serve a static file with a guessed mimetype
    (``__init__.py:563-567``)."""
    if not os.path.exists(path):
        return ApiResponse(404, b"not found", {"Content-Type": "text/plain"})
    mime, _ = mimetypes.guess_type(path)
    with open(path, "rb") as f:
        return ApiResponse(200, f.read(), {"Content-Type": mime or "application/octet-stream"})


def handle_request(
    method: str,
    datatype: str,
    period: str,
    body: dict | None,
    run_latest: Callable[[dict], dict],
    run_initial: Callable[[dict], dict],
    get_token: Callable[[], str] | None = None,
) -> ApiResponse:
    """O1: the reference's route table, side effects injected.

    - POST bulkimport/latest  → validate → ``run_latest(body)``
    - POST bulkimport/initial → ``run_initial(body)``
    - GET  analytics/report   → the report page
    - GET  token/*            → bearer token for the FHIR server
    Unknown routes → 400 envelope (the reference falls through to an
    error response, ``:740-746``).
    """
    method = method.upper()
    try:
        if method == "POST" and datatype == "bulkimport" and period == "latest":
            missing = validate_import_request(body or {})
            if missing:
                return ApiResponse.json(
                    {"error": f"missing required parameter(s): {', '.join(missing)}"},
                    status=400,
                )
            return ApiResponse.json(run_latest(body or {}))
        if method == "POST" and datatype == "bulkimport" and period == "initial":
            return ApiResponse.json(run_initial(body or {}))
        if method == "GET" and datatype == "analytics" and period == "report":
            return ApiResponse(200, REPORT_HTML.encode(), {"Content-Type": "text/html"})
        if method == "GET" and datatype == "token":
            if get_token is None:
                return ApiResponse.json({"error": "token provider not configured"}, 500)
            return ApiResponse.json({"access_token": get_token()})
        return ApiResponse.json(
            {"error": f"unsupported route {method} {datatype}/{period}"}, status=400
        )
    except Exception as e:  # K6 error envelope (``:682-684,740-746``)
        return ApiResponse.json({"error": str(e)}, status=500)
