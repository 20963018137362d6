"""FHIR Bulk Data connector (driver-side; SURVEY §3.1 steps 1–3 & 5).

Re-expresses the reference's orchestration (``FetchBulkData/
__init__.py``): token-URL discovery (:31-39, O7), RS384 JWT client
assertion (:63-111, O8 — signing callable injected; Key Vault / local
key both fit), token exchange (:120-173, O9), $export kickoff with
``Prefer: respond-async`` + ``_since`` cursor (:175-189,609-613,
O3/O4), exponential-backoff polling (:282-326, O5), NDJSON download
(:328-336, S1), FHIR ``Parameters`` import manifest (:205-242, T20),
$import / $bulk-delete kickoff (:253-280, K2/K3).

Everything I/O-ish is injected: ``transport(method, url, headers,
data) -> HttpResponse``, ``sleep``, ``now``, ``make_jti``. The default
transport uses ``requests`` when available.

Architectural fix vs the reference: the download loop lands files
into a directory consumed by the Spark batch transform instead of
holding whole files in memory; manifest entries are processed
independently (parallel loads) instead of a sequential for-loop
(``:644``; SURVEY §4.3.4).
"""

from __future__ import annotations

import hashlib
import json
import logging
import os
import time as _time
import uuid
from calendar import timegm
from collections.abc import Callable
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone
from email.utils import parsedate_to_datetime
from urllib.parse import urlencode

from ..functions.encoding import b64url_encode_py
from ..sources.ndjson import resource_type_from_name

logger = logging.getLogger(__name__)

JWT_BEARER = "urn:ietf:params:oauth:client-assertion-type:jwt-bearer"
NDJSON_CONTENT_TYPE = "application/fhir+ndjson"


class Headers(dict):
    """Response headers whose lookups ignore case, as header names do
    (RFC 9110 §5.1): a server or proxy may send ``content-location``
    or ``retry-after`` in lower case. Names are stored lower-cased."""

    def __init__(self, items=()):
        super().__init__((k.lower(), v) for k, v in dict(items).items())

    def __getitem__(self, name: str) -> str:
        return super().__getitem__(name.lower())

    def __setitem__(self, name: str, value: str) -> None:
        super().__setitem__(name.lower(), value)

    def __contains__(self, name) -> bool:
        return super().__contains__(name.lower())

    def get(self, name: str, default=None):
        return super().get(name.lower(), default)


@dataclass
class HttpResponse:
    status_code: int
    headers: dict[str, str] = field(default_factory=dict)
    content: bytes = b""

    def __post_init__(self):
        self.headers = Headers(self.headers)

    @property
    def ok(self) -> bool:
        return 200 <= self.status_code < 300

    def json(self):
        return json.loads(self.content)


Transport = Callable[..., HttpResponse]

# Statuses after which a Bulk Data server expects the client to retry
# the same request, waiting as its ``Retry-After`` header says.
RETRYABLE_STATUSES = (429, 503)
# A status poll also comes back on 202 (export or import in progress).
POLL_RETRY_STATUSES = (202, *RETRYABLE_STATUSES)
# Sends per request (retries included) before a retryable response is
# returned.
MAX_SENDS = 100


def _retry_after_s(value: str | None) -> float | None:
    """Seconds to wait from a ``Retry-After`` header (RFC 9110 §10.2.3:
    delta-seconds or an HTTP-date); None when absent or unreadable."""
    if value is None:
        return None
    value = value.strip()
    if value.isdigit():
        return float(value)
    try:
        when = parsedate_to_datetime(value)
    except (TypeError, ValueError):
        return None
    if when.tzinfo is None:
        when = when.replace(tzinfo=timezone.utc)
    return max(0.0, (when - datetime.now(tz=timezone.utc)).total_seconds())


def _retry_wait(r, n: int) -> float:
    """Seconds to wait after send ``n`` drew a retryable ``r``: its
    ``Retry-After``, or 2·n without one."""
    wait = _retry_after_s(r.headers.get("Retry-After"))
    return 2 * n if wait is None else wait


def send_with_retry(
    send: Callable[[], HttpResponse],
    sleep: Callable[[float], None],
    retry_on: tuple[int, ...] = RETRYABLE_STATUSES,
) -> HttpResponse:
    """Call ``send`` again while it answers a ``retry_on`` status,
    sleeping as ``_retry_wait`` says, for at most ``MAX_SENDS`` sends.
    Returns the first other response, or the last one when the budget
    is spent; the caller decides what an error means."""
    r, n = send(), 1
    while r.status_code in retry_on and n < MAX_SENDS:
        close = getattr(r, "close", None)  # a streamed response holds its connection
        if close is not None:
            close()
        sleep(_retry_wait(r, n))
        r, n = send(), n + 1
    return r


def _requests_transport(method: str, url: str, headers=None, data=None, params=None):
    import requests

    r = requests.request(method, url, headers=headers, data=data, params=params)
    return HttpResponse(r.status_code, r.headers, r.content)


def build_jwt_assertion(
    client_id: str,
    token_url: str,
    signer: Callable[[bytes], bytes],
    kid: str = "",
    now: Callable[[], datetime] | None = None,
    make_jti: Callable[[], str] | None = None,
) -> str:
    """SMART Backend Services RS384 client assertion (O8).

    ``signer`` receives the SHA-384 digest of ``b64(header).b64(payload)``
    and returns the RS384 signature bytes — the Key Vault crypto client
    slot in the reference (``__init__.py:100``), or any local RSA key.
    """
    now = now or (lambda: datetime.now(tz=timezone.utc))
    make_jti = make_jti or (lambda: str(uuid.uuid4()))
    header = {"alg": "RS384", "typ": "JWT", "kid": kid}
    payload = {
        "sub": client_id,
        "iss": client_id,
        "aud": token_url,
        "jti": make_jti(),
        "exp": timegm((now() + timedelta(minutes=5)).utctimetuple()),
    }
    b64_h = b64url_encode_py(json.dumps(header, separators=(",", ":")).encode())
    b64_p = b64url_encode_py(json.dumps(payload, separators=(",", ":")).encode())
    signing_input = f"{b64_h}.{b64_p}".encode()
    signature = signer(hashlib.sha384(signing_input).digest())
    return f"{b64_h}.{b64_p}.{b64url_encode_py(signature)}"


def build_import_manifest(blob_entries: list[tuple[str, str]]) -> dict:
    """FHIR ``Parameters`` import body (T20, ``__init__.py:205-242``).

    ``blob_entries`` = [(blob_name, url)]; the resource type is read
    from the blob name (``resource_type_from_name``, ``:218``).
    """
    parameter = [{"name": "inputFormat", "valueString": NDJSON_CONTENT_TYPE}]
    for blob_name, url in blob_entries:
        parameter.append(
            {
                "name": "input",
                "part": [
                    {"name": "type", "valueString": resource_type_from_name(blob_name)},
                    {"name": "url", "valueUri": url},
                ],
            }
        )
    return {"resourceType": "Parameters", "parameter": parameter}


class FhirBulkConnector:
    """End-to-end bulk $export → land → $import orchestration."""

    def __init__(
        self,
        transport: Transport | None = None,
        sleep: Callable[[float], None] = _time.sleep,
    ):
        self.transport = transport or _requests_transport
        self.sleep = sleep

    def _send(self, send: Callable[[], HttpResponse]) -> HttpResponse:
        """``send_with_retry`` with this connector's ``sleep``."""
        return send_with_retry(send, self.sleep)

    # ---- auth (O7/O9) ----

    def discover_token_url(self, smart_config_url: str) -> str:
        """The token endpoint from the server's SMART configuration. A
        429 or 503 is retried as ``_send`` says."""
        r = self._send(lambda: self.transport("GET", smart_config_url))
        if not r.ok:
            raise RuntimeError(f"SMART configuration lookup failed: {r.status_code}")
        try:
            return r.json()["token_endpoint"]
        except Exception as e:
            raise RuntimeError("Could not find token url") from e

    def get_access_token(
        self,
        token_url: str,
        client_id: str | None = None,
        client_secret: str | None = None,
        signed_jwt: str | None = None,
        scope: str = "",
    ) -> tuple[str, datetime]:
        """Exchange a signed JWT or a client secret for an access token
        and its expiry. A 429 or 503 is retried as ``_send`` says."""
        if signed_jwt is not None and client_secret is not None:
            raise ValueError("use either signed_jwt or client_secret, not both")
        if signed_jwt is not None:
            r = self._send(lambda: self.transport(
                "POST",
                token_url,
                data={
                    "grant_type": "client_credentials",
                    "client_assertion_type": JWT_BEARER,
                    "client_assertion": signed_jwt,
                    "scope": scope,
                },
            ))
        elif client_secret is not None:
            if client_id is None:
                raise ValueError("client_secret requires client_id")
            # RFC 7617 Basic auth: STANDARD base64 with padding (the
            # reference's padding-stripped urlsafe form, __init__.py:144,
            # is rejected by compliant servers); RFC 6749 §4.4.2 further
            # requires grant_type in the body.
            import base64 as _b64

            basic = _b64.b64encode(f"{client_id}:{client_secret}".encode()).decode()
            r = self._send(lambda: self.transport(
                "POST",
                token_url,
                headers={"Authorization": f"Basic {basic}", "accept": "application/json"},
                data={"grant_type": "client_credentials"},
            ))
        else:
            raise ValueError("need one of signed_jwt or client_secret")
        if not r.ok:
            raise RuntimeError(f"token exchange failed: {r.status_code}")
        body = r.json()
        # timezone-aware UTC: a naive expiry compares as TypeError
        # against the module's aware datetimes and skews by the host's
        # UTC offset
        expires = datetime.now(tz=timezone.utc) + timedelta(
            seconds=int(body["expires_in"])
        )
        return body["access_token"], expires

    # ---- export (O3/O4/O5, S1) ----

    def kickoff_export(
        self, server_url: str, group_id: str, token: str, since: str | None = None
    ) -> str:
        """GET Group/{id}/$export with respond-async; returns the
        status URL. ``since`` is the incremental high-water mark
        (``_since=YYYY-MM-DDThh:mm:ss+zz:zz``, O4), percent-encoded so a
        form-decoding server does not read the offset's ``+`` as a
        space. A 429 or 503 is retried as ``_send`` says."""
        url = f"{server_url}/Group/{group_id}/$export"
        if since:
            url += "?" + urlencode({"_since": since}, safe=":")
        headers = {
            "Accept": "application/fhir+json",
            "Prefer": "respond-async",
            "Authorization": f"Bearer {token}",
        }
        r = self._send(lambda: self.transport("GET", url, headers=headers))
        if not (r.ok and "Content-Location" in r.headers):
            raise RuntimeError(
                f"export kickoff failed: {r.status_code} {r.content[:200]!r}"
            )
        return r.headers["Content-Location"]

    def poll_status(self, status_url: str, token: str) -> bytes:
        """Poll the status URL until 200 (reference ``:282-326``) and
        return the body; raises on error statuses.

        A 202 (in progress), 429 or 503 is a request to come back later
        (HL7 Bulk Data IG): the poll sleeps for its ``Retry-After``
        (delta-seconds or HTTP-date), or 2·n without one, and sends
        again, through ``send_with_retry``. ``TimeoutError`` once its
        ``MAX_SENDS`` budget is spent.

        Servers report progress in the ``X-Progress`` header of a 202
        (reference logs it at ``__init__.py:298``); each value is logged
        so long waits are observable.
        """
        headers = {
            "Authorization": f"Bearer {token}",
            "Prefer": "respond-async",
            "Accept": "application/fhir+json",
        }

        def send() -> HttpResponse:
            r = self.transport("GET", status_url, headers=headers)
            progress = r.headers.get("X-Progress") if r.status_code == 202 else None
            if progress is not None:
                logger.info("%s: %s", status_url, progress)
            return r

        r = send_with_retry(send, self.sleep, POLL_RETRY_STATUSES)
        if r.status_code == 200:
            return r.content
        if r.status_code in POLL_RETRY_STATUSES:
            raise TimeoutError("polling taking too long")
        raise RuntimeError(f"poll failed: {r.status_code} {r.content[:200]!r}")

    def fetch_export_file(self, data_url: str, token: str) -> bytes:
        """GET one export file; a 429 or 503 is retried as ``_send``
        says, and any other error status raises."""
        headers = {"Authorization": f"Bearer {token}", "Accept": NDJSON_CONTENT_TYPE}
        r = self._send(lambda: self.transport("GET", data_url, headers=headers))
        # an error body (e.g. a 404 OperationOutcome) is not export data
        if not r.ok:
            raise RuntimeError(
                f"export file fetch failed: {r.status_code} {r.content[:200]!r}"
            )
        return r.content

    def _download_to(self, data_url: str, token: str, dest_path: str) -> None:
        """Chunk-stream a file to disk when running on the default
        requests transport (multi-GB export files must not buffer in
        driver memory); injected transports fall back to the in-memory
        interface (tests, small fixtures). Both retry a 429 or 503 as
        ``_send`` says."""
        if self.transport is not _requests_transport:
            data = self.fetch_export_file(data_url, token)
            with open(dest_path, "wb") as f:
                f.write(data)
            return
        import requests

        headers = {"Authorization": f"Bearer {token}", "Accept": NDJSON_CONTENT_TYPE}
        with self._send(lambda: requests.get(data_url, headers=headers, stream=True)) as r:
            r.raise_for_status()
            with open(dest_path, "wb") as f:
                for chunk in r.iter_content(chunk_size=1 << 20):
                    f.write(chunk)

    def land_export(
        self, manifest: dict, token: str, landing_dir: str, client_id: str = "export"
    ) -> list[str]:
        """Download every manifest output file into ``landing_dir``
        using the reference blob-name convention
        ``{Type}-{clientId}-{uuid}.json`` (``:653``); returns paths.

        Files are independent — at scale this loop parallelizes
        trivially (thread pool / one Spark task per file); kept simple
        here because the downloads are driver-side network I/O. A
        failed download removes the files this call landed, the
        partial one included, and re-raises.
        """
        os.makedirs(landing_dir, exist_ok=True)
        out = []
        try:
            for entry in manifest.get("output", []):
                name = f"{entry['type']}-{client_id}-{uuid.uuid4()}.json"
                out.append(os.path.join(landing_dir, name))
                self._download_to(entry["url"], token, out[-1])
        except BaseException:
            for path in out:
                if os.path.exists(path):
                    os.remove(path)
            raise
        return out

    # ---- import / delete (K2/K3) ----

    def bulk_import(self, fhir_server: str, token: str, import_body: dict) -> str:
        """POST the import manifest to ``$import``; returns the status
        URL. A 429 or 503 is retried as ``_send`` says."""
        headers = {
            "Authorization": f"Bearer {token}",
            "Prefer": "respond-async",
            "Content-Type": "application/fhir+json",
        }
        body = json.dumps(import_body).encode()
        r = self._send(
            lambda: self.transport("POST", f"{fhir_server}/$import", headers=headers, data=body)
        )
        if not r.ok:
            raise RuntimeError(f"failed to kick off import: {r.status_code}")
        return r.headers["Content-Location"]

    def bulk_delete(self, fhir_server: str, token: str) -> str:
        """Kick off ``$bulk-delete``; returns the status URL. A 429 or
        503 is retried as ``_send`` says."""
        r = self._send(lambda: self.transport(
            "DELETE",
            f"{fhir_server}/$bulk-delete",
            headers={
                "Authorization": f"Bearer {token}",
                "Prefer": "respond-async",
                "Content-Type": "application/fhir+json",
            },
            params={"_hardDelete": "True"},
        ))
        if not r.ok:
            raise RuntimeError(f"failed to kick off delete: {r.status_code}")
        return r.headers["Content-Location"]

    # ---- archive (K4/K5) ----

    @staticmethod
    def archive_files(paths: list[str], archive_dir: str) -> list[str]:
        """Move landed files to an archive dir (blob copy+delete
        ``:338-349`` as a local FS rename)."""
        os.makedirs(archive_dir, exist_ok=True)
        out = []
        for p in paths:
            dst = os.path.join(archive_dir, os.path.basename(p))
            os.replace(p, dst)
            out.append(dst)
        return out
