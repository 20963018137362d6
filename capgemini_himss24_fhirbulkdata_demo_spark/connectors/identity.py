"""Managed-identity token provider (O10).

Re-expresses the reference's ``get_fhir_server_access_token``
(``FetchBulkData/__init__.py:244-251``): it calls
``DefaultAzureCredential().get_token(f'{fhir_server}/.default')`` and
returns the bearer token. In an Azure Functions host that credential
resolves to the *managed identity* of the function app, which under
the hood is one unauthenticated HTTP GET against the instance
metadata service (IMDS) — a stable, publicly documented protocol:

    GET http://169.254.169.254/metadata/identity/oauth2/token
        ?api-version=2018-02-01&resource=<resource>[&client_id=...]
    Metadata: true

(Managed-identity endpoint variants inside App Service/Functions use
``IDENTITY_ENDPOINT``/``IDENTITY_HEADER`` env vars with the same
query shape and an ``X-IDENTITY-HEADER`` secret header.)

The transport and ``sleep`` are injected exactly like
``FhirBulkConnector``'s, so the flow is fully testable without Azure;
a 429 or 503 (the identity endpoints' throttling answers) is retried
under the connector's ``Retry-After`` rule (``send_with_retry``).
Tokens are cached until close to expiry (the reference re-fetches
every call — at one request per pipeline run that's fine, but a
per-partition caller must not).
"""

from __future__ import annotations

import os
import time as _time
from collections.abc import Callable
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone

from .fhir_bulk import HttpResponse, Transport, _requests_transport, send_with_retry

IMDS_ENDPOINT = "http://169.254.169.254/metadata/identity/oauth2/token"
IMDS_API_VERSION = "2018-02-01"
APP_SERVICE_API_VERSION = "2019-08-01"
# A cached token is fetched again this long before it expires.
REFRESH_MARGIN = timedelta(minutes=5)


def _utcnow() -> datetime:
    return datetime.now(tz=timezone.utc)


@dataclass
class ManagedIdentityCredential:
    """Token provider with the reference credential's ``get_token``
    surface, backed by the IMDS / App-Service identity endpoints.

    Endpoint selection mirrors the public credential chain: the
    App-Service env pair (``IDENTITY_ENDPOINT`` + ``IDENTITY_HEADER``)
    wins when present, else raw IMDS. ``client_id`` selects a
    user-assigned identity; None = system-assigned.
    """

    transport: Transport | None = None
    client_id: str | None = None
    now: Callable[[], datetime] = _utcnow
    sleep: Callable[[float], None] = _time.sleep
    env: dict[str, str] | None = None  # None = os.environ (injectable)
    _cache: dict[str, tuple[str, datetime]] = field(default_factory=dict, init=False)

    def _get(self) -> tuple[Transport, dict[str, str]]:
        return self.transport or _requests_transport, (
            self.env if self.env is not None else dict(os.environ)
        )

    def get_token(self, resource: str) -> str:
        """Bearer token for ``resource`` (accepts the reference's
        ``{server}/.default`` scope form — the trailing ``/.default``
        is an AAD v2 scope suffix that the v1 identity endpoints do
        not take, so it is stripped to the bare resource URI)."""
        if resource.endswith("/.default"):
            resource = resource[: -len("/.default")]
        cached = self._cache.get(resource)
        if cached and cached[1] - REFRESH_MARGIN > self.now():
            return cached[0]
        transport, env = self._get()
        params = {"resource": resource}
        if self.client_id:
            params["client_id"] = self.client_id
        if env.get("IDENTITY_ENDPOINT") and env.get("IDENTITY_HEADER"):
            url = env["IDENTITY_ENDPOINT"]
            params["api-version"] = APP_SERVICE_API_VERSION
            headers = {"X-IDENTITY-HEADER": env["IDENTITY_HEADER"]}
        else:
            url = IMDS_ENDPOINT
            params["api-version"] = IMDS_API_VERSION
            headers = {"Metadata": "true"}
        r: HttpResponse = send_with_retry(
            lambda: transport("GET", url, headers=headers, params=params), self.sleep
        )
        if not r.ok:
            raise RuntimeError(
                f"managed identity token request failed: {r.status_code} "
                f"{r.content[:200]!r}"
            )
        body = r.json()
        token = body["access_token"]
        # IMDS returns expires_on as epoch seconds (sometimes a string);
        # App Service 2019-08-01 returns the same key
        expires = datetime.fromtimestamp(int(body["expires_on"]), tz=timezone.utc)
        self._cache[resource] = (token, expires)
        return token


def get_fhir_server_access_token(
    fhir_server: str, credential: ManagedIdentityCredential | None = None
) -> str:
    """Reference-parity helper (``__init__.py:244-251``): token for the
    FHIR server's ``/.default`` scope via the ambient identity."""
    credential = credential or ManagedIdentityCredential()
    return credential.get_token(f"{fhir_server}/.default")
