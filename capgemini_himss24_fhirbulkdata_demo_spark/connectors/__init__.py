"""Driver-side connectors (SURVEY §2A sources/sinks + O3–O10).

The FHIR Bulk Data connector orchestrates: SMART auth → $export
kickoff → backoff polling → NDJSON fetch → landing dir (where the
Spark batch transform takes over) → $import manifest commit →
archive. All network and clock effects are injected (transport /
sleep / signer / now) so the whole flow is testable offline.
"""

from .fhir_bulk import (  # noqa: F401
    FhirBulkConnector,
    HttpResponse,
    build_import_manifest,
    build_jwt_assertion,
)
from .identity import (  # noqa: F401
    ManagedIdentityCredential,
    get_fhir_server_access_token,
)
