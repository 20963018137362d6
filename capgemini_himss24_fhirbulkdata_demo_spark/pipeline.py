"""End-to-end bulk ETL pipeline (SURVEY §3.1, re-architected).

The reference's ``POST /himss24demo/bulkimport/latest`` flow
(``FetchBulkData/__init__.py:619-684``) as a Spark job:

1. driver-side connector: auth → $export kickoff (with the persisted
   ``_since`` cursor) → poll → land NDJSON files;
2. **one Spark job per landed file** (``transform_landed_files``):
   read landed NDJSON (curated schema) → (source, resource) transform
   → write one NDJSON blob to the export area. Files are independent
   loads (the reference loops sequentially, ``:644``; here the files
   run concurrently — SURVEY §4.3.4). A file with no registered
   transform is copied byte for byte: identity needs no parse, and a
   re-serialization would drop every field outside the curated schema;
3. driver-side sink-commit: build the FHIR ``Parameters`` manifest →
   $import → poll → archive landed files → advance the cursor.

``transform_landed_files`` is the only FHIR transform driver, and its
unit of correctness is the landed file: the EOB duplicate-id rule sees
one file at a time, as the reference's manifest loop does. Incremental
runs are repeated requests with the persisted ``_since`` cursor.

The transforms join nothing (the RxNav lookup is a MAP literal, read
once per lookup DataFrame), and each landed file is read as one
partition, which already satisfies the EOB duplicate-id window. Step 2
therefore runs as one Spark job of one stage per file, EOB files
included. A malformed NDJSON line fails its file, and so the request,
before ``$import`` and before the cursor moves.
"""

from __future__ import annotations

import json
import logging
import os
import re
import shutil
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from datetime import datetime, timezone

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

logger = logging.getLogger(__name__)

from .connectors.fhir_bulk import FhirBulkConnector, build_import_manifest
from .connectors.state import HighWaterMark
from .sources.ndjson import read_ndjson, resource_type_from_name, write_ndjson
from .transforms import get_transform
from .transforms.fhir import bcda_explanation_of_benefit
from .transforms.schemas import RESOURCE_SCHEMAS

# Concurrent per-file jobs: bounds scheduler pressure, not correctness.
MAX_PARALLEL_FILES = 8
# OperationOutcome issue severities (FHIR IssueSeverity) that fail the
# request when the export manifest's ``error`` files report them.
FAILING_SEVERITIES = ("fatal", "error")


@dataclass
class PipelineResult:
    landed: list[str] = field(default_factory=list)
    transformed: dict[str, str] = field(default_factory=dict)  # path -> out dir
    import_status_url: str | None = None
    archived: list[str] = field(default_factory=list)
    since_advanced_to: str | None = None


def _output_path(path: str, out_dir: str) -> str:
    # one NDJSON FILE per export file: $import urls must point at a
    # single application/fhir+ndjson blob, not a part-file directory
    return os.path.join(out_dir, os.path.splitext(os.path.basename(path))[0] + ".ndjson")


def check_export_errors(connector: FhirBulkConnector, manifest: dict, token: str) -> None:
    """Fetch each file in the manifest's ``error`` array (NDJSON of
    ``OperationOutcome``) through ``fetch_export_file`` and raise if
    any issue is fatal or an error. Warnings and information are
    logged."""
    failing = []
    for entry in manifest.get("error", []):
        for line in connector.fetch_export_file(entry["url"], token).splitlines():
            if not line.strip():
                continue
            for issue in json.loads(line).get("issue", []):
                severity = issue.get("severity")
                text = issue.get("diagnostics") or (issue.get("details") or {}).get("text") or issue.get("code")
                if severity in FAILING_SEVERITIES:
                    failing.append(f"{severity}: {text}")
                else:
                    logger.warning("export reported %s: %s", severity, text)
    if failing:
        raise RuntimeError(f"export reported {len(failing)} failing issue(s): {'; '.join(failing[:5])}")


def transform_landed_file(
    spark: SparkSession,
    path: str,
    server_url: str,
    out_dir: str,
    rxnav: DataFrame | None = None,
) -> str:
    """Step 2 for one landed file: read → transform → write NDJSON.

    Returns the output path. A (source, resource) pair without a
    transform passes through untouched (the reference ignores it too):
    the landed file is copied byte for byte, with no Spark job.

    The file is read as one partition: the sink writes one blob from
    one task anyway, and a single-partition input satisfies the EOB
    duplicate-id window, so the plan has no shuffle and runs as one
    job of one stage.

    T16 count audit (``__init__.py:532`` "{kept}/{total} will be
    loaded") rides the write as ``observe`` metrics — single pass, no
    extra jobs, unlike the reference's len() bookkeeping.
    """
    name = os.path.basename(path)
    out = _output_path(path, out_dir)
    resource = resource_type_from_name(path)
    fn = get_transform(server_url, resource)
    if fn is None:
        os.makedirs(out_dir, exist_ok=True)
        shutil.copyfile(path, out)
        logger.info("%s: passed through unchanged", name)
        return out
    obs_in = Observation(f"in:{name}")
    df = read_ndjson(spark, path, RESOURCE_SCHEMAS.get(resource)).coalesce(1)
    df = fn(df.observe(obs_in, F.count(F.lit(1)).alias("n")), rxnav)
    obs_out = Observation(f"out:{name}")
    write_ndjson(df.observe(obs_out, F.count(F.lit(1)).alias("n")), out, single_file=True)
    logger.info(
        "%s: %s/%s resources will be loaded", name, obs_out.get["n"], obs_in.get["n"]
    )
    return out


def transform_landed_files(
    spark: SparkSession,
    paths: list[str],
    server_url: str,
    out_dir: str,
    rxnav: DataFrame | None = None,
) -> list[str]:
    """Step 2 for many landed files; returns the output paths in
    ``paths`` order.

    Files transform as CONCURRENT Spark jobs (driver-side thread pool —
    the standard multi-job submission pattern): each file's job is
    narrow and its single-blob NDJSON write is one task
    (``write_ndjson(single_file=True)``), so a sequential loop would
    execute the whole stage nearly single-threaded.

    Raises ``ValueError`` before any job runs when a bcda
    ExplanationOfBenefit file has no lookup (``rxnav=None``).
    """
    if rxnav is None and any(
        get_transform(server_url, resource_type_from_name(p)) is bcda_explanation_of_benefit
        for p in paths
    ):
        raise ValueError(
            "bcda ExplanationOfBenefit files need the RxNav lookup: pass rxnav="
        )
    with ThreadPoolExecutor(max_workers=MAX_PARALLEL_FILES) as pool:
        futures = [
            pool.submit(transform_landed_file, spark, p, server_url, out_dir, rxnav)
            for p in paths
        ]
        return [f.result() for f in futures]


def run_bulk_import(
    spark: SparkSession,
    connector: FhirBulkConnector,
    server_url: str,
    group_id: str,
    token: str,
    import_server: str,
    import_token: str,
    work_dir: str,
    rxnav: DataFrame | None = None,
    state: HighWaterMark | None = None,
    client_id: str = "client",
    blob_base_url: str = "file://",
) -> PipelineResult:
    """The full export → transform → import → archive flow; landed
    files transform through ``transform_landed_files``.

    ``rxnav`` (``RXNAV_LOOKUP_SCHEMA``: ndc, name, rxnorm) is reference
    data, needed when the export holds bcda ExplanationOfBenefit files.
    It is read the first time a transform uses it, and that snapshot
    serves every later request given the same DataFrame object. To
    refresh the lookup, pass a new DataFrame.

    An export whose manifest ``error`` files report a fatal or error
    issue fails the request before anything is landed
    (``check_export_errors``). A request that fails before the
    ``$import`` kickoff removes the files it landed and the outputs it
    wrote, then re-raises. Once the kickoff is sent they stay, because
    the import server may be reading them. A failed request leaves the
    cursor where it was.
    """
    res = PipelineResult()
    since = state.get(server_url, group_id) if state else None
    # Fallback cursor only — a FHIR _since must carry a timezone
    # (YYYY-MM-DDThh:mm:ss+zz:zz); the manifest's transactionTime (the
    # server-side high-water mark) is preferred when present.
    run_started = datetime.now(timezone.utc).isoformat(timespec="seconds")

    status_url = connector.kickoff_export(server_url, group_id, token, since=since)
    manifest = json.loads(connector.poll_status(status_url, token))
    next_cursor = manifest.get("transactionTime") or run_started
    check_export_errors(connector, manifest, token)

    landing = os.path.join(work_dir, "landing")
    out_dir = os.path.join(work_dir, "export")
    res.landed = connector.land_export(manifest, token, landing, client_id=client_id)
    try:
        outs = transform_landed_files(spark, res.landed, server_url, out_dir, rxnav)
        res.transformed = dict(zip(res.landed, outs))
        entries = [
            (p, f"{blob_base_url}{res.transformed[p]}") for p in res.landed
        ]
        import_body = build_import_manifest(entries)
    except BaseException:
        for p in res.landed:
            for f in (p, _output_path(p, out_dir)):
                if os.path.exists(f):
                    os.remove(f)
        raise
    res.import_status_url = connector.bulk_import(import_server, import_token, import_body)
    connector.poll_status(res.import_status_url, import_token)

    res.archived = connector.archive_files(res.landed, os.path.join(work_dir, "archive"))
    if state is not None:
        state.advance(server_url, group_id, next_cursor)
        res.since_advanced_to = next_cursor
    return res


def restamp_seed_name(name: str, timestamp: int) -> str:
    """K5: replace every digit run in a seed blob name with a fresh
    epoch stamp (``re.sub('\\d+', ts)`` copy+delete,
    ``FetchBulkData/__init__.py:698-716``) so re-imports don't collide
    on versioned names."""
    return re.sub(r"\d+", str(timestamp), name)


def run_reset_and_seed(
    connector: FhirBulkConnector,
    import_server: str,
    import_token: str,
    seed_dir: str,
    work_dir: str,
    timestamp: int,
    blob_base_url: str = "file://",
) -> dict:
    """The reset flow (SURVEY §3.2, ``__init__.py:686-726``):
    $bulk-delete → poll → re-stamp seed files (K5) → import manifest
    → $import → poll. Returns {deleted, seeded, import_status_url}.
    """
    delete_status = connector.bulk_delete(import_server, import_token)
    connector.poll_status(delete_status, import_token)

    os.makedirs(work_dir, exist_ok=True)
    seeded: list[str] = []
    for name in sorted(os.listdir(seed_dir)):
        new_name = restamp_seed_name(name, timestamp)
        dst = os.path.join(work_dir, new_name)
        shutil.copyfile(os.path.join(seed_dir, name), dst)
        seeded.append(dst)

    entries = [(p, f"{blob_base_url}{p}") for p in seeded]
    body = build_import_manifest(entries)
    import_status = connector.bulk_import(import_server, import_token, body)
    connector.poll_status(import_status, import_token)
    return {
        "deleted": delete_status,
        "seeded": seeded,
        "import_status_url": import_status,
    }
