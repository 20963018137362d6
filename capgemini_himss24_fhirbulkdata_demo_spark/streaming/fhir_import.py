"""Streaming FHIR import: the incremental form of pipeline.run_bulk_import
(SURVEY §3.1 step 4 + §4.3.5).

The connector (or any export process) keeps landing NDJSON files into
``landing_dir``; this stream picks each file up as a micro-batch,
applies the (source, resource) transform, writes a single $import-ready
NDJSON blob per batch, and hands (paths, batch_id) to a commit callback
that POSTs the ``Parameters`` manifest. Exactly-once comes from the
checkpoint: a replayed batch re-offers the same batch_id, so the commit
callback dedupes on it (manifest id = batch id).

One stream per resource type (schemas differ); the landing-file
convention ``{Type}-*.json`` routes files to their stream via glob.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from ..sources.ndjson import write_ndjson
from ..transforms import get_transform
from ..transforms.schemas import RESOURCE_SCHEMAS
from .runner import DEFAULT_STATE_PARTITIONS, start_stateful_query
from .sources import read_ndjson_stream


def start_streaming_import(
    spark: SparkSession,
    landing_dir: str,
    resource_type: str,
    server_url: str,
    out_dir: str,
    checkpoint_dir: str,
    commit: Callable[[list[str], int], None],
    rxnav: DataFrame | None = None,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    state_partitions: int | None = DEFAULT_STATE_PARTITIONS,
):
    """Start the incremental transform→land→commit stream for one
    resource type. Returns the StreamingQuery.

    ``commit(ndjson_paths, batch_id)`` receives the written single-file
    NDJSON blobs for the batch — the slot where the FHIR ``$import``
    manifest POST goes (idempotent on batch_id).

    ``state_partitions`` right-sizes the per-micro-batch shuffle (the
    EOB transform's duplicate-id window) the same way the stateful
    runner sizes state stores — a micro-batch is one landing file, so
    the session's batch-scale shuffle default is far oversized here;
    ``None`` inherits the session default.
    """
    schema = RESOURCE_SCHEMAS.get(resource_type)
    if schema is None:
        raise ValueError(f"no curated schema for resource type {resource_type!r}")
    pattern = os.path.join(landing_dir, f"{resource_type}-*.json")
    stream = read_ndjson_stream(
        spark, pattern, schema, max_files_per_trigger=max_files_per_trigger
    )
    fn = get_transform(server_url, resource_type)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        out = batch_df if fn is None else fn(batch_df, rxnav)
        path = os.path.join(out_dir, f"{resource_type}-batch-{batch_id}.ndjson")
        write_ndjson(out, path, single_file=True)
        commit([path], batch_id)

    return start_stateful_query(
        stream,
        checkpoint_dir,
        foreach_batch=process_batch,
        trigger_available_now=available_now,
        state_partitions=state_partitions,
    )
