"""Streaming FHIR import: the incremental form of pipeline.run_bulk_import
(SURVEY §3.1 step 4 + §4.3.5).

The connector (or any export process) keeps landing NDJSON files into
``landing_dir``; this stream picks the new files up as a micro-batch
and hands their paths to ``pipeline.transform_landed_files`` — the same
driver the batch path runs, so a file comes out byte-identical either
way, and the unit of correctness (the EOB duplicate-id rule included)
is the landed file on both paths. The outputs go to a commit callback
that POSTs the ``Parameters`` manifest. Exactly-once comes from the
checkpoint: a replayed batch re-offers the same batch_id, so the commit
callback dedupes on it (manifest id = batch id), and the transform
rewrites the same output files.

The stream source is ``binaryFile`` with only ``path`` selected, so the
file contents are never read by the stream itself: it is a list of new
files, with no shuffle and no state. One stream per resource type; the
landing-file convention ``{Type}-*.json`` routes files to their stream
via glob.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from urllib.parse import urlsplit
from urllib.request import url2pathname

from pyspark.sql import DataFrame, SparkSession

from .. import pipeline

# the binaryFile source's fixed schema (streaming sources never infer)
BINARY_FILE_SCHEMA = "path STRING, modificationTime TIMESTAMP, length BIGINT, content BINARY"


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
):
    """Start the incremental transform→land→commit stream for one
    resource type. Returns the StreamingQuery.

    ``commit(ndjson_paths, batch_id)`` receives the written single-file
    NDJSON blobs for the batch, one per landed file — the slot where
    the FHIR ``$import`` manifest POST goes (idempotent on batch_id).
    """
    reader = spark.readStream.format("binaryFile").schema(BINARY_FILE_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    pattern = os.path.join(landing_dir, f"{resource_type}-*.json")
    stream = reader.load(pattern).select("path")

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        paths = sorted(url2pathname(urlsplit(r.path).path) for r in batch_df.collect())
        commit(
            pipeline.transform_landed_files(spark, paths, server_url, out_dir, rxnav),
            batch_id,
        )

    writer = stream.writeStream.option("checkpointLocation", checkpoint_dir)
    writer = writer.foreachBatch(process_batch)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
