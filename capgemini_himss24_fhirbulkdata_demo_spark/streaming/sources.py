"""Streaming sources: file-based landing directories.

An export process lands files into a directory; the stream picks up
each new file as a micro-batch — the Spark-native replacement for the
reference's poll-then-fetch loop (``FetchBulkData/__init__.py:282-336``).
The file-source checkpoint (processed-files log) subsumes the ``_since``
high-water mark (``:609-613``): restarts resume exactly where the last
run stopped. FHIR NDJSON files are not streamed: the
``bulkimport/latest`` route transforms each landed file in batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def read_parquet_stream(
    spark: SparkSession,
    landing_dir: str,
    schema: StructType,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """readStream over a parquet landing dir (schema mandatory —
    streaming reads never infer)."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(landing_dir)
