"""NDJSON source/sink (SURVEY §2A S1/K1/T1/T18/T19).

The reference's wire format: one FHIR resource (JSON document) per
line, one file per resource type (``FetchBulkData/__init__.py:359``
decode/split/parse; ``:535`` re-join; ``:218`` type-from-filename).

Spark mapping (SURVEY §1.2): ``spark.read.json`` *is* T1 (decode,
line-split, per-line parse, null-on-missing) — distributed, spilling,
vectorized. The sink is the native ``df.write.json`` (r7; previously
``to_json(struct(*))`` + text write — byte-identical output, same
Jackson generator, minus one projection), which reproduces
``'\\n'.join(...)`` with absent-key semantics for nulls
(``ignoreNullFields`` default true).

Scale: a landing *directory* of NDJSON files is one distributed scan
(each file ≥1 task, big files split on line boundaries); schema is
curated (transforms/schemas.py) so reads never pay inference.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def read_ndjson(
    spark: SparkSession, path: str, schema: StructType | None = None
) -> DataFrame:
    """Read NDJSON file(s)/directory into a DataFrame.

    With a curated ``schema``, missing fields are null (the
    reference's tolerant ``try/except KeyError`` behavior); without,
    Spark infers by sampling (dev only — SURVEY §1.2).

    A malformed line (truncated, not JSON) fails the read, as the
    reference's ``json.loads`` raises on it: the default PERMISSIVE
    mode would turn it into an all-null row that a transform then
    writes out as if it were a resource.
    """
    reader = spark.read.option("mode", "FAILFAST")
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def write_ndjson(df: DataFrame, path: str, single_file: bool = False) -> str:
    """Write a DataFrame as NDJSON (one JSON object per line),
    replacing whatever is at ``path``.

    The JSON writer omits null fields (``ignoreNullFields`` default),
    matching the reference's output of plain ``json.dumps`` on dicts
    that never contained those keys.

    ``single_file=True`` produces exactly one NDJSON *file* at
    ``path`` (coalesce(1) + part-file promotion) — the shape a FHIR
    ``$import`` url must point at (one blob per manifest entry,
    ``__init__.py:351-355``). Parallelism then comes from processing
    many export files concurrently, not from splitting one. A failed
    write leaves nothing at ``path`` and removes its temp directory.
    Returns the written path.
    """
    # Native JSON writer, not to_json(struct(*))+text: the rows hit the
    # same Jackson generator (null fields omitted either way — measured
    # byte-identical on the full EOB bench corpus) but skip the extra
    # serialize-to-one-string-column projection; ~7% faster on the
    # 100k-record write leg and one less node in the plan.
    if not single_file:
        df.write.mode("overwrite").json(path)
        return path
    tmp = path + ".__tmp__"
    try:
        df.coalesce(1).write.mode("overwrite").json(tmp)
        part = next(n for n in sorted(os.listdir(tmp)) if n.startswith("part-"))
        os.makedirs(os.path.dirname(os.path.abspath(path)), exist_ok=True)
        os.replace(os.path.join(tmp, part), path)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return path


def resource_type_from_name(blob_name: str) -> str:
    """Blob-name convention: resource type is the text before the
    first '-' (``FetchBulkData/__init__.py:218`` — T19)."""
    return os.path.basename(blob_name).split("-")[0]
