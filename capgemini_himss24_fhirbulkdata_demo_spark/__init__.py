"""capgemini_himss24_fhirbulkdata_demo_spark — a PySpark-native analytics engine.

A from-scratch, Spark-first re-expression of the capabilities of the
reference repo ``knanne/capgemini-himss24-fhirbulkdata-demo`` (a FHIR Bulk Data
ETL pipeline, ``FetchBulkData/__init__.py``), extended with the full
relational/analytics surface the reference outsources to Power BI, and
with large-scale training-data-pipeline operators (dedup, similarity
search, text analysis, multimodal plumbing).

Layout
------
- ``session``    : SparkSession factory (UTC, Arrow, AQE).
- ``catalog``    : fixture-table loading + temp-view registration.
- ``sources``    : NDJSON reader & writer
                   (reference NDJSON semantics: 1 resource = 1 line).
- ``queries``    : the declared relational query surface (SURVEY §2B),
                   each query a ``(spark, sf_dir) -> DataFrame`` callable
                   with a DuckDB oracle-SQL twin.
- ``operators``  : composed operators Spark lacks natively — as-of join,
                   top-k per group, exact/near dedup (MinHash-LSH,
                   SimHash, n-gram Jaccard), cosine top-k ANN.
- ``transforms`` : the reference-fidelity FHIR per-record transform
                   pipeline (SURVEY §2A T1–T18) as DataFrame->DataFrame
                   composables on higher-order functions.
- ``functions``  : scalar helpers (b64url, fingerprints, tokenizers).
- ``streaming``  : Structured Streaming layer (windows, watermark,
                   streaming dedup, stateful-query runner).
- ``connectors`` : driver-side FHIR bulk $export/$import connector
                   (auth, kickoff, poll, manifest) — mockable.
- ``multimodal`` : binary-column plumbing for image/audio payloads
                   (decode stubbed; schema/batch shape real).
"""

__version__ = "0.1.0"
