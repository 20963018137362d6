"""Reference-fidelity FHIR transform pipeline (SURVEY §2A T1–T18).

A registry of composable ``DataFrame -> DataFrame`` transforms keyed
by ``(source, resource_type)`` — the Spark-native re-expression of the
reference's ``process_demo_data`` (``FetchBulkData/__init__.py:357-536``),
built entirely on higher-order functions (withField / dropFields /
transform / filter / element_at). The two relational steps the
reference hand-rolls need no join: the RxNav enrichment is a MAP
literal and the removed-ids exclusion is a window over id.
"""

from .fhir import TRANSFORMS, get_transform  # noqa: F401
