"""NDJSON source and sink: the reference-native format, one resource
per line. Other formats are read and written with ``spark.read`` and
``df.write`` directly."""

from .ndjson import (  # noqa: F401
    read_ndjson,
    resource_type_from_name,
    write_ndjson,
)
