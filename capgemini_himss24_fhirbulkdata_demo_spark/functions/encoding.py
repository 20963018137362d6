"""Encoding/crypto scalar helpers.

The reference hand-rolls base64url (strip ``=``, ``+``→``-``,
``/``→``_``, ``FetchBulkData/__init__.py:84-108``) and SHA-384
digests (``:95``) for its SMART JWT assembly. Spark's ``base64`` uses
the standard alphabet, so the engine wraps it (SURVEY §2A scalar
table, row "base64url").

Two forms: Column expressions (for data-path use, codegen'd) and
plain-Python twins (for the driver-side connector, which signs JWTs
outside any DataFrame).
"""

from __future__ import annotations

import base64

from pyspark.sql import Column
from pyspark.sql import functions as F


def b64url_sql(col: Column) -> Column:
    """base64url(no padding) of a binary column — built-ins only."""
    std = F.base64(col)
    return F.replace(
        F.replace(F.regexp_replace(std, "=+$", ""), F.lit("+"), F.lit("-")),
        F.lit("/"),
        F.lit("_"),
    )


def b64url_encode_py(data: bytes) -> str:
    return base64.urlsafe_b64encode(data).rstrip(b"=").decode("ascii")


def b64url_decode_py(s: str) -> bytes:
    pad = "=" * (-len(s) % 4)
    return base64.urlsafe_b64decode(s + pad)
