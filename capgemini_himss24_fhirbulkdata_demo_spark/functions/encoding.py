"""Encoding helpers.

The reference hand-rolls base64url (strip ``=``, ``+``→``-``,
``/``→``_``, ``FetchBulkData/__init__.py:84-108``) for its SMART JWT
assembly (SURVEY §2A scalar table, row "base64url"). The driver-side
connector signs JWTs outside any DataFrame, so the helper is plain
Python.
"""

from __future__ import annotations

import base64


def b64url_encode_py(data: bytes) -> str:
    return base64.urlsafe_b64encode(data).rstrip(b"=").decode("ascii")
