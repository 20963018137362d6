"""Engine scalar helpers (SURVEY §2A scalar-function table)."""

from .encoding import (  # noqa: F401
    b64url_decode_py,
    b64url_encode_py,
    b64url_sql,
)
from .hof import bound  # noqa: F401
