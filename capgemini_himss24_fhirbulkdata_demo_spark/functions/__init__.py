"""Engine scalar helpers (SURVEY §2A scalar-function table)."""

from .encoding import b64url_encode_py  # noqa: F401
from .hof import bound  # noqa: F401
