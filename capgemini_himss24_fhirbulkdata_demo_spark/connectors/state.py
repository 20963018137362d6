"""Incremental-cursor state (SURVEY §2A O4).

The reference threads an optional ``_since=YYYY-MM-DDThh:mm:ss`` into
the $export kickoff (``FetchBulkData/__init__.py:609-613``) but has
nowhere to persist it — every invocation must be handed the cursor.
The engine persists a per-(server, group) high-water mark in a JSON
state file (a Delta table in a deployed cluster; the interface is the
same), advanced only after a successful import+archive — so a failed
run replays the same window (at-least-once, dedup downstream).

``advance`` is a read-modify-write of the whole file, so it runs under
a process-wide lock: two requests advancing different (server, group)
keys at once must both persist.
"""

from __future__ import annotations

import json
import os
import tempfile
import threading

# one lock for every state file: advances are rare and tiny
_ADVANCE_LOCK = threading.Lock()


class HighWaterMark:
    def __init__(self, state_path: str):
        self.state_path = state_path

    def _load(self) -> dict:
        if not os.path.exists(self.state_path):
            return {}
        with open(self.state_path) as f:
            return json.load(f)

    @staticmethod
    def _key(server_url: str, group_id: str) -> str:
        return f"{server_url}#{group_id}"

    def get(self, server_url: str, group_id: str) -> str | None:
        return self._load().get(self._key(server_url, group_id))

    def advance(self, server_url: str, group_id: str, since: str) -> None:
        """Atomically persist the new cursor (write-rename), keeping
        every other key."""
        with _ADVANCE_LOCK:
            state = self._load()
            state[self._key(server_url, group_id)] = since
            d = os.path.dirname(os.path.abspath(self.state_path))
            os.makedirs(d, exist_ok=True)
            fd, tmp = tempfile.mkstemp(dir=d, suffix=".tmp")
            with os.fdopen(fd, "w") as f:
                json.dump(state, f)
            os.replace(tmp, self.state_path)
