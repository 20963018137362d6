"""Incremental-cursor state (SURVEY §2A O4).

The reference threads an optional ``_since=YYYY-MM-DDThh:mm:ss`` into
the $export kickoff (``FetchBulkData/__init__.py:609-613``) but has
nowhere to persist it — every invocation must be handed the cursor.
The engine persists a per-(server, group) high-water mark in a JSON
state file (a Delta table in a deployed cluster; the interface is the
same), advanced only after a successful import+archive — so a failed
run replays the same window (at-least-once, dedup downstream).

The cursor never moves back: when two requests for one key overlap,
the one that finishes last may hold the older ``transactionTime``, so
``advance`` keeps the later instant. Servers send different UTC
offsets, so the two values are compared as instants, not strings; a
value without an offset is read as UTC. The stored string is the
server's, unchanged, because the next kickoff sends it back.

``advance`` is a read-modify-write of the whole file, so it runs under
a process-wide lock and an advisory ``flock`` on ``<state>.lock``: two
requests advancing different (server, group) keys at once, in one
process or in two sharing the file, must both persist.
"""

from __future__ import annotations

import fcntl
import json
import os
import tempfile
import threading
from datetime import datetime, timezone

# one lock for every state file: advances are rare and tiny
_ADVANCE_LOCK = threading.Lock()


def _instant(cursor: str) -> datetime:
    """The instant a cursor names; ``ValueError`` if it names none."""
    t = datetime.fromisoformat(cursor)
    return t if t.tzinfo else t.replace(tzinfo=timezone.utc)


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

    def advance(self, server_url: str, group_id: str, since: str) -> str:
        """Atomically persist ``since`` (write-rename), keeping every
        other key, unless the stored cursor is the same or a later
        instant. Returns the cursor stored after the call."""
        new = _instant(since)
        key = self._key(server_url, group_id)
        d = os.path.dirname(os.path.abspath(self.state_path))
        os.makedirs(d, exist_ok=True)
        with _ADVANCE_LOCK, open(self.state_path + ".lock", "a") as lock:
            fcntl.flock(lock, fcntl.LOCK_EX)  # released when the file closes
            state = self._load()
            stored = state.get(key)
            if stored is not None and _instant(stored) >= new:
                return stored
            state[key] = since
            fd, tmp = tempfile.mkstemp(dir=d, suffix=".tmp")
            with os.fdopen(fd, "w") as f:
                json.dump(state, f)
            os.replace(tmp, self.state_path)
            return since
