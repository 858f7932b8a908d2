"""In-memory spans: name, start, end and parent, written out once at the end.

A span wraps one call into the package from outside it. Spans nest by the
``with`` blocks that open them; ``parent`` is the id of the enclosing span.
"""

from __future__ import annotations

import threading
import time
from contextlib import contextmanager


class Tracer:
    """Spans may open from several threads; each thread nests its own."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextmanager
    def span(self, name: str):
        stack = self._local.__dict__.setdefault("open", [])
        with self._lock:
            rec = {
                "id": len(self.spans),
                "name": name,
                "parent": stack[-1] if stack else None,
                "start": time.perf_counter(),
                "end": None,
            }
            self.spans.append(rec)
        stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()


def dur(span: dict) -> float:
    return span["end"] - span["start"]
