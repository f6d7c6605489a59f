"""Spans and counters recorded from the benchmark's side of each layer
boundary. Nothing here reaches inside the package: spans wrap calls to
its public functions, and the py4j counter wraps the gateway client's
``send_command`` for the duration of one traced pass."""

from __future__ import annotations

import json
import threading
import time
from contextlib import contextmanager


class Tracer:
    """In-memory spans (name, start, end, parent, run id) in epoch
    seconds, the clock Spark's event log uses; written out once, when
    the run ends."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        rec = {"id": len(self.spans), "name": name, "run": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def find(self, name: str) -> dict:
        return next(s for s in self.spans if s["name"] == name)

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part its direct children cover."""
        out = {s["id"]: s["end"] - s["start"] for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None:
                out[s["parent"]] -= s["end"] - s["start"]
        return out

    def write(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({**s, "self_s": selfs[s["id"]]}) + "\n")


class Py4jCounter:
    """Counts py4j round trips (``send_command`` calls) from every
    driver thread while installed."""

    def __init__(self, gateway_client):
        self.client = gateway_client
        self.calls = 0
        self._lock = threading.Lock()

    def __enter__(self):
        send = self.client.send_command

        def counting_send(*args, **kwargs):
            with self._lock:
                self.calls += 1
            return send(*args, **kwargs)

        self.client.send_command = counting_send
        return self

    def __exit__(self, *exc):
        del self.client.send_command  # back to the class method
        return False
