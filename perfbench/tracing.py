"""In-memory spans recorded by the benchmark around its calls into each layer.

A span has a name, start, end, parent and the run id shared by every span of
one benchmark run. While a span is open its name is also Spark's job
description, so the stage and SQL metrics in Spark's event log attribute to
it. Spans are kept in memory and written out once, when the run ends.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._open: list[int] = []
        self._sc = None

    def attach(self, spark_context) -> None:
        """Mirror span names into ``spark_context``'s job description."""
        self._sc = spark_context

    def _describe(self) -> None:
        if self._sc is not None:
            name = self.spans[self._open[-1]]["name"] if self._open else None
            self._sc.setJobDescription(name)

    @contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._open[-1] if self._open else None,
            "run_id": self.run_id,
            "start": time.perf_counter(),
            "end": None,
            "epoch_ms": time.time() * 1e3,  # to line up with Spark's event times
        }
        self.spans.append(rec)
        self._open.append(rec["id"])
        self._describe()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._open.pop()
            self._describe()

    def walls(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the part of it its children cover."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = {}
        for s in self.spans:
            covered, reach = 0.0, s["start"]
            for a, b in sorted(children.get(s["id"], [])):
                a, b = max(a, reach), min(b, s["end"])
                if b > a:
                    covered += b - a
                    reach = b
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def dump(self, path: str, extra: dict) -> None:
        selfs = self.self_times()
        spans = [dict(s, self_s=selfs[s["id"]]) for s in self.spans]
        with open(path, "w") as f:
            json.dump(dict(extra, run_id=self.run_id, spans=spans), f, indent=1)
