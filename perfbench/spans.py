"""In-memory spans around calls into the engine, for the traced run only.

A span records name, start, end, parent and run id. While a span is open
its id is the Spark job group, so the jobs (and their stages) a call
launched can be attributed to it afterwards from the UI REST API. With
``enabled=False`` every span is a no-op and no job group is set, which
is how the untraced (end-to-end) run measures.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

from probes import covered_seconds


class Tracer:
    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._sc = None

    def bind(self, spark) -> None:
        """Attach to the (new) session whose jobs the spans label."""
        self._sc = spark.sparkContext

    def group(self, span_id: int) -> str:
        return f"{self.run_id}:{span_id}"

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self._sc.setJobGroup(self.group(rec["id"]), name)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self._stack:
                parent = self.spans[self._stack[-1]]
                self._sc.setJobGroup(self.group(parent["id"]), parent["name"])
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)

    def subtree(self, root: dict) -> list[dict]:
        """``root`` and every span opened inside it."""
        inside = {root["id"]}
        out = [root]
        for s in self.spans[root["id"] + 1 :]:
            if s["parent"] in inside:
                inside.add(s["id"])
                out.append(s)
        return out


@contextmanager
def wrapped(tracer: Tracer, targets: list[tuple[object, str, str]]):
    """Temporarily replace ``module.attr`` with a span-recording wrapper
    for each (module, attr, span name) in ``targets``."""
    saved = []
    for module, attr, name in targets:
        orig = getattr(module, attr)

        def wrapper(*args, _orig=orig, _name=name, **kwargs):
            with tracer.span(_name):
                return _orig(*args, **kwargs)

        saved.append((module, attr, orig))
        setattr(module, attr, wrapper)
    try:
        yield
    finally:
        for module, attr, orig in saved:
            setattr(module, attr, orig)


def self_times(spans: list[dict]) -> dict[str, float]:
    """Seconds per layer (the span name up to its first '.') not covered
    by the span's children."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        kids = [(c["start"], c["end"]) for c in children.get(s["id"], [])]
        layer = s["name"].split(".", 1)[0]
        busy = covered_seconds(kids, s["start"], s["end"])
        out[layer] = out.get(layer, 0.0) + (s["end"] - s["start"]) - busy
    return out
