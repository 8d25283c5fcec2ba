"""Worker-process-persistent fixture caches for mapInPandas ops.

``legs.synth_leg`` is the one caller: a synth leg that passes a
``cache`` name memoizes its deterministic fixture payloads (a few
hundred to a few thousand distinct byte strings, keyed by small modular
bases of doc_id) in the dict registered under that name.

The dict is resolved **at call time through an import executed inside
the op**, so a reused Python worker (``spark.python.worker.reuse=true``,
the default) hands every task the same process-level dict. A
module-level dict referenced by closure would not work: cloudpickle
serializes a nested function's referenced globals by value, so every
task would get its own empty copy. Fixture bytes are pure functions of
their key, so sharing across tasks and jobs is semantics-free; each
bench or oracle process still starts cold (fresh workers), so nothing
is cached across runs.

``cap`` bounds memory in long-lived workers: at the cap the cache stops
admitting new entries (the leg falls back to computing the payload —
correct, just unmemoized). The synth key spaces are all modular (≤4096
for most; flac's joint key space is ~56k per worker), at or below the
default cap.
"""

from __future__ import annotations

_CACHES: dict[str, dict] = {}

#: Default admission cap per named cache. Fixture payloads are ~0.1-5 KB,
#: so 65536 entries bound a worker at a few hundred MB worst-case and a
#: few MB in practice (synth key spaces are ≤4096).
DEFAULT_CAP = 65536


def worker_cache(name: str) -> dict:
    """The process-level cache dict registered under ``name``.

    MUST be resolved via an import *inside* the mapInPandas function
    body (not by closure from the driver) — that is what makes the
    returned dict the worker process's own, shared across tasks.
    """
    return _CACHES.setdefault(name, {})


def cache_put(cache: dict, key, value, cap: int = DEFAULT_CAP):
    """Admit ``key -> value`` unless the cache is at its cap."""
    if len(cache) < cap:
        cache[key] = value
    return value
