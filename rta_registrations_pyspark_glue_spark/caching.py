"""Session-cache lifecycle for operator-internal persists.

Several operators persist an internal DataFrame because multiple plan
branches consume it (the LSH bucket index, the near-dup corpus, the
pipeline's pruned stage projection). ``persist`` alone is LRU-evictable
but never *released*, so a long-lived session that invokes those
operators repeatedly (the two-pass bench loop, the driver gate, a
notebook) accumulates cached plans until memory pressure.

``tracked_persist`` is a drop-in ``df.persist()`` that records the frame;
``release_tracked`` unpersists everything recorded. Call it when a batch
of query invocations is done — bench.py does so after every full pass.
"""

from __future__ import annotations

import threading
from contextlib import contextmanager

from py4j.protocol import Py4JError
from pyspark.errors import IllegalArgumentException
from pyspark.sql import DataFrame

_LIVE: list[DataFrame] = []


class _Recordings(threading.local):
    """Per-thread stack of open ``record_persists`` recordings."""

    def __init__(self) -> None:
        self.stack: list[list[DataFrame]] = []


_RECORDINGS = _Recordings()


def tracked_persist(df: DataFrame) -> DataFrame:
    """persist() the frame and register it for ``release_tracked``.

    No-op when the PLAN is already cached (``storageLevel`` consults the
    session CacheManager by logical plan, not by DataFrame identity), so
    two operators persisting the same intermediate — e.g. the IVF cell
    assignment reused by both the ANN search and semantic dedup — don't
    stack a second registration and a ``CacheManager: Asked to cache
    already cached data`` warning. Whoever persisted first (tracked or
    caller-owned) keeps release ownership."""
    for rec in _RECORDINGS.stack:
        rec.append(df)
    lvl = df.storageLevel
    if lvl.useMemory or lvl.useDisk:
        return df
    df = df.persist()
    _LIVE.append(df)
    return df


@contextmanager
def record_persists():
    """Record every frame routed through ``tracked_persist`` while the
    context is open (r14, for the unexecuted-plan memos): a memoized
    build's persists are dropped by ``release_tracked``, but the PLANS
    stay valid — a later memo hit re-arms the recorded frames with
    ``tracked_persist`` instead of rebuilding the DAG, so the persist
    lifecycle is indistinguishable from a fresh build. Nested
    recordings each capture every persist made while they are open
    (a memoized query may wrap a memoized sub-build; both must be able
    to re-arm independently). Recordings are per thread: a build on
    another thread never lands in this one's recording."""
    rec: list[DataFrame] = []
    _RECORDINGS.stack.append(rec)
    try:
        yield rec
    finally:
        _RECORDINGS.stack.pop()


def release_tracked() -> int:
    """Unpersist every tracked frame. Returns the number of frames
    released. Safe to call with active consumers — the frames recompute
    from lineage if used again."""
    n = len(_LIVE)
    while _LIVE:
        df = _LIVE.pop()
        try:
            df.unpersist()
        except (Py4JError, IllegalArgumentException):
            # Session already stopped (dead JVM gateway) — nothing left to
            # release. Anything else propagates: a failing unpersist on a
            # live session is a cache-lifecycle bug, not cleanup noise.
            pass
    return n
