"""The engine's one memo store: unexecuted plans and plan-derived
decisions, keyed by (name, inputs).

Rebuilding a registered query's DataFrame costs driver time on every
invocation — py4j round trips through withColumn/expr chains, analysis,
parquet footer reads, spread-guard probes. At sf0.1 (32 cores) that was
0.05-2.1 s per query (multimodal_suite 2.07 s, rta_pipeline_star 1.78 s,
simhash_suite 1.01 s), often more than the query's execution. A
long-lived session re-serving the same analytic DAGs (the bench loop, a
Thrift/BI server, a scheduled driver) would pay it per submission for an
identical plan. ``perfbench/run.py --trace 1`` reports the split per
query: ``plans.build_first_s`` (the first build), ``plans.build_s`` (a
memoized build) and ``exec.s`` under each ``query.*`` span.

Four callers share the store through ``memoized``:

* ``plan_memo`` — registered ``(spark, sf_dir)`` query builds; key
  (query, sf_dir), fingerprint of sf_dir.
* ``sources.testdata.load_table`` — one table read; key the table path,
  fingerprint of that path.
* ``operators.spread._needs_spread`` — a partition-count probe; key
  (semanticHash, columns, target), no fingerprint.
* ``plans.queries_similarity`` — the ANN index parts (``ivf_index``,
  ``ivfpq_parts``, ``sq8_parts``); key the embeddings table path,
  fingerprint of that path.

The memoized value is a PLAN, a decision about one, or a MODEL trained
from a fingerprinted input (IVF centroids, PQ codebooks, SQ ranges) —
never result data. A trained model may be memoized because it is a
deterministic function of its input, so the fingerprint says exactly
when it goes stale; every action on a memoized plan still computes
from the parquet inputs, and nothing is result-cached across
invocations or runs. ``plan_memo`` query builds must still be
ACTION-FREE: a build that runs Spark actions bakes data-derived values
into its plan, and memoizing it would carry computed results across
invocations. The deliberately unwrapped builds and their actions:
packed_sequences / packed_bins (driver-collected partition prefix
sums), the cosine_topk_ivf/ivfpq/sq8 family + semantic_dedup_survivors
+ embedding_near_dup_ivf (their trained index parts are memoized
above; the searches are rebuilt per call), near_dup_clusters /
corpus_curation_pipeline (connected-components fixpoint actions,
localCheckpoint), bpe_merges (iterative merge loop),
embedding_pca_reduced (driver eigh on collected moments).

Persists: ``tracked_persist`` frames made during a build are recorded
(``caching.record_persists``) and re-armed on every hit, so the persist
lifecycle — materialize during the query's own jobs, dropped by
``caching.release_tracked`` — is indistinguishable from a fresh build.
Releasing drops the persisted data, never the memo.

Staleness and eviction. Each entry carries the applicationId and an
input fingerprint (``fingerprint``: stat of the input path — mtime_ns
and size of a file, or of every *.parquet entry of a directory; ~1 µs
per file). A lookup hits only when both still match. On insert, every
entry of another application is dropped, and an entry under the same
(name, inputs) is overwritten, so rewriting an input replaces its entry
instead of adding one; the superseded entry's recorded persists are
unpersisted first. Non-local inputs fingerprint to None and keyed
decisions carry none: there inputs must not change within an
application, and ``clear_plan_memo()`` is the one hook to call after
rewriting them in-process.
"""

from __future__ import annotations

import functools
import os
import stat
import threading
from collections.abc import Callable, Hashable
from typing import TypeVar

from pyspark.sql import DataFrame, SparkSession

from rta_registrations_pyspark_glue_spark.caching import (
    record_persists,
    tracked_persist,
)

T = TypeVar("T")

#: (name, inputs) -> (applicationId, fingerprint, value, recorded persists)
_MEMO: dict[tuple, tuple[str, tuple | None, object, tuple[DataFrame, ...]]] = {}
_INSERT = threading.Lock()


def clear_plan_memo() -> None:
    """Drop every memoized plan and decision (for tools/tests that
    rewrite non-local inputs within one application)."""
    _MEMO.clear()


def fingerprint(path: str) -> tuple | None:
    """(mtime_ns, size) of a file; for a directory, (name, fingerprint)
    of each *.parquet entry. None when the path cannot be stat'ed."""
    try:
        st = os.stat(path)
        if not stat.S_ISDIR(st.st_mode):
            return (st.st_mtime_ns, st.st_size)
        with os.scandir(path) as it:
            return tuple(
                sorted(
                    (e.name, fingerprint(e.path))
                    for e in it
                    if e.name.endswith(".parquet")
                )
            )
    except OSError:
        return None


def memoized(
    spark: SparkSession,
    name: str,
    inputs: Hashable,
    build: Callable[[], T],
    *,
    stat_inputs: bool = True,
) -> T:
    """``build()`` once per (name, inputs) while the application and the
    fingerprint of ``inputs`` (a path, when ``stat_inputs``) hold."""
    app_id = spark.sparkContext.applicationId
    key = (name, inputs)
    fp = fingerprint(inputs) if stat_inputs else None
    hit = _MEMO.get(key)
    if hit is not None and hit[0] == app_id:
        if hit[1] == fp:
            for frame in hit[3]:
                tracked_persist(frame)
            return hit[2]
        # Superseded: its persisted data was computed from the replaced
        # inputs, and Spark's cache matches the rebuilt plan to it by
        # path — drop it, or the rebuild would read it back.
        for frame in hit[3]:
            frame.unpersist()
    with record_persists() as rec:
        value = build()
    with _INSERT:
        for k in [k for k, e in _MEMO.items() if e[0] != app_id]:
            del _MEMO[k]
        _MEMO[key] = (app_id, fp, value, tuple(rec))
    return value


def plan_memo(fn):
    """Decorator for a registered ``(spark, sf_dir) -> DataFrame`` query
    whose build is ACTION-FREE (module docstring)."""
    qual = f"{fn.__module__}.{fn.__qualname__}"

    @functools.wraps(fn)
    def wrapper(spark: SparkSession, sf_dir: str) -> DataFrame:
        return memoized(spark, qual, sf_dir, lambda: fn(spark, sf_dir))

    return wrapper
