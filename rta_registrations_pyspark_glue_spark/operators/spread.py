"""Parallelism guard for Python-heavy mapInPandas stages.

The multimodal/codec legs do their real work (encode/decode, pure
Python/numpy) inside Arrow-batched ``mapInPandas`` — whose parallelism
is exactly the input's partition count. A small parquet corpus arrives
as ONE scan split (`spark.sql.files.maxPartitionBytes` ≫ file size), so
without a guard every leg runs serial on one core of 32: the r10
per-leg bench decomposition measured the adpcm leg at 4.2s wall for
~4s of single-threaded Python — a 32× parallelism loss that plan-shape
reviews missed because the plan LOOKS fine (one narrow mapInPandas).

``spread_ids`` repartitions an under-partitioned id/binary frame up to
``max(8, defaultParallelism // 4)`` before the Python stage. The
shuffle payload is whatever the frame carries (for the synthesize
legs: one bigint per row — trivially cheap against seconds of Python).
At 100 TB the input is already wide, ``cur >= target`` holds, and this
is a no-op — the guard exists for the small-corpus/one-file case, the
same asymmetry ``similarity.spread_for_gemm`` handles for BLAS work.

Why not the full defaultParallelism: legs run CONCURRENTLY inside the
multimodal union (Spark schedules the independent union branches of
one job together), so per-leg width multiplies across ~21 siblings.
Measured on the sf0.1 corpus (32 cores): width 32 → isolated adpcm leg
5.2s→1.1s but the union 10.6s→15.7s (672 tasks + 21 shuffle barriers);
width 8 → isolated legs within noise of width 32 (fixed per-partition
Arrow/worker cost dominates past ~8×) AND the union drops to 7.7s —
better than no spread at all. ``// 4`` keeps the same headroom ratio
on larger clusters.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from rta_registrations_pyspark_glue_spark.plans.planmemo import memoized


def _needs_spread(df: DataFrame, target: int) -> bool:
    """Whether ``df`` has fewer than ``target`` partitions. The probe
    (``df.rdd.getNumPartitions()``) runs full physical planning — ~25-55
    ms per FRESH DataFrame, and the multimodal union probes ~26
    semantically identical (doc_id) selects per build — so the decision
    is memoized (plans/planmemo.py) per (analyzed-plan semanticHash,
    columns, target); the semanticHash lookup costs ~7 ms.

    Known windows, accepted (ADVICE r13): (a) the 32-bit semanticHash
    can collide across DISTINCT plans — the column tuple discriminates
    the plausible collisions (different operators' probe frames differ
    in schema), and two same-schema colliding plans sharing a decision
    is perf-only (the guard is widen-only: at worst a missing or
    redundant round-robin exchange); (b) the key carries no input
    fingerprint, so a path whose file count GROWS within one application
    keeps its stale decision — the static-input contract of the plan
    memo."""
    try:
        inputs = (
            int(df._jdf.queryExecution().analyzed().semanticHash()),
            tuple(df.columns),
            target,
        )
    except Exception:  # non-classic DataFrame impls: fall through, no memo
        return df.rdd.getNumPartitions() < target
    return memoized(
        df.sparkSession,
        "spread._needs_spread",
        inputs,
        lambda: df.rdd.getNumPartitions() < target,
        stat_inputs=False,
    )


def spread_ids(df: DataFrame) -> DataFrame:
    """Repartition ``df`` up to max(8, defaultParallelism // 4) when
    the scan gave fewer partitions; never coalesces an already-wide
    frame (the 100 TB case arrives wide and this is a no-op)."""
    sc = df.sparkSession.sparkContext
    target = max(8, sc.defaultParallelism // 4)
    if sc.defaultParallelism <= 1:
        return df
    if not _needs_spread(df, target):
        return df
    return df.repartition(target)


def spread_rows(df: DataFrame, target: int | None = None) -> DataFrame:
    """Widen-only repartition for CPU-heavy JVM stages (r13): up to
    ``target`` (default the FULL defaultParallelism — unlike
    ``spread_ids``, whose // 4 headroom exists for the ~21 concurrent
    Python legs of the multimodal union, a lone CPU-dense branch wants
    every core). Never coalesces: a wide production scan passes through
    untouched — the guard exists for the one-file bench/gate corpora."""
    sc = df.sparkSession.sparkContext
    if target is None:
        target = sc.defaultParallelism
    if target <= 1:
        return df
    if not _needs_spread(df, target):
        return df
    return df.repartition(target)
