"""SparkSession factory.

Replaces the reference's Glue bootstrap (etl1_clean_and_stage.py:17-23,
etl2_advclean_and_dimcreatin.py:39-47) with a portable builder that keeps
its two correctness knobs (LEGACY time parser for dd/MM/yy, LEGACY parquet
rebase) and adds the scale knobs the reference left to Glue defaults:
AQE (runtime re-plan, skew-join splitting, partition coalescing), a UTC
session timezone (so results are oracle-comparable), and Arrow transfers
for the few pandas-UDF code paths.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Entries in the JVM-wide cache of generated (Janino-compiled) classes.
# Spark's default of 100 is smaller than the set of classes one pass of
# this engine cycles through, and an LRU cache smaller than a repeating
# cycle never hits: every steady pass recompiled 245-287 classes on the
# star-schema reads and 258 on the ETL write, and each fresh class went
# back through the JIT. First-visit compile counts with an unbounded
# cache: star-schema reads 270-276, ETL write ~212, corpus curation 545
# (+~67 new classes on each repeat), media decode 64, all four in one
# session ~1,100, the 36-query bench.py headline at sf0.1 984 (+50-54 on
# the repeat pass). 2048 is about twice the largest of these; each
# resident class costs ~0.13 MB of JVM non-heap memory. Static conf: it
# only takes effect if set before the first codegen creates the cache.
CODEGEN_CACHE_ENTRIES = 2048


def driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """Driver heap for this host: half of ``MemTotal``, capped at 32g.

    In local mode the driver JVM is the only executor, so its heap is the
    cluster memory; half of RAM leaves the rest to JVM non-heap, Python
    workers and the page cache. Falls back to the 32g cap when
    ``meminfo`` has no ``MemTotal`` line (no /proc on this platform)."""
    cap_mb = 32 * 1024
    try:
        with open(meminfo) as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    return f"{min(cap_mb, int(line.split()[1]) // 2 // 1024)}m"
    except OSError:
        pass
    return f"{cap_mb}m"


def get_spark(
    app_name: str = "rta_engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession configured for this engine.

    On a real cluster, ``master`` comes from spark-submit; locally we
    default to ``local[N]`` with N from ``SPARK_GRAFT_CPUS`` (driver
    contract) or all cores.  ``spark.sql.shuffle.partitions`` defaults to
    2x the local parallelism — on a 1000-executor cluster you would set
    this (or leave AQE coalescing to shrink a deliberately-high value).
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = 2 * int(cpus) if cpus else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Sized from the host; the env var overrides it for deployments.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or driver_memory(),
        )
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # AQE: runtime partition coalescing, skew-join splitting, and
        # sort-merge->broadcast conversion. This subsumes the reference's
        # hand-tuned repartition(10)/coalesce(n) logic at the shuffle level.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # AQE coalescing floor: measured BOTH ways in r13 and left at the
        # engine default (1 MB). Lowering it to 64 KB widened the LSH
        # verify stage 10→47 tasks but made it 12× SLOWER (252 s executor
        # time vs 22 s, only 55 s of it CPU): the fused
        # join+distinct+mapInPandas stage pays per-task broadcast
        # deserialization and Python-worker round-trips, which multiply
        # with task count while the per-task data shrinks. Partition-count
        # problems in this engine are fixed at the operator (spread_ids)
        # where the work is provably per-row CPU, not globally.
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
            os.environ.get("SPARK_GRAFT_AQE_MIN_PARTITION", "1m"),
        )
        # Deterministic, oracle-comparable timestamps.
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow for pandas-UDF paths (similarity / multimodal operators).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Reference correctness knobs (etl1_clean_and_stage.py:23,
        # etl2_advclean_and_dimcreatin.py:46-47): two-digit years like
        # "15/03/23" must parse as 2023, and pre-1900 dates must not be
        # rebased on write.
        .config("spark.sql.legacy.timeParserPolicy", "LEGACY")
        .config("spark.sql.parquet.datetimeRebaseModeInWrite", "LEGACY")
        # Catalog tables (incl. bucketed ones) live under the checkout's
        # scratch dir locally; on a cluster SPARK_GRAFT_WAREHOUSE names
        # the shared warehouse.
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get(
                "SPARK_GRAFT_WAREHOUSE",
                os.path.join(
                    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                    ".tmp",
                    "spark-warehouse",
                ),
            ),
        )
        # Quiet local runs; harmless on a cluster.
        .config("spark.ui.showConsoleProgress", "false")
        # PySpark's DataFrame-debugging wrapper does 2-3 extra py4j round
        # trips per DataFrame API call purely to ship Python call-site
        # strings into JVM error contexts. The wide ETL plans make
        # thousands of API calls, so this costs ~1s of driver time per
        # pipeline build (profiled: 494 wrapped calls, 1.2s cumulative).
        # Errors still carry the full JVM stack trace — only the Python
        # line annotation is dropped.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
