"""Session sizing: the generated-class cache holds a pass's working set,
and the driver heap follows the host's memory."""

from __future__ import annotations

import os
import sys

from rta_registrations_pyspark_glue_spark import caching
from rta_registrations_pyspark_glue_spark.plans import registry
from rta_registrations_pyspark_glue_spark.session import (
    CODEGEN_CACHE_ENTRIES,
    driver_memory,
)

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench"))
from workloads import STAR  # noqa: E402


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _star_pass(spark, sf_dir) -> int:
    """Run the star-schema reads once to the noop sink; return the number
    of classes Janino compiled meanwhile."""
    qs = registry.queries()
    before = _compiles(spark)
    for name in STAR:
        qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
    caching.release_tracked()
    return _compiles(spark) - before


def test_repeated_pass_reuses_generated_classes(spark, sf_dir):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(CODEGEN_CACHE_ENTRIES)
    first = _star_pass(spark, sf_dir)
    second = _star_pass(spark, sf_dir)
    assert first > 0
    # With Spark's 100-entry default the second pass recompiles ~95% of
    # the first pass's classes.
    assert second <= 0.05 * first, (first, second)


def _meminfo(tmp_path, kb: int | None) -> str:
    path = tmp_path / "meminfo"
    lines = ["MemFree:        1000000 kB\n"]
    if kb is not None:
        lines.insert(0, f"MemTotal:       {kb} kB\n")
    path.write_text("".join(lines))
    return str(path)


def test_driver_memory_is_half_of_ram_capped_at_32g(tmp_path):
    gib = 1024 * 1024
    assert driver_memory(_meminfo(tmp_path, 15 * gib)) == f"{15 * 1024 // 2}m"
    assert driver_memory(_meminfo(tmp_path, 64 * gib)) == "32768m"
    assert driver_memory(_meminfo(tmp_path, 256 * gib)) == "32768m"
    assert driver_memory(_meminfo(tmp_path, None)) == "32768m"
    assert driver_memory(str(tmp_path / "missing")) == "32768m"
