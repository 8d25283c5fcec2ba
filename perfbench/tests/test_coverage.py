"""Coverage and self-consistency of the benchmark definition.

Run from the repository root:  python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH_DIR)
sys.path[:0] = [BENCH_DIR, ROOT]

import bench  # noqa: E402
import datagen  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402
from spans import self_times  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def test_read_workloads_partition_the_headline():
    parts = [workloads.STAR, workloads.CORPUS, workloads.MEDIA]
    names = [q for part in parts for q in part]
    assert len(names) == len(set(names)), "a query sits in two workloads"
    assert sorted(names) == sorted(bench.HEADLINE)


def test_legs_cover_multimodal_legs():
    from rta_registrations_pyspark_glue_spark.plans.queries_similarity import MULTIMODAL_LEGS

    declared = {m["name"] for m in SPEC["per_layer"]}
    assert {f"leg.{k}.s" for k in MULTIMODAL_LEGS} <= declared


def test_metric_names_and_units_are_well_formed():
    metrics = SPEC["end_to_end"] + SPEC["per_layer"]
    names = [m["name"] for m in metrics]
    assert len(names) == len(set(names))
    for m in metrics:
        assert re.fullmatch(r"[A-Za-z0-9_.-]+", m["name"]), m["name"]
        assert re.fullmatch(r"[A-Za-z0-9_/%.-]{1,16}", m["unit"]), m["unit"]


def test_declared_metrics_match_what_the_runner_prints():
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == run.END_TO_END
    printed = run.per_layer_units(run.run_legs(), run.traced_queries())
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == printed
    assert {w["name"] for w in SPEC["workloads"]} <= set(workloads.WORKLOADS)


def test_inputs_are_a_function_of_the_seed():
    a, b, c = (datagen._tables(s, 0.001) for s in (7, 7, 8))
    assert set(a) == set(datagen.TABLES)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])


def test_self_time_subtracts_children():
    spans = [
        {"id": 0, "name": "pass", "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "name": "plans.build", "parent": 0, "start": 1.0, "end": 3.0},
        {"id": 2, "name": "exec.sink", "parent": 0, "start": 2.0, "end": 6.0},
        {"id": 3, "name": "io.write_parquet", "parent": 2, "start": 4.0, "end": 5.0},
    ]
    assert self_times(spans) == {"pass": 5.0, "plans": 2.0, "exec": 3.0, "io": 1.0}
