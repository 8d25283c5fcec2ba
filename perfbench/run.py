#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload star_analytics --seed 1 --seconds 10 --trace 0

A run is one fresh process on ``local[<cores>]``. It generates its inputs,
sets up once (``setup_s`` counts from process start to a ready session,
less the input generation), times one cold pass, then steady passes until
``--seconds`` have elapsed (two at least), and finally checks the
outputs outside the timing. ``--trace 0`` prints the end-to-end metrics;
``--trace 1`` records spans and Spark job accounting and prints the
per-layer metrics instead (see README.md in this directory). Exit code 0
means every operation ran and every output check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

import numpy as np

import datagen
import probes
import workloads
from spans import Tracer, self_times, wrapped

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "rta_registrations_pyspark_glue_spark"
#: Scale of the generated inputs: 6k lineitem rows, 50 documents. Pass
#: time is per-job and per-leg fixed cost at this size, not per-row work:
#: at sf 0.01 a pair of runs (one per declared workload) takes ~155 s on a
#: 4-core host, over the 142 s a pair may take in a regression check.
SF = 0.001
#: Steady passes per run at the least; with ``--seconds 10`` the declared
#: workloads run this many. Pass time still falls over the first few
#: passes while the JIT compiles, so the count shifts the median.
MIN_STEADY = 2
#: A run whose 1-minute loadavg exceeds this at start is flagged as not
#: comparable with runs on a quiet host.
LOAD_LIMIT = 2.0
#: Job/stage history kept by the UI, so traced attribution sees every job.
SPARK_CONF = {"spark.ui.retainedJobs": "20000", "spark.ui.retainedStages": "20000"}

END_TO_END = {
    "setup_s": "s",
    "first_pass_s": "s",
    "pass_s": "s",
    "cpu_s": "core-s",
    "retained_mb": "MB",
}
SELF_LAYERS = ("pass", "query", "plans", "exec", "caching", "jobs", "io")
IO_WRITES = ("io.write_parquet", "io.replace_partitions", "io.replace_parquet")


def per_layer_units(legs, queries) -> dict[str, str]:
    """Every per-layer metric name with its unit. The same names are
    printed for every workload; a layer a workload never enters reads 0."""
    units = {
        "session.start_s": "s",
        "session.warmup_s": "s",
        "setup.datagen_s": "s",
        "sources.bronze_s": "s",
        "sources.scan_s": "s",
        "sources.input_mb": "MB",
        "plans.build_s": "s",
        "plans.build_first_s": "s",
        "plans.build_jobs": "count",
        "plans.driver_s": "s",
        "exec.s": "s",
        "exec.jobs": "count",
        "exec.stages": "count",
        "exec.tasks": "count",
        "exec.run_s": "s",
        "exec.jvm_cpu_s": "s",
        "exec.nonjvm_s": "s",
        "exec.gc_s": "s",
        "exec.shuffle_mb": "MB",
        "exec.spill_mb": "MB",
        "exec.failed_tasks": "count",
        "exec.idle_core_s": "core-s",
        "peak_rss_mb": "MB",
        "pyworker.cpu_s": "core-s",
        "pyworker.rss_mb": "MB",
        "pyworker.leg_cpu_s": "core-s",
        "caching.released": "count",
        "caching.cached_mb": "MB",
        "jobs.etl1_s": "s",
        "jobs.etl2_s": "s",
        "jobs.incr_s": "s",
        "io.write_s": "s",
        "io.write_tasks": "count",
        "io.files": "count",
        "io.mb": "MB",
        "io.stale_key_s": "s",
        "trace.overhead_s": "s",
    }
    units.update({f"self.{layer}.s": "s" for layer in SELF_LAYERS})
    units.update({f"leg.{kind}.s": "s" for kind in legs})
    units.update({f"query.{name}.s": "s" for name in queries})
    return units


def traced_queries(extra: tuple[str, ...] = ()) -> tuple[str, ...]:
    """Queries with a per-layer timing: those of every workload
    BENCHMARK.json declares (so each declared workload prints the same
    names), then ``extra``."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        names = [w["name"] for w in json.load(fh)["workloads"]]
    declared = [q for n in names for q in getattr(workloads.WORKLOADS[n], "queries", ())]
    return tuple(dict.fromkeys(declared + list(extra)))


def process_age() -> float:
    """Seconds since this process started."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def output_stats(root: str) -> tuple[int, float]:
    """(data files, MB) under a written table root; markers and hidden
    checksum files are not data."""
    files, size = 0, 0
    for dirpath, _dirs, names in os.walk(root):
        for n in names:
            if not n.startswith(("_", ".")):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    return files, size / 2**20


class Run:
    def __init__(self, w, args, work: str):
        self.w, self.args, self.work = w, args, work
        self.tree = probes.ProcessTree()
        self.tracer = Tracer(f"{w.name}-{args.seed}", enabled=bool(args.trace))
        self.rng = np.random.default_rng(args.seed)
        self.spark = None
        self.setup_s: dict[str, float] = {}
        self.passes: list[dict] = []
        self.legs: dict[str, float] = {}
        self.leg_pyworker_cpu_s = 0.0
        self.scans: list[dict] = []
        self.attempted = 0
        self.check_s = 0.0

    # -- set-up -----------------------------------------------------------
    def setup(self) -> None:
        """Generate the inputs, then start the session, warm it and run
        the workload's input prep. ``total`` runs from process start to
        ready, less the input generation, which is the benchmark's own."""
        t0 = time.perf_counter()
        self.data_dir = os.path.join(self.work, "data")
        datagen.write_tables(self.data_dir, self.args.seed, SF)
        datagen_s = time.perf_counter() - t0
        from rta_registrations_pyspark_glue_spark.session import get_spark
        from rta_registrations_pyspark_glue_spark.sources.testdata import load_table

        self.spark = get_spark("perfbench", extra_conf=SPARK_CONF)
        started = process_age() - datagen_s
        t1 = time.perf_counter()
        # Warm the session as bench.py does: codegen, a parquet footer read.
        self.spark.range(1_000_000).selectExpr("sum(id)").collect()
        load_table(self.spark, "region", self.data_dir).count()
        t2 = time.perf_counter()
        bronze_s = self.w.prepare(self.spark, self.data_dir, self.work)
        self.setup_s = {
            "start": started,
            "datagen": datagen_s,
            "warmup": t2 - t1,
            "bronze": bronze_s,
            "total": process_age() - datagen_s,
        }

    # -- passes -----------------------------------------------------------
    def one_pass(self, ctx, kind: str) -> None:
        from rta_registrations_pyspark_glue_spark import caching

        before = self.tree.sample()
        t0 = time.perf_counter()
        with self.tracer.span("pass", kind=kind) as span:
            ops = self.w.run_pass(ctx)
            cached = self.rest.cached_mb() if self.tracer.enabled else 0.0
            with self.tracer.span("caching.release"):
                released = caching.release_tracked()
        wall = time.perf_counter() - t0
        after = self.tree.sample()
        files, mb = output_stats(os.path.join(self.work, "out"))
        self.attempted += ops
        self.passes.append(
            {
                "kind": kind,
                "wall_s": wall,
                "cpu_s": after["cpu_s"] - before["cpu_s"],
                "pyworker_cpu_s": after["pyworker_cpu_s"] - before["pyworker_cpu_s"],
                "cached_mb": cached,
                "released": released,
                "io_files": files,
                "io_mb": mb,
                "span": span,
            }
        )

    def sweeps(self) -> None:
        """Traced run only: single-layer sweeps, whatever the workload.
        Each multimodal leg on its own (the Python-worker layer; the
        declared workloads run no Python UDFs), then a noop scan of each
        input table the workload reads, through ``load_table``."""
        from rta_registrations_pyspark_glue_spark import caching
        from rta_registrations_pyspark_glue_spark.plans.queries_similarity import (
            MULTIMODAL_LEGS,
        )
        from rta_registrations_pyspark_glue_spark.sources.testdata import load_table

        before = self.tree.sample()["pyworker_cpu_s"]
        for kind, leg in MULTIMODAL_LEGS.items():
            t0 = time.perf_counter()
            with self.tracer.span(f"leg.{kind}"):
                workloads._noop(leg(self.spark, self.data_dir))
            self.legs[kind] = time.perf_counter() - t0
        self.leg_pyworker_cpu_s = self.tree.sample()["pyworker_cpu_s"] - before
        caching.release_tracked()
        for table in self.w.tables:
            with self.tracer.span(f"sources.scan.{table}") as span:
                workloads._noop(load_table(self.spark, table, self.data_dir))
            self.scans.append(span)

    def measure(self) -> workloads.Ctx:
        """Set up, run the passes, then check the outputs. Peak RSS is
        sampled over set-up and passes, not over the check; retained
        memory is read after the passes."""
        from rta_registrations_pyspark_glue_spark import io, jobs

        with probes.PeakSampler(self.tree) as self.peak:
            self.setup()
            self.tracer.bind(self.spark)
            self.rest = probes.SparkRest(self.spark)
            ctx = workloads.Ctx(self.spark, self.data_dir, self.work, self.rng, self.tracer)
            ctx.year = int(self.rng.integers(1996, 2001))
            ctx.month = int(self.rng.integers(1, 13))
            targets = [(io, n.split(".")[1], n) for n in (*IO_WRITES, "io.delete_stale_keys")]
            targets += [(jobs, f, f"plans.{f}") for f in ("clean_and_stage", "build_star")]
            with wrapped(self.tracer, targets if self.tracer.enabled else []):
                self.one_pass(ctx, "first")
                t0 = time.perf_counter()
                n = 0
                while n < MIN_STEADY or time.perf_counter() - t0 < self.args.seconds:
                    self.one_pass(ctx, "steady")
                    n += 1
                if self.tracer.enabled:
                    # The trace overhead's baseline: one more pass, untraced.
                    # Running it last errs towards overstating the overhead.
                    self.tracer.enabled = False
                    self.one_pass(ctx, "untraced")
                    self.tracer.enabled = True
                    self.sweeps()
        self.retained_mb = probes.retained_mb(self.tree)
        t0 = time.perf_counter()
        try:
            self.w.check(ctx)
        except Exception:
            traceback.print_exc()
            ctx.fail("output check raised")
        self.check_s = time.perf_counter() - t0
        return ctx

    # -- metrics ----------------------------------------------------------
    def end_to_end(self) -> dict[str, float]:
        steady = [p for p in self.passes if p["kind"] == "steady"]
        return {
            "setup_s": self.setup_s["total"],
            "first_pass_s": self.passes[0]["wall_s"],
            "pass_s": statistics.median(p["wall_s"] for p in steady),
            "cpu_s": statistics.median(p["cpu_s"] for p in steady),
            "retained_mb": self.retained_mb,
        }

    def pass_layers(self, p: dict, jobs: list[dict], stages: dict[int, dict]) -> dict:
        """Per-layer figures of one traced pass, from its spans and the
        Spark jobs launched under them."""
        tr = self.tracer
        span = p["span"]
        sub = tr.subtree(span)
        by_id = {s["id"]: s for s in tr.spans}
        by_group = {tr.group(s["id"]): s for s in sub}

        def under(s, pred) -> bool:
            while s is not None:
                if pred(s["name"]):
                    return True
                s = by_id.get(s["parent"])
            return False

        def top(pred) -> list[dict]:
            return [s for s in sub if pred(s["name"]) and not under(by_id.get(s["parent"]), pred)]

        def dur(spans) -> float:
            return sum(s["end"] - s["start"] for s in spans)

        mine = [(j, by_group[j["jobGroup"]]) for j in jobs if j.get("jobGroup") in by_group]

        def stage_sum(field: str, pred=lambda name: True) -> float:
            ids = {sid for j, s in mine if under(s, pred) for sid in j["stageIds"]}
            return sum(stages[i][field] for i in ids if i in stages)

        def is_build(name):
            return name.startswith("plans.")

        def is_write(name):
            return name in IO_WRITES

        busy = probes.covered_seconds(
            [(j["start"], j["end"]) for j, _ in mine if j["start"] and j["end"]],
            span["start"],
            span["end"],
        )
        run_s = stage_sum("executorRunTime") / 1e3
        cpu_s = stage_sum("executorCpuTime") / 1e9
        out = {
            "plans.build_s": dur(top(is_build)),
            "plans.build_jobs": sum(1 for _, s in mine if under(s, is_build)),
            "plans.driver_s": (span["end"] - span["start"]) - busy,
            "exec.s": busy,
            "exec.jobs": len(mine),
            "exec.stages": len({sid for j, _ in mine for sid in j["stageIds"]} & stages.keys()),
            "exec.tasks": stage_sum("numTasks"),
            "exec.run_s": run_s,
            "exec.jvm_cpu_s": cpu_s,
            "exec.nonjvm_s": run_s - cpu_s,
            "exec.gc_s": stage_sum("jvmGcTime") / 1e3,
            "exec.shuffle_mb": stage_sum("shuffleWriteBytes") / 2**20,
            "exec.spill_mb": stage_sum("diskBytesSpilled") / 2**20,
            "exec.failed_tasks": stage_sum("numFailedTasks"),
            "exec.idle_core_s": int(os.environ["SPARK_GRAFT_CPUS"]) * busy - run_s,
            "pyworker.cpu_s": p["pyworker_cpu_s"],
            "caching.released": p["released"],
            "caching.cached_mb": p["cached_mb"],
            "jobs.etl1_s": dur(top(lambda n: n == "jobs.etl1")),
            "jobs.etl2_s": dur(top(lambda n: n == "jobs.etl2")),
            "jobs.incr_s": dur(top(lambda n: n == "jobs.incr")),
            "io.write_s": dur(top(is_write)),
            "io.write_tasks": stage_sum("numTasks", is_write),
            "io.files": p["io_files"],
            "io.mb": p["io_mb"],
            "io.stale_key_s": dur(top(lambda n: n == "io.delete_stale_keys")),
        }
        for s in sub:
            if s["name"].startswith("query."):
                out[f"{s['name']}.s"] = s["end"] - s["start"]
        for layer, secs in self_times(sub).items():
            out[f"self.{layer}.s"] = secs
        return out

    def per_layer(self, units: dict) -> tuple[dict, dict]:
        jobs, stages = self.rest.jobs_and_stages()
        traced = [p for p in self.passes if p["kind"] == "steady"]
        rows = [self.pass_layers(p, jobs, stages) for p in traced]
        first = self.pass_layers(self.passes[0], jobs, stages)
        vals = {k: statistics.median(r.get(k, 0.0) for r in rows) for k in units}
        untraced = next(p["wall_s"] for p in self.passes if p["kind"] == "untraced")
        scan_groups = {self.tracer.group(s["id"]) for s in self.scans}
        scan_stages = {
            sid for j in jobs if j.get("jobGroup") in scan_groups for sid in j["stageIds"]
        }
        vals.update(
            {
                "session.start_s": self.setup_s["start"],
                "session.warmup_s": self.setup_s["warmup"],
                "setup.datagen_s": self.setup_s["datagen"],
                "sources.bronze_s": self.setup_s["bronze"],
                "sources.scan_s": sum(s["end"] - s["start"] for s in self.scans),
                "sources.input_mb": sum(
                    stages[i]["inputBytes"] for i in scan_stages if i in stages
                )
                / 2**20,
                "plans.build_first_s": first["plans.build_s"],
                "peak_rss_mb": self.peak.peak_rss_mb,
                "pyworker.rss_mb": self.peak.peak_pyworker_rss_mb,
                "pyworker.leg_cpu_s": self.leg_pyworker_cpu_s,
                "trace.overhead_s": statistics.median(p["wall_s"] for p in traced) - untraced,
            }
        )
        vals.update({f"leg.{k}.s": v for k, v in self.legs.items()})
        sidecar = {
            "spans": self.tracer.spans,
            "jobs": [
                {k: j.get(k) for k in ("jobId", "jobGroup", "stageIds", "start", "end", "status")}
                for j in jobs
            ],
            "stages": stages,
            "passes": [
                {k: v for k, v in p.items() if k != "span"}
                | {"span": p["span"]["id"] if p["span"] else None}
                for p in self.passes
            ],
            "pass_layers": rows,
            "first_pass_layers": first,
        }
        return vals, sidecar

    def shutdown(self) -> None:
        """Stop the session, then the JVM, and wait for it to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2
    out_dir = os.path.join(ROOT, ".perfbench")
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(out_dir, f"work-{tag}-{os.getpid()}")
    settings = probes.host_settings(work)
    os.environ.update(settings)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)
    host = {
        "workload": args.workload,
        "seed": args.seed,
        "sf": SF,
        "cores": len(os.sched_getaffinity(0)),
        "mem_total_kb": probes.mem_total_kb(),
        "loadavg_start": os.getloadavg()[0],
        "git_commit": probes.git_commit(ROOT),
        "settings": settings,
    }
    host["comparable"] = host["loadavg_start"] <= LOAD_LIMIT

    run = Run(workloads.WORKLOADS[args.workload], args, work)
    try:
        ctx = run.measure()
        if args.trace:
            units = per_layer_units(run_legs(), traced_queries(getattr(run.w, "queries", ())))
            values, sidecar = run.per_layer(units)
        else:
            units = END_TO_END
            values = run.end_to_end()
        host["pyspark"] = run.spark.version
        host["java"] = run.spark.sparkContext._jvm.System.getProperty("java.version")
    finally:
        run.shutdown()
        shutil.rmtree(work, ignore_errors=True)
    host["loadavg_end"] = os.getloadavg()[0]

    failed = len(ctx.failures)
    result = {
        "correct": failed == 0,
        "attempted": run.attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }
    with open(os.path.join(out_dir, f"run-{tag}.json"), "w") as fh:
        json.dump(
            {
                "host": host,
                "failures": ctx.failures,
                "setup": run.setup_s,
                "pass_walls": [(p["kind"], p["wall_s"]) for p in run.passes],
                "check_s": run.check_s,
                "rss_at_peak_mb": run.peak.at_peak,
                **result,
            },
            fh,
            indent=1,
        )
    if args.trace:
        with open(os.path.join(out_dir, f"trace-{tag}.json"), "w") as fh:
            json.dump(sidecar, fh)
    print("HOST " + json.dumps(host))
    print(json.dumps(result))
    return 0 if failed == 0 else 1


def run_legs() -> tuple[str, ...]:
    from rta_registrations_pyspark_glue_spark.plans.queries_similarity import MULTIMODAL_LEGS

    return tuple(MULTIMODAL_LEGS)


if __name__ == "__main__":
    sys.exit(main())
