#!/usr/bin/env python
"""Measure per-query scaling exponents between two SF directories.

VERDICT r5 item 1: the 100-TB design claims (cell^2 candidate volume,
LSH bucket skew under the loose bank, prefix-sum packing,
decontamination stop-shingle cap) were argued from plan shape but never
measured past sf0.1. This tool times every bench HEADLINE query at a
base SF and a scaled SF (default: sf0.1 vs the 10x replica built by
``tools/make_scaled_data.py``) and reports

    exponent = log(t_big / t_base) / log(big_sf / base_sf)

so exponent ~1.0 is linear scaling, <1 means fixed overhead still
dominates, and anything materially >1 is a super-linear red flag that
gets a named cause and a fix (the verdict's acceptance bar).

Protocol mirrors bench.py: noop sink (compute only), best-of-two
passes per query per scale, tracked caches released between passes.

Usage:
    python tools/scaling_study.py [--base /root/testdata/sf0.1]
        [--big <checkout>/.scale/sf1] [--base-sf 0.1] [--big-sf 1.0]
        [--out scaling.json] [--queries name1,name2]
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from rta_registrations_pyspark_glue_spark import caching
from rta_registrations_pyspark_glue_spark.plans import registry
from rta_registrations_pyspark_glue_spark.session import get_spark


def time_queries(spark, qs, names, sf_dir, passes=2):
    times = {}
    for _ in range(passes):
        for name in names:
            t0 = time.perf_counter()
            qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            dt = round(time.perf_counter() - t0, 3)
            if name not in times or dt < times[name]:
                times[name] = dt
            print(f"  {sf_dir.rsplit('/', 1)[-1]} {name}: {dt}s", flush=True)
        caching.release_tracked()
    return times


def main() -> None:
    import bench  # repo-root bench.py: reuse the HEADLINE list

    ap = argparse.ArgumentParser()
    ap.add_argument("--base", default="/root/testdata/sf0.1")
    ap.add_argument("--big", default=os.path.join(REPO, ".scale", "sf1"))
    ap.add_argument("--base-sf", type=float, default=0.1)
    ap.add_argument("--big-sf", type=float, default=1.0)
    ap.add_argument("--out", default="scaling.json")
    ap.add_argument("--queries", default="")
    args = ap.parse_args()

    # Default to the LINEAR-CLAIM subset: the designed-O(N²) baselines
    # in SCALING_EXCLUDED take hours at large scale ratios (they were
    # run once, deliberately, for the r6 §4 exhibit) — measure them
    # only on explicit --queries request.
    names = [q for q in args.queries.split(",") if q] or bench.SCALING_SUBSET
    spark = get_spark("scaling-study")
    qs = registry.queries()
    # Warm the session so cold-start lands on neither scale's pass 1.
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    qs["pricing_summary"](spark, args.base).write.format("noop").mode(
        "overwrite"
    ).save()
    caching.release_tracked()

    t_base = time_queries(spark, qs, names, args.base)
    t_big = time_queries(spark, qs, names, args.big)
    ratio = args.big_sf / args.base_sf
    out = {
        "base_sf": args.base_sf,
        "big_sf": args.big_sf,
        "queries": {},
    }
    for name in names:
        exp = math.log(t_big[name] / t_base[name]) / math.log(ratio)
        out["queries"][name] = {
            "t_base": t_base[name],
            "t_big": t_big[name],
            "exponent": round(exp, 3),
        }
    with open(args.out, "w") as f:
        json.dump(out, f, indent=2)
    worst = sorted(
        out["queries"].items(), key=lambda kv: -kv[1]["exponent"]
    )[:8]
    print("\nworst exponents:")
    for name, rec in worst:
        print(f"  {name}: {rec['exponent']} ({rec['t_base']}s -> {rec['t_big']}s)")
    spark.stop()


if __name__ == "__main__":
    main()
