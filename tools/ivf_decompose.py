#!/usr/bin/env python
"""Decompose cosine_topk_ivf's cost into train / assign / search at any
SF directory — the instrument behind SCALING.md §9's third-decade
analysis (the aggregate exponent hid WHICH term was going quadratic;
this separates them).

Usage:
    python tools/ivf_decompose.py [sf_dir ...]     # default sf5 + sf15

Prints one line per dir: n, k, nprobe, train/assign/search seconds,
and which assignment strategy the dispatch chose.
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from rta_registrations_pyspark_glue_spark import caching
from rta_registrations_pyspark_glue_spark.operators import similarity
from rta_registrations_pyspark_glue_spark.session import get_spark

from pyspark.sql import functions as F


def main() -> None:
    # --search-passes N (default 1): repeat the timed search N times on
    # the SAME built index and report each pass — §10's session-warm-up
    # finding (first search of a session costs 3-4x steady state) means
    # one-pass numbers conflate warm-up with scaling; pass 2+ is the
    # steady-state number cross-decade exponents should use.
    args = sys.argv[1:]
    passes = 1
    if "--search-passes" in args:
        i = args.index("--search-passes")
        passes = int(args[i + 1])
        del args[i : i + 2]
    # --trainer hierarchical: time the two-level N^1.5 trainer instead
    # of the flat distributed one (the §11 A/B: sf45 544.1s -> 19.4s)
    trainer = "flat"
    if "--trainer" in args:
        i = args.index("--trainer")
        trainer = args[i + 1]
        del args[i : i + 2]
    # --query-mod M (default 10): take every M-th vector as a query.
    # The full-pass protocol (M=10, Q = N/10) is what §9/§11 report;
    # M=100 keeps the SAME protocol across two dirs in one session at
    # a tenth of the candidate volume — the affordable way to take a
    # fifth-decade point (candidate volume Q·nprobe·cell still scales
    # N^1.5 with Q ∝ N, only the constant shrinks 10×).
    query_mod = 10
    if "--query-mod" in args:
        i = args.index("--query-mod")
        query_mod = int(args[i + 1])
        del args[i : i + 2]
    # --stage-shuffles: per search pass, print every NEW completed
    # stage that moved shuffle data (write-records descending) so the
    # pass-level delta can be attributed to a specific exchange — the
    # §18 "which exchange carries the rows" follow-up.
    stage_shuffles = False
    if "--stage-shuffles" in args:
        stage_shuffles = True
        args.remove("--stage-shuffles")
    dirs = args or [os.path.join(REPO, ".scale", sf) for sf in ("sf5", "sf15")]
    spark = get_spark("ivf_decompose")
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    def completed_stages():
        """Completed-stage list from the local UI's REST API (r13,
        VERDICT r12 #7): per-pass DELTAS of the summed shuffle columns
        isolate the distributed scoring's scatter/merge traffic — the
        §17-named next super-linear suspect — and the per-stage rows
        (``--stage-shuffles``) attribute the delta to a SPECIFIC
        exchange: a stage's shuffle WRITE is the volume its output
        exchange carried, so the stage whose name is the probe
        explode's mapInPandas owns the probe→assignment join traffic
        and the stage at the scoring callsite owns the scored-candidate
        merge. Best-effort: None when the UI is off; undercounts if
        stage eviction (spark.ui.retainedStages) kicks in, which the
        caller flags by a falling delta."""
        import json as _json
        import urllib.request

        ui = spark.sparkContext.uiWebUrl
        if not ui:
            return None
        try:
            apps = _json.load(
                urllib.request.urlopen(f"{ui}/api/v1/applications", timeout=5)
            )
            app_id = apps[0]["id"]
            return _json.load(
                urllib.request.urlopen(
                    f"{ui}/api/v1/applications/{app_id}/stages?status=complete",
                    timeout=15,
                )
            )
        except Exception:
            return None

    def shuffle_totals(stages):
        if stages is None:
            return None
        return {
            "w_bytes": sum(s.get("shuffleWriteBytes", 0) for s in stages),
            "r_bytes": sum(s.get("shuffleReadBytes", 0) for s in stages),
            "w_rec": sum(s.get("shuffleWriteRecords", 0) for s in stages),
            "r_rec": sum(s.get("shuffleReadRecords", 0) for s in stages),
        }
    for sf in dirs:
        emb = spark.read.parquet(f"{sf}/embeddings.parquet")
        c = emb.select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cv"))
        q = emb.filter(F.col("vec_id") % query_mod == 0).select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
        )
        n = c.count()
        k = similarity.derive_n_pivots(n)
        nprobe = similarity.derive_nprobe(k)
        t0 = time.perf_counter()
        train_fn = (
            similarity.train_ivf_centroids_hierarchical
            if trainer == "hierarchical"
            else similarity.train_ivf_centroids_distributed
        )
        cents = train_fn(c.filter(F.col("cid") % 4 == 0), n_pivots=k)
        t1 = time.perf_counter()
        idx = similarity.ivf_build(c, centroids=cents)
        idx.assignment.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        search_times = []
        shuffles = []
        for p in range(passes):
            st_before = completed_stages()
            s_before = shuffle_totals(st_before)
            ts = time.perf_counter()
            out = similarity.ivf_search(idx, q, k=5, nprobe=nprobe)
            out.write.format("noop").mode("overwrite").save()
            search_times.append(time.perf_counter() - ts)
            st_after = completed_stages()
            s_after = shuffle_totals(st_after)
            shuffles.append(
                {key: s_after[key] - s_before[key] for key in s_after}
                if s_before is not None and s_after is not None
                else None
            )
            if stage_shuffles and st_before is not None and st_after is not None:
                # Attribute the pass delta: each NEW stage's shuffle
                # WRITE is what its output exchange carried; the stage
                # name is the callsite of its last RDD op, which in
                # this plan distinguishes the probe/assignment join
                # sides from the post-scoring merge.
                seen = {(s["stageId"], s["attemptId"]) for s in st_before}
                new = [
                    s
                    for s in st_after
                    if (s["stageId"], s["attemptId"]) not in seen
                    and (
                        s.get("shuffleWriteRecords", 0)
                        or s.get("shuffleReadRecords", 0)
                    )
                ]
                new.sort(key=lambda s: -s.get("shuffleWriteRecords", 0))
                for s in new:
                    print(
                        f"  [stage pass{p + 1}] id={s['stageId']} "
                        f"tasks={s.get('numCompleteTasks', '?')} "
                        f"w_rec={s.get('shuffleWriteRecords', 0)} "
                        f"w_bytes={s.get('shuffleWriteBytes', 0)} "
                        f"r_rec={s.get('shuffleReadRecords', 0)} "
                        f"r_bytes={s.get('shuffleReadBytes', 0)} "
                        f"name={s.get('name', '')[:120]!r}"
                    )
        strategy = (
            "hierarchical"
            if k > similarity._HIER_ASSIGN_MIN_CELLS
            else ("vectorized" if k > similarity._VEC_ASSIGN_MIN_CELLS else "expression")
        )
        # --search-passes 0 is a legal train+assign-only run (the §18
        # assign-stage A/B); there is no shuffle to print.
        searches = " ".join(f"search{i + 1}={t:.1f}s" for i, t in enumerate(search_times))
        shuf = " ".join(
            f"shuffle{i + 1}={s}" for i, s in enumerate(shuffles)
        )
        print(
            f"{sf}: n={n} k={k} nprobe={nprobe} query_mod={query_mod} "
            f"assign_strategy={strategy} "
            f"train={t1 - t0:.1f}s assign={t2 - t1:.1f}s {searches} {shuf}"
        )
        caching.release_tracked()
    spark.stop()


if __name__ == "__main__":
    main()
