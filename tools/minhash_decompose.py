#!/usr/bin/env python
"""Decompose minhash_lsh_near_dups' cost into signature-build /
candidate-join / verify at any SF directory, with the candidate-pair
and bucket-occupancy counts that determine the join's WORK — the
instrument behind the r11 investigation of the sidecar exponent drift
(0.583 at r9 -> 0.875 at r10 from unchanged operator code; VERDICT r10
"What's wrong" #1).

The aggregate sidecar row times one number; the super-linear term can
hide in any of three places with different meanings:

- t_sig     (shingle -> 8x md5 min-agg -> band explode): volume is
            token volume, expected exponent ~1;
- t_cand    (bucket self-join + distinct): work is sum over buckets of
            C(occupancy, 2) — DATA-shaped, the term a scaled replica
            can distort if cross-replica shingle overlap is not ~zero;
- t_verify  (exact Jaccard on candidates): work is candidate volume
            times mean shingle-set size.

So besides the three stage times (min of ``--passes``), this prints
the pair volumes (pre-/post-distinct candidates, verified>=0.35) and
the bucket-occupancy histogram's tail (top sizes + implied join pairs),
and, for .scale replicas (doc_id striding), the WITHIN- vs
CROSS-replica candidate split: cross-replica candidates are false
positives by the replica's own construction (per-replica letter
permutation drives cross-replica shingle overlap to ~zero), so a
non-trivial cross share indicates the replica — not the operator — is
the source of super-linear pair volume.

Usage:
    python tools/minhash_decompose.py [--passes 2] [--stride N] \
        [sf_dir ...]    # default /root/testdata/sf0.1 + .scale/sf1

One JSON line per dir.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from rta_registrations_pyspark_glue_spark import caching
from rta_registrations_pyspark_glue_spark.operators import textdedup
from rta_registrations_pyspark_glue_spark.plans import queries_text
from rta_registrations_pyspark_glue_spark.session import get_spark

from pyspark.sql import functions as F


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    args = sys.argv[1:]
    passes = 2
    if "--passes" in args:
        i = args.index("--passes")
        passes = int(args[i + 1])
        del args[i : i + 2]
    stride = None  # doc_id stride of a .scale replica dir (base max+1)
    if "--stride" in args:
        i = args.index("--stride")
        stride = int(args[i + 1])
        del args[i : i + 2]
    dirs = args or ["/root/testdata/sf0.1", os.path.join(REPO, ".scale", "sf1")]
    spark = get_spark("minhash_decompose")
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    for sf_dir in dirs:
        corpus = queries_text._near_dup_corpus(spark, sf_dir).persist()
        n_docs = corpus.count()

        # ---- stage 1: signatures + band explode (no self-join) ------
        t_sig = None
        for _ in range(passes):
            t0 = time.perf_counter()
            _noop(textdedup.minhash_band_buckets(corpus))
            dt = time.perf_counter() - t0
            t_sig = dt if t_sig is None else min(t_sig, dt)

        buckets = textdedup.minhash_band_buckets(corpus).persist()
        buckets.count()

        # ---- bucket occupancy -> implied join-pair volume -----------
        occ = (
            buckets.groupBy("band_idx", "band_key")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") > 1)
        )
        occ_stats = occ.agg(
            F.count(F.lit(1)).alias("buckets_ge2"),
            F.sum((F.col("n") * (F.col("n") - 1) / 2).cast("long")).alias(
                "join_pairs"
            ),
            F.max("n").alias("max_occupancy"),
        ).first()
        top = [r.n for r in occ.orderBy(F.col("n").desc()).limit(5).collect()]

        # ---- stage 2: the candidate self-join -----------------------
        a = buckets.select(
            "band_idx", "band_key", F.col("doc_id").alias("id_a")
        )
        b = buckets.select(
            F.col("band_idx").alias("band_idx_b"),
            F.col("band_key").alias("band_key_b"),
            F.col("doc_id").alias("id_b"),
        )
        raw_pairs = a.join(
            b,
            (F.col("band_idx") == F.col("band_idx_b"))
            & (F.col("band_key") == F.col("band_key_b"))
            & (F.col("id_a") < F.col("id_b")),
            "inner",
        ).select("id_a", "id_b")
        n_raw = raw_pairs.count()
        cands = raw_pairs.distinct().persist()
        n_cand = cands.count()
        t_cand = None
        for _ in range(passes):
            t0 = time.perf_counter()
            _noop(textdedup.minhash_lsh_candidates(corpus))
            caching.release_tracked()
            dt = time.perf_counter() - t0
            t_cand = dt if t_cand is None else min(t_cand, dt)

        # ---- replica split (false positives by construction) --------
        split = None
        if stride:
            base = lambda c: (F.col(c) % 1_000_000) / stride  # noqa: E731
            cross = cands.filter(
                F.floor(base("id_a")) != F.floor(base("id_b"))
            ).count()
            split = {"cross_replica": cross, "within_replica": n_cand - cross}

        # ---- stage 3: exact-Jaccard verify --------------------------
        t_verify = None
        for _ in range(passes):
            t0 = time.perf_counter()
            _noop(textdedup.jaccard_verify(cands, corpus, threshold=0.35))
            dt = time.perf_counter() - t0
            t_verify = dt if t_verify is None else min(t_verify, dt)
        n_verified = (
            textdedup.jaccard_verify(cands, corpus, threshold=0.35).count()
        )

        out = {
            "dir": sf_dir,
            "n_docs": n_docs,
            "t_sig": round(t_sig, 3),
            "t_cand": round(t_cand, 3),
            "t_verify": round(t_verify, 3),
            "raw_pairs": n_raw,
            "cand_pairs": n_cand,
            "verified": n_verified,
            "buckets_ge2": occ_stats.buckets_ge2,
            "join_pairs": int(occ_stats.join_pairs or 0),
            "max_occupancy": occ_stats.max_occupancy,
            "top_occupancy": top,
            "replica_split": split,
            "loadavg": round(os.getloadavg()[0], 2),
        }
        print(json.dumps(out))
        cands.unpersist()
        buckets.unpersist()
        corpus.unpersist()


if __name__ == "__main__":
    main()
