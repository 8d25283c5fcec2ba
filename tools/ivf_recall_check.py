#!/usr/bin/env python
"""Measure IVF recall@k against the exact brute-force baseline.

Companion to the r6 corpus-derived ``n_pivots`` fix: growing the cell
count with the corpus keeps search cost linear, but a cost fix that
silently destroyed recall would be benchmark gaming, not engineering.
This tool prints measured recall@k of ``ivf_search`` (derived sizing,
nprobe as in the registered query) vs ``brute_force_topk_fast`` at any
SF directory, so SCALING.md can state the quality impact as a number.

Usage: python tools/ivf_recall_check.py [--dir <checkout>/.scale/sf1]
           [--nprobe 4] [--k 5]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F

from rta_registrations_pyspark_glue_spark import caching
from rta_registrations_pyspark_glue_spark.operators import similarity
from rta_registrations_pyspark_glue_spark.session import get_spark
from rta_registrations_pyspark_glue_spark.sources.testdata import load_table


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--dir", default=os.path.join(REPO, ".scale", "sf1"))
    ap.add_argument("--nprobe", type=int, default=4)
    ap.add_argument("--k", type=int, default=5)
    ap.add_argument(
        "--trainer", choices=("flat", "hierarchical"), default="flat",
        help="coarse-quantizer trainer: 'hierarchical' forces the "
        "two-level N^1.5 trainer regardless of the flop dispatch, so "
        "its recall can be compared against the flat trainer's at the "
        "same nprobe (the §11 quality evidence)",
    )
    args = ap.parse_args()

    spark = get_spark("ivf-recall")
    emb = load_table(spark, "embeddings", args.dir)
    q = emb.filter(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    c = emb.select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cv"))
    n = c.count()
    n_pivots = similarity.derive_n_pivots(n)

    exact = {
        (r.qid, r.cid)
        for r in similarity.brute_force_topk_fast(q, c, k=args.k).collect()
    }
    if args.trainer == "hierarchical":
        cents = similarity.train_ivf_centroids_hierarchical(
            c.filter(F.col("cid") % 4 == 0), n_pivots=n_pivots, iters=2
        )
        idx = similarity.ivf_build(c, centroids=cents)
    else:
        idx = similarity.ivf_build(
            c, n_pivots=n_pivots, train_iters=2, train_sample_mod=4
        )
    approx = {
        (r.qid, r.cid)
        for r in similarity.ivf_search(idx, q, k=args.k, nprobe=args.nprobe).collect()
    }
    recall = len(exact & approx) / len(exact)
    print(
        json.dumps(
            {
                "dir": args.dir,
                "corpus": n,
                "n_pivots": n_pivots,
                "nprobe": args.nprobe,
                "k": args.k,
                "trainer": args.trainer,
                "n_cells": len(idx.centroids),
                "recall": round(recall, 4),
            }
        )
    )
    caching.release_tracked()
    spark.stop()


if __name__ == "__main__":
    main()
