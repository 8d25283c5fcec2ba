#!/usr/bin/env python
"""Build a k-times-scaled copy of a testdata SF directory for the
scaling study (VERDICT r5 item 1: measure the sf0.1->sf1 curve).

The driver's testdata tops out at sf0.1; this tool synthesizes sfN
(N = k * base_sf) by writing k key-shifted replicas of every base
table, preserving the statistical shape a real TPC-H-style scale-up
has:

- ``region``/``nation`` stay fixed-size (TPC-H dims do not grow with
  SF); every other table grows linearly.
- Foreign keys are shifted consistently (replica i's orders reference
  replica i's customers), so join fan-outs and group sizes per key are
  IDENTICAL to the base — only the number of keys grows. That is
  exactly TPC-H's own scaling law.
- ``documents.text`` gets a per-replica random letter permutation: a
  bijection on characters, so every within-replica relationship
  (exact-dup groups, shingle Jaccard, simhash distance, repetition
  stats, lengths) is preserved verbatim, while cross-replica shingle
  overlap drops to ~zero. Near-dup pair volume therefore scales
  linearly in k — the honest corpus-growth model (duplicate density
  per doc constant) — instead of the k^2 blowup naive replication
  would cause.
- ``embeddings.embedding`` gets a per-replica ORTHOGONAL transform
  (deterministic sign-flips + circular roll): norms and all
  within-replica dot products are preserved exactly, while
  cross-replica vectors decorrelate. Same linear-growth argument.

Usage:
    python tools/make_scaled_data.py [--base /root/testdata/sf0.1] \
        [--k 10] [--out <checkout>/.scale/sf1]

Pure pyarrow/numpy — no Spark needed; sf1 is ~170 MB.
"""

from __future__ import annotations

import argparse
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

FIXED_DIMS = {"region", "nation"}

#: table -> {column: stride_source_table}; each listed column is shifted
#: by replica_index * (base max of the stride source's own key + 1).
KEY_COLS = {
    "customer": {"c_custkey": "customer"},
    "supplier": {"s_suppkey": "supplier"},
    "part": {"p_partkey": "part"},
    "orders": {"o_orderkey": "orders", "o_custkey": "customer"},
    "lineitem": {
        "l_orderkey": "orders",
        "l_partkey": "part",
        "l_suppkey": "supplier",
    },
    "events": {"event_id": "events", "user_id": "__events_user"},
    "documents": {"doc_id": "documents"},
    "embeddings": {"vec_id": "embeddings"},
}

#: stride-source name -> (table, key column) to take max+1 from.
STRIDE_KEY = {
    "customer": ("customer", "c_custkey"),
    "supplier": ("supplier", "s_suppkey"),
    "part": ("part", "p_partkey"),
    "orders": ("orders", "o_orderkey"),
    "events": ("events", "event_id"),
    "__events_user": ("events", "user_id"),
    "documents": ("documents", "doc_id"),
    "embeddings": ("embeddings", "vec_id"),
}


def _letter_permutation_table(replica: int) -> dict[int, int]:
    """Seeded random permutation of a-z (applied to A-Z in lockstep):
    a character bijection like the old Caesar rotation, but DISTINCT
    for every replica index. Caesar's 26-shift period made replicas 26
    apart byte-identical — extending the scale curve past k=26 (sf2.6)
    would have injected quadratic cross-replica exact-dup volume. A
    seeded permutation has no period; any non-identity permutation
    drives multi-character shingle overlap to ~zero (a word survives
    only if every letter is a fixed point)."""
    rng = np.random.default_rng(7_000_003 * replica)
    perm = rng.permutation(26)
    tbl = {}
    for base in (ord("a"), ord("A")):
        for j in range(26):
            tbl[base + j] = base + int(perm[j])
    return tbl


def _transform_documents(tab: pa.Table, replica: int) -> pa.Table:
    if replica == 0:
        return tab
    trans = _letter_permutation_table(replica)
    texts = tab.column("text").to_pylist()
    new_texts = [t.translate(trans) if t is not None else None for t in texts]
    idx = tab.schema.get_field_index("text")
    return tab.set_column(idx, tab.schema.field(idx), pa.array(new_texts, pa.string()))


def _transform_embeddings(tab: pa.Table, replica: int) -> pa.Table:
    if replica == 0:
        return tab
    col = tab.column("embedding").combine_chunks()
    mat = np.array(col.to_pylist(), dtype=np.float32)
    d = mat.shape[1]
    # Deterministic per-replica orthogonal op: diagonal +-1 then roll.
    rng = np.random.default_rng(1_000_003 * replica)
    signs = rng.choice(np.array([-1.0, 1.0], dtype=np.float32), size=d)
    mat = np.roll(mat * signs, shift=(replica * 5) % d or 1, axis=1)
    arr = pa.array(list(mat), pa.list_(pa.float32()))
    idx = tab.schema.get_field_index("embedding")
    return tab.set_column(idx, tab.schema.field(idx), arr)


def build(base: str, out: str, k: int, only: list[str] | None = None) -> None:
    """``only`` builds a PARTIAL directory holding just the named
    tables (plus the fixed dims) — the r8 third-decade spot-check
    needs sf15 documents+embeddings (~2 GB) without paying for a 4.5M-
    row lineitem nobody will query there. A partial dir is for
    targeted scaling_study.py --queries runs only; bench.py's full
    sweep needs a complete one."""
    os.makedirs(out, exist_ok=True)
    tables = [t for t in TABLES if only is None or t in only or t in FIXED_DIMS]
    tabs = {t: pq.read_table(f"{base}/{t}.parquet") for t in TABLES}
    strides = {
        name: pc.max(tabs[t].column(c)).as_py() + 1
        for name, (t, c) in STRIDE_KEY.items()
    }
    for t in tables:
        dest = f"{out}/{t}.parquet"
        if os.path.isdir(dest):
            shutil.rmtree(dest)
        elif os.path.exists(dest):
            os.remove(dest)
        if t in FIXED_DIMS:
            shutil.copyfile(f"{base}/{t}.parquet", dest)
            continue
        base_tab = tabs[t]
        replicas = []
        for i in range(k):
            tab = base_tab
            for col, src in KEY_COLS.get(t, {}).items():
                if i == 0:
                    continue
                idx = tab.schema.get_field_index(col)
                field = tab.schema.field(idx)
                shifted = pc.cast(
                    pc.add(tab.column(col), i * strides[src]), field.type
                )
                tab = tab.set_column(idx, field, shifted)
            if t == "documents":
                tab = _transform_documents(tab, i)
            elif t == "embeddings":
                tab = _transform_embeddings(tab, i)
            replicas.append(tab)
        # One file per replica (a directory named <t>.parquet — Spark,
        # pyarrow, and DuckDB all read it transparently; pyarrow datasets
        # list files in sorted name order, so row order == replica order).
        # A merged single file caps Spark's scan parallelism at
        # size/maxPartitionBytes — sf5 documents (28 MB) was ONE input
        # split, so every scan-side exponent measured single-task time.
        # Real corpora arrive as many files; k files IS the honest layout.
        os.makedirs(dest, exist_ok=True)
        total = 0
        for i, tab in enumerate(replicas):
            pq.write_table(tab, f"{dest}/part-{i:05d}.parquet", row_group_size=1 << 20)
            total += tab.num_rows
        print(f"{t}: {base_tab.num_rows} -> {total} rows in {len(replicas)} files")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--base", default="/root/testdata/sf0.1")
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument(
        "--out",
        default=os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scale", "sf1"
        ),
    )
    ap.add_argument(
        "--tables", default=None,
        help="comma-separated subset to build (partial dir; fixed dims ride along)",
    )
    args = ap.parse_args()
    only = args.tables.split(",") if args.tables else None
    build(args.base, args.out, args.k, only=only)


if __name__ == "__main__":
    main()
