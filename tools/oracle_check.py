"""Local replica of the driver's t2 correctness gate.

Runs every ``__spark_entry__.queries()`` entry on Spark at a given sf dir,
runs the matching ``oracle_sql()`` in DuckDB over the same parquet files,
and compares row count + column names + order-insensitive canonical value
hash. Use this before declaring any query done.

Usage:  python tools/oracle_check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import time
import traceback

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def canon_cell(v) -> str:
    """Engine-neutral canonical form of one value."""
    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # repr round-trips doubles exactly; 1e16-scale ints print the same.
        return repr(v)
    if isinstance(v, bool):
        return "T" if v else "F"
    if hasattr(v, "isoformat"):
        s = v.isoformat()
        return s[:-6] if s.endswith("+00:00") else s
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon_cell(x) for x in v) + "]"
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, int):
        return repr(v)
    return str(v)


def canon_rows(columns: list[str], rows: list[tuple]) -> tuple[str, list[str]]:
    """Sort columns by name, canonicalize cells, sort rows, hash."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("|".join(canon_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]
    return h, lines


def run(sf_dir: str, only: list[str]) -> int:
    import __spark_entry__ as entrymod
    from rta_registrations_pyspark_glue_spark.session import get_spark

    spark = get_spark("oracle_check")
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    names = only or list(qs)
    failures = 0
    for name in names:
        if name not in qs:
            print(f"[{name}] NOT REGISTERED")
            failures += 1
            continue
        t0 = time.time()
        try:
            sdf = qs[name](spark, sf_dir)
            scols = sdf.columns
            # The external driver canonicalizes with pandas, which cannot
            # hash list/struct/map cells (round-1 gate: TypeError
            # unhashable type). Complex output types are a gate bug even
            # when this replica (which canonicalizes them) passes.
            complex_cols = [
                f.name for f in sdf.schema.fields
                if f.dataType.typeName() in ("array", "map", "struct")
            ]
            if complex_cols:
                print(f"[{name}] GATE-UNSAFE complex columns {complex_cols} — "
                      "serialize to JSON/scalars")
                failures += 1
            srows = [tuple(r) for r in sdf.collect()]
        except Exception:
            print(f"[{name}] SPARK ERROR\n{traceback.format_exc()}")
            failures += 1
            continue
        if name not in oracles:
            print(f"[{name}] rows-only (no oracle): {len(srows)} rows "
                  f"({time.time()-t0:.1f}s)")
            continue
        try:
            cur = con.execute(oracles[name])
            dcols = [d[0] for d in cur.description]
            drows = cur.fetchall()
        except Exception:
            print(f"[{name}] DUCKDB ERROR\n{traceback.format_exc()}")
            failures += 1
            continue

        ok_rows = len(srows) == len(drows)
        ok_cols = sorted(scols) == sorted(dcols)
        shash, slines = canon_rows(scols, srows)
        dhash, dlines = canon_rows(dcols, drows)
        ok_hash = shash == dhash
        status = "OK" if (ok_rows and ok_cols and ok_hash) else "FAIL"
        if status == "FAIL":
            failures += 1
        print(
            f"[{name}] {status} rows={len(srows)}/{len(drows)} "
            f"cols={'=' if ok_cols else f'{sorted(scols)} vs {sorted(dcols)}'} "
            f"hash={'=' if ok_hash else f'{shash} vs {dhash}'} "
            f"({time.time()-t0:.1f}s)"
        )
        if not ok_hash and ok_cols:
            sset, dset = set(slines), set(dlines)
            for tag, diff in (("spark-only", sset - dset), ("duck-only", dset - sset)):
                for line in sorted(diff)[:3]:
                    print(f"    {tag}: {line[:200]}")
    spark.stop()
    return failures


if __name__ == "__main__":
    args = sys.argv[1:]
    sf = args[0] if args and "/" in args[0] else "/root/testdata/sf0.01"
    rest = args[1:] if args and "/" in args[0] else args
    sys.exit(1 if run(sf, rest) else 0)
