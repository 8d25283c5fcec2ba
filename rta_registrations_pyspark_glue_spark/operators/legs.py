"""The two Spark shapes every one-row-per-document media leg shares.

``synth_leg`` turns document ids into deterministic fixture payloads
and ``decode_leg`` turns payloads into one typed feature row each. A
codec module supplies only pure functions (``int -> bytes`` to encode,
``bytes -> dict`` to parse); the per-row loop, the worker-process memo,
the pandas dtypes and the failure envelope live here once.

The envelope rule: a row whose parse raises one of ``DECODE_ERRORS``,
or whose parsed value does not fit its Spark column (an ``int`` above
2³¹−1 in an ``int`` column, a non-integer in an integer column, a
non-string in a ``string`` column), comes back with its ``*_ok`` column
false and NULL features. Malformed media never fails the job. Parsers
raise these types for malformed input at the source; an exception
outside the tuple (``IndexError``, ``KeyError``) is a parser bug and
still fails the task.
"""

from __future__ import annotations

import operator
import struct
from collections.abc import Callable, Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.types import IntegerType, LongType, StringType, StructType

from rta_registrations_pyspark_glue_spark.operators.spread import spread_ids

SYNTH_SCHEMA = "doc_id bigint, content binary"

#: What a parser may raise on malformed media: the union of what the
#: codec parsers raise (``struct.error`` from short ``unpack_from``
#: reads, ``OSError`` from zlib/gzip streams, ``TypeError`` from NULL
#: content).
DECODE_ERRORS = (ValueError, NotImplementedError, TypeError, struct.error, OSError)


def synth_leg(
    docs: DataFrame,
    encode: Callable[[object], bytes],
    key: Callable[[int], object] | None = None,
    cache: str | None = None,
) -> DataFrame:
    """``(doc_id, content)`` with ``content = encode(key(doc_id))``
    (``encode(doc_id)`` without a ``key``). With a ``cache`` name the
    payloads are memoized per worker process under that name
    (operators/workercache.py), so a leg whose keys repeat across
    documents encodes each distinct key once per worker."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # resolved inside the op so a reused worker shares one dict
        # across tasks (see workercache.py)
        from rta_registrations_pyspark_glue_spark.operators.workercache import (
            cache_put,
            worker_cache,
        )

        memo = worker_cache(cache) if cache is not None else None
        for pdf in batches:
            payloads = []
            for doc_id in pdf["doc_id"]:
                k = int(doc_id) if key is None else key(int(doc_id))
                if memo is None:
                    payloads.append(encode(k))
                    continue
                val = memo.get(k)
                if val is None:
                    val = cache_put(memo, k, encode(k))
                payloads.append(val)
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "content": pd.Series(payloads, dtype="object")}
            )

    return spread_ids(docs.select("doc_id")).mapInPandas(op, SYNTH_SCHEMA)


def _int_cast(bits: int) -> Callable:
    lo, hi = -(1 << (bits - 1)), (1 << (bits - 1)) - 1

    def cast(v):
        if v is None:
            return None
        v = operator.index(v)  # TypeError for floats/strings
        if not lo <= v <= hi:
            raise ValueError(f"{v} does not fit a {bits}-bit column")
        return v

    return cast


def _str_cast(v):
    if v is not None and not isinstance(v, str):
        raise TypeError(f"{type(v).__name__} in a string column")
    return v


#: Spark column type -> (row cast, pandas dtype)
_COLUMN_TYPES = {
    IntegerType(): (_int_cast(32), "Int32"),
    LongType(): (_int_cast(64), "Int64"),
    StringType(): (_str_cast, "object"),
}


def decode_leg(
    df: DataFrame, parse: Callable[[bytes], dict], schema: str
) -> DataFrame:
    """One row per document of ``df`` (``doc_id``, ``content``):
    ``parse(content)`` gives the feature values by column name (a
    missing key is NULL). ``schema`` is the Spark DDL
    ``doc_id bigint, <features>, <name>_ok boolean``; each feature's
    pandas dtype and fit check come from its column type (``int``,
    ``bigint`` or ``string``). Rows that fail follow the envelope rule
    in the module docstring."""
    *fields, ok = StructType.fromDDL(schema).fields[1:]
    cols = [(f.name, *_COLUMN_TYPES[f.dataType]) for f in fields]

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for content in pdf["content"]:
                try:
                    got = parse(bytes(content))
                    rows.append([cast(got.get(name)) for name, cast, _ in cols])
                except DECODE_ERRORS:
                    rows.append(None)
            out = {"doc_id": pdf["doc_id"]}
            for i, (name, _, dtype) in enumerate(cols):
                vals = [None if r is None else r[i] for r in rows]
                out[name] = (
                    pd.Series(vals, dtype=dtype)
                    if dtype == "object"
                    else pd.array(vals, dtype=dtype)
                )
            out[ok.name] = pd.array([r is not None for r in rows], dtype="boolean")
            yield pd.DataFrame(out)

    return df.select("doc_id", "content").mapInPandas(op, schema)
