"""Entity resolution: exact + blocked-fuzzy matching (SURVEY.md §2.3
J1-J5 — the reference's most distinctive operator subgraph,
etl2_advclean_and_dimcreatin.py:195-244).

Each probe row is resolved IN PLACE by two broadcast lookups, so the
subgraph adds no shuffle on the probe side and the caller never joins a
resolution map back (all stages lazy, composable):

1. exact: the catalog grouped by (normalized text, exact attrs) to its
   lowest id, broadcast-left-joined to the probe rows (J1) — at most one
   row per probe row;
2. staging: a row whose exact id is null is the unresolved set; only
   those rows get a fuzzy block key (J2);
3. blocked candidates: the catalog grouped by (prefix block key, exact
   attrs) into arrays of (id, text), broadcast-left-joined on the block
   key. Blocking bounds the Levenshtein candidate space from
   |probe|x|catalog| to per-block (J4). It is query *formulation*: no
   optimizer can invent it, and it is the one reference idea that
   transfers directly to 100 TB near-dup work (the MinHash-LSH operator
   generalizes it);
4. edit-distance filter (<= threshold) and a deterministic best
   candidate: ``array_min`` over (distance, catalog id) structs, the
   same total order as the reference's row_number window (J5);
5. the reference's unionByName(exact, fuzzy) (U1) becomes a coalesce of
   the two lookups on the same row.

Scale notes: both lookups are catalog-sized (a dimension), so they are
always broadcast. A skewed block (a very common 2-char prefix) costs one
longer candidate array on the probes that hit it, not a skewed shuffle.
"""

from __future__ import annotations

from functools import reduce
from operator import and_

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

FUZZY_THRESHOLD = 3  # reference: etl2_advclean_and_dimcreatin.py:60
BLOCK_PREFIX_LEN = 2  # reference: etl2_advclean_and_dimcreatin.py:222


def norm(c: Column | str) -> Column:
    col = F.col(c) if isinstance(c, str) else c
    return F.lower(F.trim(col))


def resolve_rows(
    probe: DataFrame,
    catalog: DataFrame,
    probe_text: str,
    catalog_id: str,
    catalog_text: str,
    extra_exact_keys: list[tuple[str, str]] | None = None,
    threshold: int = FUZZY_THRESHOLD,
    block_len: int = BLOCK_PREFIX_LEN,
) -> DataFrame:
    """Resolve every probe row to a catalog id, exactly when possible and
    by bounded edit distance otherwise.

    Returns every probe row (same count, same columns) plus RESOLVED_ID
    (null if unmatched), LEV_DIST (null for exact matches) and
    IS_FUZZY_MATCH.

    ``extra_exact_keys``: (probe_col, catalog_col) pairs that must match
    exactly in both stages (the reference uses make-year, etl2:210,231).

    Distinct catalog ids can share normalized text (case/whitespace
    variants hash to different ids but normalize equal): the lowest id
    wins, mirroring the fuzzy stage's (distance, id) order (etl2:236).
    Duplicate catalog rows change nothing."""
    extra = extra_exact_keys or []
    xs = [f"__cat_x{i}" for i in range(len(extra))]
    cat = catalog.select(
        F.col(catalog_id).alias("__cat_id"),
        norm(catalog_text).alias("__cat_text"),
        *[norm(c).alias(x) for x, (_, c) in zip(xs, extra)],
    )
    # Join conditions name columns (all unique), not parent DataFrames, so
    # Spark's ambiguous-self-join check never trips when probe and catalog
    # share lineage (as in dim-from-same-data).
    text = norm(probe_text)
    probe_x = [norm(p) == F.col(x) for x, (p, _) in zip(xs, extra)]

    # 1) exact (J1, etl2:206-213): one lowest id per (text, attrs).
    exact = cat.groupBy("__cat_text", *xs).agg(F.min("__cat_id").alias("__exact_id"))
    cond = reduce(and_, probe_x, text == F.col("__cat_text"))
    out = probe.join(F.broadcast(exact), cond, "left").drop("__cat_text", *xs)

    # 2-3) only rows the exact stage missed get a block key (J2, J4,
    # etl2:216-232); a null key never matches, so exact rows skip the
    # fuzzy lookup entirely. Every catalog block is block_len long, so a
    # shorter probe never matches one.
    probe_block = F.when(F.col("__exact_id").isNull(), F.substring(text, 1, block_len))
    cat_block = F.substring("__cat_text", 1, block_len)
    cands = (
        cat.filter(F.length(cat_block) >= block_len)
        .groupBy(cat_block.alias("__cat_block"), *xs)
        .agg(F.collect_list(F.struct("__cat_id", "__cat_text")).alias("__cands"))
    )
    cond = reduce(and_, probe_x, probe_block == F.col("__cat_block"))

    # 4) best candidate within threshold by (distance, id) (J5, etl2:236-238).
    scored = F.transform(
        "__cands",
        lambda c: F.struct(
            F.levenshtein(text, c["__cat_text"]).alias("d"), c["__cat_id"].alias("id")
        ),
    )
    best = F.array_min(F.filter(scored, lambda t: t["d"] <= threshold))
    out = (
        out.join(F.broadcast(cands), cond, "left")
        .drop("__cat_block", *xs)
        .withColumn("__best", best)
    )

    # 5) one row: the exact id, else the fuzzy one (U1, etl2:243-244).
    return out.withColumns(
        {
            "RESOLVED_ID": F.coalesce("__exact_id", F.col("__best.id")),
            "LEV_DIST": F.col("__best.d"),
            "IS_FUZZY_MATCH": F.col("__best").isNotNull(),
        }
    ).drop("__exact_id", "__cands", "__best")


def resolve_exact_fuzzy(
    probe: DataFrame,
    catalog: DataFrame,
    probe_key: str,
    probe_text: str,
    catalog_id: str,
    catalog_text: str,
    extra_exact_keys: list[tuple[str, str]] | None = None,
    threshold: int = FUZZY_THRESHOLD,
    block_len: int = BLOCK_PREFIX_LEN,
) -> DataFrame:
    """One resolution row per matched probe key: columns ``probe_key``,
    RESOLVED_ID, LEV_DIST (null for exact matches), IS_FUZZY_MATCH.
    Unmatched keys are absent; a key with several probe rows keeps one
    of them. See ``resolve_rows`` for the matching rules."""
    extra = extra_exact_keys or []
    cols = dict.fromkeys([probe_key, probe_text, *[p for p, _ in extra]])
    pro = probe.select(*cols).dropDuplicates([probe_key])
    resolved = resolve_rows(
        pro, catalog, probe_text, catalog_id, catalog_text, extra, threshold, block_len
    )
    return resolved.filter(F.col("RESOLVED_ID").isNotNull()).select(
        probe_key, "RESOLVED_ID", "LEV_DIST", "IS_FUZZY_MATCH"
    )
