"""Resolution-operator edge cases surfaced by review: normalized-text
collisions in the catalog, and dimension determinism when attributes are
not key-determined."""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from rta_registrations_pyspark_glue_spark.operators import dedup, resolve


def test_exact_stage_collision_resolves_to_one_row(spark):
    """Two catalog ids whose text normalizes equal ('alto lxi' vs
    'Alto Lxi') must yield exactly ONE resolution row per probe key, with
    the deterministic lowest-id winner."""
    catalog = spark.createDataFrame(
        [Row(cid=11, text="alto lxi"), Row(cid=10, text="Alto Lxi")]
    )
    probe = spark.createDataFrame([Row(pk=1, text="ALTO LXI ")])
    out = resolve.resolve_exact_fuzzy(
        probe, catalog, probe_key="pk", probe_text="text",
        catalog_id="cid", catalog_text="text",
    ).collect()
    assert len(out) == 1
    assert out[0]["RESOLVED_ID"] == 10
    assert out[0]["IS_FUZZY_MATCH"] is False


def test_dedup_deterministic_stable_across_partitioning(spark):
    rows = [Row(k="a", v=f"val{i}", n=i) for i in range(20)]
    df1 = spark.createDataFrame(rows).repartition(1)
    df7 = spark.createDataFrame(rows).repartition(7)
    a = dedup.dedup_deterministic(df1, ["k"]).collect()
    b = dedup.dedup_deterministic(df7, ["k"]).collect()
    assert a == b
    assert a[0]["v"] == "val0"  # lexicographic min struct


def test_asof_join_atomic_payload_and_null_handling(spark):
    """The newest right row wins ATOMICALLY: its NULL payload field must
    not be back-filled from an older row; NULL-ts right rows never match."""
    from rta_registrations_pyspark_glue_spark.operators import windows

    right = spark.createDataFrame(
        [
            Row(k=1, rts=1, a=100, b=200, tb=10),
            Row(k=1, rts=2, a=None, b=300, tb=11),  # newest: a genuinely NULL
            Row(k=1, rts=None, a=999, b=999, tb=12),  # NULL ts: never matches
        ],
        "k int, rts int, a int, b int, tb int",
    )
    left = spark.createDataFrame(
        [Row(k=1, lts=3, lid=1, tb=1), Row(k=1, lts=0, lid=2, tb=2)],
        "k int, lts int, lid int, tb int",
    )
    out = {
        r.lid: (r.asof_a, r.asof_b)
        for r in windows.asof_join(
            left, right, on=["k"], left_ts="lts", right_ts="rts",
            right_payload=["a", "b"], tiebreak="tb",
        ).collect()
    }
    # lid=1 (ts=3): newest right row is rts=2 → (None, 300), NOT (100, 300).
    assert out[1] == (None, 300)
    # lid=2 (ts=0): nothing at-or-before, and the NULL-ts row is excluded.
    assert out[2] == (None, None)


def test_fuzzy_path_unaffected_by_collision_fix(spark):
    """A probe that misses exactly still fuzzy-matches within threshold."""
    catalog = spark.createDataFrame([Row(cid=1, text="swift vdi")])
    probe = spark.createDataFrame([Row(pk=9, text="swfit vdi")])  # lev 2
    out = resolve.resolve_exact_fuzzy(
        probe, catalog, probe_key="pk", probe_text="text",
        catalog_id="cid", catalog_text="text",
    ).collect()
    assert len(out) == 1
    assert out[0]["RESOLVED_ID"] == 1 and out[0]["IS_FUZZY_MATCH"] is True
    assert out[0]["LEV_DIST"] == 2


def test_asof_join_numeric_tiebreak_orders_natively(spark):
    """At equal (key, ts) the max-tiebreak right row wins in NATIVE
    numeric order: tb=10 must beat tb=2 even though '10' < '2'."""
    from rta_registrations_pyspark_glue_spark.operators import windows

    right = spark.createDataFrame(
        [Row(k=1, rts=1, a=2, tb=2), Row(k=1, rts=1, a=10, tb=10)],
        "k int, rts int, a int, tb int",
    )
    left = spark.createDataFrame([Row(k=1, lts=1, tb=1)], "k int, lts int, tb int")
    out = windows.asof_join(
        left, right, on=["k"], left_ts="lts", right_ts="rts",
        right_payload=["a"], tiebreak="tb",
    ).collect()
    assert out[0]["asof_a"] == 10


def test_release_tracked_unpersists_but_pipeline_memo_survives(spark):
    """caching.release_tracked drops every tracked persist; the plan memo
    (plans/planmemo.py, which holds rta_pipeline_star's plan) survives
    the release: it holds unexecuted plans, so only the persisted data is
    dropped and a later call re-arms the persists instead of rebuilding
    the DAG."""
    from rta_registrations_pyspark_glue_spark import caching
    from rta_registrations_pyspark_glue_spark.plans import planmemo

    @planmemo.plan_memo
    def fake_pipeline(spark, sf_dir):
        return spark.range(3)

    df = caching.tracked_persist(spark.range(10))
    df.count()
    assert df.storageLevel.useMemory
    plan = fake_pipeline(spark, "dir")
    try:
        caching.release_tracked()
        assert not df.storageLevel.useMemory
        assert fake_pipeline(spark, "dir") is plan
    finally:
        planmemo.clear_plan_memo()


@pytest.mark.parametrize(
    "catalog, text, expected",
    [
        # exact match: no distance, not fuzzy
        ([(1, "alto lxi")], "Alto LXI", (1, None, False)),
        # fuzzy distance tie (1 to both): the lowest catalog id wins
        # (distance 2 to id 2, 4 to id 6: distance orders before id)
        ([(7, "swift vxi"), (5, "swift lxi"), (2, "swift vx"), (6, "swift")],
         "swift zxi", (5, 1, True)),
        # a probe shorter than block_len resolves exactly ...
        ([(3, "a")], "a", (3, None, False)),
        # ... but never fuzzily, even within threshold
        ([(4, "a"), (8, "bb")], "b", (None, None, False)),
        # every candidate in the block exceeds the threshold
        ([(1, "swift vdi")], "swxxxxxxx", (None, None, False)),
    ],
)
def test_resolve_rows_cases(spark, catalog, text, expected):
    """resolve_rows keeps every probe row and attaches (RESOLVED_ID,
    LEV_DIST, IS_FUZZY_MATCH); resolve_exact_fuzzy keeps only the
    matched keys."""
    cat = spark.createDataFrame([Row(cid=i, text=t) for i, t in catalog])
    probe = spark.createDataFrame([Row(pk=9, text=text, other="kept")])
    kw = dict(catalog_id="cid", catalog_text="text")
    rows = resolve.resolve_rows(probe, cat, probe_text="text", **kw).collect()
    assert len(rows) == 1
    assert rows[0].asDict() == {
        "pk": 9, "text": text, "other": "kept",
        **dict(zip(("RESOLVED_ID", "LEV_DIST", "IS_FUZZY_MATCH"), expected)),
    }
    out = resolve.resolve_exact_fuzzy(
        probe, cat, probe_key="pk", probe_text="text", **kw
    ).collect()
    if expected[0] is None:
        assert out == []
    else:
        assert [tuple(r) for r in out] == [(9, *expected)]
