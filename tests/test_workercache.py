"""workercache: worker-process-persistent fixture memos (r13).

The mapInPandas synth ops resolve their payload memos through
``worker_cache`` at call time (an import executed inside the op), so a
reused Python worker shares one dict across tasks and jobs. These tests
pin the process-level identity/cap contract and — end to end on a real
session — that a leg's fixtures actually land in the worker module's
cache (the closure-captured module-global form they replace was
cloudpickled by value and provably never shared)."""

from __future__ import annotations

import pytest

from rta_registrations_pyspark_glue_spark.operators import workercache


def test_worker_cache_identity_and_cap():
    a = workercache.worker_cache("t_identity")
    b = workercache.worker_cache("t_identity")
    assert a is b
    c = workercache.worker_cache("t_other")
    assert c is not a
    small = workercache.worker_cache("t_cap")
    for i in range(5):
        workercache.cache_put(small, i, i, cap=3)
    assert len(small) == 3  # admission stops at the cap
    # existing keys still readable; puts of present keys are no-ops past cap
    assert small[0] == 0


def test_synth_fixtures_land_in_worker_module_cache(spark):
    """End-to-end: after one audio synth leg runs, a probe task on the
    same worker pool sees non-empty ims/ms caches in ITS process-level
    module — the property that makes a second invocation (bench pass 2,
    the per-leg decomposition) skip the fixture encode entirely."""
    import pandas as pd  # noqa: F401

    from rta_registrations_pyspark_glue_spark.operators import audio

    docs = spark.range(0, 64).selectExpr("id as doc_id")
    audio.decode_audio_features(audio.synthesize_adpcm_docs(docs)).write.format(
        "noop"
    ).mode("overwrite").save()

    def probe(batches):
        import pandas as pd

        from rta_registrations_pyspark_glue_spark.operators import (
            workercache as w,
        )

        n = len(w.worker_cache("ima_synth"))
        for _ in batches:
            yield pd.DataFrame({"n": [n]})

    rows = (
        spark.range(0, 64, 1, 8)
        .mapInPandas(probe, "n long")
        .collect()
    )
    # at least one reused worker carries warmed fixtures
    assert max(r.n for r in rows) > 0


def test_load_table_plan_memo_identity_and_isolation(spark):
    """r13: load_table memoizes the UNEXECUTED DataFrame plan per
    (applicationId, sf_dir, name) — repeated loads return the same
    immutable plan object (the bench paid a fresh footer-read/schema
    inference py4j round per call), different tables/dirs stay distinct,
    and the session confs the loader pins are still pinned on memo hits."""
    from rta_registrations_pyspark_glue_spark.sources import testdata

    sf = "/root/testdata/sf0.001"
    a = testdata.load_table(spark, "documents", sf)
    b = testdata.load_table(spark, "documents", sf)
    assert a is b
    c = testdata.load_table(spark, "region", sf)
    assert c is not a
    # conf pinning still happens on the hit path
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    testdata.load_table(spark, "documents", sf)
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    # the memoized plan recomputes from parquet on every action (it is a
    # plan, not data): two actions agree with a fresh non-memo read
    fresh = spark.read.parquet(f"{sf}/documents.parquet")
    assert a.count() == fresh.count() == a.count()


def test_spread_decision_memo_consistent_with_probe(spark):
    """r13: spread_ids/spread_rows memoize the widen decision per
    (application, analyzed-plan semanticHash, target) — the raw
    partition probe runs full physical planning per fresh DataFrame.
    Pin: repeated semantically-equal inputs give the same partitioning
    as the unmemoized probe would, and a genuinely-wide frame is never
    coalesced."""
    from rta_registrations_pyspark_glue_spark.operators import spread

    narrow = spark.range(0, 100, 1, 1).selectExpr("id as doc_id")
    s1 = spread.spread_ids(narrow)
    s2 = spread.spread_ids(spark.range(0, 100, 1, 1).selectExpr("id as doc_id"))
    tgt = max(8, spark.sparkContext.defaultParallelism // 4)
    assert s1.rdd.getNumPartitions() == tgt
    assert s2.rdd.getNumPartitions() == tgt  # memo hit path, same answer
    wide = spark.range(0, 1000, 1, 64).selectExpr("id as doc_id")
    assert spread.spread_rows(wide) is wide  # never coalesced
    assert spread.spread_rows(wide) is wide  # memo hit path


def test_load_table_memo_invalidates_on_rewrite(spark, tmp_path):
    """r14 (VERDICT r13 #7): the plan memo is keyed on a local-stat
    fingerprint of the table file, so REGENERATING a table
    mid-application serves a fresh plan (the r13 memo pinned the first
    read's file index for the application's life and went stale)."""
    import os
    import time

    from rta_registrations_pyspark_glue_spark.sources import testdata

    sf = str(tmp_path)
    path = os.path.join(sf, "region.parquet")
    spark.range(0, 5).selectExpr("id as r_regionkey").write.parquet(path)
    first = testdata.load_table(spark, "region", sf)
    assert first.count() == 5
    assert testdata.load_table(spark, "region", sf) is first  # memo hit
    time.sleep(0.01)  # ensure a distinct mtime_ns even on coarse clocks
    spark.range(0, 9).selectExpr("id as r_regionkey").write.mode(
        "overwrite"
    ).parquet(path)
    second = testdata.load_table(spark, "region", sf)
    assert second is not first  # fingerprint change invalidated the memo
    assert second.count() == 9


def test_clear_hooks_exist_and_clear(spark, sf_dir):
    """planmemo.clear_plan_memo is the one in-process invalidation hook
    for tools/tests that rewrite inputs mid-application: it empties the
    single store that load_table, plan_memo, the spread guard and the
    ANN index parts share."""
    from rta_registrations_pyspark_glue_spark.operators import spread
    from rta_registrations_pyspark_glue_spark.plans import planmemo, queries_similarity
    from rta_registrations_pyspark_glue_spark.sources import testdata

    @planmemo.plan_memo
    def fake_query(spark, sf_dir):
        return spark.range(3)

    planmemo.clear_plan_memo()
    spread.spread_ids(testdata.load_table(spark, "documents", sf_dir))
    fake_query(spark, sf_dir)
    queries_similarity._ivf_index(spark, sf_dir)
    names = {name for name, _ in planmemo._MEMO}
    assert {"load_table", "spread._needs_spread", "ivf_index"} <= names
    assert any(n.endswith("fake_query") for n in names)
    planmemo.clear_plan_memo()
    assert planmemo._MEMO == {}


def test_ivf_index_memo_rearms_only_the_assignment(spark, sf_dir, monkeypatch):
    """The IVF index memo records only the persisted cell assignment:
    the distributed trainer's own persist is released before it returns,
    so a memo hit never re-arms a frame no search reads."""
    import os

    from rta_registrations_pyspark_glue_spark import caching
    from rta_registrations_pyspark_glue_spark.operators import similarity
    from rta_registrations_pyspark_glue_spark.plans import planmemo, queries_similarity

    monkeypatch.setattr(similarity, "_DIST_TRAIN_MIN_FLOPS", 0)
    planmemo.clear_plan_memo()
    try:
        idx = queries_similarity._ivf_index(spark, sf_dir)
        key = ("ivf_index", os.path.join(sf_dir, "embeddings.parquet"))
        recorded = planmemo._MEMO[key][3]
        assert len(recorded) == 1 and recorded[0] is idx.assignment
    finally:
        planmemo.clear_plan_memo()
        caching.release_tracked()


@pytest.mark.parametrize("name", ["simhash_suite", "rta_pipeline_star"])
def test_plan_memo_reuses_plan_and_rearms_persists(spark, sf_dir, name):
    """A decorated action-free query build returns the IDENTICAL plan
    object on re-invocation (no driver rebuild), its recorded internal
    persists are re-armed after release_tracked and registered for the
    next release, and the results of pass 1 and pass 2 are equal (the
    plan is a plan — every action recomputes from parquet)."""
    from rta_registrations_pyspark_glue_spark import caching
    from rta_registrations_pyspark_glue_spark.plans import planmemo, registry

    def armed(frames):
        return [f.storageLevel.useMemory or f.storageLevel.useDisk for f in frames]

    query = registry.queries()[name]
    planmemo.clear_plan_memo()
    a = query(spark, sf_dir)
    rows_a = sorted(map(str, a.collect()))
    ((_, fp, plan, persisted),) = [
        e for (n, _), e in planmemo._MEMO.items() if n.endswith(f".{name}")
    ]
    assert plan is a
    # the key's input is sf_dir and the entry carries its fingerprint, so
    # rewriting an input invalidates the entry
    assert fp is not None
    if name == "rta_pipeline_star":
        assert persisted, "the build must record its tracked frames"
    assert all(armed(persisted))
    caching.release_tracked()
    assert not any(armed(persisted))
    b = query(spark, sf_dir)
    assert b is a  # memo hit: same unexecuted plan object
    assert all(armed(persisted))  # persists re-armed
    rows_b = sorted(map(str, b.collect()))
    assert rows_a == rows_b
    caching.release_tracked()
    assert not any(armed(persisted))  # re-registered for release
    planmemo.clear_plan_memo()


def test_plan_memo_invalidates_on_input_rewrite(spark, tmp_path):
    """The planmemo key folds in the sf_dir parquet listing fingerprint:
    regenerating a table mid-application yields a fresh build, not the
    stale plan (same r14 contract as load_table)."""
    import os
    import time

    from rta_registrations_pyspark_glue_spark.plans import planmemo

    calls = []

    @planmemo.plan_memo
    def fake_query(spark, sf_dir):
        calls.append(sf_dir)
        return spark.range(3)

    sf = str(tmp_path)
    path = os.path.join(sf, "documents.parquet")
    spark.range(0, 4).selectExpr("id as doc_id").write.parquet(path)
    fake_query(spark, sf)
    fake_query(spark, sf)
    assert len(calls) == 1  # memo hit while inputs unchanged
    time.sleep(0.01)
    spark.range(0, 6).selectExpr("id as doc_id").write.mode("overwrite").parquet(path)
    fake_query(spark, sf)
    assert len(calls) == 2  # fingerprint change -> rebuild


def test_pipeline_star_rebuilds_after_input_rewrite(spark, sf_dir, tmp_path):
    """Rewriting an input mid-application rebuilds rta_pipeline_star:
    the rebuilt result matches the DuckDB oracle on the NEW files (no
    stale plan or stale persisted stage is served)."""
    import os
    import shutil

    import duckdb
    import pyarrow.parquet as pq

    from rta_registrations_pyspark_glue_spark import caching
    from rta_registrations_pyspark_glue_spark.plans import registry
    from rta_registrations_pyspark_glue_spark.sources.testdata import TABLES

    sf = str(tmp_path)
    for t in TABLES:
        shutil.copyfile(f"{sf_dir}/{t}.parquet", f"{sf}/{t}.parquet")
    query = registry.queries()["rta_pipeline_star"]
    oracle = registry.oracle_sql()["rta_pipeline_star"]

    def spark_rows():
        df = query(spark, sf)
        cols = sorted(df.columns)
        return sorted(repr(tuple(r[c] for c in cols)) for r in df.collect())

    def oracle_rows():
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
        cur = con.execute(oracle)
        names = [d[0] for d in cur.description]
        order = sorted(range(len(names)), key=names.__getitem__)
        return sorted(repr(tuple(r[i] for i in order)) for r in cur.fetchall())

    try:
        before = spark_rows()
        assert before == oracle_rows()
        orders = pq.read_table(os.path.join(sf, "orders.parquet"))
        pq.write_table(
            orders.slice(0, orders.num_rows // 2), os.path.join(sf, "orders.parquet")
        )
        after = spark_rows()
        assert len(after) < len(before)
        assert after == oracle_rows()
    finally:
        caching.release_tracked()


def test_ivf_index_rebuilds_after_input_rewrite(spark, sf_dir, tmp_path):
    """Rewriting embeddings.parquet mid-application rebuilds the ANN
    index parts: cosine_topk_ivf matches its DuckDB oracle on the NEW
    file, and SQ8 and IVFPQ search only the new file's vectors (no stale
    centroids, codebooks, ranges or persisted assignment/codes). The
    SQ8 codes are read from the memo: the exact re-rank joins back to
    the new corpus, so stale codes could still return the right rows."""
    import os
    import shutil

    import duckdb
    import pyarrow.parquet as pq

    from rta_registrations_pyspark_glue_spark import caching
    from rta_registrations_pyspark_glue_spark.plans import planmemo, registry

    sf = str(tmp_path)
    path = os.path.join(sf, "embeddings.parquet")
    shutil.copyfile(f"{sf_dir}/embeddings.parquet", path)
    queries = registry.queries()
    oracle = registry.oracle_sql()["cosine_topk_ivf"]

    def spark_rows(name):
        df = queries[name](spark, sf).select("qid", "cid", "rank", "cosine")
        return sorted(tuple(r) for r in df.collect())

    def oracle_rows():
        con = duckdb.connect()
        con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{path}'")
        return sorted(
            (int(q), int(c), int(r), float(x))
            for q, c, r, x in con.execute(
                f"SELECT qid, cid, rank, cosine FROM ({oracle})"
            ).fetchall()
        )

    try:
        before = spark_rows("cosine_topk_ivf")
        assert before == oracle_rows()
        assert spark_rows("cosine_topk_sq8") == spark_rows("cosine_topk_bruteforce")
        spark_rows("cosine_topk_ivfpq")
        emb = pq.read_table(path)
        pq.write_table(emb.slice(0, emb.num_rows // 2), path)
        kept = set(emb.column("vec_id").to_pylist()[: emb.num_rows // 2])
        after = spark_rows("cosine_topk_ivf")
        assert len(after) < len(before)
        assert after == oracle_rows()
        assert spark_rows("cosine_topk_sq8") == spark_rows("cosine_topk_bruteforce")
        _, _, (_, sq_codes), _ = planmemo._MEMO[("sq8_parts", path)]
        assert {r.cid for r in sq_codes.select("cid").collect()} <= kept
        assert {r[1] for r in spark_rows("cosine_topk_ivfpq")} <= kept
    finally:
        caching.release_tracked()


def test_memo_size_constant_under_repeated_rewrites(spark, tmp_path):
    """Superseded fingerprints are evicted: rewriting one input 20 times
    rebuilds every time yet leaves the memo at one entry per (name,
    inputs) — the plan_memo query's and load_table's."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from rta_registrations_pyspark_glue_spark.plans import planmemo
    from rta_registrations_pyspark_glue_spark.sources import testdata

    builds = []

    @planmemo.plan_memo
    def fake_query(spark, sf_dir):
        builds.append(sf_dir)
        return testdata.load_table(spark, "region", sf_dir)

    sf = str(tmp_path)
    path = os.path.join(sf, "region.parquet")
    planmemo.clear_plan_memo()
    sizes = []
    for i in range(20):
        pq.write_table(pa.table({"r_regionkey": list(range(i + 1))}), path)
        fake_query(spark, sf)
        assert testdata.load_table(spark, "region", sf).count() == i + 1
        sizes.append(len(planmemo._MEMO))
    assert len(builds) == 20  # every rewrite was seen
    assert sizes == [2] * 20
    planmemo.clear_plan_memo()


def test_record_persists_is_per_thread(spark):
    """Two threads with record_persists open at the same time each
    capture only their own thread's tracked_persist calls; nested
    recordings on one thread still each capture everything."""
    import threading

    from rta_registrations_pyspark_glue_spark import caching

    frames = [spark.range(0, 10 + i) for i in range(2)]
    barrier = threading.Barrier(2, timeout=60)
    recorded: list = [None, None]
    errors: list = []

    def build(i):
        try:
            with caching.record_persists() as rec:
                barrier.wait()  # both recordings are open
                caching.tracked_persist(frames[i])
                barrier.wait()  # both persists happened before either closes
            recorded[i] = rec
        except Exception as e:  # surfaced by the assert below
            errors.append(e)

    threads = [threading.Thread(target=build, args=(i,)) for i in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
    try:
        assert not any(t.is_alive() for t in threads)
        assert not errors
        for i in range(2):
            assert len(recorded[i]) == 1 and recorded[i][0] is frames[i]

        nested = spark.range(0, 13)
        with caching.record_persists() as outer:
            with caching.record_persists() as inner:
                caching.tracked_persist(nested)
        assert len(outer) == len(inner) == 1
        assert outer[0] is nested and inner[0] is nested
    finally:
        caching.release_tracked()


def test_memo_concurrent_inserts_keep_every_entry():
    """Threads inserting into the one memo store at once (more threads
    than cores, a tiny switch interval) lose no entry and never trip
    over each other's insert-time eviction scan."""
    import sys
    import threading
    from types import SimpleNamespace

    from rta_registrations_pyspark_glue_spark.plans import planmemo

    fake_spark = SimpleNamespace(sparkContext=SimpleNamespace(applicationId="app"))
    n_threads, per_thread = 16, 200
    errors: list = []

    def insert(t):
        try:
            for i in range(per_thread):
                planmemo.memoized(
                    fake_spark, "stress", (t, i), lambda: i, stat_inputs=False
                )
        except Exception as e:  # surfaced by the assert below
            errors.append(e)

    planmemo.clear_plan_memo()
    prior = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=insert, args=(t,)) for t in range(n_threads)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(prior)
    try:
        assert not any(t.is_alive() for t in threads)
        assert not errors
        assert len(planmemo._MEMO) == n_threads * per_thread
    finally:
        planmemo.clear_plan_memo()
