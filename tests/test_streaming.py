"""Structured Streaming path tests: file source → watermarked windowed
aggregation → memory sink, session windows, and a custom stateful
operator via applyInPandasWithState. Each streaming result is checked
against its batch equivalent on the same rows."""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F

from rta_registrations_pyspark_glue_spark.sources.testdata import load_table
from rta_registrations_pyspark_glue_spark.streaming import windows as sw


@pytest.fixture(scope="module")
def stream_path(spark, sf_dir, tmp_path_factory):
    # File-source streams need a directory; re-materialize events (with
    # the µs-timestamp fix applied by the loader) under a temp dir.
    path = str(tmp_path_factory.mktemp("events_stream"))
    load_table(spark, "events", sf_dir).select(
        "event_id", "ts", "user_id", "event_type", "value"
    ).write.mode("overwrite").parquet(path)
    return path


def _run(spark, stream_df, mode="append"):
    name = f"t{uuid.uuid4().hex[:8]}"
    q = sw.run_to_memory(stream_df, name, output_mode=mode)
    try:
        return spark.sql(f"SELECT * FROM {name}").collect()
    finally:
        q.stop()


def test_tumbling_stream_matches_batch(spark, stream_path):
    stream = sw.read_events_stream(spark, stream_path)
    got = {
        (r.window_start, r.event_type): (r.n_events, r.total_value)
        # complete mode: a single micro-batch never advances the watermark
        # far enough for append mode to emit anything.
        for r in _run(spark, sw.tumbling_counts(stream), mode="complete")
    }
    batch = spark.read.parquet(stream_path)
    want = {
        (r.window_start, r.event_type): (r.n_events, r.total_value)
        for r in (
            batch.groupBy(F.window("ts", "1 hour"), "event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
            )
            .select(
                F.col("window.start").alias("window_start"),
                "event_type",
                "n_events",
                "total_value",
            )
            .collect()
        )
    }
    assert got == want and len(got) > 0


def test_session_window_stream(spark, stream_path):
    stream = sw.read_events_stream(spark, stream_path)
    rows = _run(spark, sw.session_windows(stream), mode="complete")
    assert len(rows) > 0
    # Sessions are per-user, non-overlapping, and end after start.
    by_user: dict[int, list] = {}
    for r in rows:
        assert r.session_end > r.session_start
        by_user.setdefault(r.user_id, []).append((r.session_start, r.session_end))
    for spans in by_user.values():
        spans.sort()
        for (s1, e1), (s2, _) in zip(spans, spans[1:]):
            assert s2 >= e1


def test_stateful_running_totals(spark, stream_path):
    stream = sw.read_events_stream(spark, stream_path)
    rows = _run(spark, sw.running_user_totals(stream), mode="update")
    # One batch → one emission per user with the full totals.
    batch = spark.read.parquet(stream_path)
    want = {
        r.user_id: (r.n, pytest.approx(r.total))
        for r in batch.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
        .collect()
    }
    got = {r.user_id: (r.n_events, r.total_value) for r in rows}
    assert set(got) == set(want)
    for uid in want:
        assert got[uid][0] == want[uid][0]
        assert got[uid][1] == want[uid][1]


def test_stream_dedup_drops_replayed_events(spark, stream_path, tmp_path):
    """At-least-once replay: the same events file delivered twice (two
    micro-batch inputs). Watermark-scoped dedup must emit each event_id
    once, matching the batch distinct on the same rows; the unbounded
    variant must agree here (everything arrives inside the horizon)."""
    import os

    from rta_registrations_pyspark_glue_spark.streaming import dedup as sd

    replay_dir = str(tmp_path / "replay")
    os.makedirs(replay_dir)
    src = spark.read.parquet(stream_path).limit(200)
    src.coalesce(1).write.mode("append").parquet(replay_dir)
    src.coalesce(1).write.mode("append").parquet(replay_dir)  # the replay

    stream = sw.read_events_stream(spark, replay_dir)
    got = _run(spark, sd.dedup_events_stream(stream), mode="append")
    want = spark.read.parquet(replay_dir).dropDuplicates(["event_id"])
    assert len(got) == want.count() == 200
    assert len({r.event_id for r in got}) == 200

    got_unbounded = _run(
        spark,
        sd.dedup_events_stream(stream, bounded_state=False),
        mode="append",
    )
    assert {r.event_id for r in got_unbounded} == {r.event_id for r in got}


# ------------------------------------------------- streaming dedup ingest

def _dedup_paths(root):
    (root / "in").mkdir()
    return (f"{root}/in", f"{root}/corpus", f"{root}/fp", f"{root}/ckpt")


def _drop_jsonl(indir: str, name: str, docs: list[tuple[int, str]]) -> None:
    import json

    with open(f"{indir}/{name}", "w") as f:
        for doc_id, text in docs:
            f.write(json.dumps({"doc_id": doc_id, "text": text}) + "\n")


def _drain(spark, indir, corpus, fp, ckpt):
    from rta_registrations_pyspark_glue_spark.streaming import dedup as sd

    stream = spark.readStream.schema("doc_id bigint, text string").option(
        "maxFilesPerTrigger", 1
    ).json(indir)
    q = sd.stream_dedup_ingest(stream, corpus, fp, ckpt)
    q.awaitTermination(120)


def test_stream_dedup_ingest_across_batches(spark, tmp_path):
    indir, corpus, fp, ckpt = _dedup_paths(tmp_path)
    # Drop 1: an in-batch duplicate pair (2 vs 3 — min id 2 wins).
    _drop_jsonl(indir, "d1.jsonl", [(1, "alpha"), (2, "beta"), (3, "beta")])
    _drain(spark, indir, corpus, fp, ckpt)
    got = {(r.doc_id, r.text) for r in spark.read.parquet(corpus).collect()}
    assert got == {(1, "alpha"), (2, "beta")}
    # Drop 2: a history duplicate ('alpha') plus a new doc — the store
    # probe kills the former, keeps the latter; the store grows.
    _drop_jsonl(indir, "d2.jsonl", [(4, "alpha"), (5, "gamma")])
    _drain(spark, indir, corpus, fp, ckpt)
    got = {(r.doc_id, r.text) for r in spark.read.parquet(corpus).collect()}
    assert got == {(1, "alpha"), (2, "beta"), (5, "gamma")}
    fps = spark.read.parquet(fp).collect()
    assert len(fps) == 3 and {r.batch_id for r in fps} == {0, 1}


def test_stream_dedup_replay_is_idempotent(spark, tmp_path):
    from rta_registrations_pyspark_glue_spark.streaming.dedup import ingest_dedup_batch

    indir, corpus, fp, ckpt = _dedup_paths(tmp_path)
    b0 = spark.createDataFrame([(1, "alpha"), (2, "beta")], ["doc_id", "text"])
    b1 = spark.createDataFrame([(3, "beta"), (4, "gamma")], ["doc_id", "text"])
    ingest_dedup_batch(spark, b0, 0, corpus, fp)
    ingest_dedup_batch(spark, b1, 1, corpus, fp)
    want_corpus = {(r.doc_id, r.text) for r in spark.read.parquet(corpus).collect()}
    want_fp = {(r.doc_id, r.fp_md5) for r in spark.read.parquet(fp).collect()}
    assert {d for d, _ in want_corpus} == {1, 2, 4}
    # REPLAY batch 1 (the crashed-then-restarted foreachBatch case): its
    # own already-written fingerprints are excluded from the probe, so
    # the survivor set recomputes identically and the partition
    # overwrite lands the same bytes — state converges, nothing lost,
    # nothing doubled.
    ingest_dedup_batch(spark, b1, 1, corpus, fp)
    assert {
        (r.doc_id, r.text) for r in spark.read.parquet(corpus).collect()
    } == want_corpus
    assert {(r.doc_id, r.fp_md5) for r in spark.read.parquet(fp).collect()} == want_fp


# -------------------------------------------- streaming NEAR-dup ingest

_T_FOX = "the quick brown fox jumps over the lazy dog in the sunny garden today"
_T_FOX_NEAR = "the quick brown fox jumps over the lazy cat in the sunny garden today"
_T_FOX_NEAR2 = "a quick brown fox jumps over the lazy dog in the sunny garden today"
_T_NEWS = "markets rallied sharply this morning after the central bank held rates steady"
_T_WEATHER = "heavy rain and strong winds are expected across the northern coast tonight"


def _near_paths(root):
    (root / "in").mkdir()
    return (f"{root}/in", f"{root}/corpus", f"{root}/buckets", f"{root}/ckpt")


def _near_drain(spark, indir, corpus, buckets, ckpt):
    from rta_registrations_pyspark_glue_spark.streaming import dedup as sd

    stream = spark.readStream.schema("doc_id bigint, text string").option(
        "maxFilesPerTrigger", 1
    ).json(indir)
    q = sd.stream_near_dedup_ingest(stream, corpus, buckets, ckpt)
    q.awaitTermination(120)


def test_stream_near_dedup_ingest_across_batches(spark, tmp_path):
    indir, corpus, buckets, ckpt = _near_paths(tmp_path)
    # Drop 1: docs 2 and 3 are near-dups (one word differs) — min id 2
    # survives; doc 1 is unrelated.
    _drop_jsonl(indir, "d1.jsonl", [(1, _T_NEWS), (2, _T_FOX), (3, _T_FOX_NEAR)])
    _near_drain(spark, indir, corpus, buckets, ckpt)
    got = {r.doc_id for r in spark.read.parquet(corpus).collect()}
    assert got == {1, 2}
    # Drop 2: doc 4 is a near-dup of HISTORY doc 2 (different leading
    # article) — the store probe kills it even though no exact hash
    # matches; doc 5 is new and survives.
    _drop_jsonl(indir, "d2.jsonl", [(4, _T_FOX_NEAR2), (5, _T_WEATHER)])
    _near_drain(spark, indir, corpus, buckets, ckpt)
    got = {r.doc_id for r in spark.read.parquet(corpus).collect()}
    assert got == {1, 2, 5}
    # The bucket store grew: rows for every SURVIVOR of both batches,
    # none for dropped docs.
    b = spark.read.parquet(buckets)
    assert {r.batch_id for r in b.collect()} == {0, 1}
    assert {r.doc_id for r in b.collect()} == {1, 2, 5}


def test_stream_near_dedup_replay_is_idempotent(spark, tmp_path):
    from rta_registrations_pyspark_glue_spark.streaming.dedup import (
        ingest_near_dedup_batch,
    )

    _indir, corpus, buckets, _ckpt = _near_paths(tmp_path)
    b0 = spark.createDataFrame([(1, _T_NEWS), (2, _T_FOX)], ["doc_id", "text"])
    b1 = spark.createDataFrame(
        [(3, _T_FOX_NEAR), (4, _T_WEATHER)], ["doc_id", "text"]
    )
    ingest_near_dedup_batch(spark, b0, 0, corpus, buckets)
    ingest_near_dedup_batch(spark, b1, 1, corpus, buckets)
    want_corpus = {(r.doc_id, r.text) for r in spark.read.parquet(corpus).collect()}
    want_buckets = {
        (r.doc_id, r.band_idx, r.band_key)
        for r in spark.read.parquet(buckets).collect()
    }
    assert {d for d, _ in want_corpus} == {1, 2, 4}  # 3 near-dups history 2
    # REPLAY batch 1: its own already-written bucket rows are excluded
    # from the probe (batch_id < N), so the survivor set recomputes
    # identically and both partition overwrites converge.
    ingest_near_dedup_batch(spark, b1, 1, corpus, buckets)
    assert {
        (r.doc_id, r.text) for r in spark.read.parquet(corpus).collect()
    } == want_corpus
    assert {
        (r.doc_id, r.band_idx, r.band_key)
        for r in spark.read.parquet(buckets).collect()
    } == want_buckets


def test_near_dedup_bucket_store_compacts(spark, tmp_path):
    """The streaming near-dup bucket store accumulates one small
    partition per micro-batch; io.compact_partitions must be applicable
    as the maintenance pass (same as the exact variant's fingerprint
    store) without changing the store's probe semantics."""
    from rta_registrations_pyspark_glue_spark import io
    from rta_registrations_pyspark_glue_spark.streaming.dedup import (
        ingest_near_dedup_batch,
    )

    _indir, corpus, buckets, _ckpt = _near_paths(tmp_path)
    texts = [_T_NEWS, _T_FOX, _T_WEATHER,
             "completely different sentence about gardening tools and soil quality",
             "a final unrelated sentence describing mountain trails and weather maps"]
    for bid, (i, t) in enumerate(enumerate(texts)):
        ingest_near_dedup_batch(
            spark,
            spark.createDataFrame([(i, t)], ["doc_id", "text"]),
            bid,
            corpus,
            buckets,
        )
    before = {
        (r.doc_id, r.band_idx, r.band_key)
        for r in spark.read.parquet(buckets).collect()
    }
    io.compact_partitions(spark, buckets, ["batch_id"], max_files_per_partition=0)
    after = {
        (r.doc_id, r.band_idx, r.band_key)
        for r in spark.read.parquet(buckets).collect()
    }
    assert before == after and len(after) > 0
    # The store still probes correctly post-compaction: a near-dup of
    # batch-1's doc arrives in a new batch and is dropped.
    ingest_near_dedup_batch(
        spark,
        spark.createDataFrame([(99, _T_FOX_NEAR)], ["doc_id", "text"]),
        len(texts),
        corpus,
        buckets,
    )
    got = {r.doc_id for r in spark.read.parquet(corpus).collect()}
    assert 99 not in got


@pytest.fixture(scope="module")
def signup_path(spark, sf_dir, tmp_path_factory):
    # anchor stream: each user's first event as their "signup"
    path = str(tmp_path_factory.mktemp("signups_stream"))
    load_table(spark, "events", sf_dir).groupBy("user_id").agg(
        F.min("ts").alias("signup_ts")
    ).write.mode("overwrite").parquet(path)
    return path


def test_stream_stream_interval_join_matches_batch(spark, stream_path, signup_path):
    """Watermarked stream-stream inner interval join (events x signups
    within 1 hour of signup) must emit exactly the batch join's rows.
    The join condition's time bound is what lets the engine expire
    state — this also pins that the bound is accepted as such (an
    unbounded stream-stream inner join with watermarks would raise)."""
    from rta_registrations_pyspark_glue_spark.streaming import joins as sj

    ev_stream = spark.readStream.schema(
        spark.read.parquet(stream_path).schema
    ).parquet(stream_path)
    su_stream = spark.readStream.schema(
        spark.read.parquet(signup_path).schema
    ).parquet(signup_path)
    joined = sj.interval_join_streams(ev_stream, su_stream).select(
        "event_id", "user_id", "ts", "signup_ts"
    )
    got = {
        (r.event_id, r.user_id) for r in _run(spark, joined, mode="append")
    }

    ev = spark.read.parquet(stream_path)
    su = spark.read.parquet(signup_path).withColumnRenamed("user_id", "u2")
    want = {
        (r.event_id, r.user_id)
        for r in ev.join(
            su,
            (ev.user_id == F.col("u2"))
            & (ev.ts >= F.col("signup_ts"))
            & (ev.ts <= F.col("signup_ts") + F.expr("INTERVAL 1 hour")),
            "inner",
        ).collect()
    }
    assert len(want) > 0  # fixture sanity: every user matches their first hour
    assert got == want


def test_interval_join_batch_mode_bound_is_respected(spark, stream_path, signup_path):
    from rta_registrations_pyspark_glue_spark.streaming import joins as sj

    ev = spark.read.parquet(stream_path)
    su = spark.read.parquet(signup_path)
    out = sj.interval_join_streams(ev, su).select("ts", "signup_ts").collect()
    for r in out:
        assert r.signup_ts <= r.ts
        assert (r.ts - r.signup_ts).total_seconds() <= 3600


def test_stateful_sessions_inline_close_and_timeout_eviction(spark, tmp_path):
    """The bounded-state sessionizer: an in-batch gap closes a session
    immediately; the event-time watermark closes (and EVICTS) sessions
    left open across batches; a session still open when the stream ends
    is never emitted. Three single-file micro-batches with controlled
    modification times pin each mechanism."""
    import os
    import time as _time
    from datetime import datetime

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as papq

    d = tmp_path / "sess_stream"
    d.mkdir()

    def write(name, rows, mtime):
        pdf = pd.DataFrame(
            rows, columns=["event_id", "ts", "user_id", "event_type", "value"]
        )
        pdf["ts"] = pd.to_datetime(pdf["ts"]).astype("datetime64[us]")
        papq.write_table(
            pa.Table.from_pandas(pdf, preserve_index=False), d / name,
            coerce_timestamps="us",
        )
        os.utime(d / name, (mtime, mtime))

    t0 = _time.time()
    # batch 1: user 1 has two sessions split by a >30min in-batch gap;
    # user 2 has one session left open
    write("a.parquet", [
        (1, "2024-01-01 10:00:00", 1, "view", 1.0),
        (2, "2024-01-01 10:05:00", 1, "view", 2.0),
        (3, "2024-01-01 12:00:00", 1, "view", 4.0),
        (4, "2024-01-01 10:00:00", 2, "view", 8.0),
    ], t0 - 300)
    # batch 2: far-future event advances the watermark past user 2's
    # timeout (10:30) but not user 1's (12:30)
    write("b.parquet", [(5, "2024-01-01 20:00:00", 3, "view", 16.0)], t0 - 200)
    # batch 3: advances the watermark past user 1's open session too;
    # user 3's own session stays open and must never emit
    write("c.parquet", [(6, "2024-01-01 20:01:00", 3, "view", 32.0)], t0 - 100)

    stream = (
        spark.readStream.schema(sw.EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    rows = _run(
        spark,
        sw.stateful_sessions(stream, gap_minutes=30, watermark="1 minute"),
        mode="append",
    )
    got = {
        (r.user_id, r.session_start, r.session_end): (r.n_events, r.total_value)
        for r in rows
    }
    ts = lambda s: datetime.fromisoformat(s)  # noqa: E731
    assert got == {
        (1, ts("2024-01-01 10:00:00"), ts("2024-01-01 10:05:00")): (2, 3.0),
        (2, ts("2024-01-01 10:00:00"), ts("2024-01-01 10:00:00")): (1, 8.0),
        (1, ts("2024-01-01 12:00:00"), ts("2024-01-01 12:00:00")): (1, 4.0),
    }


def test_stateful_sessions_match_batch_sessionization(spark, sf_dir, tmp_path):
    """Semantic pin against batch: once the watermark flushes everything,
    the stateful sessionizer's closed sessions must equal gap-based
    batch sessionization of the same rows (same >gap rule, sub-second
    precision via double-epoch arithmetic)."""
    import os

    from pyspark.sql import Window

    d = tmp_path / "sess_eq"
    d.mkdir()
    events = (
        load_table(spark, "events", sf_dir)
        .filter(F.col("user_id") % 50 == 0)
        .select("event_id", "ts", "user_id", "event_type", "value")
    )
    events.coalesce(1).write.mode("overwrite").parquet(str(d / "base"))
    base = str(d / "base")
    # flush file: one far-future sentinel event advances the watermark
    # past every real session's timeout; written later so it forms the
    # second micro-batch
    flush = spark.createDataFrame(
        [(999999999, "2031-01-01 00:00:00", -1, "view", 0.0)],
        "event_id long, ts string, user_id long, event_type string, value double",
    ).select("event_id", F.col("ts").cast("timestamp"), "user_id",
             "event_type", "value")
    stream_dir = d / "stream"
    stream_dir.mkdir()
    files = sorted(
        f for f in os.listdir(base) if f.endswith(".parquet")
    )
    import shutil as _sh
    import time as _time

    t0 = _time.time()
    for i, f in enumerate(files):
        _sh.copy(os.path.join(base, f), stream_dir / f"a{i}.parquet")
        os.utime(stream_dir / f"a{i}.parquet", (t0 - 300, t0 - 300))
    flush.coalesce(1).write.mode("overwrite").parquet(str(d / "flush"))
    ff = [f for f in os.listdir(d / "flush") if f.endswith(".parquet")][0]
    _sh.copy(os.path.join(d / "flush", ff), stream_dir / "zz_flush.parquet")
    os.utime(stream_dir / "zz_flush.parquet", (t0 - 100, t0 - 100))

    stream = (
        spark.readStream.schema(sw.EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(stream_dir))
    )
    rows = _run(
        spark,
        sw.stateful_sessions(stream, gap_minutes=30, watermark="1 minute"),
        mode="append",
    )
    got = {
        (r.user_id, r.session_start, r.session_end): (r.n_events,
                                                      round(r.total_value, 6))
        for r in rows
        if r.user_id != -1
    }

    # batch mirror with double-epoch gap arithmetic (>1800s starts new)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sess = (
        events.withColumn("__prev", F.lag(F.col("ts").cast("double")).over(w))
        .withColumn(
            "__new",
            F.when(
                F.col("__prev").isNull()
                | ((F.col("ts").cast("double") - F.col("__prev")) > 1800),
                1,
            ).otherwise(0),
        )
        .withColumn(
            "__sid",
            F.sum("__new").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .groupBy("user_id", "__sid")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("total_value"),
        )
    )
    want = {
        (r.user_id, r.session_start, r.session_end): (r.n_events,
                                                      round(r.total_value, 6))
        for r in sess.collect()
    }
    assert len(want) > 5
    assert got == want


def test_stateful_sessions_late_event_handling(spark, tmp_path):
    """Admitted-late events: within-gap late arrivals merge into the
    open session (extending session_start backward); disjoint earlier
    ones emit immediately as singleton sessions (the documented O(1)
    approximation)."""
    import os
    import time as _time
    from datetime import datetime

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as papq

    d = tmp_path / "late_stream"
    d.mkdir()

    def write(name, rows, mtime):
        pdf = pd.DataFrame(
            rows, columns=["event_id", "ts", "user_id", "event_type", "value"]
        )
        pdf["ts"] = pd.to_datetime(pdf["ts"]).astype("datetime64[us]")
        papq.write_table(
            pa.Table.from_pandas(pdf, preserve_index=False), d / name,
            coerce_timestamps="us",
        )
        os.utime(d / name, (mtime, mtime))

    t0 = _time.time()
    write("a.parquet", [(1, "2024-01-01 12:00:00", 9, "view", 1.0)], t0 - 400)
    # batch 2: both events are LATE (older than the open session's
    # start) but inside the 10h watermark — 11:00 is disjoint (>30min
    # before start), 11:45 is within the gap
    write("b.parquet", [
        (2, "2024-01-01 11:00:00", 9, "view", 2.0),
        (3, "2024-01-01 11:45:00", 9, "view", 4.0),
    ], t0 - 300)
    # two far-future batches: the first advances the watermark, the
    # second delivers the timeout for user 9's open session
    write("c.parquet", [(4, "2024-01-02 23:00:00", 99, "view", 8.0)], t0 - 200)
    write("d.parquet", [(5, "2024-01-02 23:01:00", 99, "view", 16.0)], t0 - 100)

    stream = (
        spark.readStream.schema(sw.EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    rows = _run(
        spark,
        sw.stateful_sessions(stream, gap_minutes=30, watermark="10 hours"),
        mode="append",
    )
    got = {
        (r.user_id, r.session_start, r.session_end): (r.n_events, r.total_value)
        for r in rows
    }
    ts = lambda s: datetime.fromisoformat(s)  # noqa: E731
    assert got == {
        # disjoint late singleton
        (9, ts("2024-01-01 11:00:00"), ts("2024-01-01 11:00:00")): (1, 2.0),
        # open session extended backward by the within-gap late event,
        # closed by the watermark timeout
        (9, ts("2024-01-01 11:45:00"), ts("2024-01-01 12:00:00")): (2, 5.0),
        # user 99's session stays open and never emits
    }


def test_stateful_sessions_late_run_merging(spark, tmp_path):
    """Consecutive admitted-late events that are within gap of EACH
    OTHER but disjoint from the open session emit as ONE merged session
    (ADVICE r10: the per-event singleton split); and a within-gap late
    event that extends the open session backward to within a gap of the
    pending late run folds the whole run into the session."""
    import os
    import time as _time
    from datetime import datetime

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as papq

    d = tmp_path / "late_run_stream"
    d.mkdir()

    def write(name, rows, mtime):
        pdf = pd.DataFrame(
            rows, columns=["event_id", "ts", "user_id", "event_type", "value"]
        )
        pdf["ts"] = pd.to_datetime(pdf["ts"]).astype("datetime64[us]")
        papq.write_table(
            pa.Table.from_pandas(pdf, preserve_index=False), d / name,
            coerce_timestamps="us",
        )
        os.utime(d / name, (mtime, mtime))

    t0 = _time.time()
    # user 9: open session at 12:00. user 7: open session at 12:00.
    write("a.parquet", [
        (1, "2024-01-01 12:00:00", 9, "view", 1.0),
        (2, "2024-01-01 12:00:00", 7, "view", 1.0),
    ], t0 - 400)
    # batch 2, user 9: two late events 20min apart (within the 30min
    # gap of each other), both >30min before the session start -> ONE
    # merged late session 09:00-09:20, not two singletons.
    # user 7: a disjoint late run 11:05-11:10, then a within-gap late
    # event at 11:35 that extends the open session's start back to
    # 11:35 — which is within 30min of the run's last (11:10), so the
    # run folds into the session: start 11:05, 4 events.
    write("b.parquet", [
        (3, "2024-01-01 09:00:00", 9, "view", 2.0),
        (4, "2024-01-01 09:20:00", 9, "view", 4.0),
        (5, "2024-01-01 11:05:00", 7, "view", 2.0),
        (6, "2024-01-01 11:10:00", 7, "view", 4.0),
        (7, "2024-01-01 11:35:00", 7, "view", 8.0),
    ], t0 - 300)
    # far-future batches: advance the watermark, then deliver timeouts
    write("c.parquet", [(8, "2024-01-02 23:00:00", 99, "view", 8.0)], t0 - 200)
    write("d.parquet", [(9, "2024-01-02 23:01:00", 99, "view", 16.0)], t0 - 100)

    stream = (
        spark.readStream.schema(sw.EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    rows = _run(
        spark,
        sw.stateful_sessions(stream, gap_minutes=30, watermark="10 hours"),
        mode="append",
    )
    got = {
        (r.user_id, r.session_start, r.session_end): (r.n_events, r.total_value)
        for r in rows
    }
    ts = lambda s: datetime.fromisoformat(s)  # noqa: E731
    assert got == {
        # user 9: the merged late run (was two singletons before r11)
        (9, ts("2024-01-01 09:00:00"), ts("2024-01-01 09:20:00")): (2, 6.0),
        # user 9: open session closed by the watermark timeout
        (9, ts("2024-01-01 12:00:00"), ts("2024-01-01 12:00:00")): (1, 1.0),
        # user 7: late run folded into the backward-extended session
        (7, ts("2024-01-01 11:05:00"), ts("2024-01-01 12:00:00")): (4, 15.0),
        # user 99's session stays open and never emits
    }
