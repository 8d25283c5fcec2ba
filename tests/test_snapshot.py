"""Snapshot-table tests: atomic multi-partition commits through
manifest lists and put-if-absent — readers see old-or-new, never mixed
(the kill-mid-commit proof), carry-forward by reference, partition
drops and self-reading commits, CAS retry against a racing writer,
equality deletes, time travel, change data feed and vacuum retention."""

from __future__ import annotations

import os
import shutil

import pytest

from rta_registrations_pyspark_glue_spark import snapshot

# Table roots: each test gets fresh ones under its tmp_path (_table_roots).
STORE = DSTORE = ""


@pytest.fixture(autouse=True)
def _table_roots(tmp_path):
    # Set directly, not through monkeypatch: tests call monkeypatch.undo().
    for name in ("STORE", "DSTORE"):
        globals()[name] = str(tmp_path / name.lower())


def _mk(spark, rows):
    return spark.createDataFrame(rows, ["k", "val", "year"])


def _store_rows(spark):
    return {
        (r["k"], r["val"], r["year"])
        for r in snapshot.store_read(spark, STORE).collect()
    }


def test_store_commit_read_carry_forward_by_reference(spark):
    v0 = snapshot.store_commit(
        _mk(spark, [(1, "a", 2023), (2, "b", 2024)]), STORE, ["year"]
    )
    assert v0 == "v000000"
    assert _store_rows(spark) == {(1, "a", 2023), (2, "b", 2024)}
    v1 = snapshot.store_commit(
        _mk(spark, [(2, "B", 2024), (3, "c", 2024)]),
        STORE,
        ["year"],
        replace_only=True,
    )
    assert v1 == "v000001"
    assert _store_rows(spark) == {(1, "a", 2023), (2, "B", 2024), (3, "c", 2024)}
    # Carried 2023 partition exists ONLY under the first commit's own
    # (writer-unique) data prefix — the new manifest references it;
    # nothing was copied, linked, renamed. Sequence numbers record
    # which commit wrote each entry.
    man0 = snapshot._store_manifest(STORE, "v000000")
    man = snapshot._store_manifest(STORE, "v000001")
    prefix0 = {e["path"].split(os.sep, 1)[0] for e in man0["files"]}
    assert len(prefix0) == 1
    prefixes = {e["path"].split(os.sep, 1)[0] for e in man["files"]}
    assert len(prefixes) == 2 and prefix0 < prefixes
    carried = [e for e in man["files"] if e["partition"] == {"year": "2023"}]
    assert {e["path"].split(os.sep, 1)[0] for e in carried} == prefix0
    assert all(e["seq"] == 0 for e in carried)
    assert all(
        e["seq"] == 1 for e in man["files"] if e["partition"] != {"year": "2023"}
    )
    # And every data file under both prefixes has link count 1.
    for prefix in prefixes:
        for dirpath, _d, files in os.walk(os.path.join(STORE, prefix)):
            for f in files:
                if f.endswith(".parquet"):
                    assert os.stat(os.path.join(dirpath, f)).st_nlink == 1


def test_store_drop_partitions_and_source_is_own_table(spark):
    snapshot.store_commit(
        _mk(spark, [(1, "a", 2023), (2, "b", 2024)]), STORE, ["year"]
    )
    # df reads FROM the current snapshot (merge-into-own-table shape):
    # legal because its files are immutable and the commit writes under
    # a fresh prefix.
    cur = snapshot.store_read(spark, STORE)
    moved = cur.filter("year = 2023").withColumn(
        "year", cur["year"] + 1
    )  # the 2023 row re-registers into 2024
    merged = moved.unionByName(cur.filter("year = 2024"))
    snapshot.store_commit(
        merged, STORE, ["year"], replace_only=True, drop_partitions=[(2023,)]
    )
    assert _store_rows(spark) == {(1, "a", 2024), (2, "b", 2024)}
    man = snapshot._store_manifest(STORE, snapshot.store_current(STORE))
    assert man["files"]
    assert not [e for e in man["files"] if e["partition"] == {"year": "2023"}]


def test_store_kill_mid_commit_readers_see_old_never_mixed(spark, monkeypatch):
    snapshot.store_commit(
        _mk(spark, [(1, "a", 2023), (2, "b", 2024), (3, "c", 2025)]),
        STORE,
        ["year"],
    )
    before = _store_rows(spark)

    # Crash AFTER the data write, BEFORE the manifest put — the commit
    # point in store mode. No manifest object appears, so the committed
    # snapshot is unchanged and readers see the old table whole.
    def die(path, data):
        raise RuntimeError("killed before manifest put")

    monkeypatch.setattr(snapshot, "_put_if_absent", die)
    with pytest.raises(RuntimeError):
        snapshot.store_commit(
            _mk(spark, [(2, "B", 2024), (9, "z", 2025)]),
            STORE,
            ["year"],
            replace_only=True,
        )
    assert snapshot.store_current(STORE) == "v000000"
    assert _store_rows(spark) == before
    # The next commit succeeds normally over the leftover garbage.
    monkeypatch.undo()
    snapshot.store_commit(
        _mk(spark, [(2, "B", 2024)]), STORE, ["year"], replace_only=True
    )
    assert _store_rows(spark) == {(1, "a", 2023), (2, "B", 2024), (3, "c", 2025)}


def test_store_cas_loss_retries_against_winner(spark, monkeypatch):
    """A racing writer's manifest appearing between our write and our
    put must NOT be lost: the loser recomputes carry-forward against
    the winner's snapshot and commits on top (CAS closes the
    lost-update race of a plain pointer swap)."""
    import json

    snapshot.store_commit(_mk(spark, [(1, "a", 2023), (2, "b", 2024)]), STORE, ["year"])

    real_put = snapshot._put_if_absent
    state = {"raced": False}

    def racing_put(path, data):
        if not state["raced"]:
            state["raced"] = True
            # Winner lands v000001 first: replaces 2023 with (7, "w").
            win_dir = os.path.join(STORE, "v000001", "year=2023")
            os.makedirs(win_dir)
            # The winner reuses the first commit's real 2023 parquet
            # (resolved through the manifest — data prefixes are
            # writer-unique uuids, not snapshot ids).
            src = next(
                os.path.join(STORE, e["path"])
                for e in snapshot._store_manifest(STORE, "v000000")["files"]
                if e["partition"] == {"year": "2023"}
            )
            # Reuse a real parquet file for the winner's partition so
            # reads stay valid; rows are the same (1, 'a', 2023).
            shutil.copyfile(src, os.path.join(win_dir, "part-w.parquet"))
            man = {
                "id": "v000001",
                "partition_by": ["year"],
                "files": [
                    {
                        "path": os.path.join("v000001", "year=2023", "part-w.parquet"),
                        "partition": {"year": "2023"},
                    }
                ],
            }
            real_put(
                os.path.join(STORE, snapshot.MANIFEST_DIR, "v000001.json"),
                json.dumps(man),
            )
        return real_put(path, data)

    monkeypatch.setattr(snapshot, "_put_if_absent", racing_put)
    sid = snapshot.store_commit(
        _mk(spark, [(5, "e", 2024)]), STORE, ["year"], replace_only=True
    )
    assert sid == "v000002"  # retried past the winner
    # Final table: winner's 2023 carried forward, our 2024 replacement.
    assert _store_rows(spark) == {(1, "a", 2023), (5, "e", 2024)}


def test_store_racing_writers_cannot_delete_or_claim_each_others_files(
    spark, monkeypatch
):
    """The r7-advice high-severity race, with a REAL second writer: B
    runs a full store_commit between A's data write and A's manifest
    put. Under the old snapshot-id-named data prefixes, B derived the
    SAME candidate prefix as A, rmtree'd A's in-flight files, and A's
    retry could publish a manifest referencing B's (or deleted) files.
    Writer-unique prefixes make the interleaving safe: every retained
    manifest references only files that exist, both updates land, and
    time travel to the intermediate snapshot stays whole."""
    snapshot.store_commit(
        _mk(spark, [(1, "a", 2023), (2, "b", 2024)]), STORE, ["year"]
    )
    real_put = snapshot._put_if_absent
    state = {"raced": False}

    def racing_put(path, data):
        if not state["raced"]:
            state["raced"] = True
            # Writer B commits FOR REAL while A sits between its data
            # write and its manifest put.
            snapshot.store_commit(
                _mk(spark, [(7, "w", 2023)]), STORE, ["year"], replace_only=True
            )
        return real_put(path, data)

    monkeypatch.setattr(snapshot, "_put_if_absent", racing_put)
    sid = snapshot.store_commit(
        _mk(spark, [(5, "e", 2024)]), STORE, ["year"], replace_only=True
    )
    monkeypatch.undo()
    assert sid == "v000002"  # A lost the CAS to B's v000001 and retried
    # Both writers' updates survive: B's 2023 replacement, A's 2024.
    assert _store_rows(spark) == {(7, "w", 2023), (5, "e", 2024)}
    # Time travel to B's snapshot is whole (A never disturbed it).
    assert {
        (r["k"], r["val"], r["year"])
        for r in snapshot.store_read(spark, STORE, at="v000001").collect()
    } == {(7, "w", 2023), (2, "b", 2024)}
    # THE invariant the old code broke: every file every retained
    # manifest references still exists on disk.
    for vid in snapshot.store_history(STORE):
        for e in snapshot._store_manifest(STORE, vid)["files"]:
            assert os.path.exists(os.path.join(STORE, e["path"])), (vid, e)


def test_store_vacuum_orphan_gc_age_gated(spark):
    """Crashed writers leave unreferenced candidate prefixes; vacuum —
    and only vacuum — reclaims them, and only past the age TTL (a young
    orphan is indistinguishable from an in-flight writer's prefix)."""
    snapshot.store_commit(_mk(spark, [(1, "a", 2023)]), STORE, ["year"])
    snapshot.store_commit(
        _mk(spark, [(2, "b", 2024)]), STORE, ["year"], replace_only=True
    )
    # Simulate a crashed writer: a data prefix no manifest references.
    orphan = os.path.join(STORE, "d-deadbeef0000", "year=2099")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "part-x.parquet"), "wb") as f:
        f.write(b"garbage")
    # Young orphan survives a vacuum with the default TTL...
    snapshot.store_vacuum(STORE, keep=2)
    assert os.path.exists(os.path.join(orphan, "part-x.parquet"))
    # ...and is reclaimed once older than the TTL.
    snapshot.store_vacuum(STORE, keep=2, orphan_ttl_sec=0.0)
    assert not os.path.exists(os.path.join(STORE, "d-deadbeef0000"))
    # Referenced data survived both sweeps.
    assert _store_rows(spark) == {(1, "a", 2023), (2, "b", 2024)}


def test_store_vacuum_keeps_referenced_files(spark):
    snapshot.store_commit(_mk(spark, [(1, "a", 2023), (2, "b", 2024)]), STORE, ["year"])
    snapshot.store_commit(
        _mk(spark, [(2, "B", 2024)]), STORE, ["year"], replace_only=True
    )
    snapshot.store_commit(
        _mk(spark, [(3, "c", 2025)]), STORE, ["year"], replace_only=True
    )
    prefix0 = {
        e["path"].split(os.sep, 1)[0]
        for e in snapshot._store_manifest(STORE, "v000000")["files"]
    }.pop()
    removed = snapshot.store_vacuum(STORE, keep=2)
    assert removed == ["v000000"]
    # The first commit's 2023 file is still referenced by retained
    # manifests and must survive; reads stay whole.
    assert _store_rows(spark) == {(1, "a", 2023), (2, "B", 2024), (3, "c", 2025)}
    man = snapshot._store_manifest(STORE, "v000002")
    assert any(e["path"].startswith(prefix0) for e in man["files"])


def test_store_empty_read_raises(spark):
    with pytest.raises(FileNotFoundError):
        snapshot.store_read(spark, STORE)


def _dstore_rows(spark):
    return {
        (r["k"], r["val"], r["year"])
        for r in snapshot.store_read(spark, DSTORE).collect()
    }


def test_store_equality_delete_merge_on_read(spark):
    snapshot.store_commit(
        _mk(spark, [(1, "a", 2023), (2, "b", 2024), (3, "c", 2024)]),
        DSTORE,
        ["year"],
    )
    man0 = snapshot._store_manifest(DSTORE, "v000000")
    did = snapshot.store_delete(spark, DSTORE, "k = 2", ["k"])
    assert did is not None
    assert _dstore_rows(spark) == {(1, "a", 2023), (3, "c", 2024)}
    # merge-on-read: NO data file was rewritten — the first commit's
    # files are all still referenced verbatim, the only new object is
    # the delete file (under the deleter's own unique prefix).
    man = snapshot._store_manifest(DSTORE, did)
    assert {e["path"] for e in man["files"]} == {e["path"] for e in man0["files"]}
    assert len(man["deletes"]) == 1 and man["deletes"][0]["keys"] == ["k"]
    assert man["deletes"][0]["path"].split(os.sep, 1)[0] not in {
        e["path"].split(os.sep, 1)[0] for e in man["files"]
    }


def test_store_delete_sequence_rows_reinserted_later_survive(spark):
    snapshot.store_commit(_mk(spark, [(1, "a", 2023), (2, "b", 2024)]), DSTORE, ["year"])
    snapshot.store_delete(spark, DSTORE, "k = 2", ["k"])
    # re-insert k=2 AFTER the delete: the delete's sequence number is
    # lower than the new data file's, so the new row must survive
    snapshot.store_commit(
        _mk(spark, [(2, "B2", 2024)]), DSTORE, ["year"], replace_only=True
    )
    assert _dstore_rows(spark) == {(1, "a", 2023), (2, "B2", 2024)}


def test_store_delete_nothing_matched_no_commit(spark):
    v0 = snapshot.store_commit(_mk(spark, [(1, "a", 2023)]), DSTORE, ["year"])
    assert snapshot.store_delete(spark, DSTORE, "k = 99", ["k"]) is None
    assert snapshot.store_current(DSTORE) == v0
    assert _dstore_rows(spark) == {(1, "a", 2023)}


def test_store_rewrite_compacts_deletes_away(spark):
    snapshot.store_commit(
        _mk(spark, [(1, "a", 2023), (2, "b", 2024), (3, "c", 2024)]),
        DSTORE,
        ["year"],
    )
    snapshot.store_delete(spark, DSTORE, "k IN (1, 3)", ["k"])
    rid = snapshot.store_rewrite(spark, DSTORE)
    man = snapshot._store_manifest(DSTORE, rid)
    assert man["deletes"] == []
    assert _dstore_rows(spark) == {(2, "b", 2024)}
    # vacuum down to the rewrite: obsolete delete files age out,
    # current rows still readable
    snapshot.store_vacuum(DSTORE, keep=1)
    assert _dstore_rows(spark) == {(2, "b", 2024)}


def test_store_vacuum_retains_live_delete_files(spark):
    snapshot.store_commit(_mk(spark, [(1, "a", 2023), (2, "b", 2024)]), DSTORE, ["year"])
    snapshot.store_delete(spark, DSTORE, "k = 1", ["k"])
    # a later data commit keeps the delete entry alive (carry-forward)
    snapshot.store_commit(
        _mk(spark, [(5, "e", 2025)]), DSTORE, ["year"], replace_only=True
    )
    snapshot.store_vacuum(DSTORE, keep=1)
    # the delete file must have SURVIVED vacuum (still referenced)
    assert _dstore_rows(spark) == {(2, "b", 2024), (5, "e", 2025)}


def test_store_time_travel_reads(spark):
    v0 = snapshot.store_commit(_mk(spark, [(1, "a", 2023)]), DSTORE, ["year"])
    v1 = snapshot.store_commit(
        _mk(spark, [(2, "b", 2024)]), DSTORE, ["year"], replace_only=True
    )
    v2 = snapshot.store_delete(spark, DSTORE, "k = 1", ["k"])
    assert snapshot.store_history(DSTORE) == [v0, v1, v2]
    def rows(at):
        return {
            (r["k"], r["val"])
            for r in snapshot.store_read(spark, DSTORE, at=at).collect()
        }
    assert rows(v0) == {(1, "a")}
    assert rows(v1) == {(1, "a"), (2, "b")}
    assert rows(v2) == {(2, "b")}          # delete visible only from v2
    assert rows(None) == rows(v2)
    with pytest.raises(FileNotFoundError):
        snapshot.store_read(spark, DSTORE, at="v000099")


def test_store_schema_evolution_add_column(spark):
    snapshot.store_commit(_mk(spark, [(1, "a", 2023)]), DSTORE, ["year"])
    evolved = spark.createDataFrame(
        [(9, "z", 2024, "extra")], "k long, val string, year int, note string"
    )
    snapshot.store_commit(evolved, DSTORE, ["year"], replace_only=True)
    rows = {
        (r["k"], r["val"], r["note"])
        for r in snapshot.store_read(spark, DSTORE).collect()
    }
    # old-file rows surface the new column as NULL
    assert rows == {(1, "a", None), (9, "z", "extra")}


def test_store_diff_change_data_feed(spark):
    v0 = snapshot.store_commit(
        _mk(spark, [(1, "a", 2023), (2, "b", 2024), (3, "c", 2024)]),
        DSTORE,
        ["year"],
    )
    v1 = snapshot.store_commit(
        _mk(spark, [(2, "B2", 2024), (3, "c", 2024), (4, "d", 2024)]),
        DSTORE,
        ["year"],
        replace_only=True,
    )
    diff = {
        (r["k"], r["_change"]): (r["val"], r["year"])
        for r in snapshot.store_diff(spark, DSTORE, v0, v1, ["k"]).collect()
    }
    assert diff[(4, "insert")] == ("d", 2024)
    assert (2, "update_pre") in diff and diff[(2, "update_pre")][0] == "b"
    assert diff[(2, "update_post")][0] == "B2"
    # unchanged row 3 and carried row 1 produce no feed rows
    assert not any(k == 3 or k == 1 for k, _ in diff)
    assert len(diff) == 3


def test_store_vacuum_spares_inflight_reserved_prefix(spark):
    """An in-flight store_commit reserves its data prefix via
    _new_data_prefix (makedirs) BEFORE writing any file; vacuum's
    orphan sweep must not rmdir that fresh empty directory — doing so
    would void the exclusive-reservation guarantee."""
    snapshot.store_commit(_mk(spark, [(1, "a", 2023)]), STORE, ["year"])
    reserved = snapshot._new_data_prefix(STORE)  # fresh, still empty
    assert os.path.isdir(os.path.join(STORE, reserved))
    snapshot.store_vacuum(STORE, keep=2, orphan_ttl_sec=3600.0)
    assert os.path.isdir(os.path.join(STORE, reserved))
    # An OLD empty reservation (crashed writer) is still reclaimed.
    old = os.path.join(STORE, reserved)
    os.utime(old, (1.0, 1.0))
    snapshot.store_vacuum(STORE, keep=2, orphan_ttl_sec=3600.0)
    assert not os.path.exists(old)


def test_store_vacuum_keeps_side_files_in_live_prefixes(spark):
    """Unreferenced side files (_SUCCESS markers) inside a prefix that
    holds ANY referenced data file are part of the commit, not orphans
    — they survive the sweep even when older than the TTL."""
    snapshot.store_commit(_mk(spark, [(1, "a", 2023)]), STORE, ["year"])
    man = snapshot._store_manifest(STORE, snapshot.store_current(STORE))
    prefix = man["files"][0]["path"].split(os.sep, 1)[0]
    marker = os.path.join(STORE, prefix, "_SUCCESS")
    with open(marker, "w"):
        pass
    past = 1.0
    for dp, _d, fns in os.walk(os.path.join(STORE, prefix)):
        for n in fns:
            os.utime(os.path.join(dp, n), (past, past))
        os.utime(dp, (past, past))
    snapshot.store_vacuum(STORE, keep=2, orphan_ttl_sec=3600.0)
    assert os.path.exists(marker)
    assert _store_rows(spark) == {(1, "a", 2023)}
