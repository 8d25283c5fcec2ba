"""Atomic multi-partition commits without a table format: immutable
data files named by manifest lists, committed with put-if-absent.

``io.replace_partitions`` swaps partition leaf dirs one rename at a
time — each swap is atomic and crash-recoverable, but a crash MID-RUN
leaves a mixed table (some partitions new, some old) until recovery.
That is fine for idempotent keep-latest merges; it is not a snapshot
commit. This module adds one: the cross-partition atomicity gap named
in the README roadmap, closed with no Delta/Iceberg dependency.

Layout::

    table_root/
      _manifests/v000000.json   <- manifest list of snapshot 0
      _manifests/v000001.json
      d-<uuid>/year=2023/...    <- one writer's immutable data prefix

The protocol uses only operations every object store offers:

- data files are written once under their writer's own prefix and
  NEVER renamed, linked, or rewritten;
- a snapshot is a MANIFEST LIST (``_manifests/vNNNNNN.json``) naming
  every data file in the snapshot; unchanged partitions are carried
  forward by REFERENCE — their manifest entries keep pointing at the
  older snapshot's files (Iceberg's manifest reuse), zero data
  movement;
- the COMMIT POINT is creating the manifest object with put-if-absent
  (locally: open(O_CREAT|O_EXCL) — the stand-in for S3 If-None-Match /
  GCS x-goog-if-generation-match:0). There is no mutable "current"
  pointer at all: the committed snapshot IS the highest manifest id
  that exists, so a crash before the put leaves readers on the old
  snapshot and a half-written data prefix as inert garbage — and two
  RACING writers can't lose updates: the loser's put fails and it
  retries its commit against the winner's snapshot.

Readers resolve one manifest and scan exactly its files — one snapshot,
never a mix. Retained manifests stay readable (time travel); vacuum
drops old manifests and every file no retained manifest references.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession

from rta_registrations_pyspark_glue_spark.io import (
    TARGET_FILE_SIZE_MB,
    _partition_leaf_dirs,
    write_parquet,
)

MANIFEST_DIR = "_manifests"


def _put_if_absent(path: str, data: str) -> bool:
    """Create ``path`` with ``data`` iff it does not exist — the local
    stand-in for an object store's conditional PUT. Returns False when
    the object already exists (CAS loss), True on success.

    Durability: the file's bytes are fsync'd AND its parent directory
    entry is fsync'd before returning, because manifest EXISTENCE is
    the commit point — a power failure after store_commit returned
    success must not unlink the manifest (object stores give this for
    free; local directories need the explicit parent fsync)."""
    try:
        fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    except FileExistsError:
        return False
    with os.fdopen(fd, "w") as f:
        f.write(data)
        f.flush()
        os.fsync(f.fileno())
    dfd = os.open(os.path.dirname(path) or ".", os.O_RDONLY)
    try:
        os.fsync(dfd)
    finally:
        os.close(dfd)
    return True


def store_current(root: str) -> str | None:
    """The committed snapshot id: the highest manifest that EXISTS
    (existence is the commit, there is no pointer)."""
    ids = store_history(root)
    return ids[-1] if ids else None


def _store_manifest(root: str, sid: str) -> dict:
    import json

    with open(os.path.join(root, MANIFEST_DIR, sid + ".json")) as f:
        return json.load(f)


def _entries_from_dir(root: str, sdir: str, depth: int) -> list[dict]:
    """Manifest entries for every parquet file written under ``sdir``:
    path relative to the table root plus the partition tuple parsed
    from the hive-style leaf path."""
    entries = []
    for leaf in _partition_leaf_dirs(sdir, depth):
        rel_leaf = os.path.relpath(leaf, sdir)
        part = (
            [seg.split("=", 1) for seg in rel_leaf.split(os.sep)]
            if depth
            else []
        )
        for name in sorted(os.listdir(leaf)):
            if name.endswith(".parquet") and not name.startswith((".", "_")):
                entries.append(
                    {
                        "path": os.path.relpath(os.path.join(leaf, name), root),
                        "partition": dict(part),
                    }
                )
    return entries


def _new_data_prefix(root: str) -> str:
    """A WRITER-UNIQUE candidate data prefix (``d-<uuid>``), created
    exclusively. Data prefixes were previously named after the next
    snapshot id — which two RACING writers derive identically, so each
    writer's pre-write rmtree could delete the other's just-committed
    or in-flight files, and the shared directory listing could put the
    other writer's files into our manifest (r7 advice, high severity).
    A uuid prefix is owned by exactly one writer: nothing is ever
    rmtree'd, listings under it contain only what this writer wrote,
    and abandoned prefixes are inert garbage store_vacuum reclaims."""
    import uuid

    while True:
        did = "d-" + uuid.uuid4().hex[:12]
        try:
            os.makedirs(os.path.join(root, did))
            return did
        except FileExistsError:  # pragma: no cover — 2^-48 per draw
            continue


def _entry_seq(e: dict) -> int:
    """Data-file sequence number: explicit ``seq`` when the manifest
    records one (every writer since r8), else derived from the legacy
    ``vNNNNNN`` prefix naming for manifests written before data
    prefixes became writer-unique."""
    if "seq" in e:
        return int(e["seq"])
    prefix = e["path"].split(os.sep, 1)[0]
    return int(prefix[1:]) if prefix[:1] == "v" and prefix[1:].isdigit() else 0


def store_commit(
    df: DataFrame,
    root: str,
    partition_by: list[str] | None = None,
    replace_only: bool = False,
    drop_partitions: list[tuple] | None = None,
    target_mb: float = TARGET_FILE_SIZE_MB,
    max_retries: int = 5,
) -> str:
    """Commit ``df`` as the next snapshot; returns its id. Readers see
    the old snapshot or the new one, never a mix, and no data path is
    ever renamed or linked.

    ``replace_only=False`` (default): ``df`` IS the new table — a full
    overwrite as one snapshot.

    ``replace_only=True``: MERGE-shaped commit — the partitions present
    in ``df`` are replaced, every other partition of the current
    snapshot is carried forward by reference, and partitions listed in
    ``drop_partitions`` (tuples of partition values, e.g. a month whose
    last row moved away) are dropped — all visible to readers in ONE
    manifest put, unlike replace_partitions' partition-at-a-time swaps.
    ``df`` may read from the current snapshot: its files are immutable
    and the commit writes under a fresh prefix.

    The new/changed partitions are written ONCE under this writer's
    own uuid data prefix (_new_data_prefix — never shared, never
    rmtree'd); the manifest list carries unchanged partitions forward
    by reference, each entry keeping the sequence number of the commit
    that wrote it. The commit races put-if-absent on the manifest
    object: on a CAS loss (another writer committed first) the
    carry-forward is recomputed against the WINNER's snapshot and the
    put retries under the next id — our data files are under our own
    prefix, so they stay valid across retries and can never be
    deleted or claimed by the racing writer. After ``max_retries``
    losses the (unpublished, uniquely-ours) prefix is removed and a
    RuntimeError surfaces the livelock instead of spinning."""
    import json

    if replace_only and not partition_by:
        raise ValueError("replace_only commits need partition_by")
    mdir = os.path.join(root, MANIFEST_DIR)
    os.makedirs(mdir, exist_ok=True)
    depth = len(partition_by or [])
    drops = {tuple(str(v) for v in p) for p in drop_partitions or []}

    did = _new_data_prefix(root)
    sdir = os.path.join(root, did)
    write_parquet(df, sdir, partition_by=partition_by, target_mb=target_mb)
    # The prefix is exclusively ours and freshly created, so this
    # listing is exactly the set of files this writer wrote — no other
    # writer's files can appear in our manifest.
    own = [
        e
        for e in _entries_from_dir(root, sdir, depth)
        if tuple(e["partition"].get(c) for c in partition_by or []) not in drops
    ]
    written_parts = {
        tuple(e["partition"].get(c) for c in partition_by or []) for e in own
    }

    for _attempt in range(max_retries):
        cur = store_current(root)
        publish_id = _next_store_id(root)
        publish_seq = int(publish_id[1:])
        entries = [dict(e, seq=publish_seq) for e in own]
        if replace_only and cur:
            for e in _store_manifest(root, cur)["files"]:
                part = tuple(e["partition"].get(c) for c in partition_by or [])
                if part not in written_parts and part not in drops:
                    # manifest reuse: reference, no copy — and the
                    # original writer's sequence number rides along.
                    entries.append(dict(e, seq=_entry_seq(e)))
        # equality-delete carry-forward: a replace_only commit keeps the
        # prior snapshot's delete files (they still apply to the carried
        # data files via sequence numbers); a full replace rewrote every
        # row, so deletes are dropped
        deletes = (
            _store_manifest(root, cur).get("deletes", [])
            if replace_only and cur
            else []
        )
        manifest = json.dumps(
            {
                "id": publish_id,
                "partition_by": partition_by or [],
                "files": entries,
                "deletes": deletes,
            }
        )
        if _put_if_absent(os.path.join(mdir, publish_id + ".json"), manifest):
            df.sparkSession.catalog.refreshByPath(root)
            return publish_id
    # Livelock: clean up the one thing that is provably ours alone.
    shutil.rmtree(sdir, ignore_errors=True)
    raise RuntimeError(
        f"store_commit lost the put-if-absent race {max_retries} times on {root}"
    )


def _next_store_id(root: str) -> str:
    cur = store_current(root)
    return f"v{(int(cur[1:]) + 1 if cur else 0):06d}"


def store_read(
    spark: SparkSession, root: str, at: str | None = None
) -> DataFrame:
    """Scan the CURRENT store-mode snapshot — or, with ``at="vNNNNNN"``,
    TIME-TRAVEL to any still-retained snapshot (manifests are immutable
    and vacuum is explicit, so every un-vacuumed version remains
    readable). Files are grouped
    by their owning snapshot prefix so hive partition inference runs
    per prefix (``basePath`` = that prefix) and the groups union — at
    most one group per retained snapshot. The manifest is immutable,
    so a long scan keeps a consistent view across concurrent commits."""
    from functools import reduce

    cur = at if at is not None else store_current(root)
    if cur is None:
        raise FileNotFoundError(f"no committed store snapshot under {root}")
    if not os.path.exists(os.path.join(root, MANIFEST_DIR, cur + ".json")):
        raise FileNotFoundError(
            f"snapshot {cur} not found under {root} (vacuumed or never committed)"
        )
    manifest = _store_manifest(root, cur)
    files = manifest["files"]
    deletes = manifest.get("deletes", [])
    # Group by (prefix, seq): a data prefix is written by exactly one
    # commit attempt, and only the attempt that finally published
    # references it, so one prefix carries one sequence number within
    # any manifest — but grouping on the pair keeps reads correct even
    # if that invariant is ever relaxed.
    by_prefix: dict[tuple[str, int], list[str]] = {}
    for e in files:
        prefix = e["path"].split(os.sep, 1)[0]
        key = (prefix, _entry_seq(e))
        by_prefix.setdefault(key, []).append(os.path.join(root, e["path"]))
    parts = []
    for (prefix, seq), paths in sorted(by_prefix.items()):
        part = spark.read.option(
            "basePath", os.path.join(root, prefix)
        ).parquet(*paths)
        # Iceberg-v2-style equality deletes: a delete file applies only
        # to data files with a LOWER sequence number (rows re-inserted
        # after the delete survive). The sequence is recorded per
        # manifest entry (_entry_seq) since data prefixes became
        # writer-unique.
        for d in deletes:
            if d["seq"] > seq:
                keys = spark.read.parquet(os.path.join(root, d["path"]))
                part = part.join(keys, d["keys"], "left_anti")
        parts.append(part)
    return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), parts)


def store_vacuum(
    root: str, keep: int = 2, orphan_ttl_sec: float | None = 86400.0
) -> list[str]:
    """Store-mode vacuum: drop all but the newest ``keep`` manifests,
    then delete every data file no RETAINED manifest references
    (manifest reference counting: a file shared with a retained
    snapshot survives). Returns the removed snapshot ids.

    Victim-referenced files are removed by following the victim
    MANIFESTS (not by assuming a prefix is named after the snapshot —
    data prefixes are writer-unique uuids since r8). Separately,
    ORPHANED candidate prefixes — data files no manifest at all
    references, left by crashed or livelocked writers — are garbage
    collected here and ONLY here, and only once older than
    ``orphan_ttl_sec`` (the Iceberg remove-orphan-files discipline:
    an in-flight writer's not-yet-published prefix is indistinguishable
    from garbage, so age is the safety margin; pass None to skip the
    orphan sweep entirely)."""
    import time

    mdir = os.path.join(root, MANIFEST_DIR)
    ids = store_history(root)
    if not ids:
        return []
    victims = ids[:-keep] if keep > 0 else ids[:-1]
    retained = ids[len(victims):]

    def referenced(sids: list[str]) -> set[str]:
        refs: set[str] = set()
        for sid in sids:
            m = _store_manifest(root, sid)
            refs.update(e["path"] for e in m["files"])
            for d in m.get("deletes", []):
                ddir = os.path.join(root, d["path"])
                if os.path.isdir(ddir):
                    for dirpath, _dn, fnames in os.walk(ddir):
                        refs.update(
                            os.path.relpath(os.path.join(dirpath, n), root)
                            for n in fnames
                        )
        return refs

    live = referenced(retained)
    victim_refs = referenced(victims)
    for sid in victims:
        os.remove(os.path.join(mdir, sid + ".json"))
    for rel in sorted(victim_refs - live):
        full = os.path.join(root, rel)
        if os.path.exists(full):
            os.remove(full)
        d = os.path.dirname(full)
        while d != root and os.path.isdir(d) and not os.listdir(d):
            os.rmdir(d)
            d = os.path.dirname(d)
    if orphan_ttl_sec is not None:
        cutoff = time.time() - orphan_ttl_sec
        for entry in os.listdir(root):
            pdir = os.path.join(root, entry)
            if entry == MANIFEST_DIR or not os.path.isdir(pdir):
                continue
            # A prefix newer than the cutoff may be an in-flight
            # store_commit that just reserved it via _new_data_prefix
            # (between makedirs and write_parquet) — leave it alone
            # entirely; deleting it (or rmdir-ing it while still empty)
            # would void the exclusive-reservation guarantee.
            if os.stat(pdir).st_mtime >= cutoff:
                continue
            # A prefix holding ANY referenced file is a committed, live
            # data prefix — its unreferenced side files (_SUCCESS
            # markers etc.) are part of the commit, not orphans.
            prefix_live = any(
                os.path.relpath(os.path.join(dp, n), root) in live
                for dp, _d, fns in os.walk(pdir)
                for n in fns
            )
            if prefix_live:
                continue
            # Dir age is judged by the PRE-sweep mtime (deleting a
            # child bumps the parent's mtime to now, which must not
            # shield it): snapshot every dir's mtime first, then only
            # reap directories that are both empty and were already
            # older than the cutoff — an empty-but-fresh subdir
            # belongs to a live writer.
            pre_mtimes = {
                dp: os.stat(dp).st_mtime
                for dp, _d, _f in os.walk(pdir)
            }
            for dirpath, _dn, fnames in os.walk(pdir, topdown=False):
                for name in fnames:
                    full = os.path.join(dirpath, name)
                    rel = os.path.relpath(full, root)
                    if rel not in live and os.stat(full).st_mtime < cutoff:
                        os.remove(full)
                if not os.listdir(dirpath) and pre_mtimes[dirpath] < cutoff:
                    os.rmdir(dirpath)
    return victims


def store_delete(
    spark: SparkSession,
    root: str,
    predicate: str,
    key_cols: list[str],
    max_retries: int = 5,
) -> str | None:
    """Merge-on-read row deletes for store-mode tables (the Iceberg v2
    equality-delete shape): keys matching ``predicate`` in the CURRENT
    snapshot are written as a DELETE FILE under the new snapshot's own
    prefix, and the commit publishes the same data files plus the
    delete entry — no data file is rewritten. ``store_read`` applies
    the delete only to data files with a lower sequence number, so
    rows re-inserted by later commits survive. Returns the new
    snapshot id, or None when nothing matched (no commit is made).

    Same crash/race posture as store_commit: the delete file lives
    under our own candidate prefix before the put-if-absent manifest
    commit; a CAS loss recomputes carry-forward against the winner and
    retries — the delete's sequence number stays at OUR keys-read
    snapshot, which is exactly its semantic ("delete what matched
    as-of this state")."""
    import json

    cur = store_current(root)
    if cur is None:
        raise FileNotFoundError(f"no committed store snapshot under {root}")
    keys = store_read(spark, root).where(predicate).select(*key_cols).distinct()
    # Writer-unique prefix, same rationale as store_commit: a racing
    # deleter can never rmtree or list another writer's files.
    did = _new_data_prefix(root)
    ddir = os.path.join(root, did, "_deletes")
    keys.coalesce(1).write.mode("overwrite").parquet(ddir)
    if spark.read.parquet(ddir).limit(1).count() == 0:
        shutil.rmtree(os.path.join(root, did), ignore_errors=True)
        return None
    entry = {
        "path": os.path.relpath(ddir, root),
        "keys": list(key_cols),
        # "delete what matched as-of this state": the sequence is the
        # keys-read snapshot + 1, fixed across CAS retries (a later
        # writer's re-inserted rows carry a higher seq and survive).
        "seq": int(cur[1:]) + 1,
    }
    mdir = os.path.join(root, MANIFEST_DIR)
    for _attempt in range(max_retries):
        base = store_current(root)
        m = _store_manifest(root, base)
        publish_id = _next_store_id(root)
        manifest = json.dumps(
            {
                "id": publish_id,
                "partition_by": m.get("partition_by", []),
                "files": m["files"],
                "deletes": m.get("deletes", []) + [entry],
            }
        )
        if _put_if_absent(os.path.join(mdir, publish_id + ".json"), manifest):
            spark.catalog.refreshByPath(root)
            return publish_id
    shutil.rmtree(os.path.join(root, did), ignore_errors=True)  # ours alone
    raise RuntimeError(
        f"store_delete lost the put-if-absent race {max_retries} times on {root}"
    )


def store_rewrite(
    spark: SparkSession,
    root: str,
    target_mb: float = TARGET_FILE_SIZE_MB,
    max_retries: int = 5,
) -> str:
    """Major compaction: materialize all pending equality deletes by
    reading the current snapshot (deletes applied) and committing it
    as a full replace — the new manifest carries no delete entries and
    one fresh set of data files; the obsolete delete files age out via
    store_vacuum."""
    cur = store_read(spark, root)
    m = _store_manifest(root, store_current(root))
    partition_by = m.get("partition_by") or None
    return store_commit(
        cur,
        root,
        partition_by=partition_by,
        target_mb=target_mb,
        max_retries=max_retries,
    )


def store_history(root: str) -> list[str]:
    """All still-readable snapshot ids, oldest first — the time-travel
    index (pair with ``store_read(..., at=sid)``)."""
    try:
        names = os.listdir(os.path.join(root, MANIFEST_DIR))
    except FileNotFoundError:
        return []
    return sorted(
        n[: -len(".json")]
        for n in names
        if n.endswith(".json") and n.startswith("v") and n[1:-5].isdigit()
    )


def store_diff(
    spark: SparkSession,
    root: str,
    v_from: str,
    v_to: str,
    key_cols: list[str],
) -> DataFrame:
    """Change data feed between two retained snapshots: full-row diff
    keyed on ``key_cols``. Emits each changed row once with
    ``_change`` ∈ {insert, delete, update_pre, update_post} — the
    Delta-CDF shape, computed from the immutable manifests (two
    version reads + keyed anti/semi joins; no change log is stored,
    so the feed is available RETROACTIVELY for any still-readable
    version pair)."""
    from pyspark.sql import functions as F

    a = store_read(spark, root, at=v_from)
    b = store_read(spark, root, at=v_to)
    val_cols = [c for c in b.columns if c not in key_cols]
    inserts = b.join(a.select(*key_cols), key_cols, "left_anti").select(
        "*", F.lit("insert").alias("_change")
    )
    deletes = a.join(b.select(*key_cols), key_cols, "left_anti").select(
        "*", F.lit("delete").alias("_change")
    )
    if val_cols:
        bn = b
        an = a
        for c in val_cols:
            bn = bn.withColumnRenamed(c, f"__b_{c}")
        joined = an.join(bn, key_cols, "inner")
        changed = joined.where(
            ~F.struct(*val_cols).eqNullSafe(
                F.struct(*[F.col(f"__b_{c}").alias(c) for c in val_cols])
            )
        )
        pre = changed.select(
            *key_cols, *val_cols, F.lit("update_pre").alias("_change")
        )
        post = changed.select(
            *key_cols,
            *[F.col(f"__b_{c}").alias(c) for c in val_cols],
            F.lit("update_post").alias("_change"),
        )
        return (
            inserts.unionByName(deletes, allowMissingColumns=True)
            .unionByName(pre, allowMissingColumns=True)
            .unionByName(post, allowMissingColumns=True)
        )
    return inserts.unionByName(deletes, allowMissingColumns=True)
