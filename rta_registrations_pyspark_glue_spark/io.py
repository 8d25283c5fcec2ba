"""Sources and sinks (SURVEY.md §2.1, S1-S6).

The reference reads raw CSV with schema inference
(etl1_clean_and_stage.py:59), reads/writes partitioned parquet
(etl1_clean_and_stage.py:145, etl2_advclean_and_dimcreatin.py:94,285-315),
and sizes its output files with a driver-side boto3 two-pass
(etl2_advclean_and_dimcreatin.py:67-88,301-315).  Here:

- CSV scans take an explicit schema (inference is a full extra pass over
  100 TB of input — never at scale); a permissive all-string bronze schema
  helper is provided for dirty feeds.
- Writes target a file size by coalescing to a file count computed
  single-pass from the optimizer's size statistics — no second write, no
  object-store listing.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from rta_registrations_pyspark_glue_spark.operators.upsert import merge_upsert

TARGET_FILE_SIZE_MB = 128.0  # reference: etl2_advclean_and_dimcreatin.py:62
MAX_OUTPUT_FILES = 100  # reference clamp: etl2_advclean_and_dimcreatin.py:308


def read_parquet(spark: SparkSession, path: str, columns: list[str] | None = None) -> DataFrame:
    """Parquet scan (S2). ``columns`` prunes eagerly; Catalyst would prune
    anyway once a select appears downstream, but being explicit keeps ad-hoc
    usage from scanning all columns."""
    df = spark.read.parquet(path)
    return df.select(*columns) if columns else df


def bronze_string_schema(columns: list[str]) -> T.StructType:
    """Permissive all-string schema for dirty CSV feeds (SURVEY.md §1.3):
    every raw column arrives as a nullable string and is hardened by the
    cleaning operators, never by the scanner."""
    return T.StructType([T.StructField(c, T.StringType(), True) for c in columns])


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    header: bool = True,
) -> DataFrame:
    """CSV scan (S1, etl1_clean_and_stage.py:59). Explicit schema replaces
    inferSchema: on a 100 TB feed, inference is a wasted full pass and can
    flip types between monthly drops."""
    reader = spark.read.option("header", header)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", True)  # small/ad-hoc only
    return reader.csv(path)


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    columns: list[str] | None = None,
) -> DataFrame:
    """JSON-Lines scan — the de-facto interchange format for LLM text
    corpora (one JSON document per line). Same schema discipline as
    read_csv: pass the schema; inference is a wasted full pass at corpus
    scale and silently widens/flips types between drops. Corrupt lines
    land in Spark's ``_corrupt_record`` convention under PERMISSIVE mode
    rather than killing the job — add the column to the schema to audit
    them, or read FAILFAST in validation runs."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    df = reader.json(path)
    return df.select(*columns) if columns else df


def write_jsonl(df: DataFrame, path: str, target_mb: float = TARGET_FILE_SIZE_MB) -> None:
    """JSON-Lines sink through the same size-adaptive single-pass writer
    policy as parquet (one estimate, one write — JSONL inflates bytes
    ~2-4× over parquet, which estimate_plan_bytes' plan-stats basis
    already reflects less precisely; file-count math still beats the
    1-file-per-task default by orders of magnitude)."""
    _sized_write(df, path, "json", target_mb)


def read_orc(
    spark: SparkSession, path: str, columns: list[str] | None = None
) -> DataFrame:
    """ORC scan — same contract as read_parquet (S2 applied to the other
    columnar interchange format a warehouse migration actually hands
    you). ORC carries the same scan-side machinery Spark's parquet path
    uses: column pruning, predicate pushdown into stripe/row-group
    min-max stats, and bloom filters — all driven by the identical
    declarative plan, so every operator in this repo runs unchanged on
    an ORC lakehouse."""
    df = spark.read.orc(path)
    return df.select(*columns) if columns else df


def write_orc(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    target_mb: float = TARGET_FILE_SIZE_MB,
    bloom_filter_cols: list[str] | None = None,
) -> None:
    """ORC sink through the same single-pass size-adaptive writer policy
    as write_parquet (one plan-stats estimate, one write). Bloom filters
    use ORC's native writer option (``orc.bloom.filter.columns`` — a
    comma-separated column list, the ORC spec's equivalent of the
    per-column parquet-mr flags write_parquet sets)."""
    options = {}
    if bloom_filter_cols:
        options["orc.bloom.filter.columns"] = ",".join(bloom_filter_cols)
    _sized_write(df, path, "orc", target_mb, partition_by, options)


def read_avro(spark: SparkSession, path: str) -> DataFrame:
    """Avro scan — the row-oriented interchange format of Kafka/schema-
    registry pipelines. Spark ships Avro as an EXTERNAL module
    (spark-avro must be on the classpath: ``--packages
    org.apache.spark:spark-avro_2.13:<spark version>``); this container
    does not bundle it, so the capability is probed and the failure made
    actionable instead of Spark's generic ClassNotFound chain. The
    documented plug-in boundary, same discipline as the codec
    boundaries."""
    try:
        return spark.read.format("avro").load(path)
    except Exception as e:  # AnalysisException: failed to find data source
        # Match the data-source-lookup failure specifically (message or
        # Spark 4 error class), NOT any message containing "avro" — with
        # spark-avro actually installed, a plain path-not-found on
        # "*.avro" would otherwise be rewrapped into the misleading
        # add-the-package error (ADVICE r10).
        msg = str(e).lower()
        if (
            "failed to find data source" in msg
            or "failed to find the data source" in msg
            or "data_source_not_found" in msg
        ):
            raise RuntimeError(
                "Avro support needs the external spark-avro package on the "
                "classpath (org.apache.spark:spark-avro_2.13). Add it via "
                "spark.jars.packages; parquet/ORC/CSV/JSONL sources are "
                "built in."
            ) from e
        raise


def reconcile_union(dfs: list[DataFrame]) -> DataFrame:
    """Schema-drift-tolerant union (SURVEY.md §1.3): monthly drops gain or
    lose columns over time; unionByName(allowMissingColumns=True) aligns
    by name and nulls the gaps — the pattern the reference itself uses for
    its exact/fuzzy merge (etl2_advclean_and_dimcreatin.py:243)."""
    out = dfs[0]
    for df in dfs[1:]:
        out = out.unionByName(df, allowMissingColumns=True)
    return out


def estimate_plan_bytes(df: DataFrame) -> int:
    """Single-pass replacement for the reference's boto3 S3 size probe
    (etl2_advclean_and_dimcreatin.py:67-88): ask Catalyst for the optimized
    plan's size estimate (propagated from parquet footers / file sizes).
    No extra job, no object-store listing."""
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


def target_file_count(
    total_bytes: int,
    target_mb: float = TARGET_FILE_SIZE_MB,
    max_files: int = MAX_OUTPUT_FILES,
) -> int:
    """The reference's output-file-count policy
    (etl2_advclean_and_dimcreatin.py:301-308): collapse to one file below
    target/2, else clamp(ceil(bytes/target), 1, max_files)."""
    target_bytes = target_mb * 1024 * 1024
    if total_bytes < target_bytes / 2:
        return 1
    return min(max_files, max(1, math.ceil(total_bytes / target_bytes)))


def _sized_write(
    df: DataFrame,
    path: str,
    fmt: str,
    target_mb: float,
    partition_by: list[str] | None = None,
    options: dict[str, str] | None = None,
) -> None:
    """The one sizing step every sink shares: estimate the plan's bytes,
    coalesce to ``target_file_count`` of them, overwrite ``path`` in
    ``fmt``, then refresh the session's listing of ``path``.

    coalesce is shuffle-free and a no-op when the plan already has fewer
    partitions, so it is applied unconditionally. Deliberately NOT
    consulting df.rdd.getNumPartitions(): under AQE that call
    materializes every upstream stage — a full extra execution of the
    plan, the very double-pass this writer exists to avoid."""
    df = df.coalesce(target_file_count(estimate_plan_bytes(df), target_mb))
    writer = df.write.mode("overwrite").options(**(options or {}))
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.format(fmt).save(path)
    # Drop any stale leaf-file listing for this path from the session's
    # shared FileStatusCache: a reader created after an overwrite must
    # see the new files, not cached pre-overwrite names.
    df.sparkSession.catalog.refreshByPath(path)


def write_parquet(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    target_mb: float = TARGET_FILE_SIZE_MB,
    bloom_filter_cols: list[str] | None = None,
    bloom_filter_ndv: int | None = None,
) -> None:
    """Partitioned parquet sink with single-pass adaptive file sizing
    (S3-S6).  Instead of the reference's write → S3 size probe → coalesce →
    rewrite (etl2_advclean_and_dimcreatin.py:285-315, two full passes over
    the fact table), we estimate bytes from the optimizer's plan statistics
    and coalesce the final stage to the target file count — one pass,
    still ~target_mb files. At cluster scale the double write is the
    difference between 1x and 2x the job's I/O. coalesce narrows the
    WHOLE final stage — every narrow operator since the last shuffle,
    the post-shuffle tail included — to the file count; only the stages
    before that shuffle keep their parallelism. Below target_mb/2 that
    is one task, which at small sizes is the write's longest job; a
    repartition to more tasks measured slower still, since per-file
    Parquet writer set-up, not the rows, dominates there.

    The write replaces the whole table at ``path``. To replace only some
    of its partitions, use ``replace_partitions``.

    ``bloom_filter_cols`` (r9): write parquet BLOOM FILTERS for the
    named columns (`parquet.bloom.filter.enabled#col` writer options —
    standard parquet-mr metadata, readable by any engine). At 100 TB
    this is the point-lookup complement to Z-ordering: min/max row-group
    stats prune RANGE predicates but do nothing for selective equality
    probes on high-cardinality keys scattered through every row group
    (doc ids, URL hashes, join keys on the probe side of an incremental
    anti-join); a bloom filter skips row groups the key cannot be in.
    ``bloom_filter_ndv`` sizes them (expected distinct values per row
    group) — parquet-mr derives the bitset size from it."""
    options = {}
    for col in bloom_filter_cols or []:
        options[f"parquet.bloom.filter.enabled#{col}"] = "true"
        if bloom_filter_ndv:
            options[f"parquet.bloom.filter.expected.ndv#{col}"] = str(bloom_filter_ndv)
    _sized_write(df, path, "parquet", target_mb, partition_by, options)


ASIDE_SUFFIX = ".__old__"


def _partition_leaf_dirs(root: str, depth: int) -> list[str]:
    """Absolute paths of the ``k1=v1/k2=v2/...`` leaf partition dirs
    ``depth`` levels under ``root``."""
    import os

    paths = [root]
    for _ in range(depth):
        paths = [
            os.path.join(p, d)
            for p in paths
            for d in sorted(os.listdir(p))
            if "=" in d and os.path.isdir(os.path.join(p, d))
        ]
    return paths


def _is_local_path(path: str) -> bool:
    """True when ``path`` is a plain local filesystem path (no scheme, or
    an explicit file:// scheme)."""
    from urllib.parse import urlparse

    scheme = urlparse(path).scheme
    return scheme in ("", "file")


def _leaf_data_files(spark, root: str, depth: int) -> dict[str, list[tuple[str, int]]]:
    """``{leaf_dir: [(file_name, size_bytes), ...]}`` for every
    ``k1=v1/.../kN=vN`` partition leaf under ``root``, data files only
    (dot/underscore-prefixed names excluded).

    Local paths take the cheap os.listdir walk; any other scheme
    (s3a://, hdfs://, abfss://, gs://...) goes through the JVM Hadoop
    FileSystem API, so size-based maintenance like compact_partitions
    works against object stores with no code change. Both paths return
    leaves sorted by path for deterministic iteration."""
    import os

    if _is_local_path(root):
        out = {}
        for leaf in _partition_leaf_dirs(root, depth):
            out[leaf] = sorted(
                (f, os.path.getsize(os.path.join(leaf, f)))
                for f in os.listdir(leaf)
                if f.endswith(".parquet") and not f.startswith((".", "_"))
            )
        return out
    return _hadoop_leaf_data_files(spark, root, depth)


def _hadoop_leaf_data_files(
    spark, root: str, depth: int
) -> dict[str, list[tuple[str, int]]]:
    """Hadoop-FileSystem implementation of ``_leaf_data_files`` — one
    listStatus per directory level, no local-FS assumptions. Also usable
    directly on local paths (Hadoop's file:// scheme) for tests."""
    jvm = spark._jvm
    jroot = jvm.org.apache.hadoop.fs.Path(root)
    fs = jroot.getFileSystem(spark._jsc.hadoopConfiguration())
    leaves = [jroot]
    for _ in range(depth):
        nxt = []
        for p in leaves:
            for st in fs.listStatus(p):
                if st.isDirectory() and "=" in st.getPath().getName():
                    nxt.append(st.getPath())
        leaves = sorted(nxt, key=lambda p: p.toString())
    out = {}
    for leaf in leaves:
        files = sorted(
            (st.getPath().getName(), int(st.getLen()))
            for st in fs.listStatus(leaf)
            if st.isFile()
            and st.getPath().getName().endswith(".parquet")
            and not st.getPath().getName().startswith((".", "_"))
        )
        out[leaf.toString()] = files
    return out


def _recover_asides(path: str) -> None:
    """Finish any swap a previous process died in the middle of: for
    every ``X.__old__`` aside under ``path`` (or ``path`` itself), if the
    primary is missing the aside IS the data — restore it; if the primary
    exists the swap completed — drop the aside."""
    import os
    import shutil

    aside = path.rstrip("/") + ASIDE_SUFFIX
    if os.path.isdir(aside):
        if os.path.isdir(path):
            shutil.rmtree(aside, ignore_errors=True)
        else:
            os.replace(aside, path)
    if not os.path.isdir(path):
        return
    for dirpath, dirs, _files in os.walk(path):
        for d in list(dirs):
            if d.endswith(ASIDE_SUFFIX):
                primary = os.path.join(dirpath, d[: -len(ASIDE_SUFFIX)])
                stale = os.path.join(dirpath, d)
                if os.path.isdir(primary):
                    shutil.rmtree(stale, ignore_errors=True)
                else:
                    os.replace(stale, primary)
                dirs.remove(d)


def table_exists(path: str) -> bool:
    """Whether a (possibly mid-swap-crashed) table exists at ``path``.
    Runs aside recovery first, so callers deciding between 'merge into
    existing' and 'fresh write' never mistake a crashed swap for an
    absent table (which would silently discard the old rows)."""
    import os

    _recover_asides(path)
    return os.path.isdir(path)


def replace_partitions(
    df: DataFrame,
    path: str,
    partition_by: list[str],
    target_mb: float = TARGET_FILE_SIZE_MB,
) -> set[str]:
    """Rewrite ONLY the partition directories present in ``df``, leaving
    sibling partitions' files physically untouched — the one partial-write
    path for plain tables (incremental stage runs, keyed upserts, the
    streaming sinks' replay-overwrites-its-own-``batch=N`` writes). Safe
    when ``df``'s plan READS from ``path`` (the merge-into-own-table shape
    Spark's file source refuses to overwrite): the frame is fully
    materialized into a side directory first, then the affected leaf dirs
    are swapped in. With no partition columns the one leaf is the whole
    table (``replace_parquet``). A missing table is created.

    Crash-safe: a leaf's old copy is moved ASIDE (never deleted) before
    its replacement moves in, and asides are recovered on the next call
    (``_recover_asides``) — at no instant does a partition have zero
    copies on disk. Spark's own dynamic partition overwrite has no such
    guarantee: its job commit deletes each overwritten partition
    directory before it renames the staged one in. On a failed swap the
    staging directory is left in place for inspection; the next
    invocation clears it.

    This is the portable stand-in for a lakehouse MERGE INTO + snapshot
    commit (Delta/Iceberg): on a cluster/object store the same shape is
    an output-committer rename; swap this for MERGE INTO when a table
    format is available and keep the call sites.

    Returns the leaf directories it replaced."""
    import os
    import shutil

    _recover_asides(path)
    staging = path.rstrip("/") + ".__incoming__"
    shutil.rmtree(staging, ignore_errors=True)
    write_parquet(df, staging, partition_by=partition_by, target_mb=target_mb)
    replaced = set()
    for leaf in _partition_leaf_dirs(staging, len(partition_by)):
        dest = os.path.normpath(os.path.join(path, os.path.relpath(leaf, staging)))
        aside = dest + ASIDE_SUFFIX
        os.makedirs(os.path.dirname(dest) or ".", exist_ok=True)
        if os.path.isdir(dest):
            os.replace(dest, aside)
        os.replace(leaf, dest)
        shutil.rmtree(aside, ignore_errors=True)
        replaced.add(dest)
    shutil.rmtree(staging, ignore_errors=True)
    df.sparkSession.catalog.refreshByPath(path)
    return replaced


def replace_parquet(
    df: DataFrame,
    path: str,
    target_mb: float = TARGET_FILE_SIZE_MB,
) -> None:
    """Full-table overwrite that is safe when ``df`` reads from ``path``
    (e.g. merging new dim rows into the existing dim): a
    ``replace_partitions`` with no partition columns."""
    replace_partitions(df, path, [], target_mb)


def upsert_partitions(
    updates: DataFrame,
    path: str,
    partition_by: list[str],
    scope,
    keys: list[str],
    order_by: list[str],
) -> None:
    """Keyed upsert of ``updates`` into the partitioned table at ``path``,
    keeping one row per key across ALL partitions.

    ``scope`` is a predicate on the partition columns that covers every
    partition ``updates`` lands in. The table's scoped rows are merged
    with the updates (``merge_upsert``: per key, the newest row under
    ``order_by`` wins, updates win ties), the scoped partitions are
    swapped in, and ``delete_stale_keys`` then scrubs the older copies of
    the updated keys from partitions outside the scope — or the update
    itself, when a newer row of its key lives there. A partition left
    empty is dropped. With no table at ``path`` yet, ``updates`` is
    written as it is."""
    if not table_exists(path):
        write_parquet(updates, path, partition_by=partition_by)
        return
    spark = updates.sparkSession
    current = spark.read.parquet(path).filter(scope)
    merged = merge_upsert(current, updates, keys=keys, order_by=order_by)
    replace_partitions(merged, path, partition_by=partition_by)
    # The keys come from the update side, the only keys this write can
    # have moved: the swap's refreshByPath(path) drops the cache of every
    # frame that reads path, so keys taken from the merge would re-run it
    # over the swapped-in files.
    delete_stale_keys(
        spark,
        path,
        partition_by=partition_by,
        canonical_pred=scope,
        keys=updates.select(*keys),
        key_cols=keys,
        order_by=order_by,
    )


def delete_stale_keys(
    spark,
    path: str,
    partition_by: list[str],
    canonical_pred,
    keys: DataFrame,
    key_cols: list[str],
    order_by: list[str],
) -> None:
    """After a partition-scoped write touched ``keys``, restore the
    table's one-row-per-key grain: a re-registered key that moved
    partitions left a row behind in its old partition.

    ``keys`` may repeat a key (it only filters, as a semi join).
    ``order_by`` names the recency columns (e.g. the same ones the
    table's keep-latest merge orders by), and the KEY'S NEWEST ROW WINS
    regardless of which run wrote it: per key, the single max-recency
    row across the whole table survives (ties broken toward the
    ``canonical_pred`` partitions — updates beat current, matching
    ``merge_upsert`` — then by partition values for determinism) and
    every other copy is scrubbed, including a just-written canonical
    row that an OLDER backfill produced for a key whose newer
    re-registration lives in a later partition. Out-of-order
    ``--year/--month`` runs are therefore safe: a backfill can never
    delete a newer row.

    One per-key aggregate finds both each key's winner and the
    partitions holding its losing rows. Only those partitions are
    rewritten; a partition emptied entirely is dropped, together with
    each parent partition directory it leaves empty."""
    import os
    import shutil

    from pyspark.sql import functions as F

    if not table_exists(path):
        return
    current = spark.read.parquet(path)
    # Total order per key: recency, then canonical-side flag (the fresh
    # write wins exact-recency ties), then partition values.
    parts = [f"__p{i}" for i in range(len(partition_by))]
    rec = F.struct(
        *[F.col(c) for c in order_by],
        canonical_pred.cast("int").alias("__canon"),
        *[F.col(c).alias(p) for c, p in zip(partition_by, parts)],
    )
    per_key = (
        current.join(keys, key_cols, "left_semi")
        .groupBy(*key_cols)
        .agg(F.max(rec).alias("__win"), F.collect_list(rec).alias("__recs"))
    )
    losers = per_key.filter(F.size("__recs") > 1).select(
        F.explode(F.filter("__recs", lambda r: r != F.col("__win"))).alias("__lose")
    )
    stale_parts = sorted(
        tuple(r)
        for r in losers.select(*[f"__lose.{p}" for p in parts]).distinct().collect()
    )
    if not stale_parts:
        return
    pred = None
    for part in stale_parts:
        clause = None
        for c, v in zip(partition_by, part):
            cl = F.col(c) == v
            clause = cl if clause is None else clause & cl
        pred = clause if pred is None else pred | clause
    # Keep a row iff its key is untouched or it IS the key's winner
    # (__rec includes the partition values, so equality identifies
    # exactly one surviving copy).
    remaining = (
        current.filter(pred)
        .withColumn("__rec", rec)
        .join(per_key.drop("__recs"), key_cols, "left")
        .filter(F.col("__win").isNull() | (F.col("__rec") == F.col("__win")))
        .drop("__rec", "__win")
    )
    replaced = replace_partitions(remaining, path, partition_by=partition_by)
    root = os.path.normpath(path)
    for part in stale_parts:
        leaf = os.path.join(root, *[f"{c}={v}" for c, v in zip(partition_by, part)])
        if leaf not in replaced:
            shutil.rmtree(leaf, ignore_errors=True)
            # Its emptied ancestors go too (a year whose last month moved
            # out), up to but not including the table root.
            parent = os.path.dirname(leaf)
            while parent != root and os.path.isdir(parent) and not os.listdir(parent):
                os.rmdir(parent)
                parent = os.path.dirname(parent)
    spark.catalog.refreshByPath(path)


def crowded_partitions(
    spark,
    path: str,
    partition_by: list[str],
    max_files_per_partition: int = 4,
    target_mb: float = TARGET_FILE_SIZE_MB,
) -> list[str]:
    """Leaf partition directories that need compaction: more than
    ``max_files_per_partition`` data files AND at least two below half
    the target size (a partition of target-sized files is converged —
    rewriting it would emit the same count again). Listing is
    scheme-aware (_leaf_data_files), so this probe runs unchanged
    against object stores; it is the discovery half of
    compact_partitions, exposed separately so lakehouse deployments can
    feed it to their own rewrite."""
    half_target = target_mb * 1024 * 1024 / 2
    crowded = []
    for leaf, files in _leaf_data_files(spark, path, len(partition_by)).items():
        sizes = [size for _name, size in files]
        if len(sizes) > max_files_per_partition and sum(
            1 for s in sizes if s < half_target
        ) >= 2:
            crowded.append(leaf)
    return crowded


def compact_partitions(
    spark,
    path: str,
    partition_by: list[str],
    max_files_per_partition: int = 4,
    target_mb: float = TARGET_FILE_SIZE_MB,
) -> int:
    """Small-file compaction — the maintenance pass every continuously
    ingested table needs (micro-batch merges and incremental runs leave
    a few files per touch; object-store scans degrade with file count).

    A partition is compacted when it holds more than
    ``max_files_per_partition`` data files AND at least two of them are
    below half the target size — a partition of target-sized files is
    already converged and is never futilely rewritten (the writer would
    emit the same count again). Each crowded partition is rewritten
    INDIVIDUALLY — read via its leaf directory with ``basePath`` (no
    re-parsing of escaped partition values or null sentinels out of dir
    names; Spark resolves the partition columns itself) and re-sized by
    the adaptive writer from that partition's own stats — through the
    same crash-safe swap as every write. Untouched partitions keep their
    files byte-identical. Returns the number of partitions compacted.

    Portability boundary, stated exactly: DISCOVERY (existence check +
    crowded-partition probe) is object-store-portable — non-local
    schemes (s3a://, hdfs://, ...) go through the JVM Hadoop FileSystem
    for both — but the REWRITE goes through replace_partitions' rename-
    based crash-safe swap, which needs a rename-capable filesystem. On
    an object store, call ``crowded_partitions`` directly and hand the
    leaves to a table-format rewrite (OPTIMIZE / rewrite_data_files) —
    that commit IS the swap there."""
    from urllib.parse import urlparse

    # The guard parses the scheme directly (not via _is_local_path, which
    # tests monkeypatch to force the Hadoop LISTING branch): the probe is
    # portable, but the rewrite below is rename-based — running it
    # against an object store would write a full .__incoming__ copy and
    # then crash in the local-FS swap, orphaning the copy. Fail fast
    # BEFORE any write instead of after an expensive half-rewrite.
    if urlparse(path).scheme not in ("", "file"):
        raise ValueError(
            f"compact_partitions' rewrite needs a rename-capable filesystem; "
            f"got {path!r}. Use crowded_partitions() for discovery and a "
            f"table-format rewrite (OPTIMIZE / rewrite_data_files) there."
        )
    if not table_exists(path):
        return 0
    crowded = crowded_partitions(
        spark, path, partition_by, max_files_per_partition, target_mb
    )
    for leaf in crowded:
        rewrite = spark.read.option("basePath", path).parquet(leaf)
        replace_partitions(
            rewrite, path, partition_by=partition_by, target_mb=target_mb
        )
    return len(crowded)
