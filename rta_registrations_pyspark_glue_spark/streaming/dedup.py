"""Streaming exact deduplication — the continuous-ingest counterpart of
operators/dedup.py (SURVEY.md §2.11 extension; the reference is
batch-only).

At-least-once sources (Kafka redeliveries, retried file drops, replayed
micro-batches downstream of a crash) hand every training-data ingest
pipeline duplicate events; deduplicating them IN the stream, before they
reach the stage table, is what keeps the batch side's one-row-per-key
grain true without periodic scrub jobs.

State-boundedness is the whole design question at scale:

- ``dropDuplicatesWithinWatermark`` (the default here) keeps a key in
  the state store only until the event-time watermark passes its event's
  timestamp — duplicates arriving within the lateness bound collapse,
  and state is EVICTED after it. State size ~ distinct keys per
  watermark horizon: bounded, the only shape that survives an unbounded
  stream.
- plain ``dropDuplicates`` on a stream retains every key seen FOREVER
  (exact global dedup, state grows without bound) — available via
  ``bounded_state=False`` for short-lived backfill streams, with the
  hazard stated rather than hidden.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def dedup_events_stream(
    events: DataFrame,
    keys: Sequence[str] = ("event_id",),
    ts_col: str = "ts",
    watermark: str = "2 hours",
    bounded_state: bool = True,
) -> DataFrame:
    """Drop duplicate events by ``keys`` from a stream.

    With ``bounded_state`` (default): watermark-scoped dedup — a
    duplicate is dropped iff it arrives while its key is still inside
    the ``watermark`` lateness horizon; key state is evicted afterwards,
    so the state store stays O(keys per horizon) no matter how long the
    stream runs. A duplicate arriving later than the watermark bound
    passes through — the same contract under which the windowed
    aggregations here drop late events, and why the batch
    keep-latest/merge operators still own end-of-day exactness.

    With ``bounded_state=False``: global exact dedup (every key held in
    state forever). Correct and occasionally right for bounded replay
    streams; never deploy it on an unbounded source.
    """
    s = events.withWatermark(ts_col, watermark)
    if bounded_state:
        return s.dropDuplicatesWithinWatermark(list(keys))
    return s.dropDuplicates(list(keys))


def ingest_dedup_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    corpus_path: str,
    fingerprint_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """One micro-batch of the streaming exact-dedup ingest (the
    ``foreachBatch`` body of ``stream_dedup_ingest``, module-level so
    replay semantics are directly testable).

    The batch is deduped within itself and against the persisted
    fingerprint store by ``textdedup.incremental_exact_dedup`` —
    O(batch) work plus one hash-probe anti-join over fp_md5, never a
    regroup of history — then survivors land in ``corpus_path`` and
    their fingerprints in ``fingerprint_path``, both under
    ``batch_id=<N>`` partitions.

    EXACTLY-ONCE-ish under replay, by construction rather than luck:

    - both writes replace only the batch's OWN ``batch_id=N``
      partition (``io.replace_partitions``) — a replayed batch
      overwrites what its crashed predecessor wrote instead of
      appending twice;
    - the probe reads the store WHERE ``batch_id < N`` (partition-
      pruned), so a replay whose predecessor already wrote batch N's
      fingerprints recomputes the SAME survivor set (the crashed
      attempt's own fingerprints can't anti-join away its replay — that
      would overwrite the partition with zero rows and lose the docs).

    A crash between the two writes is therefore harmless in either
    order; corpus is written first so the store never references docs
    the corpus doesn't hold."""
    from rta_registrations_pyspark_glue_spark import io
    from rta_registrations_pyspark_glue_spark.operators import textdedup

    if io.table_exists(fingerprint_path):
        existing = spark.read.parquet(fingerprint_path).filter(
            F.col("batch_id") < F.lit(batch_id)
        )
    else:
        existing = spark.createDataFrame([], "fp_md5 string")
    survivors = textdedup.incremental_exact_dedup(
        batch_df,
        existing,
        text_col=text_col,
        id_col=id_col,
        existing_key_col="fp_md5",
    ).withColumn("batch_id", F.lit(batch_id)).persist()
    try:
        io.replace_partitions(
            survivors.drop("content_key"), corpus_path, partition_by=["batch_id"]
        )
        io.replace_partitions(
            survivors.select(
                F.col(id_col),
                F.col("content_key").alias("fp_md5"),
                F.col("batch_id"),
            ),
            fingerprint_path,
            partition_by=["batch_id"],
        )
    finally:
        survivors.unpersist()


def stream_dedup_ingest(
    docs_stream: DataFrame,
    corpus_path: str,
    fingerprint_path: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    available_now: bool = True,
):
    """Continuous exact-dedup corpus ingestion: each micro-batch of
    ``docs_stream`` (any streaming DataFrame — file-source JSONL/CSV,
    Kafka after parsing) is deduped against itself AND the full corpus
    history via the persisted fingerprint store, which the stream
    maintains as it goes — the streaming composition of
    ``incremental_exact_dedup`` (see ingest_dedup_batch for the replay
    contract). Returns the StreamingQuery.

    Scale shape: per-batch cost is the batch's own hashing plus one
    anti-join probe into a store of 32-byte keys — proportional to the
    BATCH, not the corpus; the store is partition-pruned on batch_id at
    probe time and is ~0.04% the corpus' size at 10 kB/doc. Compact its
    small batch partitions periodically with io.compact_partitions if
    trigger cadence is high."""
    def body(batch_df: DataFrame, batch_id: int) -> None:
        ingest_dedup_batch(
            batch_df.sparkSession,
            batch_df,
            batch_id,
            corpus_path,
            fingerprint_path,
            text_col=text_col,
            id_col=id_col,
        )

    writer = docs_stream.writeStream.foreachBatch(body).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def ingest_near_dedup_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    corpus_path: str,
    bucket_store_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    shingle_n: int = 3,
    num_hashes: int = 8,
    band_size: int = 2,
) -> None:
    """One micro-batch of the streaming NEAR-dup ingest (the
    ``foreachBatch`` body of ``stream_near_dedup_ingest``): the exact
    variant's replay contract, with MinHash-LSH banding + exact Jaccard
    verification in place of the md5 fingerprint equality.

    Per batch:

    1. the batch's band buckets come from the SAME bucketing as the
       batch operator (``textdedup.minhash_band_buckets`` — identical
       bucketing is what makes the persistent store probe-able);
    2. WITHIN-batch near-dups collapse by greedy min-id dominance (the
       semantic_dedup survivor rule: a doc drops when any smaller-id
       near-dup exists in the batch);
    3. the survivors probe the PERSISTENT bucket store (``batch_id <
       N``, so a crashed attempt's own rows never suppress its replay):
       bucket-key equi-join → candidate (history, new) pairs → exact
       Jaccard against the history docs' text (semi-joined out of the
       corpus store, bounded by candidate volume). Any verified match
       drops the NEW doc — history always wins regardless of id order
       (first-committed-wins is the streaming rule; min-id is only a
       within-batch tiebreak);
    4. remaining survivors land in ``corpus_path`` and their bucket
       rows in ``bucket_store_path``, both replacing only the batch's
       OWN ``batch_id=N`` partition (``io.replace_partitions``) —
       replays converge to identical state (same argument as
       ingest_dedup_batch).

    Scale shape: per-batch work is the batch's own shingling plus one
    equi-join probe whose build side (the batch's buckets) broadcasts;
    the store is scanned but never shuffled. The parquet bucket store
    is the file-based stand-in for the key-value store a continuous
    deployment would use — the bucketing, probe, and verification
    semantics are what this module pins."""
    from rta_registrations_pyspark_glue_spark import io
    from rta_registrations_pyspark_glue_spark.operators import textdedup

    def buckets_of(df: DataFrame) -> DataFrame:
        return textdedup.minhash_band_buckets(
            df,
            text_col=text_col,
            id_col=id_col,
            shingle_n=shingle_n,
            num_hashes=num_hashes,
            band_size=band_size,
        )

    batch_df = batch_df.persist()
    pinned = [batch_df]
    try:
        new_buckets = buckets_of(batch_df).persist()
        pinned.append(new_buckets)
        # 1+2: within-batch collapse, min-id wins.
        a = new_buckets.select(
            "band_idx", "band_key", F.col(id_col).alias("id_a")
        )
        b = new_buckets.select(
            F.col("band_idx").alias("bi_b"),
            F.col("band_key").alias("bk_b"),
            F.col(id_col).alias("id_b"),
        )
        in_cands = (
            a.join(
                b,
                (F.col("band_idx") == F.col("bi_b"))
                & (F.col("band_key") == F.col("bk_b"))
                & (F.col("id_a") < F.col("id_b")),
            )
            .select("id_a", "id_b")
            .distinct()
        )
        in_matched = textdedup.jaccard_verify(
            in_cands, batch_df, text_col=text_col, id_col=id_col,
            shingle_n=shingle_n, threshold=threshold,
        )
        dominated = in_matched.select(F.col("id_b").alias(id_col)).distinct()
        survivors = batch_df.join(dominated, id_col, "left_anti").persist()
        pinned.append(survivors)
        # 3: history probe (store rows of EARLIER batches only).
        if io.table_exists(bucket_store_path):
            store = spark.read.parquet(bucket_store_path).filter(
                F.col("batch_id") < F.lit(batch_id)
            )
            surv_buckets = new_buckets.join(
                survivors.select(id_col), id_col, "left_semi"
            )
            hist_cands = (
                store.join(
                    F.broadcast(
                        surv_buckets.select(
                            "band_idx",
                            "band_key",
                            F.col(id_col).alias("id_b"),
                        )
                    ),
                    ["band_idx", "band_key"],
                )
                .select(F.col(id_col).alias("id_a"), "id_b")
                .distinct()
            )
            hist_docs = (
                spark.read.parquet(corpus_path)
                .filter(F.col("batch_id") < F.lit(batch_id))
                .join(
                    hist_cands.select(F.col("id_a").alias(id_col)),
                    id_col,
                    "left_semi",
                )
                .select(id_col, text_col)
            )
            both = hist_docs.unionByName(survivors.select(id_col, text_col))
            hist_matched = textdedup.jaccard_verify(
                hist_cands, both, text_col=text_col, id_col=id_col,
                shingle_n=shingle_n, threshold=threshold,
            )
            hist_dominated = hist_matched.select(
                F.col("id_b").alias(id_col)
            ).distinct()
            survivors = survivors.join(hist_dominated, id_col, "left_anti").persist()
            pinned.append(survivors)
        # 4: land survivors + their bucket rows under batch_id=N.
        out = survivors.withColumn("batch_id", F.lit(batch_id))
        io.replace_partitions(out, corpus_path, partition_by=["batch_id"])
        out_buckets = (
            new_buckets.join(survivors.select(id_col), id_col, "left_semi")
            .withColumn("batch_id", F.lit(batch_id))
        )
        io.replace_partitions(
            out_buckets, bucket_store_path, partition_by=["batch_id"]
        )
    finally:
        for frame in pinned:
            frame.unpersist()


def stream_near_dedup_ingest(
    docs_stream: DataFrame,
    corpus_path: str,
    bucket_store_path: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    available_now: bool = True,
):
    """Continuous near-dup-filtered corpus ingestion: every micro-batch
    is MinHash-banded, collapsed within itself, probed against the
    persistent LSH bucket store of all prior batches, and exact-Jaccard
    verified before landing — the streaming composition of
    minhash_lsh_candidates + jaccard_verify (see ingest_near_dedup_batch
    for the per-batch contract and replay semantics). Returns the
    StreamingQuery."""

    def body(batch_df: DataFrame, batch_id: int) -> None:
        ingest_near_dedup_batch(
            batch_df.sparkSession,
            batch_df,
            batch_id,
            corpus_path,
            bucket_store_path,
            text_col=text_col,
            id_col=id_col,
            threshold=threshold,
        )

    writer = docs_stream.writeStream.foreachBatch(body).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
