"""Incremental (streaming) ingestion of the registration pipeline.

The reference's ETL1 is a full-reload batch job (etl1_clean_and_stage.py);
feeds like it actually arrive as monthly drops. This module runs the SAME
cleaning pipeline incrementally: a file-source stream of bronze CSV
micro-batches, each cleaned by ``plans.pipeline.clean_and_stage`` and
upserted into the (year, month)-partitioned stage table by key (newest
registration wins) via ``io.upsert_partitions`` inside ``foreachBatch``
— the same keyed partition upsert ``jobs.run_etl2`` writes its fact
with.

The merge is PARTITION-SCOPED: a micro-batch rewrites only the stage
partitions its own rows land in. A re-registered key whose older row
lives in another month is scrubbed from there afterwards (a partition
left empty is dropped), and a late batch carrying an older row than the
stage's loses to it. Per-batch cost is proportional to the affected
months, not to history — the property that makes continuous ingestion
viable at 100 TB.

foreachBatch is the exactly-once-ish sink pattern for non-idempotent
targets: the checkpoint replays a batch after a crash, and the merge is
idempotent (same keys, keep-latest order), so a replay over a partially
swapped stage converges — each partition swap itself is an atomic
rename. At scale the stage table would be Delta/Iceberg and this merge
becomes MERGE INTO; the dataflow shape is identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rta_registrations_pyspark_glue_spark import io
from rta_registrations_pyspark_glue_spark.jobs import BRONZE_COLUMNS
from rta_registrations_pyspark_glue_spark.plans.pipeline import clean_and_stage


def stream_clean_and_stage(
    spark: SparkSession,
    input_dir: str,
    stage_path: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
    available_now: bool = True,
    compact_every: int | None = None,
):
    """Start the incremental ETL1 stream. Returns the StreamingQuery.

    ``available_now=True`` (default) drains the currently-available files
    and terminates — batch-style catch-up. Pass ``available_now=False``
    for a continuously-running micro-batch query that picks up files as
    they arrive.

    ``compact_every=N`` runs small-file compaction
    (io.compact_partitions) after every Nth micro-batch — the
    auto-compaction a continuously merged parquet table needs (Delta's
    autoOptimize equivalent). Idempotent and crash-safe like the merge
    itself, so a replayed batch re-running compaction is harmless."""
    bronze_stream = (
        spark.readStream.schema(io.bronze_string_schema(BRONZE_COLUMNS))
        .option("header", True)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .csv(input_dir)
    )

    def upsert_batch(batch_df: DataFrame, batch_id: int) -> None:
        staged_new = clean_and_stage(batch_df).persist()
        try:
            scope = None
            for r in staged_new.select("year", "month").distinct().collect():
                clause = (F.col("year") == r["year"]) & (F.col("month") == r["month"])
                scope = clause if scope is None else scope | clause
            if scope is None:  # batch contributed no stageable rows
                return
            io.upsert_partitions(
                staged_new,
                stage_path,
                partition_by=["year", "month"],
                scope=scope,
                keys=["tempRegistrationNumber"],
                order_by=["fromdate_parsed", "slno"],
            )
            if compact_every and (batch_id + 1) % compact_every == 0:
                io.compact_partitions(spark, stage_path, ["year", "month"])
        finally:
            staged_new.unpersist()

    writer = bronze_stream.writeStream.foreachBatch(upsert_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
