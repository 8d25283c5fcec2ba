"""Job entrypoints — the reference's Glue job surface made portable
(SURVEY.md §2.14 C1-C3).

The reference couples its pipeline to Glue: getResolvedOptions argv
parsing, GlueContext bootstrap, per-stage try/except with job.commit()
and exit(1) (etl1_clean_and_stage.py:16-21, etl2_advclean_and_dimcreatin.py:28-49,
93-99 and 8 more blocks). Here the same contract runs anywhere Spark
does:

    python -m rta_registrations_pyspark_glue_spark.jobs etl1 --input <csv dir> --output <root>
    python -m rta_registrations_pyspark_glue_spark.jobs etl2 --input <stage dir> --output <root>

Per-stage failure isolation is kept (a named stage logs and aborts with
exit 1); Glue-specific pieces (boto3 size probe, temp-prefix delete) are
replaced by the single-pass adaptive writer in io.py.
"""

from __future__ import annotations

import argparse
import logging
import sys
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import SparkSession
from pyspark.util import inheritable_thread_target

from rta_registrations_pyspark_glue_spark import io
from rta_registrations_pyspark_glue_spark.operators.dedup import dedup_deterministic
from rta_registrations_pyspark_glue_spark.plans.pipeline import build_star, clean_and_stage
from rta_registrations_pyspark_glue_spark.session import get_spark

log = logging.getLogger("rta_jobs")

BRONZE_COLUMNS = [
    "slno",
    "tempRegistrationNumber",
    "fromdate",
    "todate",
    "OfficeCd",
    "makerName",
    "modelDesc",
    "fuel",
    "makeYear",
    "colour",
    "vehicleClass",
    "seatCapacity",
]


# At most one driver thread per ETL2 table write (three dims, dim_date
# and the fact).
MAX_WRITE_THREADS = 5


def _concurrently(spark: SparkSession, *calls) -> None:
    """Run the zero-argument ``calls`` on driver threads, wait for all of
    them, then re-raise the first failure in call order.

    Every Spark call costs driver time (planning, file commit,
    ``refreshByPath``) during which its own job is not running; calls
    with no data dependence on one another overlap that time with each
    other's jobs. Each call is wrapped on its own with the session form
    of ``inheritable_thread_target``, so its thread runs with the
    caller's job group, job description and session tags, and with its
    own copy of the caller's local properties (with one shared copy,
    concurrent queries would overwrite each other's local properties,
    such as the SQL execution id)."""
    with ThreadPoolExecutor(max_workers=min(len(calls), MAX_WRITE_THREADS)) as pool:
        futures = [pool.submit(inheritable_thread_target(spark)(call)) for call in calls]
    for future in futures:
        future.result()


def _scope_condition(year: int, month: int | None):
    from pyspark.sql import functions as F

    cond = F.col("year") == year
    if month is not None:
        cond = cond & (F.col("month") == month)
    return cond


def run_etl1(
    spark: SparkSession,
    input_path: str,
    output_root: str,
    year: int | None = None,
    month: int | None = None,
) -> str:
    """Bronze CSVs → cleaned, deduplicated stage parquet partitioned by
    (year, month) — the reference's ETL1 (etl1_clean_and_stage.py:59-145).

    With ``year`` (and optionally ``month``) set, the run is INCREMENTAL:
    staged rows are filtered to the scope and written through
    ``io.replace_partitions`` — only the scoped (year, month) partitions
    are replaced (crash-safely, old leaf aside until the new one is in),
    every other partition's files stay untouched. This is how
    the reference's partitioned stage layout (etl1:145) is actually
    operated: a monthly drop re-stages one month, not history."""
    stage_path = f"{output_root.rstrip('/')}/stage_clean_source"
    raw = io.read_csv(spark, input_path, schema=io.bronze_string_schema(BRONZE_COLUMNS))
    staged = clean_and_stage(raw)
    if year is not None:
        had_stage = io.table_exists(stage_path)
        staged = staged.filter(_scope_condition(year, month)).persist()
        try:
            io.replace_partitions(staged, stage_path, partition_by=["year", "month"])
            if had_stage:
                # A re-registration in this drop may have MOVED from another
                # (year, month): its stale row elsewhere would break the
                # stage's one-row-per-trn grain. Keep each key's newest row
                # (same recency order as the stage dedup) wherever it lives —
                # an out-of-order backfill must not clobber a newer row.
                io.delete_stale_keys(
                    spark,
                    stage_path,
                    partition_by=["year", "month"],
                    canonical_pred=_scope_condition(year, month),
                    keys=staged.select("tempRegistrationNumber"),
                    key_cols=["tempRegistrationNumber"],
                    order_by=["fromdate_parsed", "slno"],
                )
        finally:
            staged.unpersist()
    else:
        io.write_parquet(staged, stage_path, partition_by=["year", "month"])
    return stage_path


def run_etl2(
    spark: SparkSession,
    input_path: str,
    output_root: str,
    year: int | None = None,
    month: int | None = None,
) -> dict[str, str]:
    """Stage parquet → gold star schema (3 dims + fact partitioned by
    REGISTRATION_YEAR) — the reference's ETL2
    (etl2_advclean_and_dimcreatin.py:94-315), with the two-pass coalesce
    replaced by the one-pass adaptive writer.

    With ``year`` (and optionally ``month``) set, the run is INCREMENTAL:
    the stage scan is partition-pruned to the scope (the filter is on the
    stage's partition columns, so Spark lists only those directories),
    dims are MERGED by key into the existing gold dims (new keys insert,
    existing keys keep a deterministic winner), and the fact rows are
    merged into the affected REGISTRATION_YEAR partition(s) — a
    month-scoped run must not clobber sibling months that share the year
    partition — then swapped in, leaving every other year partition's
    files untouched. Caveat (inherent to incremental runs, reference
    included): the fuzzy-resolution catalog sees only the scoped rows, so
    a spelling's canonical-support count is computed within the scope.

    The table writes run concurrently on driver threads (``_concurrently``):
    the five ``write_parquet`` calls of a full rebuild, and the three dim
    merges, the ``dim_date`` write and the fact upsert of an incremental
    run. No write reads another's output, and each has its own table
    directory, staging directory and aside; the fact upsert's merge, swap
    and stale-key scrub stay in order within its own call. A failed write
    no longer stops the others: they all finish, then the first failure
    (in the order above) is raised. Each table write is crash-safe on its
    own; the star schema as a whole never had cross-table atomicity."""
    from pyspark.sql import functions as F

    root = output_root.rstrip("/")
    staged = spark.read.parquet(input_path)
    incremental = year is not None
    if incremental:
        staged = staged.filter(_scope_condition(year, month))
    out = build_star(staged)
    paths = {
        "dim_vehicle": f"{root}/gold_dim_vehicle",
        "dim_manufacturer": f"{root}/gold_dim_manufacturer",
        "dim_rta": f"{root}/gold_dim_rta",
        "dim_date": f"{root}/gold_dim_date",
        "fact_registrations": f"{root}/gold_fact_registrations",
    }
    if not incremental:
        _concurrently(
            spark,
            lambda: io.write_parquet(out.dim_vehicle, paths["dim_vehicle"]),
            lambda: io.write_parquet(out.dim_manufacturer, paths["dim_manufacturer"]),
            lambda: io.write_parquet(out.dim_rta, paths["dim_rta"]),
            lambda: io.write_parquet(out.dim_date, paths["dim_date"]),
            lambda: io.write_parquet(
                out.fact, paths["fact_registrations"], partition_by=["REGISTRATION_YEAR"]
            ),
        )
        return paths

    def merge_dim(new_dim, path: str, key: str) -> None:
        # Same winner rule as a full rebuild (dedup_deterministic's
        # min-struct over the attributes), so an incremental merge and a
        # from-scratch rebuild converge to identical dim rows for keys
        # with multiple attribute variants.
        if io.table_exists(path):
            current = spark.read.parquet(path)
            merged = dedup_deterministic(
                current.unionByName(new_dim, allowMissingColumns=True), keys=[key]
            )
        else:
            merged = new_dim
        io.replace_parquet(merged, path)

    _concurrently(
        spark,
        lambda: merge_dim(out.dim_vehicle, paths["dim_vehicle"], "VEHICLE_ID"),
        lambda: merge_dim(out.dim_manufacturer, paths["dim_manufacturer"], "MANUFACTURER_ID"),
        lambda: merge_dim(out.dim_rta, paths["dim_rta"], "RTA_ID"),
        # dim_date is a data-independent spine — idempotent full rewrite.
        lambda: io.write_parquet(out.dim_date, paths["dim_date"]),
        # Merge into the affected year partition(s) only: a month-scoped
        # run must keep the sibling months that share the year partition,
        # and a registration re-issued in another year keeps one row, its
        # newest.
        lambda: io.upsert_partitions(
            out.fact,
            paths["fact_registrations"],
            partition_by=["REGISTRATION_YEAR"],
            scope=F.col("REGISTRATION_YEAR") == year,
            keys=["TEMP_REGISTRATION_NUMBER"],
            order_by=["REGISTRATION_ISSUE_DATE_ID", "SLNO"],
        ),
    )
    return paths


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(prog="rta_jobs")
    parser.add_argument("job", choices=["etl1", "etl2"])
    parser.add_argument("--input", required=True)
    parser.add_argument("--output", required=True)
    parser.add_argument(
        "--year", type=int, default=None,
        help="incremental: process only this registration year",
    )
    parser.add_argument(
        "--month", type=int, default=None, choices=range(1, 13), metavar="{1..12}",
        help="incremental: restrict --year to this month (requires --year)",
    )
    args = parser.parse_args(argv)
    if args.month is not None and args.year is None:
        parser.error("--month requires --year")

    logging.basicConfig(level=logging.INFO, format="%(levelname)s %(name)s: %(message)s")
    spark = get_spark(f"rta_{args.job}")
    stage = "session"
    try:
        if args.job == "etl1":
            stage = "etl1 clean+stage"
            out = run_etl1(spark, args.input, args.output, year=args.year, month=args.month)
            log.info("etl1 complete: %s", out)
        else:
            stage = "etl2 star build"
            paths = run_etl2(spark, args.input, args.output, year=args.year, month=args.month)
            log.info("etl2 complete: %s", paths)
        return 0
    except Exception:  # per-stage failure protocol (reference C3)
        log.exception("job failed during stage: %s", stage)
        return 1


if __name__ == "__main__":
    sys.exit(main())
