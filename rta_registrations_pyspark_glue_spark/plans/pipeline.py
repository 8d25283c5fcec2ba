"""End-to-end registration pipeline: bronze → stage (ETL1) → star (ETL2).

Composes the operator library into the reference's two jobs
(etl1_clean_and_stage.py, etl2_advclean_and_dimcreatin.py), minus their
anti-patterns: no validation count() actions re-running the chain
(SURVEY.md §3.1 notes the triple recompute), one-pass adaptive writes
(io.py), and resolution with documented total-order tiebreaks.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rta_registrations_pyspark_glue_spark.caching import tracked_persist
from rta_registrations_pyspark_glue_spark.functions.dates import date_spine
from rta_registrations_pyspark_glue_spark.operators import cleaning, dedup, resolve, star

# A vehicle spelling becomes "canonical" (eligible as a resolution
# target) once this many registrations carry it. Typo'd spellings are
# rare by nature, so they fall below the bar and get fuzzy-resolved to a
# canonical entry instead of matching themselves.
MIN_CATALOG_SUPPORT = 3


def clean_and_stage(df_raw: DataFrame) -> DataFrame:
    """ETL1: bronze registrations (all-string) → typed, deduplicated,
    partition-ready stage rows. Mirrors etl1_clean_and_stage.py:59-137.

    Dedup note: the reference dedupes on the *raw string* fromdate before
    parsing (etl1:68-70) with no tiebreak; we order by (parsed date desc,
    slno desc) — a documented total order."""
    df = cleaning.clean_maker_name(df_raw)
    df = cleaning.repair_office_code_misalignment(df)
    df = cleaning.derive_model_variant(df)
    df = cleaning.parse_date_columns(df)
    df = dedup.keep_latest_agg(
        df, keys=["tempRegistrationNumber"], order_by=["fromdate_parsed", "slno"]
    )
    df = cleaning.normalize_fuel(df)
    df = cleaning.backfill_make_year(df)
    df = df.withColumns(
        {"year": F.year("fromdate_parsed"), "month": F.month("fromdate_parsed")}
    )
    return df.filter(
        F.col("fromdate_parsed").isNotNull()
        & F.col("year").isNotNull()
        & F.col("month").isNotNull()
    )


@dataclass
class StarOutput:
    dim_vehicle: DataFrame
    dim_manufacturer: DataFrame
    dim_rta: DataFrame
    dim_date: DataFrame
    fact: DataFrame
    keyed: DataFrame | None = None  # persisted pruned stage; unpersist() when done


# Columns of the keyed (post-surrogate) frame that downstream consumers
# (dims, resolution, fact) actually read. The full keyed
# frame is ~60 columns of bronze/cleaning intermediates; persisting THAT
# blocked column pruning and measured 2.4x slower than recompute. The
# pruned 19-column projection is what a stage layer would durably hold.
_KEYED_COLS = (
    "slno",
    "tempRegistrationNumber",
    "fromdate_parsed",
    "todate_parsed",
    "OfficeCd",
    "makerName",
    "modelName",
    "variant",
    "colour",
    "vehicleClass",
    "seatCapacity",
    "fuel_clean",
    "makeYear_clean",
    "emissionStandard",
    "isElectric",
    "MAKE_YEAR_KEY",
    "VEHICLE_ID",
    "MANUFACTURER_ID",
    "RTA_ID",
)


def build_star(staged: DataFrame) -> StarOutput:
    """ETL2: staged rows → dims + fact with exact/fuzzy vehicle resolution
    (etl2_advclean_and_dimcreatin.py:105-275)."""
    df = staged.withColumns(
        {
            "makerName": F.trim("makerName"),
            "modelName": F.trim("modelName"),
            "variant": F.trim("variant"),
            "OfficeCd": F.trim("OfficeCd"),
        }
    )
    df = cleaning.fix_two_digit_year(df)
    df = cleaning.derive_emission_standard(df)
    df = cleaning.coerce_is_electric(df)
    df = star.add_surrogate_keys(df)
    # Persist a PRUNED projection, not the raw keyed frame: the full frame
    # is ~60 columns of cleaning intermediates, and persisting it blocked
    # column pruning across the six consumers (measured 2.4x slower than
    # recompute). The 19 columns below are exactly what dims, resolution and
    # fact read — one codegen'd pass computes them, every consumer reuses
    # the cached narrow rows. Durable pipelines write this same projection
    # to parquet as the stage layer (jobs.py).
    df = tracked_persist(df.select(*_KEYED_COLS))

    # One VEHICLE_ID shuffle builds the dim AND its support counts
    # (fused aggregate); persisted because three consumers read it —
    # the gold dim, the canonical catalog below, and the fact's FK
    # closure through resolution.
    dim_vehicle_s = tracked_persist(star.build_dim_vehicle(df, support_col="__support"))
    dim_vehicle = dim_vehicle_s.drop("__support")
    dim_manufacturer = star.build_dim_manufacturer(df)
    dim_rta = star.build_dim_rta(df)

    # Vehicle resolution: every keyed row is a probe, resolved in place
    # against the CANONICAL subset of dim_vehicle — entries backed by at
    # least MIN_CATALOG_SUPPORT registrations (etl2:195-244). Rare
    # spellings (typos — see sources/bronze.py %53==17) stay out of the
    # catalog, fail the exact stage, and resolve fuzzily to the canonical
    # spelling; dim_vehicle itself keeps every entry, so an unresolved
    # row's fallback to its own VEHICLE_ID still lands on a dim row.
    catalog = (
        dim_vehicle_s
        .filter(F.col("__support") >= MIN_CATALOG_SUPPORT)
        .select(
            "VEHICLE_ID",
            F.concat_ws(" ", F.col("MODEL_NAME"), F.col("VARIANT")).alias("cat_text"),
            F.col("MAKE_YEAR").cast("string").alias("cat_year"),
        )
    )
    resolved = resolve.resolve_rows(
        df.withColumn("__probe_text", F.concat_ws(" ", F.col("modelName"), F.col("variant"))),
        catalog,
        probe_text="__probe_text",
        catalog_id="VEHICLE_ID",
        catalog_text="cat_text",
        extra_exact_keys=[("MAKE_YEAR_KEY", "cat_year")],
    )
    fact = star.assemble_fact(resolved)
    # dim_date: Spark-native spine replacing the warehouse recursive CTE
    # (starschema_dw.txt:83-97; oracle-verified as date_spine_dim).
    # Spine range covers the synthesized bronze dates (1995-2002), unlike
    # the reference's 2010..today (its feed is modern-only).
    dim_date = date_spine(staged.sparkSession, start="1990-01-01")
    return StarOutput(dim_vehicle, dim_manufacturer, dim_rta, dim_date, fact, keyed=df)


def run_pipeline(df_raw: DataFrame) -> StarOutput:
    return build_star(clean_and_stage(df_raw))
