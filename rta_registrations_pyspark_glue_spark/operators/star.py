"""Star-schema assembly: surrogate keys, dimension builders, fact table
(SURVEY.md §7 Phase 2-3; reference etl2_advclean_and_dimcreatin.py:152-290
and starschema_dw.txt:9-77).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rta_registrations_pyspark_glue_spark.functions.dates import date_key
from rta_registrations_pyspark_glue_spark.functions.hashing import surrogate_key
from rta_registrations_pyspark_glue_spark.operators import dedup


def add_surrogate_keys(df: DataFrame) -> DataFrame:
    """VEHICLE_ID / MANUFACTURER_ID / RTA_ID content-hash keys over
    normalized natural keys (etl2:156-162)."""
    make_year_key = F.when(F.col("makeYear_clean").isNull(), "UNKNOWN").otherwise(
        F.col("makeYear_clean")
    )
    return df.withColumns(
        {
            "MAKE_YEAR_KEY": make_year_key,
            "VEHICLE_ID": surrogate_key("modelName", "variant", make_year_key),
            "MANUFACTURER_ID": surrogate_key("makerName"),
            "RTA_ID": surrogate_key("OfficeCd"),
        }
    )


def build_dim_vehicle(df: DataFrame, support_col: str | None = None) -> DataFrame:
    """dim_vehicle (etl2:173-180; DDL starschema_dw.txt:9-21).

    The reference dropDuplicates on VEHICLE_ID (etl2:180), but FUEL /
    COLOUR / EMISSION / SEATS are not functions of the key (the key hashes
    model+variant+year only) — an arbitrary pick would make dim contents
    partitioning-dependent. We pick deterministically instead.

    ``support_col``: additionally emit the registration count per
    VEHICLE_ID, fused into the dedup aggregate — the pipeline's
    canonical-catalog threshold (etl2:195-244) needs it, and computing
    it here removes a second stage-wide shuffle and the dim×support
    join from the hot path."""
    return dedup.dedup_deterministic(
        df.select(
            "VEHICLE_ID",
            F.col("modelName").alias("MODEL_NAME"),
            F.col("variant").alias("VARIANT"),
            F.col("emissionStandard").alias("EMISSION_STANDARD"),
            F.col("fuel_clean").alias("FUEL"),
            F.coalesce(F.col("colour"), F.lit("UNKNOWN")).alias("COLOUR"),
            F.coalesce(F.col("vehicleClass"), F.lit("UNKNOWN")).alias("VEHICLE_CLASS"),
            F.col("makeYear_clean").alias("MAKE_YEAR"),
            F.coalesce(F.col("seatCapacity").cast("int"), F.lit(0)).alias("SEAT_CAPACITY"),
            F.col("isElectric").alias("IS_ELECTRIC"),
        ),
        keys=["VEHICLE_ID"],
        count_col=support_col,
    )


def build_dim_manufacturer(df: DataFrame) -> DataFrame:
    """dim_manufacturer (etl2:182); deterministic pick of the name casing
    retained for a given normalized-name hash."""
    return dedup.dedup_deterministic(
        df.select("MANUFACTURER_ID", F.col("makerName").alias("MAKER_NAME")),
        keys=["MANUFACTURER_ID"],
    )


def build_dim_rta(df: DataFrame) -> DataFrame:
    """dim_rta with placeholder geo columns (etl2:183-186; DDL :30-41)."""
    return (
        dedup.dedup_deterministic(
            df.select("RTA_ID", F.col("OfficeCd").alias("RTA_OFFICE_CODE")),
            keys=["RTA_ID"],
        )
        .withColumn("RTA_REGION", F.lit(None).cast("string"))
        .withColumn("RTA_STATE", F.lit(None).cast("string"))
        .withColumn("RTA_CITY", F.lit(None).cast("string"))
    )


def assemble_fact(resolved: DataFrame) -> DataFrame:
    """fact_registrations (etl2:256-275): project the resolved keyed rows,
    encode yyyyMMdd date keys, keep only rows with a valid issue date
    (DDL NOT NULL, starschema_dw.txt:59).

    ``resolved`` is the keyed stage — one row per registration number
    (the keep-latest dedup contract, pipeline.clean_and_stage) — with
    operators.resolve.resolve_rows' RESOLVED_ID and IS_FUZZY_MATCH
    attached in place. The reference left-joins a trn-keyed resolution
    map and a trn-keyed manufacturer map back onto its stage
    (etl2:246,256-258); on a frame already unique per trn both joins are
    identity joins, so the fact is one projection."""
    return resolved.select(
        F.coalesce("RESOLVED_ID", "VEHICLE_ID").alias("VEHICLE_ID"),
        "MANUFACTURER_ID",
        "RTA_ID",
        date_key(F.col("fromdate_parsed")).alias("REGISTRATION_ISSUE_DATE_ID"),
        date_key(F.col("todate_parsed")).alias("REGISTRATION_EXPIRY_DATE_ID"),
        F.year("fromdate_parsed").alias("REGISTRATION_YEAR"),
        F.when(
            F.col("makeYear_clean").rlike("^[0-9]{4}$"),
            F.concat(F.col("makeYear_clean"), F.lit("0101")).cast("int"),
        )
        .otherwise(F.lit(None).cast("int"))
        .alias("MANUFACTURER_DATE_ID"),
        F.col("vehicleClass").alias("TRANSPORT_TYPE"),
        F.col("tempRegistrationNumber").alias("TEMP_REGISTRATION_NUMBER"),
        F.col("slno").alias("SLNO"),
        "IS_FUZZY_MATCH",
        F.col("colour").alias("COLOUR"),
        F.col("fuel_clean").alias("FUEL_TYPE"),
        F.col("modelName").alias("MODEL_NAME"),
    ).filter(F.col("REGISTRATION_ISSUE_DATE_ID").isNotNull())
