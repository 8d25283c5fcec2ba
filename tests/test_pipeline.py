"""Pipeline property + golden tests (SURVEY.md §5 items 3-4):
FK closure, resolution totality, dedup idempotence, surrogate-key
determinism across partitionings."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rta_registrations_pyspark_glue_spark.operators import dedup
from rta_registrations_pyspark_glue_spark.plans.pipeline import clean_and_stage, run_pipeline
from rta_registrations_pyspark_glue_spark.sources.bronze import synthesize_bronze


@pytest.fixture(scope="module")
def star(spark, sf_dir):
    out = run_pipeline(synthesize_bronze(spark, sf_dir))
    out.fact.persist()
    out.dim_vehicle.persist()
    return out


def test_fact_plan_joins_only_by_broadcast(spark, sf_dir):
    """Vehicle resolution runs in place on the keyed rows: the fact's
    pre-AQE physical plan (cached inner plans included) has broadcast
    joins only — no window and no shuffled join."""
    fact = run_pipeline(synthesize_bronze(spark, sf_dir)).fact
    plan = fact._jdf.queryExecution().sparkPlan().toString()
    assert "BroadcastHashJoin" in plan
    for node in ("Window", "SortMergeJoin", "ShuffledHashJoin"):
        assert node not in plan, node


def test_fact_nonempty_and_issue_date_not_null(star):
    assert star.fact.count() > 0
    assert star.fact.filter(F.col("REGISTRATION_ISSUE_DATE_ID").isNull()).count() == 0


def test_fk_closure_vehicle(star):
    """Every fact VEHICLE_ID exists in dim_vehicle (starschema_dw.txt:59-66)."""
    dangling = star.fact.join(
        star.dim_vehicle, on="VEHICLE_ID", how="left_anti"
    ).count()
    assert dangling == 0


def test_fk_closure_manufacturer_and_rta(star):
    assert star.fact.join(star.dim_manufacturer, on="MANUFACTURER_ID", how="left_anti").count() == 0
    assert star.fact.join(star.dim_rta, on="RTA_ID", how="left_anti").count() == 0


def test_dims_unique(star):
    for dim, key in [
        (star.dim_vehicle, "VEHICLE_ID"),
        (star.dim_manufacturer, "MANUFACTURER_ID"),
        (star.dim_rta, "RTA_ID"),
    ]:
        total = dim.count()
        assert dim.select(key).distinct().count() == total


def test_fact_grain_one_row_per_registration(star):
    total = star.fact.count()
    assert star.fact.select("TEMP_REGISTRATION_NUMBER").distinct().count() == total


def test_dedup_keeps_latest_not_dup(spark, sf_dir):
    """The synthesized '_dup' rows carry an older fromdate → none survive."""
    staged = clean_and_stage(synthesize_bronze(spark, sf_dir))
    assert staged.filter(F.col("slno").endswith("_dup")).count() == 0


def test_dedup_idempotent(spark, sf_dir):
    staged = clean_and_stage(synthesize_bronze(spark, sf_dir))
    once = dedup.keep_latest_agg(staged, ["tempRegistrationNumber"], ["fromdate_parsed", "slno"])
    assert once.count() == staged.count()


def test_surrogate_keys_stable_across_partitioning(spark, sf_dir):
    bronze = synthesize_bronze(spark, sf_dir)
    a = run_pipeline(bronze.repartition(1)).dim_vehicle.select("VEHICLE_ID")
    b = run_pipeline(bronze.repartition(7)).dim_vehicle.select("VEHICLE_ID")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_window_and_agg_dedup_agree(spark, sf_dir):
    """keep_latest (window) ≡ keep_latest_agg (max_by) under a total order."""
    bronze = synthesize_bronze(spark, sf_dir).withColumn(
        "__ord", F.coalesce(F.col("fromdate"), F.lit(""))
    )
    w = dedup.keep_latest(bronze, ["tempRegistrationNumber"], ["__ord", "slno"])
    a = dedup.keep_latest_agg(bronze, ["tempRegistrationNumber"], ["__ord", "slno"])
    assert w.exceptAll(a).count() == 0 and a.exceptAll(w).count() == 0
