"""Bucketed-table join test: two tables bucketed on the join key must
join WITHOUT a shuffle exchange — the co-located join strategy for
repeated large-table joins at scale (SURVEY.md §2.13 / pyspark guide
'Partitioning & shuffle')."""

from __future__ import annotations

import shutil

from pyspark.sql import functions as F

from rta_registrations_pyspark_glue_spark.sources.testdata import load_table


def test_bucketed_join_has_no_shuffle(spark, sf_dir):
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    orders = load_table(spark, "orders", sf_dir)
    lineitem = load_table(spark, "lineitem", sf_dir)
    for t in ("b_orders", "b_lineitem"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"{warehouse}/{t}", ignore_errors=True)
    (
        orders.write.mode("overwrite")
        .bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey")
        .saveAsTable("b_orders")
    )
    (
        lineitem.write.mode("overwrite")
        .bucketBy(8, "l_orderkey")
        .sortBy("l_orderkey")
        .saveAsTable("b_lineitem")
    )
    # Force a sort-merge join: at test scale AQE would broadcast, and a
    # BroadcastExchange would mask the property under test (bucketed SMJ
    # without shuffle — what a large-large join uses at scale).
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("b_orders").join(
            spark.table("b_lineitem"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" not in plan, (
            f"bucketed join still shuffles:\n{plan[:2000]}"
        )
        assert joined.count() == lineitem.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        for t in ("b_orders", "b_lineitem"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
            shutil.rmtree(f"{warehouse}/{t}", ignore_errors=True)
