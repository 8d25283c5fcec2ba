"""Loaders for the driver-generated parquet tables (TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet file per table under
``/root/testdata/sf{0.001,0.01,0.1}/``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import LongType

from rta_registrations_pyspark_glue_spark.plans.planmemo import memoized

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


def load_table(spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    """The table's parquet scan. Memoized per path (plans/planmemo.py):
    each fresh read costs a footer read + schema inference + py4j, tens
    of ms, and the events nanos/micros probe several times that."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    # The driver may call queries() on a session we didn't build (its own
    # timezone / parser policy). Results must be oracle-comparable (DuckDB
    # timestamps are naive/UTC), so pin both runtime confs on every load.
    # CORRECTED, not LEGACY: parse failures become NULL, matching the
    # oracles' try_strptime — LEGACY would silently roll shaped-but-invalid
    # dates like '31/02/20' over to a real date while DuckDB yields NULL.
    # Date parsing itself is policy-independent by construction (dates.py
    # expands yy->yyyy in-string with a fixed pivot).
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.timeParserPolicy", "CORRECTED")
    if name == "events":
        return memoized(spark, "load_table", path, lambda: _read_events(spark, path))
    return memoized(spark, "load_table", path, lambda: spark.read.parquet(path))


def _read_events(spark: SparkSession, path: str) -> DataFrame:
    # events.ts has shipped as both TIMESTAMP(NANOS) — which the Spark
    # parquet reader rejects — and TIMESTAMP(MICROS), depending on the
    # generator version. Enable the nanos-as-long fallback, then adapt
    # to whatever type actually came back: a long is a nanos epoch to
    # rebuild (integer DIV, not / — ns values exceed double's 2^53); a
    # timestamp is already correct.
    prior = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    if isinstance(df.schema["ts"].dataType, LongType):
        # Genuine NANOS file: the conf must stay set — the scan checks
        # it again at action time, and this session evidently reads
        # nanos-shipped data by design.
        return df.withColumn("ts", F.expr("timestamp_micros(ts DIV 1000)"))
    # MICROS file: the fallback never engaged — restore the prior
    # conf so a later read of a true NANOS column on this session
    # still errors loudly instead of silently yielding LongType.
    if prior is None:
        spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    else:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", prior)
    # timestamp[us] parquet reads back as TIMESTAMP_NTZ; interpret
    # the wall-clock as UTC explicitly (to_utc_timestamp(ntz,'UTC')
    # is timezone-INDEPENDENT — a bare cast to timestamp resolves
    # with whatever session tz is in effect at action time, so a
    # driver mutating spark.sql.session.timeZone between load and
    # action would shift values).
    return df.withColumn("ts", F.expr("to_utc_timestamp(ts, 'UTC')"))


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    return {name: load_table(spark, name, sf_dir) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> None:
    """Register every table as a temp view so operators can be written in
    either DataFrame or SQL form against the same names DuckDB uses."""
    for name in TABLES:
        load_table(spark, name, sf_dir).createOrReplaceTempView(name)
