"""The benchmark's workloads: what one pass runs and how its output is
checked.

Each workload is a single client in a closed loop: the next call starts
when the previous one has returned. The three read workloads split
``bench.HEADLINE`` exactly (the coverage test pins this); ``etl_write`` is
the write path the headline never exercises.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
import traceback
from dataclasses import dataclass, field

STAR = (
    "pricing_summary",
    "star_revenue_by_region_year",
    "top_customers_by_revenue",
    "nation_order_stats",
    "running_customer_spend",
    "sessionize_events",
    "events_last_signup_asof",
    "multiformat_date_parse",
    "fuzzy_resolution_parts",
    "rta_pipeline_star",
    "merge_upsert_orders",
    "events_windowed_hourly",
)
CORPUS = (
    "minhash_lsh_near_dups",
    "exact_dedup_documents",
    "cosine_topk_bruteforce",
    "cosine_topk_bruteforce_fast",
    "cosine_topk_ivf",
    "text_metrics",
    "near_dup_clusters",
    "embedding_near_dup_bucketed",
    "simhash_suite",
    "dataset_split",
    "decontamination_report",
    "packed_sequences",
    "repetition_filters",
    "pii_scrub",
    "corpus_vocabulary",
    "semantic_dedup_survivors",
    "packed_bins",
    "embedding_near_dup_bucketed_fast",
    "doc_fingerprints",
    "incremental_substring_dedup",
    "corpus_curation_pipeline",
    "cosine_topk_ivfpq",
    "cosine_topk_sq8",
)
MEDIA = ("multimodal_suite",)


@dataclass
class Ctx:
    """Everything one pass needs; built once the session is ready."""

    spark: object
    data_dir: str
    work_dir: str
    rng: object
    tracer: object
    year: int = 0
    month: int = 0
    failures: list[str] = field(default_factory=list)

    def fail(self, what: str) -> None:
        self.failures.append(what)
        print(f"perfbench: FAILED {what}", file=sys.stderr)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class ReadWorkload:
    """Headline queries built with the registry and run to a sink."""

    def __init__(self, name: str, why: str, queries: tuple[str, ...], tables: tuple[str, ...]):
        self.name, self.why, self.queries, self.tables = name, why, queries, tables

    def prepare(self, spark, data_dir: str, work_dir: str) -> float:
        return 0.0

    def run_pass(self, ctx: Ctx) -> int:
        """One call per query in a seed-shuffled order, each run to the
        noop sink. Returns the operations attempted. The caller releases
        operator persists after the pass."""
        from rta_registrations_pyspark_glue_spark.plans import registry

        qs = registry.queries()
        tr = ctx.tracer
        for name in ctx.rng.permutation(self.queries):
            with tr.span(f"query.{name}"):
                try:
                    with tr.span("plans.build"):
                        df = qs[name](ctx.spark, ctx.data_dir)
                    with tr.span("exec.sink"):
                        _noop(df)
                except Exception:
                    traceback.print_exc()
                    ctx.fail(f"{name} raised")
        return len(self.queries)

    def check(self, ctx: Ctx) -> None:
        """Build and collect each query once more, then compare its row
        count, column names and order-insensitive row hash with its DuckDB
        oracle over the same parquet files. Queries without an oracle must
        merely run."""
        import duckdb

        from rta_registrations_pyspark_glue_spark.plans import registry
        from tools.oracle_check import TABLES, canon_rows

        qs = registry.queries()
        oracles = registry.oracle_sql()
        con = duckdb.connect()
        for t in TABLES:
            path = os.path.join(ctx.data_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        for name in self.queries:
            try:
                df = qs[name](ctx.spark, ctx.data_dir)
                cols, rows = df.columns, [tuple(r) for r in df.collect()]
            except Exception:
                traceback.print_exc()
                ctx.fail(f"{name} raised in the check")
                continue
            if name not in oracles:
                continue
            cur = con.execute(oracles[name])
            dcols = [d[0] for d in cur.description]
            drows = cur.fetchall()
            if (
                len(rows) != len(drows)
                or sorted(cols) != sorted(dcols)
                or canon_rows(cols, rows)[0] != canon_rows(dcols, drows)[0]
            ):
                ctx.fail(f"{name}: result differs from its oracle ({len(rows)}/{len(drows)} rows)")
        con.close()


class EtlWorkload:
    """Bronze CSV -> ETL1 -> ETL2 full rebuild into partitioned parquet,
    then an incremental --year/--month rerun of both jobs."""

    name = "etl_write"
    why = (
        "the only workload that writes (adaptive parquet writer, partition "
        "swap, stale-key delete) and rebuilds its plans on every call; "
        "per-job fixed cost dominates at its size"
    )
    tables = ("orders", "part")

    def prepare(self, spark, data_dir: str, work_dir: str) -> float:
        """Write the dirty bronze registrations CSV; returns its seconds."""
        from rta_registrations_pyspark_glue_spark.sources.bronze import synthesize_bronze

        t0 = time.perf_counter()
        bronze = synthesize_bronze(spark, data_dir)
        bronze.coalesce(2).write.mode("overwrite").option("header", True).csv(
            os.path.join(work_dir, "bronze")
        )
        return time.perf_counter() - t0

    def run_all(self, ctx: Ctx, root: str, incremental: bool) -> None:
        from rta_registrations_pyspark_glue_spark import jobs

        bronze = os.path.join(ctx.work_dir, "bronze")
        stage = os.path.join(root, "stage_clean_source")
        tr = ctx.tracer
        shutil.rmtree(root, ignore_errors=True)
        with tr.span("jobs.etl1"):
            jobs.run_etl1(ctx.spark, bronze, root)
        with tr.span("jobs.etl2"):
            jobs.run_etl2(ctx.spark, stage, root)
        if incremental:
            with tr.span("jobs.incr"):
                jobs.run_etl1(ctx.spark, bronze, root, year=ctx.year, month=ctx.month)
                jobs.run_etl2(ctx.spark, stage, root, year=ctx.year, month=ctx.month)

    def run_pass(self, ctx: Ctx) -> int:
        try:
            self.run_all(ctx, os.path.join(ctx.work_dir, "out"), incremental=True)
        except Exception:
            traceback.print_exc()
            ctx.fail("etl pass raised")
        return 4

    def check(self, ctx: Ctx) -> None:
        """Compare the pass's output (full rebuild + incremental rerun over
        unchanged input) with a fresh full rebuild. The stage and every
        fact row outside the rerun's year must be identical; the fact
        keeps the same registrations, one row each; dims are merged, never
        shrunk; every fact key resolves in its dimension. (Fact rows of the
        rerun year may resolve a misspelt model differently: the fuzzy
        catalog of an incremental run sees only its scope, see
        ``jobs.run_etl2``.)"""
        from pyspark.sql import functions as F

        from tools.oracle_check import canon_rows

        spark = ctx.spark
        out = os.path.join(ctx.work_dir, "out")
        ref = os.path.join(ctx.work_dir, "ref")
        self.run_all(ctx, ref, incremental=False)

        def lines(df):
            return canon_rows(df.columns, [tuple(r) for r in df.collect()])[1]

        def read(root, table):
            return spark.read.parquet(f"{root}/{table}")

        if lines(read(out, "stage_clean_source")) != lines(read(ref, "stage_clean_source")):
            ctx.fail("stage: incremental rerun differs from a full rebuild")
        fact, fact_ref = read(out, "gold_fact_registrations"), read(ref, "gold_fact_registrations")
        other_year = F.col("REGISTRATION_YEAR") != ctx.year
        if lines(fact.filter(other_year)) != lines(fact_ref.filter(other_year)):
            ctx.fail("fact: rows outside the rerun year changed")
        keys = fact.select("TEMP_REGISTRATION_NUMBER")
        if lines(keys) != lines(fact_ref.select("TEMP_REGISTRATION_NUMBER")):
            ctx.fail("fact: registrations differ from a full rebuild (or repeat)")
        dims = {
            "VEHICLE_ID": ("gold_dim_vehicle", "VEHICLE_ID"),
            "MANUFACTURER_ID": ("gold_dim_manufacturer", "MANUFACTURER_ID"),
            "RTA_ID": ("gold_dim_rta", "RTA_ID"),
            "REGISTRATION_ISSUE_DATE_ID": ("gold_dim_date", "DATE_ID"),
        }
        for fk, (dim, key) in dims.items():
            if not set(lines(read(ref, dim))) <= set(lines(read(out, dim))):
                ctx.fail(f"{dim}: rows of a full rebuild missing after the rerun")
            dim_keys = read(out, dim).select(F.col(key).alias(fk))
            dangling = fact.join(dim_keys, fk, "left_anti").count()
            if dangling:
                ctx.fail(f"fact.{fk}: {dangling} keys missing from {dim}")


WORKLOADS = {
    w.name: w
    for w in (
        EtlWorkload(),
        ReadWorkload(
            "star_analytics",
            "short JVM-only star-schema and analytic reads at a size where "
            "per-query fixed overhead dominates; plan memos hit after pass one",
            STAR,
            ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events"),
        ),
        ReadWorkload(
            "corpus_curation",
            "shuffle-heavy text dedup and vector search whose builds run "
            "Spark actions no plan memo skips",
            CORPUS,
            ("documents", "embeddings"),
        ),
        ReadWorkload(
            "media_decode",
            "Python-bound codec legs in mapInPandas workers, with the "
            "worker fixture cache filled on pass one",
            MEDIA,
            ("documents",),
        ),
    )
}
