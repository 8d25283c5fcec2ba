"""End-to-end job entrypoint tests: bronze CSV → etl1 → stage parquet →
etl2 → gold star schema, through the CLI main() (reference C1-C3
surface), plus extractor filename derivation."""

from __future__ import annotations

import glob

import pytest
from pyspark.sql import functions as F

from rta_registrations_pyspark_glue_spark import io, jobs
from rta_registrations_pyspark_glue_spark.sources import extractor
from rta_registrations_pyspark_glue_spark.sources.bronze import synthesize_bronze


def test_etl1_etl2_end_to_end(spark, sf_dir, tmp_path):
    root = str(tmp_path)
    # Materialize dirty bronze as CSV — exercising the real CSV scan (S1).
    bronze = synthesize_bronze(spark, sf_dir)
    bronze.coalesce(2).write.mode("overwrite").option("header", True).csv(f"{root}/bronze")

    assert jobs.main(["etl1", "--input", f"{root}/bronze", "--output", f"{root}/out"]) == 0
    stage = spark.read.parquet(f"{root}/out/stage_clean_source")
    assert stage.count() > 0
    assert glob.glob(f"{root}/out/stage_clean_source/year=*"), "partitioned layout"

    assert jobs.main(
        ["etl2", "--input", f"{root}/out/stage_clean_source", "--output", f"{root}/out"]
    ) == 0
    fact = spark.read.parquet(f"{root}/out/gold_fact_registrations")
    dim_v = spark.read.parquet(f"{root}/out/gold_dim_vehicle")
    assert fact.count() > 0 and dim_v.count() > 0
    # FK closure survives the round trip through disk.
    assert fact.join(dim_v, on="VEHICLE_ID", how="left_anti").count() == 0
    assert glob.glob(f"{root}/out/gold_fact_registrations/REGISTRATION_YEAR=*")
    # Issue-date NOT NULL invariant (DDL starschema_dw.txt:59).
    assert fact.filter(F.col("REGISTRATION_ISSUE_DATE_ID").isNull()).count() == 0
    # Date-key FK closure into the written dim_date spine.
    dim_date = spark.read.parquet(f"{root}/out/gold_dim_date")
    dangling = fact.join(
        dim_date.select(F.col("DATE_ID").alias("REGISTRATION_ISSUE_DATE_ID")),
        on="REGISTRATION_ISSUE_DATE_ID",
        how="left_anti",
    ).count()
    assert dangling == 0


def _fingerprint(root: str) -> dict[str, tuple[int, int]]:
    """relpath -> (size, mtime_ns) for every data file under root."""
    import os

    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            st = os.stat(p)
            out[os.path.relpath(p, root)] = (st.st_size, st.st_mtime_ns)
    return out


def test_incremental_month_rerun_touches_only_scoped_partitions(spark, sf_dir, tmp_path):
    """--year/--month reruns must rewrite ONLY the scoped partitions:
    every other stage (year, month) partition and fact REGISTRATION_YEAR
    partition keeps its exact files (size + mtime), the month-scoped fact
    merge preserves the year partition's sibling-month rows, and dims are
    merged (never shrunk)."""
    root = str(tmp_path)
    bronze = synthesize_bronze(spark, sf_dir)
    bronze.coalesce(2).write.mode("overwrite").option("header", True).csv(f"{root}/bronze")
    assert jobs.main(["etl1", "--input", f"{root}/bronze", "--output", f"{root}/out"]) == 0
    stage_path = f"{root}/out/stage_clean_source"
    assert jobs.main(["etl2", "--input", stage_path, "--output", f"{root}/out"]) == 0
    fact_path = f"{root}/out/gold_fact_registrations"

    # Pick a (year, month) that exists and shares its year with others.
    stage = spark.read.parquet(stage_path)
    year, month = stage.groupBy("year", "month").count().orderBy("year", "month").first()[:2]
    stage_count = stage.count()
    base_count = spark.read.parquet(fact_path).count()
    dimv_count = spark.read.parquet(f"{root}/out/gold_dim_vehicle").count()
    year_count = (
        spark.read.parquet(fact_path).filter(F.col("REGISTRATION_YEAR") == year).count()
    )
    stage_fp = _fingerprint(stage_path)
    fact_fp = _fingerprint(fact_path)

    assert jobs.main(
        ["etl1", "--input", f"{root}/bronze", "--output", f"{root}/out",
         "--year", str(year), "--month", str(month)]
    ) == 0
    scoped = f"year={year}/month={month}/"
    for rel, fp in _fingerprint(stage_path).items():
        if not rel.startswith(scoped) and rel in stage_fp and not rel.startswith("_"):
            assert stage_fp[rel] == fp, f"unscoped stage file rewritten: {rel}"
    unscoped_before = {r for r in stage_fp if not r.startswith(scoped)}
    unscoped_after = {
        r for r in _fingerprint(stage_path) if not r.startswith(scoped)
    }
    assert unscoped_before == unscoped_after
    # Same input re-staged -> same stage content.
    assert spark.read.parquet(stage_path).count() == stage_count

    assert jobs.main(
        ["etl2", "--input", stage_path, "--output", f"{root}/out",
         "--year", str(year), "--month", str(month)]
    ) == 0
    year_dir = f"REGISTRATION_YEAR={year}/"
    for rel, fp in _fingerprint(fact_path).items():
        if not rel.startswith(year_dir) and rel in fact_fp:
            assert fact_fp[rel] == fp, f"unscoped fact file rewritten: {rel}"
    assert {r for r in fact_fp if not r.startswith(year_dir)} == {
        r for r in _fingerprint(fact_path) if not r.startswith(year_dir)
    }
    fact_after = spark.read.parquet(fact_path)
    # The month-scoped merge kept the year's sibling months: same rows.
    assert (
        fact_after.filter(F.col("REGISTRATION_YEAR") == year).count() == year_count
    )
    assert fact_after.count() == base_count
    # Dims merged, never shrunk; FK closure still holds.
    dim_v = spark.read.parquet(f"{root}/out/gold_dim_vehicle")
    assert dim_v.count() == dimv_count
    assert fact_after.join(dim_v, on="VEHICLE_ID", how="left_anti").count() == 0


def test_incremental_rerun_scrubs_moved_keys(spark, tmp_path, write_bronze):
    """A registration re-issued in a different month/year must not leave
    its old row behind: the incremental etl1/etl2 runs scrub the moved
    key from unscoped partitions, preserving the one-row-per-key grain
    of both the stage and the fact."""
    import os

    root = str(tmp_path)
    write_bronze(f"{root}/b1", ("TR001", "10/01/2023", "1"), ("TR002", "11/03/2022", "2"))
    stage_path = f"{root}/out/stage_clean_source"
    assert jobs.main(["etl1", "--input", f"{root}/b1", "--output", f"{root}/out"]) == 0
    assert jobs.main(["etl2", "--input", stage_path, "--output", f"{root}/out"]) == 0

    # TR001 re-registers in June 2024 — a different month AND year.
    write_bronze(f"{root}/b2", ("TR001", "15/06/2024", "3"))
    assert jobs.main(
        ["etl1", "--input", f"{root}/b2", "--output", f"{root}/out",
         "--year", "2024", "--month", "6"]
    ) == 0
    stage = spark.read.parquet(stage_path)
    tr1 = stage.filter(F.col("tempRegistrationNumber") == "TR001").collect()
    assert len(tr1) == 1 and tr1[0].year == 2024 and tr1[0].month == 6
    assert not os.path.exists(f"{stage_path}/year=2023/month=1"), "stale partition kept"
    assert stage.count() == 2  # TR002 untouched

    assert jobs.main(
        ["etl2", "--input", stage_path, "--output", f"{root}/out", "--year", "2024"]
    ) == 0
    fact = spark.read.parquet(f"{root}/out/gold_fact_registrations")
    f1 = fact.filter(F.col("TEMP_REGISTRATION_NUMBER") == "TR001").collect()
    assert len(f1) == 1 and f1[0].REGISTRATION_YEAR == 2024
    assert not os.path.exists(
        f"{root}/out/gold_fact_registrations/REGISTRATION_YEAR=2023"
    ), "stale fact year partition kept"
    assert fact.count() == 2


def test_job_failure_exit_code(spark, tmp_path):
    assert jobs.main(["etl2", "--input", "/nonexistent/path", "--output", f"{tmp_path}/x"]) == 1


@pytest.mark.parametrize("month", ["0", "13"])
def test_out_of_range_month_is_rejected(tmp_path, month):
    """--month outside 1..12 is a usage error (argparse exits 2) before
    any session starts or any table is touched."""
    with pytest.raises(SystemExit) as exc:
        jobs.main(
            ["etl2", "--input", f"{tmp_path}/in", "--output", f"{tmp_path}/out",
             "--year", "2023", "--month", month]
        )
    assert exc.value.code == 2
    assert not (tmp_path / "out").exists()


def test_extractor_filename_derivation():
    url = "https://data.example.org/files/Consolidated%20list%2001-03-2023%20to%2031-03-2023.csv"
    assert extractor.derive_filename(url) == "transport_2023-03.csv"
    assert extractor.derive_filename("https://x.org/a/plain_dump.csv") == "plain_dump.csv"
    assert extractor.derive_filename("https://x.org/a/file.csv?sig=abc") == "file.csv"


def test_extractor_distribution_listing():
    payload = {
        "distribution": [
            {"downloadURL": "https://x/a.csv"},
            {"noUrl": True},
            {"downloadURL": "https://x/b.csv"},
        ]
    }
    assert extractor.list_distribution_urls(payload) == ["https://x/a.csv", "https://x/b.csv"]


def test_backfill_of_older_month_keeps_newer_row(spark, tmp_path, write_bronze):
    """Out-of-order incremental runs: backfilling an OLDER --year/--month
    for a key that re-registered in a LATER partition must NOT delete the
    newer row — the recency-aware scrub keeps the newest registration
    wherever it lives, and the backfill's own (older) row is the one
    scrubbed."""
    import os

    root = str(tmp_path)
    # Current truth: TR001 registered June 2024 (the NEWER row).
    write_bronze(f"{root}/b_new", ("TR001", "15/06/2024", "3"), ("TR002", "11/03/2022", "2"))
    stage_path = f"{root}/out/stage_clean_source"
    assert jobs.main(["etl1", "--input", f"{root}/b_new", "--output", f"{root}/out"]) == 0
    assert jobs.main(["etl2", "--input", stage_path, "--output", f"{root}/out"]) == 0

    # A late-arriving drop backfills January 2023 with TR001's OLD row.
    write_bronze(f"{root}/b_old", ("TR001", "10/01/2023", "1"))
    assert jobs.main(
        ["etl1", "--input", f"{root}/b_old", "--output", f"{root}/out",
         "--year", "2023", "--month", "1"]
    ) == 0
    stage = spark.read.parquet(stage_path)
    tr1 = stage.filter(F.col("tempRegistrationNumber") == "TR001").collect()
    assert len(tr1) == 1, "grain broken by backfill"
    assert tr1[0].year == 2024 and tr1[0].month == 6, "backfill clobbered newer row"
    assert not os.path.exists(f"{stage_path}/year=2023/month=1"), (
        "backfill's own stale partition should be scrubbed and dropped"
    )
    assert not os.path.exists(f"{stage_path}/year=2023"), "emptied year dir kept"
    assert stage.count() == 2

    # Same out-of-order protection on the fact: feed etl2 a stage that
    # still carries the old 2023 row (separate stage root), scoped to the
    # old year — the 2024 fact row must survive.
    assert jobs.main(["etl1", "--input", f"{root}/b_old", "--output", f"{root}/out_old"]) == 0
    assert jobs.main(
        ["etl2", "--input", f"{root}/out_old/stage_clean_source",
         "--output", f"{root}/out", "--year", "2023"]
    ) == 0
    fact = spark.read.parquet(f"{root}/out/gold_fact_registrations")
    f1 = fact.filter(F.col("TEMP_REGISTRATION_NUMBER") == "TR001").collect()
    assert len(f1) == 1 and f1[0].REGISTRATION_YEAR == 2024
    assert not os.path.exists(
        f"{root}/out/gold_fact_registrations/REGISTRATION_YEAR=2023"
    ), "backfill's stale fact partition should be scrubbed and dropped"
    assert fact.count() == 2


def test_incremental_stage_crash_mid_swap_keeps_old_partition(
    spark, tmp_path, write_bronze, monkeypatch
):
    """An incremental etl1 run that dies mid-swap — the old partition
    leaf already moved aside, its replacement not yet renamed in — loses
    no rows: the next table_exists restores the aside, and the stage
    reads back exactly as it was before the run."""
    import os

    root = str(tmp_path)
    write_bronze(f"{root}/b1", ("TR001", "10/01/2023", "1"), ("TR002", "11/03/2022", "2"))
    stage_path = jobs.run_etl1(spark, f"{root}/b1", f"{root}/out")

    def rows():
        spark.catalog.refreshByPath(stage_path)
        return sorted(map(tuple, spark.read.parquet(stage_path).collect()))

    before = rows()
    write_bronze(f"{root}/b2", ("TR003", "20/01/2023", "4"))
    leaf = f"{stage_path}/year=2023/month=1"
    real_replace = os.replace

    def crash_moving_new_leaf_in(src, dst):
        if ".__incoming__" in str(src) and os.path.isdir(str(dst) + io.ASIDE_SUFFIX):
            raise OSError("killed mid-swap")
        return real_replace(src, dst)

    monkeypatch.setattr(os, "replace", crash_moving_new_leaf_in)
    with pytest.raises(OSError, match="killed mid-swap"):
        jobs.run_etl1(spark, f"{root}/b2", f"{root}/out", year=2023, month=1)
    monkeypatch.undo()
    assert not os.path.isdir(leaf) and os.path.isdir(leaf + io.ASIDE_SUFFIX)

    assert io.table_exists(stage_path)
    assert os.path.isdir(leaf) and not os.path.isdir(leaf + io.ASIDE_SUFFIX)
    assert rows() == before


def test_incremental_dim_merge_matches_full_rebuild(spark, sf_dir, tmp_path):
    """Incremental dim merges must converge to the same rows a full
    rebuild over the union of inputs produces (same min-struct winner
    rule), so replaying history incrementally is reproducible."""
    root = str(tmp_path)
    bronze = synthesize_bronze(spark, sf_dir)
    bronze.coalesce(2).write.mode("overwrite").option("header", True).csv(f"{root}/bronze")
    assert jobs.main(["etl1", "--input", f"{root}/bronze", "--output", f"{root}/out"]) == 0
    stage_path = f"{root}/out/stage_clean_source"

    # Full rebuild over the whole stage.
    assert jobs.main(["etl2", "--input", stage_path, "--output", f"{root}/full"]) == 0
    # Incremental: first a full build, then re-merge one year on top —
    # idempotent replay must not change any dim row.
    assert jobs.main(["etl2", "--input", stage_path, "--output", f"{root}/incr"]) == 0
    stage = spark.read.parquet(stage_path)
    year = stage.groupBy("year").count().orderBy("year").first()[0]
    assert jobs.main(
        ["etl2", "--input", stage_path, "--output", f"{root}/incr", "--year", str(year)]
    ) == 0
    for dim in ["gold_dim_vehicle", "gold_dim_manufacturer", "gold_dim_rta"]:
        full = spark.read.parquet(f"{root}/full/{dim}")
        incr = spark.read.parquet(f"{root}/incr/{dim}")
        assert sorted(map(tuple, full.collect())) == sorted(map(tuple, incr.collect())), dim


def _last_job_id(spark) -> int:
    """Run one tiny job under its own group; return its job id (job ids
    grow by one per job)."""
    sc = spark.sparkContext
    sc.setJobGroup("probe", "probe")
    spark.range(1).collect()
    sc.setLocalProperty("spark.jobGroup.id", None)
    return max(sc.statusTracker().getJobIdsForGroup("probe"))


def test_etl2_writes_inherit_job_group_and_tags(spark, tmp_path, write_bronze):
    """The concurrent table writes run on driver threads that inherit
    the caller's job group and session tags: every job a full or an
    incremental run_etl2 launches is in the caller's group."""
    root = str(tmp_path)
    write_bronze(f"{root}/b", ("TR001", "10/01/2023", "1"), ("TR002", "11/03/2022", "2"))
    stage = jobs.run_etl1(spark, f"{root}/b", f"{root}/out")
    sc = spark.sparkContext
    for year in (None, 2023):
        group = f"etl2-{year}"
        start = _last_job_id(spark)
        sc.setJobGroup(group, "etl2 under test")
        spark.addTag("etl2-test")
        try:
            jobs.run_etl2(spark, stage, f"{root}/out", year=year)
            seen = []
            jobs._concurrently(
                spark,
                lambda: seen.append(
                    (sc.getLocalProperty("spark.jobGroup.id"), spark.getTags())
                ),
            )
        finally:
            spark.removeTag("etl2-test")
            sc.setLocalProperty("spark.jobGroup.id", None)
        end = _last_job_id(spark)
        launched = set(range(start + 1, end))
        assert launched, "run_etl2 launched no Spark job"
        assert launched <= set(sc.statusTracker().getJobIdsForGroup(group)), year
        assert seen == [(group, {"etl2-test"})]


def test_failed_etl2_write_lets_the_others_finish(spark, tmp_path, write_bronze, monkeypatch):
    """One failing table write does not stop the others: run_etl2 raises
    its error after every other table is written, main() returns 1, and
    no staging directory is left for a table whose write succeeded."""
    root = str(tmp_path)
    write_bronze(f"{root}/b", ("TR001", "10/01/2023", "1"), ("TR002", "11/03/2022", "2"))
    stage = jobs.run_etl1(spark, f"{root}/b", f"{root}/out")
    write_parquet = io.write_parquet

    def failing(df, path, *args, **kwargs):
        if "gold_dim_rta" in path:
            raise RuntimeError("dim_rta write failed")
        return write_parquet(df, path, *args, **kwargs)

    monkeypatch.setattr(io, "write_parquet", failing)
    others = ["gold_dim_vehicle", "gold_dim_manufacturer", "gold_dim_date",
              "gold_fact_registrations"]
    # A fresh full rebuild first (no table exists yet), then an
    # incremental run that merges into the tables it left.
    for scope in ([], ["--year", "2023"]):
        year = int(scope[1]) if scope else None
        with pytest.raises(RuntimeError, match="dim_rta write failed"):
            jobs.run_etl2(spark, stage, f"{root}/out", year=year)
        assert jobs.main(["etl2", "--input", stage, "--output", f"{root}/out", *scope]) == 1
        for name in others:
            assert spark.read.parquet(f"{root}/out/{name}").count() > 0, (scope, name)
        left = glob.glob(f"{root}/out/*.__incoming__")
        assert all("gold_dim_rta" in p for p in left), left
