"""Sink tests: partitioned writes, adaptive file-count policy
(SURVEY.md §2.1 S3-S6)."""

from __future__ import annotations

import glob

import pytest

from pyspark.sql import functions as F

from rta_registrations_pyspark_glue_spark import io
from rta_registrations_pyspark_glue_spark.sources.testdata import load_table

def test_target_file_count_policy():
    mb = 1024 * 1024
    # Reference policy (etl2_advclean_and_dimcreatin.py:301-308):
    # collapse below target/2, clamp(ceil(bytes/target), 1, 100).
    assert io.target_file_count(0) == 1
    assert io.target_file_count(int(63 * mb)) == 1
    assert io.target_file_count(int(120 * mb)) == 1  # < 128/2? no: 120>64 → ceil(120/128)=1
    assert io.target_file_count(int(600 * mb)) == 5
    assert io.target_file_count(int(100_000 * mb)) == 100  # clamped


def test_partitioned_write_roundtrip(spark, sf_dir, tmp_path):
    out = str(tmp_path / "io_test")
    orders = load_table(spark, "orders", sf_dir).withColumn(
        "order_year", F.year("o_orderdate")
    )
    io.write_parquet(orders, out, partition_by=["order_year"])
    back = spark.read.parquet(out)
    assert back.count() == orders.count()
    # Hive-style layout exists (partition pruning works off directories).
    assert glob.glob(f"{out}/order_year=*"), "expected partitioned layout"
    # Partition pruning: reading one partition scans only its directory.
    one_year = back.filter(F.col("order_year") == 1996).count()
    assert one_year == orders.filter(F.col("order_year") == 1996).count()
    # Small data → policy collapses to one file per partition directory.
    for d in glob.glob(f"{out}/order_year=*"):
        files = [f for f in glob.glob(f"{d}/*.parquet")]
        assert len(files) >= 1


def test_estimate_plan_bytes_positive(spark, sf_dir):
    df = load_table(spark, "lineitem", sf_dir)
    assert io.estimate_plan_bytes(df) > 0


def test_reconcile_union_tolerates_drift(spark):
    a = spark.createDataFrame([(1, "x")], "id int, col_a string")
    b = spark.createDataFrame([(2, "y")], "id int, col_b string")  # drifted
    out = io.reconcile_union([a, b])
    assert sorted(out.columns) == ["col_a", "col_b", "id"]
    rows = {r.id: (r.col_a, r.col_b) for r in out.collect()}
    assert rows[1] == ("x", None) and rows[2] == (None, "y")


def test_compact_partitions_rewrites_only_crowded(spark, tmp_path):
    """Compaction rewrites only partitions over the file bound, preserves
    every row, and leaves compliant partitions' files byte-identical."""
    import os

    from pyspark.sql import functions as F

    from rta_registrations_pyspark_glue_spark import io

    root = str(tmp_path / "t")
    # Partition g=0 written as many small files; g=1 as one file.
    df = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") % 2).alias("g")
    )
    df.filter(F.col("g") == 0).repartition(8).write.partitionBy("g").parquet(root)
    df.filter(F.col("g") == 1).coalesce(1).write.mode("append").partitionBy("g").parquet(root)

    def files_of(part):
        d = f"{root}/g={part}"
        return sorted(
            (f, os.stat(os.path.join(d, f)).st_mtime_ns)
            for f in os.listdir(d)
            if f.endswith(".parquet")
        )

    before_g1 = files_of(1)
    assert len(files_of(0)) == 8
    n = io.compact_partitions(spark, root, ["g"], max_files_per_partition=4)
    assert n == 1
    assert len(files_of(0)) == 1
    assert files_of(1) == before_g1, "compliant partition was rewritten"
    out = spark.read.parquet(root)
    assert out.count() == 1000
    assert out.agg(F.sum("k")).collect()[0][0] == sum(range(1000))
    # Idempotent: nothing left to compact.
    assert io.compact_partitions(spark, root, ["g"], max_files_per_partition=4) == 0


def test_compact_partitions_converged_large_partition_untouched(spark, tmp_path):
    """A partition of many TARGET-SIZED files is converged — compaction
    must not rewrite it forever (the crowded test requires small files,
    not just a file count)."""
    from pyspark.sql import functions as F

    from rta_registrations_pyspark_glue_spark import io

    root = str(tmp_path / "t")
    df = spark.range(0, 600).select(F.col("id").alias("k"), F.lit(0).alias("g"))
    df.repartition(6).write.partitionBy("g").parquet(root)
    # Pretend the target file size is tiny, so the 6 files all count as
    # target-sized: nothing qualifies as compactable.
    assert (
        io.compact_partitions(
            spark, root, ["g"], max_files_per_partition=4, target_mb=1e-6
        )
        == 0
    )


def test_hadoop_listing_matches_local_and_drives_compaction(spark, tmp_path, monkeypatch):
    """The Hadoop-FileSystem listing (the object-store path of
    _leaf_data_files) must agree leaf-for-leaf and byte-for-byte with
    the local os.listdir walk, and compact_partitions must behave
    identically when discovery is forced through the Hadoop route (as it
    is for any non-local scheme)."""
    import os

    from pyspark.sql import functions as F

    from rta_registrations_pyspark_glue_spark import io

    root = str(tmp_path / "t")
    df = spark.range(0, 600).select(F.col("id").alias("k"), (F.col("id") % 2).alias("g"))
    df.filter(F.col("g") == 0).repartition(6).write.partitionBy("g").parquet(root)
    df.filter(F.col("g") == 1).coalesce(1).write.mode("append").partitionBy("g").parquet(root)

    local = io._leaf_data_files(spark, root, 1)
    hadoop = io._hadoop_leaf_data_files(spark, f"file:{root}", 1)
    assert io._is_local_path(root) and not io._is_local_path(f"s3a:{root}")
    # Same leaves (modulo scheme prefix), same (name, size) lists.
    norm = lambda d: {k.split(":", 1)[-1].lstrip("/"): v for k, v in d.items()}
    assert norm(local) == norm(hadoop)
    assert all(files for files in local.values())

    # Force discovery down the Hadoop branch (what any object-store
    # scheme takes) and run the real compaction flow over it.
    monkeypatch.setattr(io, "_is_local_path", lambda p: False)
    n = spark.read.parquet(root).count()
    assert io.compact_partitions(spark, root, ["g"], max_files_per_partition=4) == 1
    assert len([f for f in os.listdir(f"{root}/g=0") if f.endswith(".parquet")]) == 1
    assert spark.read.parquet(root).count() == n


def test_jsonl_roundtrip(spark, tmp_path):
    """JSONL sink → scan roundtrip with an explicit schema; values,
    nulls, and unicode survive; the writer applies the size-adaptive
    file-count policy (a tiny frame lands in one file)."""
    import os

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from rta_registrations_pyspark_glue_spark import io

    path = str(tmp_path / "docs_jsonl")
    df = spark.range(100).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 10 == 0, None)
        .otherwise(F.concat(F.lit("text æøå "), F.col("id").cast("string")))
        .alias("text"),
    )
    io.write_jsonl(df, path)
    files = [f for f in os.listdir(path) if f.endswith(".json")]
    assert len(files) == 1
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    back = io.read_jsonl(spark, path, schema=schema)
    assert back.schema == schema
    a = {(r.doc_id, r.text) for r in df.collect()}
    b = {(r.doc_id, r.text) for r in back.collect()}
    assert a == b
    # Column pruning arg
    assert io.read_jsonl(spark, path, schema=schema, columns=["doc_id"]).columns == ["doc_id"]


def test_write_parquet_bloom_filters(spark, tmp_path):
    """bloom_filter_cols must actually land parquet bloom filters in
    the files: pyarrow can't introspect bloom offsets, so pin the
    behavior differentially — same rows, same layout, and the
    bloom-enabled files grow by roughly the ndv-sized bitset while the
    data reads back identical. A typo'd writer option would be
    silently ignored and fail the size delta."""
    import os

    from rta_registrations_pyspark_glue_spark.io import read_parquet, write_parquet

    df = spark.range(20_000).selectExpr(
        "id AS doc_id", "md5(CAST(id AS STRING)) AS fp"
    )
    plain, bloomed = str(tmp_path / "plain"), str(tmp_path / "bloomed")
    write_parquet(df, plain)
    write_parquet(
        df, bloomed, bloom_filter_cols=["fp"], bloom_filter_ndv=20_000
    )

    def total_bytes(root):
        return sum(
            os.path.getsize(os.path.join(dp, f))
            for dp, _dn, fn in os.walk(root)
            for f in fn
            if f.endswith(".parquet")
        )

    delta = total_bytes(bloomed) - total_bytes(plain)
    # 20k ndv -> parquet-mr sizes the split-block filter in the tens of
    # KiB; anything clearly nonzero proves the option took effect
    assert delta > 4096, f"bloom filter bytes missing (delta={delta})"
    a = {r.doc_id: r.fp for r in read_parquet(spark, plain).collect()}
    b = {r.doc_id: r.fp for r in read_parquet(spark, bloomed).collect()}
    assert a == b


def test_orc_roundtrip_and_partition_layout(spark, tmp_path):
    df = spark.createDataFrame(
        [(i, i % 3, f"d{i}") for i in range(30)], "id long, g int, s string"
    )
    path = str(tmp_path / "orc_part")
    io.write_orc(df, path, partition_by=["g"], bloom_filter_cols=["id"])
    import os

    assert sorted(
        d for d in os.listdir(path) if d.startswith("g=")
    ) == ["g=0", "g=1", "g=2"]
    back = io.read_orc(spark, path)
    assert back.count() == 30
    assert sorted(r["id"] for r in back.collect()) == list(range(30))
    assert io.read_orc(spark, path, columns=["id"]).columns == ["id"]


def test_orc_scan_prunes_and_pushes_down(spark, tmp_path):
    df = spark.createDataFrame(
        [(i, f"d{i}") for i in range(100)], "id long, s string"
    )
    path = str(tmp_path / "orc_push")
    io.write_orc(df, path)
    plan = (
        io.read_orc(spark, path, columns=["id"])
        .filter("id = 7")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters" in plan and "id" in plan
    assert "s#" not in plan.split("ReadSchema")[0] or "struct<id" in plan


def test_read_avro_raises_actionable_boundary(spark, tmp_path):
    with pytest.raises(RuntimeError, match="spark-avro"):
        io.read_avro(spark, str(tmp_path / "nothing.avro"))


def test_delete_stale_keys_three_copies_keeps_newest(spark, tmp_path):
    """A key with rows in three partitions, its newest row OUTSIDE the
    canonical partition: exactly that row survives; of the two losing
    partitions, the one still holding another key is rewritten and the
    emptied one is dropped. ``keys`` may repeat a key."""
    import os

    root = str(tmp_path / "t")
    spark.createDataFrame(
        [("A", 1, 1), ("B", 5, 1), ("A", 2, 2), ("A", 3, 3), ("C", 1, 3)],
        "k string, ts int, p int",
    ).write.partitionBy("p").parquet(root)
    io.delete_stale_keys(
        spark,
        root,
        partition_by=["p"],
        canonical_pred=F.col("p") == 1,
        keys=spark.createDataFrame([("A",), ("A",)], "k string"),
        key_cols=["k"],
        order_by=["ts"],
    )
    rows = sorted(tuple(r) for r in spark.read.parquet(root).select("k", "ts", "p").collect())
    assert rows == [("A", 3, 3), ("B", 5, 1), ("C", 1, 3)]
    assert sorted(d for d in os.listdir(root) if "=" in d) == ["p=1", "p=3"]


def test_replace_parquet_merges_into_itself_and_recovers_asides(spark, tmp_path):
    """replace_parquet swaps a whole table for a frame that READS it (the
    dim merge shape), and finishes a swap an earlier process died in:
    a stale aside next to the table is dropped, and an aside with no
    table beside it is restored before the frame is read."""
    import os

    path = str(tmp_path / "dim")
    schema = "id int, v string"
    spark.createDataFrame([(1, "a"), (2, "b")], schema).write.parquet(path)

    def merge(*rows):
        return spark.read.parquet(path).unionByName(spark.createDataFrame(rows, schema))

    def table():
        return sorted(tuple(r) for r in spark.read.parquet(path).collect())

    io.replace_parquet(merge((3, "c")), path)
    assert table() == [(1, "a"), (2, "b"), (3, "c")]
    assert os.listdir(tmp_path) == ["dim"]

    # Died after the swap, before dropping the aside: the table is whole.
    os.makedirs(path + io.ASIDE_SUFFIX)
    io.replace_parquet(merge((4, "d")), path)
    assert table() == [(1, "a"), (2, "b"), (3, "c"), (4, "d")]
    assert os.listdir(tmp_path) == ["dim"]

    # Died between the two renames: only the aside holds the rows. The
    # merge was planned before, so it reads the table's files by name.
    frame = merge((5, "e"))
    os.replace(path, path + io.ASIDE_SUFFIX)
    io.replace_parquet(frame, path)
    assert table() == [(1, "a"), (2, "b"), (3, "c"), (4, "d"), (5, "e")]
    assert os.listdir(tmp_path) == ["dim"]
