"""Z-order compaction: multi-dimensional file skipping."""

import pytest
from pyspark.sql import functions as F

from kafka2iceberg_spark.sink import IcebergLite


def _grid(spark, n=64):
    # n x n integer grid, one event-time day -> single table partition
    return (
        spark.range(n * n)
        .select(
            (F.col("id") % n).cast("int").alias("x"),
            (F.col("id") / n).cast("int").alias("y"),
            F.concat(F.lit("c"), F.col("id")).alias("conv_id"),
            F.lit("2024-09-01 12:00:00").cast("timestamp").alias("ts"),
        )
    )


def test_zorder_skips_on_both_dimensions(spark, tmp_path):
    t = IcebergLite(str(tmp_path / "t"), pk=["conv_id"])
    df = _grid(spark)
    # nine appends -> 9 files -> above the zorder threshold (target+1)
    for i in range(9):
        t.commit_append(df.filter(F.col("x") % 9 == i), f"b{i}")
    assert t.compact(spark, zorder_by=["x", "y"], target_files=8) == 1
    # a narrow box on x AND a narrow box on y must each skip most files
    plan_x = t.plan_scan("x", 10, 13)
    plan_y = t.plan_scan("y", 10, 13)
    assert plan_x["files_total"] == 8
    assert plan_x["files_skipped"] >= 4, plan_x
    assert plan_y["files_skipped"] >= 4, plan_y
    # single-key SORT on x would leave y-scans unprunable; z-order keeps
    # BOTH selective — and results stay exact
    got = t.scan_range(spark, "y", 10, 13).count()
    assert got == 64 * 4


def test_zorder_read_equivalence(spark, tmp_path):
    t = IcebergLite(str(tmp_path / "t2"), pk=["conv_id"])
    df = _grid(spark, 32)
    t.commit_append(df, "b0")
    t.commit_append(df.withColumn("conv_id", F.concat(F.lit("d"), F.col("conv_id"))), "b1")
    before = {tuple(r) for r in t.read(spark).collect()}
    t.compact(spark, zorder_by=["x", "y"], target_files=8)
    after = {tuple(r) for r in t.read(spark).collect()}
    assert before == after


def test_zorder_rejects_strings(spark, tmp_path):
    t = IcebergLite(str(tmp_path / "t3"), pk=["conv_id"])
    for b in range(3):  # above the zorder threshold (target_files + 1)
        t.commit_append(_grid(spark, 8), f"b{b}")
    with pytest.raises(TypeError):
        t.compact(
            spark, zorder_by=["conv_id", "x"], target_files=2,
            min_files_per_partition=1,
        )
