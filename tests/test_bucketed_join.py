"""Bucketed co-located join: the storage layout that deletes the join
shuffle. Writing both sides bucketBy(N, key) + sortBy(key) lets Spark
plan the join with NO Exchange on either side (and no Sort when sortBy
matches) — at 100 TB this is the difference between re-shuffling two
fact tables per join and reading them pre-partitioned. IcebergLite
partitions by day only, so this pins the contract on Spark's native
bucketed catalog tables, which do both the write and the read side."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F


@pytest.fixture()
def bucketed_pair(spark, tmp_path):
    left = spark.range(0, 2000).select(
        (F.col("id") % 97).cast("string").alias("conv_id"),
        F.col("id").alias("v"),
    )
    right = spark.range(0, 500).select(
        (F.col("id") % 97).cast("string").alias("conv_id"),
        (F.col("id") * 10).alias("w"),
    )
    for name, df in (("bj_left", left), ("bj_right", right)):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        (
            df.write.mode("overwrite")
            .format("parquet")
            .option("path", str(tmp_path / name))
            .bucketBy(8, "conv_id")
            .sortBy("conv_id")
            .saveAsTable(name)
        )
    yield spark.table("bj_left"), spark.table("bj_right")
    for name in ("bj_left", "bj_right"):
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def _executed_plan(df) -> str:
    df.collect()  # let AQE finalize
    return df._jdf.queryExecution().executedPlan().toString()


def test_bucketed_join_has_no_exchange(spark, bucketed_pair):
    left, right = bucketed_pair
    joined = left.hint("merge").join(right, "conv_id")
    plan = _executed_plan(joined)
    assert "Exchange" not in plan, plan
    # and the identical join WITHOUT bucketing does shuffle — the layout,
    # not the planner mood, removed it
    plain_l = left.repartition(8).hint("merge")
    plain = plain_l.join(right.repartition(8), "conv_id")
    assert "Exchange" in _executed_plan(plain)


def test_bucketed_groupby_has_no_exchange(spark, bucketed_pair):
    left, _ = bucketed_pair
    agg = left.groupBy("conv_id").agg(F.sum("v").alias("s"))
    plan = _executed_plan(agg)
    assert "Exchange" not in plan, plan


def test_join_result_correct(spark, bucketed_pair):
    left, right = bucketed_pair
    joined = left.hint("merge").join(right, "conv_id")
    # every right row matches 2000/97-ish left rows; check exact count
    lc = {r["conv_id"]: r["n"] for r in
          left.groupBy("conv_id").agg(F.count("*").alias("n")).collect()}
    expected = sum(lc[r["conv_id"]] for r in right.collect())
    assert joined.count() == expected
