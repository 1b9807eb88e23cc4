"""Atomic (dynamic and static) overwrite commits."""

import pytest
from pyspark.sql import functions as F

from kafka2iceberg_spark.sink import IcebergLite
from kafka2iceberg_spark.table_stream import table_stream


def _day(spark, day, ids, text="x"):
    return spark.createDataFrame(
        [(f"c{i}", i, text, f"2024-09-{day:02d} 10:00:00") for i in ids],
        "conv_id string, turn_idx int, text string, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))


def test_dynamic_overwrite_replaces_only_touched_partitions(spark, tmp_path):
    t = IcebergLite(str(tmp_path / "t"), pk=["conv_id", "turn_idx"])
    t.commit_append(_day(spark, 1, range(5), "old"), "b1")
    t.commit_append(_day(spark, 2, range(5), "keep"), "b2")
    # backfill day 1 with corrected data (different row count)
    assert t.commit_overwrite(_day(spark, 1, range(3), "new"), "bf1") is True
    got = {
        (r.conv_id, r.text)
        for r in t.read(spark).select("conv_id", "text").collect()
    }
    assert got == {(f"c{i}", "new") for i in range(3)} | {
        (f"c{i}", "keep") for i in range(5)
    }
    # replay guard + time travel to the pre-overwrite snapshot
    assert t.commit_overwrite(_day(spark, 1, range(3), "new"), "bf1") is False
    assert t.read(spark, version=2).count() == 10
    assert t.read(spark).count() == 8


def test_static_overwrite_replaces_table(spark, tmp_path):
    t = IcebergLite(str(tmp_path / "t"), pk=["conv_id", "turn_idx"])
    t.commit_append(_day(spark, 1, range(5)), "b1")
    dele = _day(spark, 1, [0]).withColumn("is_cdc_delete", F.lit(True))
    t.commit_upsert(dele, "b2", strategy="mor")
    t.commit_overwrite(_day(spark, 3, range(2), "fresh"), "ow", dynamic=False)
    rows = t.read(spark).collect()
    assert {r.text for r in rows} == {"fresh"} and len(rows) == 2
    # static overwrite cleared outstanding deletes with the data
    assert not t.current_snapshot().get("delete_manifests")
    assert t.read(spark).count() == 2


def test_streaming_source_refuses_overwrite(spark, tmp_path):
    t = IcebergLite(str(tmp_path / "t"), pk=["conv_id", "turn_idx"])
    t.commit_append(_day(spark, 1, range(4)), "b1")
    t.commit_overwrite(_day(spark, 1, range(2)), "ow")
    q = (
        table_stream(spark, str(tmp_path / "t"), 0)
        .writeStream.format("memory")
        .queryName("ow_refuse")
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="overwrite"):
        q.awaitTermination()
