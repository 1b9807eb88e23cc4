"""Streaming FROM an IcebergLite table (Python data source): incremental
snapshot consumption, checkpoint resume, evolution, pipeline chaining."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from kafka2iceberg_spark import gen, pipeline
from kafka2iceberg_spark.schema import transcript_task
from kafka2iceberg_spark.sink import IcebergLite
from kafka2iceberg_spark.table_stream import table_stream

BASE = datetime.datetime(2024, 9, 1, 12, 0, 0)


def _batch(spark, lo, hi, amount_type="int"):
    rows = [
        (f"c{i % 3}", i, BASE + datetime.timedelta(minutes=i), i * 10)
        for i in range(lo, hi)
    ]
    return spark.createDataFrame(
        rows,
        f"conv_id string, turn_idx int, ts timestamp, amount {amount_type}",
    )


def _drain(spark, df, path, name):
    q = (
        df.writeStream.format("parquet")
        .option("path", f"{path}/out-{name}")
        .option("checkpointLocation", f"{path}/ck-{name}")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    try:
        return spark.read.parquet(f"{path}/out-{name}")
    except Exception:
        return None


def test_table_stream_replays_and_resumes(spark, tmp_path):
    t = IcebergLite(str(tmp_path / "t"), pk=[], partition_field="ts")
    t.commit_append(_batch(spark, 0, 5), "0")
    t.commit_append(_batch(spark, 5, 9), "1")

    # full replay from table creation
    out = _drain(spark, table_stream(spark, str(tmp_path / "t"), 0),
                 str(tmp_path), "a")
    assert {r.turn_idx for r in out.collect()} == set(range(9))

    # same checkpoint continues: only the NEW commit's rows arrive
    t.commit_append(_batch(spark, 9, 12), "2")
    q = (
        table_stream(spark, str(tmp_path / "t"), 0)
        .writeStream.format("parquet")
        .option("path", f"{tmp_path}/out-a")
        .option("checkpointLocation", f"{tmp_path}/ck-a")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.read.parquet(f"{tmp_path}/out-a")
    assert got.count() == 12  # 9 old + 3 new, no duplicates
    assert {r.turn_idx for r in got.collect()} == set(range(12))


def test_table_stream_default_is_latest(spark, tmp_path):
    """No startingVersion → offsets start at the version current when the
    QUERY first runs (Kafka's 'latest'): pre-existing rows never replay,
    later commits flow on the same checkpoint."""
    t = IcebergLite(str(tmp_path / "t"), pk=[], partition_field="ts")
    t.commit_append(_batch(spark, 0, 6), "0")
    out = _drain(spark, table_stream(spark, str(tmp_path / "t")),
                 str(tmp_path), "b")
    assert out is None or out.count() == 0  # nothing new at first run
    t.commit_append(_batch(spark, 6, 8), "1")
    out = _drain(spark, table_stream(spark, str(tmp_path / "t")),
                 str(tmp_path), "b")
    assert {r.turn_idx for r in out.collect()} == {6, 7}


def test_table_stream_sees_widened_schema(spark, tmp_path):
    t = IcebergLite(str(tmp_path / "t"), pk=[], partition_field="ts")
    t.commit_append(_batch(spark, 0, 3), "0")
    t.commit_append(_batch(spark, 3, 6, amount_type="long"), "1")
    out = _drain(spark, table_stream(spark, str(tmp_path / "t"), 0),
                 str(tmp_path), "c")
    # narrow files promoted executor-side; schema is the committed supremum
    assert dict(out.dtypes)["amount"] == "bigint"
    assert {r.amount for r in out.collect()} == {i * 10 for i in range(6)}


def test_chained_pipelines_broker_to_table_to_replica(spark, tmp_path):
    """The point of the source: ingest commits transcripts to a MOR table;
    a DOWNSTREAM streaming job consumes the table incrementally (its own
    checkpoint, no broker in between) and upserts by the same PK — the
    replica converges to the source table exactly."""
    work = str(tmp_path)
    gen.write_stream_files(
        gen.GenConfig(n_convs=10, turns_per_conv=6, seed=5,
                      delete_fraction=0.0),
        f"{work}/broker", files=3,
    )
    spec = transcript_task()
    t = IcebergLite(f"{work}/t", pk=spec.primary_keys)
    pipeline.run_ingest_once(spark, f"{work}/broker", spec, t, f"{work}/ck",
                             strategy="mor")

    replica = IcebergLite(f"{work}/replica", pk=spec.primary_keys)

    def mirror(batch_df, batch_id):
        replica.commit_upsert(batch_df, str(batch_id))

    q = (
        table_stream(spark, f"{work}/t", 0)
        .writeStream.foreachBatch(mirror)
        .option("checkpointLocation", f"{work}/ck2")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    src = sorted(map(tuple, t.read(spark).select(cols).collect()))
    dst = sorted(map(tuple, replica.read(spark).select(cols).collect()))
    assert src == dst and len(src) > 0


def test_table_stream_refuses_cow_upsert_commits(spark, tmp_path):
    work = str(tmp_path)
    gen.write_stream_files(
        gen.GenConfig(n_convs=4, turns_per_conv=4, seed=2),
        f"{work}/broker", files=1,
    )
    spec = transcript_task()
    t = IcebergLite(f"{work}/t", pk=spec.primary_keys)
    pipeline.run_ingest_once(spark, f"{work}/broker", spec, t, f"{work}/ck")
    q = (
        table_stream(spark, f"{work}/t", 0)
        .writeStream.format("noop")
        .option("checkpointLocation", f"{work}/ck2")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
        raised = False
    except Exception as e:
        raised = "upsert-cow commit" in str(e)
    assert raised


def test_changelog_events_shape(spark, tmp_path):
    t = IcebergLite(str(tmp_path / "t"), pk=["conv_id", "turn_idx"])
    df1 = spark.createDataFrame(
        [("a", 0, "v1", 0, False), ("b", 0, "w", 1, False)],
        "conv_id string, turn_idx int, text string, offset long, "
        "is_cdc_delete boolean",
    )
    df2 = spark.createDataFrame(
        [("a", 0, "v2", 2, False), ("b", 0, "", 3, True)],
        "conv_id string, turn_idx int, text string, offset long, "
        "is_cdc_delete boolean",
    )
    t2 = IcebergLite(str(tmp_path / "t"), pk=["conv_id", "turn_idx"],
                     partition_field=None)
    t2.commit_upsert(df1, "0", strategy="mor")
    t2.commit_upsert(df2, "1", strategy="mor")
    out = _drain(
        spark,
        table_stream(spark, str(tmp_path / "t"), 0, changelog=True),
        str(tmp_path), "cl",
    )
    ev = {
        (r.conv_id, r.turn_idx, r._change_type, r._commit_version)
        for r in out.collect()
    }
    assert ("a", 0, "insert", 1) in ev   # first insert
    assert ("a", 0, "delete", 2) in ev   # upsert = delete+insert pair
    assert ("a", 0, "insert", 2) in ev
    assert ("b", 0, "delete", 2) in ev   # pure CDC delete: delete only
    assert ("b", 0, "insert", 2) not in ev
    # delete events carry NULL non-key columns
    d = [r for r in out.collect()
         if r._change_type == "delete" and r.conv_id == "b"][0]
    assert d.text is None and d.offset is None
