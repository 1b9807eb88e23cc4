"""Incremental snapshot reads + observed streaming metrics."""

from __future__ import annotations

import datetime
import time

from kafka2iceberg_spark.sink import IcebergLite
from kafka2iceberg_spark.table_stream import table_stream

BASE = datetime.datetime(2024, 9, 1, 12, 0, 0)


def _batch(spark, lo, hi):
    rows = [
        (f"c{i % 2}", i, f"t{i}", BASE + datetime.timedelta(minutes=i),
         i, 0, False)
        for i in range(lo, hi)
    ]
    return spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, text string, ts timestamp, "
        "offset long, partition_idx int, is_cdc_delete boolean",
    )


def _drain_turns(spark, table, starting_version, path):
    """turn_idx of every row the table stream delivers after
    ``starting_version``, drained with availableNow."""
    q = (
        table_stream(spark, table.location, starting_version)
        .writeStream.format("parquet")
        .option("path", f"{path}/out")
        .option("checkpointLocation", f"{path}/ck")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return sorted(
        r["turn_idx"] for r in spark.read.parquet(f"{path}/out").collect()
    )


def test_incremental_append_scan(spark, tmp_path):
    t = IcebergLite(str(tmp_path / "tbl"), pk=[], partition_field="ts")
    t.commit_append(_batch(spark, 0, 5), "0")
    v1 = t.current_version()
    t.commit_append(_batch(spark, 5, 12), "1")
    v2 = t.current_version()

    got = _drain_turns(spark, t, v1, tmp_path / "s")
    assert got == list(range(5, 12))
    assert t.added_files_between(v2, v2) == []


def test_observed_ingest_metrics(spark, tmp_path):
    from kafka2iceberg_spark.gen import GenConfig, write_stream_files
    from kafka2iceberg_spark.metrics import ThroughputListener
    from kafka2iceberg_spark.pipeline import (
        file_broker_stream,
        parsed_stream,
        start_append_sink,
    )
    from kafka2iceberg_spark.schema import transcript_task

    listener = ThroughputListener()
    spark.streams.addListener(listener)
    try:
        write_stream_files(
            GenConfig(n_convs=5, turns_per_conv=6, mega_convs=0, mega_turns=0,
                      ooo_fraction=0, late_fraction=0, dup_fraction=0,
                      delete_fraction=0),
            str(tmp_path / "broker"),
            files=2,
        )
        spec = transcript_task()
        table = IcebergLite(str(tmp_path / "tbl"), pk=[], partition_field="ts")
        raw = file_broker_stream(spark, str(tmp_path / "broker"), 10)
        q = start_append_sink(
            parsed_stream(raw, spec, observe=True),
            table,
            str(tmp_path / "ck"),
            trigger={"availableNow": True},
        )
        q.awaitTermination()
        deadline = time.monotonic() + 30
        while time.monotonic() < deadline:
            obs = [
                r["observed"].get("ingest")
                for r in listener.records
                if r["event"] == "progress" and r.get("observed")
            ]
            if obs:
                break
            time.sleep(0.5)
        assert obs, "no observed metrics captured"
        assert sum(o["rows"] for o in obs if o) == 30
    finally:
        spark.streams.removeListener(listener)


def test_incremental_scan_skips_compaction_rewrites(spark, tmp_path):
    """A consumer whose version range spans a compaction must not re-read
    compacted partitions as new appends (ADVICE: the endpoint-diff treated
    compaction rewrites as appended data)."""
    t = IcebergLite(str(tmp_path / "tbl"), pk=[], partition_field="ts")
    t.commit_append(_batch(spark, 0, 5), "0")
    v1 = t.current_version()
    t.commit_append(_batch(spark, 5, 9), "1")
    assert t.compact(spark, min_files_per_partition=2) >= 1
    t.commit_append(_batch(spark, 9, 12), "2")
    v_end = t.current_version()

    assert t.head_version("main") == v_end
    got = _drain_turns(spark, t, v1, tmp_path / "s")
    # only batches 1 and 2 — rows 0..4 were already consumed and must not
    # reappear via the compaction's rewritten files
    assert got == list(range(5, 12))

    # a range that contains ONLY the compaction adds nothing
    assert t.added_files_between(v1 + 1, v1 + 2) == []


def test_manifest_reuse_and_metadata_growth(spark, tmp_path):
    """Snapshots reference per-partition manifest files by content hash:
    a commit that touches one date partition must reuse the other
    partitions' manifest names, keeping per-snapshot metadata O(partitions)."""
    import datetime as dt

    t = IcebergLite(str(tmp_path / "tbl"), pk=[], partition_field="ts")

    def day_batch(day, lo, hi, bid):
        rows = [
            (f"c{i}", i, f"t{i}",
             dt.datetime(2024, 9, day, 12, 0, 0), i, 0, False)
            for i in range(lo, hi)
        ]
        df = spark.createDataFrame(
            rows,
            "conv_id string, turn_idx int, text string, ts timestamp, "
            "offset long, partition_idx int, is_cdc_delete boolean",
        )
        t.commit_append(df, bid)

    day_batch(1, 0, 3, "a")
    day_batch(2, 3, 6, "b")
    snap_before = t.current_snapshot()
    day_batch(2, 6, 9, "c")  # touches only day 2
    snap_after = t.current_snapshot()
    assert (
        snap_after["manifests"]["2024-09-01"]
        == snap_before["manifests"]["2024-09-01"]
    ), "untouched partition must keep the same manifest reference"
    assert (
        snap_after["manifests"]["2024-09-02"]
        != snap_before["manifests"]["2024-09-02"]
    )
    # manifest refs are names (small), not inline file lists
    assert all(isinstance(v, str) for v in snap_after["manifests"].values())


def test_committed_batches_incremental_cache(spark, tmp_path):
    t = IcebergLite(str(tmp_path / "tbl"), pk=[], partition_field="ts")
    for b, (lo, hi) in enumerate([(0, 3), (3, 6), (6, 9)]):
        t.commit_append(_batch(spark, lo, hi), str(b))
    assert t.committed_batches() == {"0", "1", "2"}
    # a fresh instance (cold cache) sees the same chain
    t2 = IcebergLite(str(tmp_path / "tbl"), pk=[], partition_field="ts")
    assert t2.committed_batches() == {"0", "1", "2"}
    # cache survives another instance's commit (re-seeds the delta)
    t2.commit_append(_batch(spark, 9, 12), "3")
    assert t.committed_batches() == {"0", "1", "2", "3"}
