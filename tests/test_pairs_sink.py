"""J1 streaming branch E2E: envelope stream → stateful pair join →
exactly-once append sink → read-back parity with the batch twin."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from kafka2iceberg_spark.gen import GenConfig, write_stream_files
from kafka2iceberg_spark.pipeline import (
    file_broker_stream,
    parsed_stream,
    start_pairs_sink,
)
from kafka2iceberg_spark.schema import transcript_task
from kafka2iceberg_spark.sink import IcebergLite
from kafka2iceberg_spark.state import paired_turns_batch

# clean in-order stream: the batch twin is then an exact oracle
CFG = GenConfig(
    n_convs=10,
    turns_per_conv=8,
    mega_convs=0,
    mega_turns=0,
    ooo_fraction=0.0,
    late_fraction=0.0,
    dup_fraction=0.0,
    delete_fraction=0.0,
)


def _sentinel(path: str) -> None:
    env = {
        "data": [
            {
                "conv_id": "zzz",
                "turn_idx": "0",
                "role": "user",
                "text": "s",
                "tool": "null",
                "ts": "2030-01-01 00:00:00",
            }
        ],
        "database": "chat",
        "table": "transcripts",
        "type": "INSERT",
        "isDdl": False,
        "ts": 1893456000000,
        "es": 1893456000000,
        "old": None,
        "pkNames": ["conv_id", "turn_idx"],
        "sql": "",
        "_offset": 9999999,
        "_partition": 0,
    }
    with open(path, "w") as fh:
        fh.write(json.dumps(env, separators=(",", ":")) + "\n")


def test_pairs_sink_matches_batch_twin(spark, tmp_path):
    broker = str(tmp_path / "broker")
    paths = write_stream_files(CFG, broker, files=3)
    for i, p in enumerate(paths):
        os.utime(p, (1_000_000 + i, 1_000_000 + i))
    sp = f"{broker}/zz.jsonl"
    _sentinel(sp)
    os.utime(sp, (2_000_000, 2_000_000))

    spec = transcript_task()
    table = IcebergLite(str(tmp_path / "pairs"), pk=[], partition_field=None)
    raw = file_broker_stream(spark, broker, max_files_per_trigger=2)
    q = start_pairs_sink(
        parsed_stream(raw, spec),
        table,
        str(tmp_path / "ck"),
        trigger={"availableNow": True},
    )
    q.awaitTermination()

    got = {
        (r["conv_id"], r["user_turn_idx"], r["reply_turn_idx"], r["reply_text"])
        for r in table.read(spark).where("conv_id <> 'zzz'").collect()
    }

    batch_raw = spark.read.text(broker).select("value")
    batch = (
        parsed_stream(batch_raw, spec)
        .where(F.col("conv_id") != "zzz")
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    expect = {
        (r["conv_id"], r["user_turn_idx"], r["reply_turn_idx"], r["reply_text"])
        for r in paired_turns_batch(batch).collect()
    }
    assert got == expect
    # exactly one emission per user turn
    keys = [(c, u) for c, u, _, _ in got]
    assert len(keys) == len(set(keys))


def test_pairs_sink_replay_noop(spark, tmp_path):
    broker = str(tmp_path / "broker")
    paths = write_stream_files(CFG, broker, files=2)
    for i, p in enumerate(paths):
        os.utime(p, (1_000_000 + i, 1_000_000 + i))
    sp = f"{broker}/zz.jsonl"
    _sentinel(sp)
    os.utime(sp, (2_000_000, 2_000_000))
    spec = transcript_task()
    table = IcebergLite(str(tmp_path / "pairs"), pk=[], partition_field=None)

    def run():
        raw = file_broker_stream(spark, broker, max_files_per_trigger=2)
        q = start_pairs_sink(
            parsed_stream(raw, spec),
            table,
            str(tmp_path / "ck"),
            trigger={"availableNow": True},
        )
        q.awaitTermination()

    run()
    n1, v1 = table.read(spark).count(), table.current_version()
    run()
    assert table.read(spark).count() == n1
    assert table.current_version() == v1
    parsed = parsed_stream(file_broker_stream(spark, broker, 2), spec)
    with pytest.raises(ValueError, match="impl must be 'state'"):
        start_pairs_sink(parsed, table, str(tmp_path / "ck"), impl="join")


def test_pairs_sink_dedups_replayed_turns(spark, tmp_path):
    """A broker stream with replayed (duplicate) turns must still emit
    exactly one pair per user turn, matching the batch twin over the
    deduped input."""
    cfg = GenConfig(
        n_convs=8,
        turns_per_conv=6,
        mega_convs=0,
        mega_turns=0,
        ooo_fraction=0.0,
        late_fraction=0.0,
        dup_fraction=0.3,  # replays!
        delete_fraction=0.0,
    )
    broker = str(tmp_path / "broker")
    paths = write_stream_files(cfg, broker, files=3)
    for i, p in enumerate(paths):
        os.utime(p, (1_000_000 + i, 1_000_000 + i))
    sp = f"{broker}/zz.jsonl"
    _sentinel(sp)
    os.utime(sp, (2_000_000, 2_000_000))

    spec = transcript_task()
    table = IcebergLite(str(tmp_path / "pairsj"), pk=[], partition_field=None)
    raw = file_broker_stream(spark, broker, max_files_per_trigger=2)
    q = start_pairs_sink(
        parsed_stream(raw, spec),
        table,
        str(tmp_path / "ckj"),
        trigger={"availableNow": True},
    )
    q.awaitTermination()

    got = [
        (r["conv_id"], r["user_turn_idx"], r["reply_turn_idx"], r["reply_text"])
        for r in table.read(spark)
        .where("conv_id <> 'zzz' AND reply_text IS NOT NULL")
        .collect()
    ]
    # no duplicate emissions despite replayed turns
    keys = [(c, u) for c, u, _, _ in got]
    assert len(keys) == len(set(keys))

    batch_raw = spark.read.text(broker).select("value")
    batch = (
        parsed_stream(batch_raw, spec)
        .where(F.col("conv_id") != "zzz")
        .dropDuplicates(["conv_id", "turn_idx"])
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    expect = {
        (r["conv_id"], r["user_turn_idx"], r["reply_turn_idx"], r["reply_text"])
        for r in paired_turns_batch(batch).collect()
        if r["reply_text"] is not None
    }
    assert set(got) == expect
