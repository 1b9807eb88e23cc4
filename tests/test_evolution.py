"""Schema evolution (reference addSignTime analogue) + snapshot time travel."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from kafka2iceberg_spark.sink import IcebergLite

BASE = datetime.datetime(2024, 9, 1, 12, 0, 0)


def _batch(spark, lo, hi, with_sign_time=False):
    rows = []
    for i in range(lo, hi):
        r = [f"c{i % 2}", i, f"t{i}", BASE + datetime.timedelta(minutes=i),
             i * 2, 0, False]
        if with_sign_time:
            r.append(BASE + datetime.timedelta(hours=1, minutes=i))
        rows.append(tuple(r))
    schema = (
        "conv_id string, turn_idx int, text string, ts timestamp, "
        "offset long, partition_idx int, is_cdc_delete boolean"
    )
    if with_sign_time:
        schema += ", sign_time timestamp"
    return spark.createDataFrame(rows, schema)


def test_add_column_evolution(spark, tmp_path):
    """A later batch carrying a new nullable column merges cleanly; old rows
    read back with NULL in the new column (Iceberg add-column semantics)."""
    t = IcebergLite(str(tmp_path / "tbl"), pk=["conv_id", "turn_idx"])
    t.commit_upsert(_batch(spark, 0, 6), "0")
    t.commit_upsert(_batch(spark, 6, 10, with_sign_time=True), "1")

    df = t.read(spark)
    assert "sign_time" in df.columns
    old = df.where("turn_idx < 6")
    new = df.where("turn_idx >= 6")
    assert old.where(F.col("sign_time").isNotNull()).count() == 0
    assert new.where(F.col("sign_time").isNull()).count() == 0
    assert df.count() == 10


def test_time_travel_reads_old_version(spark, tmp_path):
    t = IcebergLite(str(tmp_path / "tbl"), pk=["conv_id", "turn_idx"])
    t.commit_upsert(_batch(spark, 0, 5), "0")
    v1 = t.current_version()
    t.commit_upsert(_batch(spark, 5, 9), "1")

    assert t.read(spark).count() == 9
    assert t.read(spark, version=v1).count() == 5
    old_rows = {r["turn_idx"] for r in t.read(spark, version=v1).collect()}
    assert old_rows == set(range(5))


def test_compact_preserves_evolved_schema(spark, tmp_path):
    """ADVICE: compaction over a partition holding pre- and post-evolution
    files must mergeSchema — otherwise the rewrite adopts one file's schema
    and silently drops the evolved column from compacted data."""
    t = IcebergLite(str(tmp_path / "tbl"), pk=[], partition_field="ts")
    t.commit_append(_batch(spark, 0, 4), "0")
    t.commit_append(_batch(spark, 4, 8, with_sign_time=True), "1")

    assert t.compact(spark, min_files_per_partition=2) >= 1
    df = t.read(spark)
    assert "sign_time" in df.columns
    assert df.count() == 8
    assert df.where(
        (F.col("turn_idx") >= 4) & F.col("sign_time").isNotNull()
    ).count() == 4
    assert df.where(
        (F.col("turn_idx") < 4) & F.col("sign_time").isNull()
    ).count() == 4


def _mid_stream_envelope(conv, idx, ts_str, sign_time=None, op="INSERT",
                         offset=0):
    """Canal envelope; data[] grows a sign_time key only when given
    (reference addSignTime: pre-ALTER rows carry no such key at all)."""
    d = {
        "conv_id": conv,
        "turn_idx": str(idx),
        "role": "user",
        "text": f"t{idx}",
        "tool": "null",
        "ts": ts_str,
    }
    if sign_time is not None:
        d["sign_time"] = sign_time
    return {
        "data": [d],
        "database": "chat",
        "table": "transcripts",
        "type": op,
        "isDdl": False,
        "ts": 1725184800000,
        "es": 1725184799500,
        "old": None,
        "pkNames": ["conv_id", "turn_idx"],
        "sql": "",
        "_offset": offset,
        "_partition": 0,
    }


def test_mid_stream_new_envelope_field_flows_without_restart(spark, tmp_path):
    """Reference addSignTime analogue (ConnectionUtils.java:54-61,
    CDCMockApp.java:26-28 add_col): envelopes GROW a sign_time key
    mid-stream. One streaming run, one checkpoint, no restart:
    pre-evolution rows land NULL sign_time, post-evolution rows land typed
    values, and a post-evolution UPDATE backfills a pre-evolution row."""
    import json
    import os

    from kafka2iceberg_spark.config import FieldSpec, TaskSpec
    from kafka2iceberg_spark.pipeline import (
        file_broker_stream,
        parsed_stream,
        start_upsert_sink,
    )

    spec = TaskSpec(
        source_database="chat",
        source_table="transcripts",
        fields=[
            FieldSpec("conv_id", 1, "string", is_nullable=False,
                      is_primary_key=True),
            FieldSpec("turn_idx", 2, "int", is_nullable=False,
                      is_primary_key=True),
            FieldSpec("text", 3, "string"),
            FieldSpec("ts", 4, "timestamp"),
            # configured ahead (fields.* config push), source grows the
            # key mid-stream — exactly the reference's ALTER window
            FieldSpec("sign_time", 5, "timestamp"),
        ],
    )
    broker = str(tmp_path / "broker")
    os.makedirs(broker)
    # file 1: pre-ALTER traffic (no sign_time key anywhere)
    with open(f"{broker}/b0.jsonl", "w") as fh:
        for i in range(4):
            fh.write(json.dumps(_mid_stream_envelope(
                "c1", i, f"2024-09-01 10:0{i}:00", offset=i)) + "\n")
    # file 2: post-ALTER traffic — new rows carry sign_time; one UPDATE
    # re-delivers a pre-ALTER row now WITH sign_time (backfill via upsert)
    with open(f"{broker}/b1.jsonl", "w") as fh:
        for i in range(4, 7):
            fh.write(json.dumps(_mid_stream_envelope(
                "c1", i, f"2024-09-01 10:0{i}:00",
                sign_time="2024-09-01 11:00:00", offset=i)) + "\n")
        fh.write(json.dumps(_mid_stream_envelope(
            "c1", 0, "2024-09-01 10:00:00",
            sign_time="2024-09-01 11:30:00", op="UPDATE", offset=7)) + "\n")
    os.utime(f"{broker}/b0.jsonl", (1_000_000, 1_000_000))
    os.utime(f"{broker}/b1.jsonl", (1_000_100, 1_000_100))

    table = IcebergLite(str(tmp_path / "tbl"), pk=spec.primary_keys)
    # maxFilesPerTrigger=1 → the two phases are DISTINCT micro-batches of
    # one continuous query: the schema window happens inside a single run
    raw = file_broker_stream(spark, broker, max_files_per_trigger=1)
    q = start_upsert_sink(
        parsed_stream(raw, spec), table, str(tmp_path / "ck"),
        trigger={"availableNow": True},
    )
    q.awaitTermination()

    df = table.read(spark)
    assert df.count() == 7
    rows = {r.turn_idx: r for r in df.collect()}
    # pre-evolution rows (not re-delivered): NULL-backfilled
    assert all(rows[i].sign_time is None for i in (1, 2, 3))
    # post-evolution rows: typed timestamp landed
    assert all(rows[i].sign_time is not None for i in (4, 5, 6))
    # the UPDATE re-delivery backfilled turn 0 through the upsert path
    assert rows[0].sign_time is not None
    assert table.current_version() >= 2  # really multiple micro-batches


# -- type-widening evolution (Iceberg type promotion; SPARK-40876 reads) ----


def _wbatch(spark, lo, hi, amount_type="int", score_type="float"):
    rows = [
        (f"c{i % 2}", i, BASE + datetime.timedelta(minutes=i), i * 10, i / 4)
        for i in range(lo, hi)
    ]
    return spark.createDataFrame(
        rows,
        f"conv_id string, turn_idx int, ts timestamp, "
        f"amount {amount_type}, score {score_type}",
    )


def test_widen_lattice_unit():
    from pyspark.sql import types as T

    from kafka2iceberg_spark.sink import SchemaEvolutionError, widen_schema

    old = T.StructType(
        [
            T.StructField("a", T.IntegerType()),
            T.StructField("b", T.FloatType()),
            T.StructField("c", T.ShortType()),
        ]
    )
    new = T.StructType(
        [
            T.StructField("a", T.LongType()),
            T.StructField("b", T.DoubleType()),
            T.StructField("c", T.DoubleType()),  # small-int -> double ok
            T.StructField("d", T.StringType()),  # add-column
        ]
    )
    w = widen_schema(old, new)
    assert [f.dataType.simpleString() for f in w.fields] == [
        "bigint", "double", "double", "string",
    ]
    # narrowing direction resolves to the WIDER side, not the new side
    assert widen_schema(new, old)["a"].dataType == T.LongType()
    # incompatible: string -> int
    bad = T.StructType([T.StructField("d", T.IntegerType())])
    try:
        widen_schema(new, bad)
        assert False, "expected SchemaEvolutionError"
    except SchemaEvolutionError:
        pass
    # long + double has no lossless supremum
    try:
        widen_schema(
            T.StructType([T.StructField("x", T.LongType())]),
            T.StructType([T.StructField("x", T.DoubleType())]),
        )
        assert False, "expected SchemaEvolutionError"
    except SchemaEvolutionError:
        pass


def test_widen_int_to_long_append_midstream(spark, tmp_path):
    """A mid-stream int->long widening on an APPEND table: old narrow files
    are promoted by the explicit read schema, no restart, no rewrite."""
    t = IcebergLite(str(tmp_path / "tbl"), pk=[], partition_field="ts")
    t.commit_append(_wbatch(spark, 0, 4), "0")
    t.commit_append(
        _wbatch(spark, 4, 8, amount_type="long", score_type="double"), "1"
    )

    df = t.read(spark)
    dt = dict(df.dtypes)
    assert dt["amount"] == "bigint" and dt["score"] == "double"
    got = {r.turn_idx: (r.amount, r.score) for r in df.collect()}
    assert got == {i: (i * 10, i / 4) for i in range(8)}
    # compaction rewrites mixed narrow/wide files under the committed schema
    assert t.compact(spark, min_files_per_partition=2) >= 1
    df2 = t.read(spark)
    assert dict(df2.dtypes)["amount"] == "bigint"
    assert {r.turn_idx: r.amount for r in df2.collect()} == {
        i: i * 10 for i in range(8)
    }


def test_widen_upsert_merges_across_types(spark, tmp_path):
    """CoW upsert across a widening: survivors (narrow files) and the wide
    batch conform to the supremum before the merge union."""
    t = IcebergLite(str(tmp_path / "tbl"), pk=["conv_id", "turn_idx"])
    t.commit_upsert(_wbatch(spark, 0, 6), "0")
    wide = _wbatch(spark, 3, 9, amount_type="long", score_type="double")
    wide = wide.withColumn("amount", F.col("amount") + 1)
    t.commit_upsert(wide, "1")

    df = t.read(spark)
    assert dict(df.dtypes)["amount"] == "bigint"
    got = {r.turn_idx: r.amount for r in df.collect()}
    assert got == {**{i: i * 10 for i in range(3)},
                   **{i: i * 10 + 1 for i in range(3, 9)}}
    # time travel to the pre-widening version still reads the NARROW schema
    pre = t.read(spark, version=1)
    assert dict(pre.dtypes)["amount"] == "int"


def test_incompatible_change_rejected_at_commit(spark, tmp_path):
    """string->int is not a widening: the commit raises SchemaEvolutionError
    and the table is untouched (no new snapshot version)."""
    from kafka2iceberg_spark.sink import SchemaEvolutionError

    t = IcebergLite(str(tmp_path / "tbl"), pk=[], partition_field="ts")
    t.commit_append(_wbatch(spark, 0, 4), "0")
    v = t.current_version()
    bad = _wbatch(spark, 4, 8).withColumn(
        "amount", F.col("amount").cast("string")
    )
    try:
        t.commit_append(bad, "1")
        assert False, "expected SchemaEvolutionError"
    except SchemaEvolutionError:
        pass
    assert t.current_version() == v
    assert t.read(spark).count() == 4


def test_spec_widening_restart_streaming(spark, tmp_path):
    """Upstream ``ALTER TABLE ... MODIFY turn_idx BIGINT`` analogue: the job
    restarts with a widened task spec and the SAME checkpoint/table. The
    sink reconciles int->long at the first wide commit; the narrow files
    written before the restart are promoted at read — no backfill, no
    restartable error."""
    import dataclasses
    import json
    import os

    from kafka2iceberg_spark.pipeline import (
        file_broker_stream,
        parsed_stream,
        start_upsert_sink,
    )
    from kafka2iceberg_spark.schema import transcript_task

    broker = str(tmp_path / "broker")
    os.makedirs(broker)
    with open(f"{broker}/b0.jsonl", "w") as fh:
        for i in range(3):
            fh.write(json.dumps(_mid_stream_envelope(
                "c1", i, f"2024-09-01 10:0{i}:00", offset=i)) + "\n")
    os.utime(f"{broker}/b0.jsonl", (1_000_000, 1_000_000))

    spec_narrow = transcript_task()
    table = IcebergLite(str(tmp_path / "tbl"), pk=spec_narrow.primary_keys)
    q = start_upsert_sink(
        parsed_stream(file_broker_stream(spark, broker), spec_narrow),
        table, str(tmp_path / "ck"), trigger={"availableNow": True},
    )
    q.awaitTermination()
    assert dict(table.read(spark).dtypes)["turn_idx"] == "int"

    # upstream ALTER: restart with turn_idx widened to bigint, plus late
    # traffic carrying values only a long can hold
    with open(f"{broker}/b1.jsonl", "w") as fh:
        fh.write(json.dumps(_mid_stream_envelope(
            "c1", 2**40, "2024-09-01 10:09:00", offset=9)) + "\n")
    os.utime(f"{broker}/b1.jsonl", (1_000_100, 1_000_100))
    spec_wide = dataclasses.replace(
        spec_narrow,
        fields=[
            dataclasses.replace(f, type="bigint")
            if f.name == "turn_idx" else f
            for f in spec_narrow.fields
        ],
    )
    q = start_upsert_sink(
        parsed_stream(file_broker_stream(spark, broker), spec_wide),
        table, str(tmp_path / "ck"), trigger={"availableNow": True},
    )
    q.awaitTermination()

    df = table.read(spark)
    assert dict(df.dtypes)["turn_idx"] == "bigint"
    assert {r.turn_idx for r in df.collect()} == {0, 1, 2, 2**40}
