"""spark-submit job entry point (kafka2iceberg_spark.__main__).

Exercises the k=v CLI path in-process (getOrCreate reuses the test session);
the real spark-submit --py-files invocation is covered by BENCH/BASELINE.md's
recipe and was validated manually — semantics here are identical.
"""

from __future__ import annotations

from kafka2iceberg_spark.__main__ import main
from kafka2iceberg_spark.gen import GenConfig, write_stream_files
from kafka2iceberg_spark.sink import IcebergLite


def test_cli_end_to_end(spark, tmp_path):
    write_stream_files(
        GenConfig(n_convs=6, turns_per_conv=6), str(tmp_path / "broker"), files=2
    )
    main(
        [
            "source-database=chat",
            "source-table=transcripts",
            f"broker.dir={tmp_path}/broker",
            f"table.location={tmp_path}/tbl",
            f"checkpoint.location={tmp_path}/ckpt",
            "mode=availableNow",
        ]
    )
    t = IcebergLite(str(tmp_path / "tbl"), pk=["conv_id", "turn_idx"])
    assert t.read(spark).count() > 0
    assert t.current_version() >= 1
    assert t.lineage()


def test_cli_custom_field_spec(spark, tmp_path):
    """fields.* params override the default transcript task spec."""
    write_stream_files(
        GenConfig(n_convs=4, turns_per_conv=4), str(tmp_path / "broker"), files=1
    )
    main(
        [
            "source-database=chat",
            "source-table=transcripts",
            "fields.conv_id.seq=1",
            "fields.conv_id.type=string",
            "fields.conv_id.is_primary_key=true",
            "fields.turn_idx.seq=2",
            "fields.turn_idx.type=int",
            "fields.turn_idx.is_primary_key=true",
            "fields.text.seq=3",
            "fields.text.type=string",
            f"broker.dir={tmp_path}/broker",
            f"table.location={tmp_path}/tbl",
            f"checkpoint.location={tmp_path}/ckpt",
        ]
    )
    t = IcebergLite(str(tmp_path / "tbl"), pk=["conv_id", "turn_idx"])
    df = t.read(spark)
    assert set(df.columns) >= {"conv_id", "turn_idx", "text"}
    assert "role" not in df.columns  # custom spec projected only 3 fields
    assert df.count() > 0


def test_cli_dlq_drained_before_exit(spark, tmp_path):
    """ADVICE: main() must await the DLQ side query too — in availableNow
    mode the main sink finishing first must not abandon the DLQ stream
    before it lands every malformed envelope."""
    import os

    broker = str(tmp_path / "broker")
    write_stream_files(
        GenConfig(n_convs=4, turns_per_conv=4), broker, files=2
    )
    with open(os.path.join(broker, "zz_bad.jsonl"), "w") as fh:
        fh.write("{definitely not json\n")
    os.utime(os.path.join(broker, "zz_bad.jsonl"), (2_000_000, 2_000_000))
    main(
        [
            "source-database=chat",
            "source-table=transcripts",
            f"broker.dir={broker}",
            f"table.location={tmp_path}/tbl",
            f"checkpoint.location={tmp_path}/ckpt",
            f"dlq.location={tmp_path}/dlq",
            "mode=availableNow",
        ]
    )
    # immediately after main() returns, BOTH tables are fully landed
    dlq = IcebergLite(str(tmp_path / "dlq"), pk=[])
    assert dlq.read(spark).count() == 1
    assert (
        IcebergLite(str(tmp_path / "tbl"), pk=["conv_id", "turn_idx"])
        .read(spark)
        .count()
        > 0
    )


def test_cli_ddl_apply_evolves_mid_stream(spark, tmp_path):
    """ddl.apply=true: an ALTER ADD COLUMN envelope in the broker evolves
    the spec inside the run; post-ALTER rows land the typed column."""
    import json
    import os

    broker = str(tmp_path / "broker")
    os.makedirs(broker)

    def env(idx, sign_time=None, offset=0):
        data = {"conv_id": "c1", "turn_idx": str(idx),
                "text": f"t{idx}", "ts": f"2024-09-01 10:0{idx}:00"}
        if sign_time:
            data["sign_time"] = sign_time
        return {"data": [data], "database": "chat", "table": "transcripts",
                "type": "INSERT", "isDdl": False, "ts": 1725184800000,
                "es": 1725184799500, "old": None,
                "pkNames": ["conv_id", "turn_idx"], "sql": "",
                "_offset": offset, "_partition": 0}

    ddl = {"data": None, "database": "chat", "table": "transcripts",
           "type": "ALTER", "isDdl": True, "ts": 1725184800000,
           "es": 1725184799500, "old": None, "pkNames": [],
           "sql": "alter table chat.transcripts add sign_time datetime",
           "_offset": 2, "_partition": 0}
    with open(f"{broker}/b0.jsonl", "w") as fh:
        for e in (env(0, offset=0), env(1, offset=1)):
            fh.write(json.dumps(e) + "\n")
    with open(f"{broker}/b1.jsonl", "w") as fh:
        fh.write(json.dumps(ddl) + "\n")
        fh.write(json.dumps(
            env(2, sign_time="2024-09-01 11:00:00", offset=3)) + "\n")
    os.utime(f"{broker}/b0.jsonl", (1_000_000, 1_000_000))
    os.utime(f"{broker}/b1.jsonl", (1_000_100, 1_000_100))

    main(
        [
            "source-database=chat",
            "source-table=transcripts",
            f"broker.dir={broker}",
            "broker.max-files-per-trigger=1",
            f"table.location={tmp_path}/tbl",
            f"checkpoint.location={tmp_path}/ckpt",
            "ddl.apply=true",
            "mode=availableNow",
        ]
    )
    t = IcebergLite(str(tmp_path / "tbl"), pk=["conv_id", "turn_idx"])
    rows = {r.turn_idx: r for r in t.read(spark).collect()}
    assert len(rows) == 3
    assert rows[0].sign_time is None and rows[2].sign_time is not None


def test_cli_fanout_lands_both_tables(spark, tmp_path):
    """fanout.tables=a,b: one mixed broker feed lands each routed table
    atomically under a shared catalog at table.location."""
    import json
    import os

    from kafka2iceberg_spark import gen
    from kafka2iceberg_spark.transactions import CatalogLite

    broker = str(tmp_path / "broker")
    os.makedirs(broker)
    envs = gen.envelopes(
        gen.GenConfig(n_convs=4, turns_per_conv=4, mega_convs=0, seed=3,
                      table="transcripts")
    ) + gen.envelopes(
        gen.GenConfig(n_convs=3, turns_per_conv=3, mega_convs=0, seed=9,
                      table="audit")
    )
    with open(f"{broker}/b0.jsonl", "w") as fh:
        for e in envs:
            fh.write(json.dumps(e) + "\n")

    main(
        [
            "source-database=chat",
            f"broker.dir={broker}",
            f"table.location={tmp_path}/wh",
            f"checkpoint.location={tmp_path}/ckpt",
            "fanout.tables=transcripts,audit",
            "mode=availableNow",
        ]
    )
    cat = CatalogLite(str(tmp_path / "wh"))
    cat.register(
        "transcripts",
        IcebergLite(str(tmp_path / "wh/transcripts"),
                    pk=["conv_id", "turn_idx"]),
    )
    cat.register(
        "audit",
        IcebergLite(str(tmp_path / "wh/audit"), pk=["conv_id", "turn_idx"]),
    )
    assert cat.read(spark, "transcripts").count() > 10
    assert cat.read(spark, "audit").count() > 5


def test_cli_egress_roundtrip(spark, tmp_path):
    """mode chain: ingest a broker into a MOR table, egress it as a CDC
    feed with the egress.dir job, re-ingest the feed — equal tables."""
    write_stream_files(
        GenConfig(n_convs=5, turns_per_conv=4, mega_convs=0, seed=13),
        str(tmp_path / "brokerA"), files=2,
    )
    main(
        [
            "source-database=chat", "source-table=transcripts",
            f"broker.dir={tmp_path}/brokerA",
            f"table.location={tmp_path}/a",
            f"checkpoint.location={tmp_path}/cka",
            "upsert.strategy=mor",
            "mode=availableNow",
        ]
    )
    main(
        [
            "source-database=chat", "source-table=transcripts",
            f"table.location={tmp_path}/a",
            f"checkpoint.location={tmp_path}/cke",
            f"egress.dir={tmp_path}/brokerB",
            "mode=availableNow",
        ]
    )
    main(
        [
            "source-database=chat", "source-table=transcripts",
            f"broker.dir={tmp_path}/brokerB",
            f"table.location={tmp_path}/b",
            f"checkpoint.location={tmp_path}/ckb",
            "mode=availableNow",
        ]
    )
    a = IcebergLite(str(tmp_path / "a"), pk=["conv_id", "turn_idx"])
    b = IcebergLite(str(tmp_path / "b"), pk=["conv_id", "turn_idx"])
    biz = lambda t: {  # noqa: E731
        (r["conv_id"], r["turn_idx"]): r["text"]
        for r in t.read(spark).collect()
    }
    assert biz(a) == biz(b) and len(biz(a)) > 10


def _rename_convs(broker_dir, old="c0", new="d0"):
    """Give a copied topic its own conversation-id domain (c* -> d*)."""
    import os

    for fn in sorted(os.listdir(broker_dir)):
        p = os.path.join(broker_dir, fn)
        with open(p) as fh:
            body = fh.read()
        with open(p, "w") as fh:
            fh.write(body.replace(f'"{old}', f'"{new}').replace(f"[{old}", f"[{new}"))


def test_cli_fanin_two_topics_one_commit_path(spark, tmp_path):
    """fanin.dirs=N broker dirs -> ONE query/checkpoint/table: rows from
    every topic land, per-topic partition namespacing keeps the offset
    dedup key and lineage disjoint, and replay is a no-op."""
    cfg = GenConfig(n_convs=6, turns_per_conv=6, mega_convs=0)
    write_stream_files(cfg, str(tmp_path / "brokerA"), files=2)
    write_stream_files(cfg, str(tmp_path / "brokerB"), files=2)
    _rename_convs(str(tmp_path / "brokerB"))

    # single-topic reference run (same data shape) for the expected count
    main(
        [
            "source-database=chat", "source-table=transcripts",
            f"broker.dir={tmp_path}/brokerA",
            f"table.location={tmp_path}/ref",
            f"checkpoint.location={tmp_path}/ckref",
            "mode=availableNow",
        ]
    )
    single = IcebergLite(str(tmp_path / "ref"), pk=["conv_id", "turn_idx"])
    n_single = single.read(spark).count()
    assert n_single > 0

    args = [
        "source-database=chat", "source-table=transcripts",
        f"fanin.dirs={tmp_path}/brokerA,{tmp_path}/brokerB",
        f"table.location={tmp_path}/tbl",
        f"checkpoint.location={tmp_path}/ck",
        "mode=availableNow",
    ]
    main(args)
    t = IcebergLite(str(tmp_path / "tbl"), pk=["conv_id", "turn_idx"])
    df = t.read(spark)
    # topic B is topic A with conv ids renamed -> exactly 2x the rows,
    # both id domains present (no cross-topic offset-dedup casualties)
    assert df.count() == 2 * n_single
    prefixes = {r[0][0] for r in df.select("conv_id").distinct().collect()}
    assert prefixes == {"c", "d"}
    # lineage partitions are namespaced: topic A (rank 0) keeps 0..3,
    # topic B (rank 1) lands at 1024..1027
    parts = set()
    for rec in t.lineage():
        parts |= {int(p) for p in rec.get("offsets", {})}
    assert parts & {0, 1, 2, 3}
    assert parts & {1024, 1025, 1026, 1027}
    v = t.current_version()

    # replay with the same checkpoint: no new rows, no new version
    main(args)
    assert t.read(spark).count() == 2 * n_single
    assert t.current_version() == v


def test_namespace_topic_partitions_pure(spark):
    """Sorted-rank per-topic partition remap: collision-free and stable
    regardless of the subscribe-string order."""
    from kafka2iceberg_spark.pipeline import namespace_topic_partitions

    df = spark.createDataFrame(
        [("tb", 0, 7), ("ta", 0, 9), ("ta", 1, 9), ("tb", 1, 7)],
        "topic string, partition int, offset long",
    )
    out = namespace_topic_partitions(df, ["tb", "ta"]).collect()
    remapped = {(r.partition, r.offset) for r in out}
    assert remapped == {(1024, 7), (0, 9), (1, 9), (1025, 7)}
    assert "topic" not in namespace_topic_partitions(
        df, ["tb", "ta"]
    ).columns


def test_cli_fanin_with_ddl_and_dlq_side_tables(spark, tmp_path):
    """Job-shape composition: fan-in over two topics while the DDL and DLQ
    side queries tap the SAME namespaced union — DDL envelopes and corrupt
    lines from either topic land in their side tables, data rows upsert."""
    import json
    import os

    def env(conv, idx, offset):
        return {
            "data": [{"conv_id": conv, "turn_idx": str(idx),
                      "text": f"{conv}-t{idx}",
                      "ts": f"2024-09-01 10:0{idx}:00"}],
            "database": "chat", "table": "transcripts", "type": "INSERT",
            "isDdl": False, "ts": 1725184800000, "es": 1725184799500,
            "old": None, "pkNames": ["conv_id", "turn_idx"], "sql": "",
            "_offset": offset, "_partition": 0,
        }

    ddl = {"data": None, "database": "chat", "table": "transcripts",
           "type": "ALTER", "isDdl": True, "ts": 1725184800000,
           "es": 1725184799500, "old": None, "pkNames": [],
           "sql": "alter table chat.transcripts add sign_time datetime",
           "_offset": 2, "_partition": 0}

    ta, tb = str(tmp_path / "topicA"), str(tmp_path / "topicB")
    os.makedirs(ta)
    os.makedirs(tb)
    with open(f"{ta}/a0.jsonl", "w") as fh:
        for e in (env("c1", 0, 0), env("c1", 1, 1), ddl):
            fh.write(json.dumps(e) + "\n")
    with open(f"{tb}/b0.jsonl", "w") as fh:
        fh.write(json.dumps(env("d1", 0, 0)) + "\n")
        fh.write("{definitely not json\n")

    main(
        [
            "source-database=chat", "source-table=transcripts",
            f"fanin.dirs={ta},{tb}",
            f"table.location={tmp_path}/tbl",
            f"checkpoint.location={tmp_path}/ck",
            f"ddl.location={tmp_path}/ddl",
            f"dlq.location={tmp_path}/dlq",
            "mode=availableNow",
        ]
    )
    t = IcebergLite(str(tmp_path / "tbl"), pk=["conv_id", "turn_idx"])
    rows = {(r.conv_id, r.turn_idx) for r in t.read(spark).collect()}
    assert rows == {("c1", 0), ("c1", 1), ("d1", 0)}
    ddl_rows = IcebergLite(str(tmp_path / "ddl"), pk=[]).read(spark).collect()
    assert len(ddl_rows) == 1 and "add sign_time" in ddl_rows[0].ddl_sql
    dlq_rows = IcebergLite(str(tmp_path / "dlq"), pk=[]).read(spark).collect()
    assert len(dlq_rows) == 1 and "definitely not json" in dlq_rows[0].raw_value
    parts = set()
    for rec in t.lineage():
        parts |= {int(p) for p in rec.get("offsets", {})}
    assert 0 in parts and 1024 in parts


def test_cli_maintenance_job(spark, tmp_path):
    """maintenance.run=true: standalone compaction + snapshot-expiration
    job (rewrite_data_files / expire_snapshots procedures from
    spark-submit) — file counts drop, rows/versions stay sound, and the
    replay guard survives expiration."""
    write_stream_files(
        GenConfig(n_convs=6, turns_per_conv=6, mega_convs=0),
        str(tmp_path / "broker"),
        files=4,
    )
    main(
        [
            "source-database=chat", "source-table=transcripts",
            f"broker.dir={tmp_path}/broker",
            "broker.max-files-per-trigger=1",  # several batches -> small files
            f"table.location={tmp_path}/tbl",
            f"checkpoint.location={tmp_path}/ck",
            "mode=availableNow",
        ]
    )
    t = IcebergLite(str(tmp_path / "tbl"), pk=["conv_id", "turn_idx"])
    rows_before = {
        (r.conv_id, r.turn_idx) for r in t.read(spark).collect()
    }
    v_before = t.current_version()
    assert v_before >= 2  # multiple ingest commits

    main(
        [
            "source-database=chat", "source-table=transcripts",
            f"table.location={tmp_path}/tbl",
            "maintenance.run=true",
            "maintenance.min-files=2",
            "maintenance.expire-keep=1",
        ]
    )
    assert {
        (r.conv_id, r.turn_idx) for r in t.read(spark).collect()
    } == rows_before
    assert t.current_version() >= v_before  # compaction commits a snapshot
    # expiration kept the replay guard: every ingest batch id still replays
    # as a no-op even though its snapshot metadata is gone
    assert len(t.committed_batches()) >= v_before


def test_cli_backfill_then_tail(spark, tmp_path):
    """backfill.parquet: a bounded historical dump lands through the same
    replay-guarded commit path before the stream tails — union of both,
    stream upserts win on shared PKs, re-running never duplicates."""
    from pyspark.sql import functions as F

    from kafka2iceberg_spark import gen

    # historical dump: typed rows for convs the broker does NOT carry,
    # plus one PK the stream will overwrite. The shared PK carries its TRUE
    # event ts (the upsert contract: partition fields are a function of the
    # PK, as Iceberg's upsert mode requires) so the live row replaces it
    # in place.
    cfg = GenConfig(n_convs=3, turns_per_conv=4, mega_convs=0)
    shared_ts = next(
        r["ts"] for r in gen.turns(cfg)
        if r["conv_id"] == "c00000" and r["turn_idx"] == 0
    )
    hist = spark.createDataFrame(
        [
            ("h1", 0, "user", "old h1-0", None, "2024-01-01 00:00:00"),
            ("h1", 1, "assistant", "old h1-1", None, "2024-01-01 00:01:00"),
            ("c00000", 0, "user", "HISTORICAL IMAGE", None,
             shared_ts.strftime("%Y-%m-%d %H:%M:%S")),
        ],
        "conv_id string, turn_idx int, role string, text string,"
        " tool string, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    hist.write.parquet(str(tmp_path / "dump"))

    write_stream_files(cfg, str(tmp_path / "broker"), files=1)
    args = [
        "source-database=chat", "source-table=transcripts",
        f"broker.dir={tmp_path}/broker",
        f"backfill.parquet={tmp_path}/dump",
        f"table.location={tmp_path}/tbl",
        f"checkpoint.location={tmp_path}/ck",
        "mode=availableNow",
    ]
    main(args)
    t = IcebergLite(str(tmp_path / "tbl"), pk=["conv_id", "turn_idx"])
    rows = {(r.conv_id, r.turn_idx): r for r in t.read(spark).collect()}
    # backfill-only convs present, with BOTH their rows (distinct PKs
    # under synthetic lineage must not collapse in the dedup)
    assert ("h1", 0) in rows and ("h1", 1) in rows
    # the stream's live image wins over the historical one for shared PKs
    assert rows[("c00000", 0)].text != "HISTORICAL IMAGE"
    n = len(rows)
    v = t.current_version()

    # re-run: backfill replays as a no-op, stream replays as a no-op
    main(args)
    assert len(t.read(spark).collect()) == n
    assert t.current_version() == v

    deleted = {
        (e["data"][0]["conv_id"], int(e["data"][0]["turn_idx"]))
        for e in gen.envelopes(cfg) if e["type"] == "DELETE" and e["data"]
    }
    ground = {
        (r["conv_id"], r["turn_idx"]) for r in gen.turns(cfg)
    } - deleted
    assert set(rows) >= ground  # every surviving live PK landed too


def test_namespace_partitions_stride_overflow_raises(spark):
    """A topic with >= stride partitions must fail loudly — silent
    cross-namespace collision is the failure the mechanism prevents."""
    import pytest

    from kafka2iceberg_spark.pipeline import namespace_topic_partitions

    df = spark.createDataFrame(
        [("ta", 5, 1)], "topic string, partition int, offset long"
    )
    with pytest.raises(Exception, match="stride"):
        namespace_topic_partitions(df, ["ta", "tb"], stride=4).collect()


def test_cli_backfill_refuses_live_table_without_force(spark, tmp_path):
    """Backfilling a table that already holds live commits would overwrite
    newer rows with the historical image — must require backfill.force."""
    import pytest

    from pyspark.sql import functions as F

    write_stream_files(
        GenConfig(n_convs=3, turns_per_conv=3, mega_convs=0),
        str(tmp_path / "broker"), files=1,
    )
    base = [
        "source-database=chat", "source-table=transcripts",
        f"broker.dir={tmp_path}/broker",
        f"table.location={tmp_path}/tbl",
    ]
    main(base + [f"checkpoint.location={tmp_path}/ck1", "mode=availableNow"])

    hist = spark.createDataFrame(
        [("z1", 0, "user", "old", None, "2024-01-01 00:00:00")],
        "conv_id string, turn_idx int, role string, text string,"
        " tool string, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    hist.write.parquet(str(tmp_path / "dump"))

    late = base + [
        f"checkpoint.location={tmp_path}/ck2",
        f"backfill.parquet={tmp_path}/dump",
        "mode=availableNow",
    ]
    with pytest.raises(ValueError, match="backfill.force"):
        main(late)
    # explicit opt-in lands it
    main(late + ["backfill.force=true"])
    t = IcebergLite(str(tmp_path / "tbl"), pk=["conv_id", "turn_idx"])
    assert ("z1", 0) in {
        (r.conv_id, r.turn_idx) for r in t.read(spark).collect()
    }


def test_cli_maintenance_retention_ttl(spark, tmp_path):
    """maintenance.retention: event-time TTL — rows older than (table max
    event time - interval) age out; newer rows survive; re-run no-op."""
    from pyspark.sql import functions as F

    write_stream_files(
        GenConfig(n_convs=4, turns_per_conv=6, mega_convs=0),
        str(tmp_path / "broker"), files=1,
    )
    main(
        [
            "source-database=chat", "source-table=transcripts",
            f"broker.dir={tmp_path}/broker",
            f"table.location={tmp_path}/tbl",
            f"checkpoint.location={tmp_path}/ck",
            "mode=availableNow",
        ]
    )
    t = IcebergLite(str(tmp_path / "tbl"), pk=["conv_id", "turn_idx"])
    df = t.read(spark).select(
        "conv_id", "turn_idx",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    mx = df.agg(F.max("us")).collect()[0][0]
    cutoff = mx - 6 * 3_600_000_000  # keep the trailing 6 hours
    survivors = {
        (r.conv_id, r.turn_idx) for r in df.where(F.col("us") > cutoff).collect()
    }
    dropped = df.count() - len(survivors)
    assert survivors and dropped > 0  # the TTL actually bites both ways

    args = [
        "source-database=chat", "source-table=transcripts",
        f"table.location={tmp_path}/tbl",
        "maintenance.run=true",
        "maintenance.retention=6 hours",
    ]
    main(args)
    after = {
        (r.conv_id, r.turn_idx) for r in t.read(spark).collect()
    }
    assert after == survivors
    v = t.current_version()
    main(args)  # unchanged data -> same cutoff -> replay-guarded no-op
    assert t.current_version() == v
    assert {
        (r.conv_id, r.turn_idx) for r in t.read(spark).collect()
    } == survivors


def test_streaming_sink_retention_ttl(spark, tmp_path):
    """retention.interval on the streaming sink: the maintenance tick ages
    out rows older than the batch's event-time horizon, replay-safe."""
    from pyspark.sql import functions as F

    write_stream_files(
        GenConfig(n_convs=4, turns_per_conv=6, mega_convs=0),
        str(tmp_path / "broker"), files=1,
    )
    args = [
        "source-database=chat", "source-table=transcripts",
        f"broker.dir={tmp_path}/broker",
        f"table.location={tmp_path}/tbl",
        f"checkpoint.location={tmp_path}/ck",
        "maintenance.every-batches=1",
        "retention.interval=6 hours",
        "mode=availableNow",
    ]
    main(args)
    t = IcebergLite(str(tmp_path / "tbl"), pk=["conv_id", "turn_idx"])
    rows = t.read(spark).select(
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us")
    ).collect()
    assert rows
    mx = max(r.us for r in rows)
    assert min(r.us for r in rows) > mx - 6 * 3_600_000_000
    # and the TTL actually dropped rows (vs the same feed w/o retention)
    main(
        [
            "source-database=chat", "source-table=transcripts",
            f"broker.dir={tmp_path}/broker",
            f"table.location={tmp_path}/tbl2",
            f"checkpoint.location={tmp_path}/ck2",
            "mode=availableNow",
        ]
    )
    full = IcebergLite(
        str(tmp_path / "tbl2"), pk=["conv_id", "turn_idx"]
    ).read(spark).count()
    assert len(rows) < full
