"""Checkpoint recovery / exactly-once across restarts (north_rule: "resumable
from checkpoint ... re-emitting zero duplicate rows").

Strategy: feed the simulated broker in two phases against the SAME
checkpoint — run 1 sees half the files, stops (the "crash"), run 2 restarts
from the checkpoint with the rest present. The final table must equal a
single-shot reference run (same rows, no duplicates), with snapshot versions
strictly incremental and batch ids disjoint.
"""

from __future__ import annotations

import datetime
import os
import shutil

import pytest

from kafka2iceberg_spark.gen import GenConfig, write_stream_files
from kafka2iceberg_spark.pipeline import run_ingest_once
from kafka2iceberg_spark.schema import transcript_task
from kafka2iceberg_spark.sink import IcebergLite

CFG = GenConfig(n_convs=12, turns_per_conv=12, mega_convs=1, mega_turns=50)


def _feed(src_files, dst, n):
    os.makedirs(dst, exist_ok=True)
    for i, p in enumerate(src_files[:n]):
        out = os.path.join(dst, os.path.basename(p))
        shutil.copy(p, out)
        os.utime(out, (1_700_000_000 + i, 1_700_000_000 + i))


@pytest.fixture()
def spec():
    return transcript_task()


def _rows(spark, table):
    return sorted(
        (r["conv_id"], r["turn_idx"], r["text"])
        for r in table.read(spark).collect()
    )


def test_two_phase_resume_no_duplicates(spark, tmp_path, spec):
    staged = write_stream_files(CFG, str(tmp_path / "staged"), files=8)

    # reference: single-shot run over everything
    ref_broker = str(tmp_path / "ref_broker")
    _feed(staged, ref_broker, 8)
    ref_tbl = IcebergLite(str(tmp_path / "ref_tbl"), pk=spec.primary_keys)
    run_ingest_once(spark, ref_broker, spec, ref_tbl, str(tmp_path / "ref_ck"))
    ref = _rows(spark, ref_tbl)
    assert len(ref) > 0

    # phase 1: half the stream, then "crash" (query stops at availableNow)
    broker = str(tmp_path / "broker")
    ck = str(tmp_path / "ck")
    tbl = IcebergLite(str(tmp_path / "tbl"), pk=spec.primary_keys)
    _feed(staged, broker, 4)
    run_ingest_once(spark, broker, spec, tbl, ck)
    v_mid = tbl.current_version()
    assert v_mid >= 1

    # phase 2: rest of the stream arrives; restart from the SAME checkpoint
    _feed(staged, broker, 8)
    run_ingest_once(spark, broker, spec, tbl, ck)

    got = _rows(spark, tbl)
    assert got == ref, "resumed run diverges from single-shot reference"
    # no duplicate PKs
    pks = [(c, t) for c, t, _ in got]
    assert len(pks) == len(set(pks))
    assert tbl.current_version() > v_mid
    # batch ids disjoint and complete in lineage
    batches = [rec["batch_id"] for rec in tbl.lineage()]
    assert len(batches) == len(set(batches))


def test_replay_after_commit_is_skipped(spark, tmp_path, spec):
    """Re-running a fully-committed checkpoint changes nothing (K3)."""
    staged = write_stream_files(CFG, str(tmp_path / "staged"), files=4)
    broker = str(tmp_path / "broker")
    _feed(staged, broker, 4)
    tbl = IcebergLite(str(tmp_path / "tbl"), pk=spec.primary_keys)
    ck = str(tmp_path / "ck")
    run_ingest_once(spark, broker, spec, tbl, ck)
    before_rows = _rows(spark, tbl)
    before_v = tbl.current_version()
    run_ingest_once(spark, broker, spec, tbl, ck)
    assert tbl.current_version() == before_v
    assert _rows(spark, tbl) == before_rows


def test_per_turn_text_parity_with_generator(spark, tmp_path, spec):
    """input_hint invariant: per-turn text equality under stable
    (conv_id, turn_idx) ordering vs the generator's ground truth, after the
    full envelope → parse → upsert → delete pipeline."""
    from kafka2iceberg_spark.gen import envelopes, turns

    staged = write_stream_files(CFG, str(tmp_path / "staged"), files=4)
    broker = str(tmp_path / "broker")
    _feed(staged, broker, 4)
    tbl = IcebergLite(str(tmp_path / "tbl"), pk=spec.primary_keys)
    run_ingest_once(spark, broker, spec, tbl, str(tmp_path / "ck"))

    # expected: last envelope op per PK wins (offset order per partition)
    last_op: dict[tuple, str] = {}
    texts: dict[tuple, str] = {}
    for e in envelopes(CFG):
        d = e["data"][0]
        k = (d["conv_id"], int(d["turn_idx"]))
        last_op[k] = e["type"]
        texts[k] = d["text"]
    expected = sorted(
        (c, t, texts[(c, t)])
        for (c, t), op in last_op.items()
        if op != "DELETE"
    )
    assert _rows(spark, tbl) == expected


def test_pairs_resume_no_duplicates(spark, tmp_path, spec):
    """The pairs branch (stateful pairing → append sink) must resume from
    its checkpoint with zero duplicate emissions: Spark restores the
    per-conversation pairing state, and the sink's batch-id guard absorbs
    any replayed trigger."""
    import json as _json

    from kafka2iceberg_spark.pipeline import (
        file_broker_stream,
        parsed_stream,
        start_pairs_sink,
    )

    cfg = GenConfig(n_convs=10, turns_per_conv=8, mega_convs=0, mega_turns=0,
                    ooo_fraction=0, late_fraction=0, dup_fraction=0,
                    delete_fraction=0)
    staged = write_stream_files(cfg, str(tmp_path / "staged"), files=6)
    # far-future sentinel advances the watermark so trailing state flushes
    sentinel = str(tmp_path / "staged" / "zz.jsonl")
    with open(sentinel, "w") as fh:
        fh.write(_json.dumps({
            "data": [{"conv_id": "zzz", "turn_idx": "0", "role": "user",
                      "text": "s", "tool": "null",
                      "ts": "2030-01-01 00:00:00"}],
            "database": "chat", "table": "transcripts", "type": "INSERT",
            "isDdl": False, "ts": 1893456000000, "es": 1893456000000,
            "old": None, "pkNames": ["conv_id", "turn_idx"], "sql": "",
            "_offset": 9999999, "_partition": 0,
        }) + "\n")
    staged = list(staged) + [sentinel]

    def run(broker, tbl, ck):
        q = start_pairs_sink(
            parsed_stream(file_broker_stream(spark, broker, 2), spec),
            tbl,
            ck,
            trigger={"availableNow": True},
        )
        q.awaitTermination()

    def pair_rows(t):
        return sorted(
            (r.conv_id, r.user_turn_idx, r.reply_turn_idx, r.reply_text)
            for r in t.read(spark)
            .where("conv_id <> 'zzz' AND reply_text IS NOT NULL")
            .collect()
        )

    # single-shot reference
    ref_broker = str(tmp_path / "ref_broker")
    _feed(staged, ref_broker, 7)
    ref_tbl = IcebergLite(str(tmp_path / "ref_tbl"), pk=[],
                          partition_field=None)
    run(ref_broker, ref_tbl, str(tmp_path / "ref_ck"))
    ref = pair_rows(ref_tbl)
    assert ref

    # two-phase resume against the same checkpoint
    broker = str(tmp_path / "broker")
    tbl = IcebergLite(str(tmp_path / "tbl"), pk=[], partition_field=None)
    ck = str(tmp_path / "ck")
    _feed(staged, broker, 3)
    run(broker, tbl, ck)
    _feed(staged, broker, 7)
    run(broker, tbl, ck)

    got = pair_rows(tbl)
    assert got == ref, "resumed pairs run diverges from single-shot"
    keys = [(c, u) for c, u, _, _ in got]
    assert len(keys) == len(set(keys)), "duplicate pair emissions"


def _batch_ids(table):
    return [
        table.snapshot_at(v).get("batch_id")
        for v in range(table.current_version() + 1)
    ]


@pytest.mark.parametrize("sink", ["cow", "mor", "dynamic"])
def test_upsert_sink_retries_after_concurrent_compaction(
    spark, tmp_path, spec, monkeypatch, sink
):
    """A standalone compaction that links the version the upsert sink's
    second batch allocated makes that commit lose with CommitConflict; the
    sink (``start_upsert_sink`` under cow or mor, or the DDL-driven
    ``start_dynamic_sink``) retries the batch on the new head instead of
    dying, and the table ends identical to an uninterrupted run, each
    batch committed once."""
    from kafka2iceberg_spark.pipeline import (
        file_broker_stream, start_dynamic_sink,
    )
    from perfbench.helpers import content_hash

    staged = write_stream_files(CFG, str(tmp_path / "staged"), files=4)
    broker = str(tmp_path / "broker")
    _feed(staged, broker, 4)

    def run(table, ck):
        if sink == "dynamic":
            start_dynamic_sink(
                file_broker_stream(spark, broker, 2), spec, table,
                str(tmp_path / ck), str(tmp_path / f"{ck}.journal"),
                trigger={"availableNow": True},
            ).awaitTermination()
        else:
            run_ingest_once(spark, broker, spec, table, str(tmp_path / ck),
                            strategy=sink)

    twin = IcebergLite(str(tmp_path / "twin"), pk=spec.primary_keys)
    run(twin, "twin_ck")

    tbl = IcebergLite(str(tmp_path / "tbl"), pk=spec.primary_keys)
    compactor = IcebergLite(tbl.location, pk=spec.primary_keys)
    link = tbl._write_snapshot
    rewritten = []

    def racing_link(snap):
        if snap["batch_id"] == "1" and not rewritten:
            rewritten.append(
                compactor.compact(spark, min_files_per_partition=1)
            )
        link(snap)

    monkeypatch.setattr(tbl, "_write_snapshot", racing_link)
    run(tbl, "ck")

    assert rewritten and rewritten[0] > 0  # the compaction really committed
    assert tbl.snapshot_at(tbl.current_version())["batch_id"] == "1"
    assert content_hash(tbl.read(spark).collect()) == content_hash(
        twin.read(spark).collect()
    )
    ids = [b for b in _batch_ids(tbl) if b is not None]
    assert sorted(ids) == sorted(b for b in _batch_ids(twin) if b is not None)
    assert ids.count("1") == 1


def test_upsert_sink_raises_when_every_retry_conflicts(
    spark, tmp_path, spec, monkeypatch
):
    """A conflict that outlasts the bounded retries still fails the query."""
    from kafka2iceberg_spark.sink import CommitConflict

    staged = write_stream_files(CFG, str(tmp_path / "staged"), files=2)
    broker = str(tmp_path / "broker")
    _feed(staged, broker, 2)
    tbl = IcebergLite(str(tmp_path / "tbl"), pk=spec.primary_keys)
    tbl.create()
    tries = []

    def always_conflict(snap):
        tries.append(snap["version"])
        raise CommitConflict("lost the race")

    monkeypatch.setattr(tbl, "_write_snapshot", always_conflict)
    with pytest.raises(Exception, match="CommitConflict"):
        run_ingest_once(spark, broker, spec, tbl, str(tmp_path / "ck"))
    assert len(tries) == 4  # the first try and three retries
    assert tbl.current_version() == 0


def test_maintenance_tick_retries_after_concurrent_compaction(
    spark, tmp_path, spec, monkeypatch
):
    """The upsert sink's maintenance tick (retention delete, materialize,
    compaction) survives a standalone compaction linking the version each
    of its commits allocated: every one is retried on the new head, and
    the table ends identical to an uninterrupted run."""
    from kafka2iceberg_spark.pipeline import (
        file_broker_stream, parsed_stream, start_upsert_sink,
    )
    from perfbench.helpers import content_hash

    staged = write_stream_files(CFG, str(tmp_path / "staged"), files=4)
    broker = str(tmp_path / "broker")
    _feed(staged, broker, 4)

    def run(table, ck):
        start_upsert_sink(
            parsed_stream(file_broker_stream(spark, broker, 1), spec),
            table, str(tmp_path / ck), trigger={"availableNow": True},
            strategy="mor", maintenance_every=1,
            retention_us=12 * 3_600_000_000,
        ).awaitTermination()

    twin = IcebergLite(str(tmp_path / "twin"), pk=spec.primary_keys)
    run(twin, "twin_ck")

    tbl = IcebergLite(str(tmp_path / "tbl"), pk=spec.primary_keys)
    compactor = IcebergLite(tbl.location, pk=spec.primary_keys)
    link = tbl._write_snapshot
    raced = []

    def racing_link(snap):
        kind = snap["commit_kind"]
        if kind in ("delete", "materialize-deletes", "compact") and (
            kind not in raced
        ):
            raced.append(kind)
            assert compactor.compact(spark, min_files_per_partition=1) > 0
        link(snap)

    monkeypatch.setattr(tbl, "_write_snapshot", racing_link)
    run(tbl, "ck")

    assert sorted(raced) == ["compact", "delete", "materialize-deletes"]
    assert content_hash(tbl.read(spark).collect()) == content_hash(
        twin.read(spark).collect()
    )
    assert tbl.committed_batches() == twin.committed_batches()


def _turns(spark, lo, hi):
    return spark.createDataFrame(
        [
            (f"c{i % 3}", i, "user", f"t{i}", None,
             datetime.datetime(2024, 9, 1, 12, 0, i % 60))
            for i in range(lo, hi)
        ],
        "conv_id string, turn_idx int, role string, text string,"
        " tool string, ts timestamp",
    )


def test_maintenance_job_retries_compaction_after_concurrent_append(
    spark, tmp_path, spec, monkeypatch
):
    """A live ingest's append that links the version the standalone
    maintenance job's compaction allocated makes the compaction lose with
    CommitConflict; the job re-plans from the new head and finishes, and
    the table ends identical to a twin where the append ran first."""
    from kafka2iceberg_spark.__main__ import main
    from perfbench.helpers import content_hash

    def maintain(location):
        main([
            "source-database=chat", "source-table=transcripts",
            f"table.location={location}", "shuffle.partitions=8",
            "maintenance.run=true", "maintenance.min-files=2",
        ])

    def seed(name):
        t = IcebergLite(str(tmp_path / name), pk=spec.primary_keys,
                        partition_field="ts")
        t.commit_append(_turns(spark, 0, 4), "0")
        t.commit_append(_turns(spark, 4, 8), "1")
        return t

    twin = seed("twin")
    twin.commit_append(_turns(spark, 8, 11), "live")
    maintain(twin.location)

    tbl = seed("tbl")
    live = IcebergLite(tbl.location, pk=spec.primary_keys,
                       partition_field="ts")
    link = IcebergLite._write_snapshot
    raced = []

    def racing_link(self, snap):
        if snap.get("commit_kind") == "compact" and not raced:
            raced.append(snap["version"])
            live.commit_append(_turns(spark, 8, 11), "live")
        link(self, snap)

    monkeypatch.setattr(IcebergLite, "_write_snapshot", racing_link)
    v = tbl.current_version()
    maintain(tbl.location)

    assert raced == [v + 1]  # the append took the compaction's version
    head = tbl.current_snapshot()
    assert head["commit_kind"] == "compact" and head["version"] == v + 2
    assert "live" in tbl.committed_batches()
    # the retried compaction was planned on the new head: it folded the
    # appended file in too
    assert all(len(f) == 1 for f in tbl.resolve_manifests(head).values())
    rows = tbl.read(spark).collect()
    assert {r.turn_idx for r in rows} == set(range(11))
    assert content_hash(rows) == content_hash(twin.read(spark).collect())
