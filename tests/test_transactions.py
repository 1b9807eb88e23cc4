"""Multi-table transaction invariants: atomic visibility, abort isolation,
replay idempotence, write-write conflict detection, disjoint-txn merge."""

import pytest
from pyspark.sql import functions as F

from kafka2iceberg_spark.sink import CommitConflict, IcebergLite
from kafka2iceberg_spark.transactions import CatalogLite, TxnState


def _rows(spark, ids, text="x"):
    return spark.createDataFrame(
        [(f"c{i}", i, text, "2024-09-01 00:00:00") for i in ids],
        "conv_id string, turn_idx int, text string, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))


@pytest.fixture()
def cat(tmp_path):
    c = CatalogLite(str(tmp_path / "wh"))
    turns = IcebergLite(str(tmp_path / "wh/turns"), pk=["conv_id", "turn_idx"])
    sessions = IcebergLite(str(tmp_path / "wh/sessions"), pk=["conv_id"])
    c.register("turns", turns)
    c.register("sessions", sessions)
    return c


def test_txn_commits_both_tables_atomically(spark, cat):
    t = cat.transaction("t1")
    t.append("turns", _rows(spark, range(5)))
    t.append("sessions", _rows(spark, range(2)))
    # staged but uncommitted: the catalog pin still resolves to empty v0
    # (the stage left a schema hint, so the empty read has a schema)
    assert cat.read(spark, "turns").count() == 0
    assert t.commit() is True
    assert cat.read(spark, "turns").count() == 5
    assert cat.read(spark, "sessions").count() == 2
    # publish also converged main for direct readers
    assert cat.table("turns").read(spark).count() == 5


def test_txn_abort_leaves_nothing_visible(spark, cat):
    t = cat.transaction("t-abort")
    t.append("turns", _rows(spark, range(3)))
    t.abort()
    assert cat.read(spark, "turns").count() == 0
    tbl = cat.table("turns")
    assert "txn-t-abort" not in tbl.refs()
    with pytest.raises(TxnState):
        t.append("turns", _rows(spark, [9]))


def test_txn_replay_is_idempotent(spark, cat):
    t1 = cat.transaction("tx-replay")
    t1.append("turns", _rows(spark, range(4)))
    assert t1.commit() is True
    # the replayed micro-batch re-stages and re-commits the same txn id:
    # data commits are deduped by batch-id, the catalog by txn id
    t2 = cat.transaction("tx-replay")
    t2.append("turns", _rows(spark, range(4)))
    assert t2.commit() is False
    assert cat.read(spark, "turns").count() == 4


def test_txn_read_your_own_writes(spark, cat):
    t = cat.transaction()
    t.append("turns", _rows(spark, range(6)))
    assert t.read(spark, "turns").count() == 6  # staged view
    assert cat.read(spark, "turns").count() == 0  # catalog view unchanged
    t.commit()


def test_txn_write_write_conflict(spark, cat):
    a = cat.transaction("tx-a")
    a.append("turns", _rows(spark, range(3)))
    b = cat.transaction("tx-b")
    b.append("turns", _rows(spark, range(10, 13)))
    assert a.commit() is True
    with pytest.raises(CommitConflict):
        b.commit()
    # loser's staged rows never became visible
    assert cat.read(spark, "turns").count() == 3


def test_disjoint_txns_both_commit(spark, cat):
    a = cat.transaction("tx-turns")
    a.append("turns", _rows(spark, range(3)))
    b = cat.transaction("tx-sessions")
    b.append("sessions", _rows(spark, range(7)))
    assert a.commit() is True
    assert b.commit() is True  # catalog CAS retry merges disjoint pins
    assert cat.read(spark, "turns").count() == 3
    assert cat.read(spark, "sessions").count() == 7


def test_txn_upsert_and_multi_statement(spark, cat):
    t = cat.transaction("tx-up")
    t.append("turns", _rows(spark, range(4), text="v1"))
    t.upsert("turns", _rows(spark, [2, 3, 4], text="v2"))
    t.commit()
    got = {
        (r.conv_id, r.text)
        for r in cat.read(spark, "turns").select("conv_id", "text").collect()
    }
    assert got == {
        ("c0", "v1"), ("c1", "v1"),
        ("c2", "v2"), ("c3", "v2"), ("c4", "v2"),
    }


def test_txn_upsert_mor_strategy(spark, cat):
    t = cat.transaction("tx-mor")
    t.append("sessions", _rows(spark, range(3), text="old"))
    t.upsert("sessions", _rows(spark, [1], text="new"), strategy="mor")
    t.commit()
    got = {
        (r.conv_id, r.text)
        for r in cat.read(spark, "sessions").select("conv_id", "text").collect()
    }
    assert got == {("c0", "old"), ("c1", "new"), ("c2", "old")}


def test_catalog_snapshot_isolation_across_commits(spark, cat):
    t = cat.transaction("tx-iso")
    t.append("turns", _rows(spark, range(2)))
    t.commit()
    # a later direct-to-table commit does NOT move the catalog's pin
    tbl = cat.table("turns")
    tbl.commit_append(_rows(spark, range(100, 105)), "direct-1")
    assert cat.read(spark, "turns").count() == 2
    assert tbl.read(spark).count() == 7
    # re-registering advances the pin to the table head
    cat.register("turns", tbl)
    assert cat.read(spark, "turns").count() == 7


def test_txn_crash_before_cas_replay_commits_staged_data(spark, cat):
    # first attempt stages, then "crashes" before the catalog CAS (the txn
    # object is simply dropped, branch left behind). The replay — same txn
    # id, same deterministic writes — must still commit the DATA: resetting
    # the branch would let the table-global batch-id guard turn every
    # replayed write into a no-op and record an empty transaction.
    t1 = cat.transaction("crashy")
    t1.append("turns", _rows(spark, range(4)))
    del t1  # crash: no commit(), no abort()
    t2 = cat.transaction("crashy")
    t2.append("turns", _rows(spark, range(4)))  # replayed writes: no-ops
    assert t2.commit() is True
    assert cat.read(spark, "turns").count() == 4
    # and the whole thing is still replay-idempotent at the txn level
    t3 = cat.transaction("crashy")
    t3.append("turns", _rows(spark, range(4)))
    assert t3.commit() is False
    assert cat.read(spark, "turns").count() == 4


def test_txn_stale_crashed_branch_conflicts_not_empty_commit(spark, cat):
    # crashed attempt, then ANOTHER txn re-pins the table: the stale branch
    # no longer descends from the pin and the crashed id's batch ids are
    # burned — restaging under the same id must raise, never silently
    # commit a transaction with no data.
    t1 = cat.transaction("loser")
    t1.append("turns", _rows(spark, range(3)))
    del t1  # crash before CAS
    w = cat.transaction("winner")
    w.append("turns", _rows(spark, range(10, 13)))
    assert w.commit() is True
    t2 = cat.transaction("loser")
    with pytest.raises(CommitConflict):
        t2.append("turns", _rows(spark, range(3)))
    assert cat.read(spark, "turns").count() == 3  # winner's rows only
