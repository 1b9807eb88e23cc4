"""Right-to-be-forgotten (privacy.forget_entity): all-table erasure,
crash-healing replay, other rows untouched, and the time-travel-
reachability nuance (expire=True for true erasure)."""

from __future__ import annotations

from pyspark.sql import functions as F

from kafka2iceberg_spark.privacy import forget_entity
from kafka2iceberg_spark.sink import IcebergLite


def _mk_tables(spark, tmp_path):
    turns = IcebergLite(str(tmp_path / "turns"), pk=["user_id", "seq"],
                        partition_field=None)
    profile = IcebergLite(str(tmp_path / "profile"), pk=["user_id"],
                          partition_field=None)
    turns.commit_append(
        spark.createDataFrame(
            [(u, s, f"t{u}-{s}") for u in (1, 2, 3) for s in range(4)],
            "user_id long, seq int, text string",
        ),
        "0",
    )
    profile.commit_upsert(
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "user_id long, plan string"
        ),
        "0",
    )
    return {"turns": turns, "profile": profile}


def _user_counts(spark, tables):
    """name -> {user_id: rows}, read back from each table."""
    return {
        name: {
            r["user_id"]: r["count"]
            for r in t.read(spark).groupBy("user_id").count().collect()
        }
        for name, t in tables.items()
    }


def test_forget_scrubs_all_tables_keeps_others(spark, tmp_path):
    tables = _mk_tables(spark, tmp_path)
    forget_entity(spark, tables, "user_id", 2, "req-1")
    assert _user_counts(spark, tables) == {
        "turns": {1: 4, 3: 4},
        "profile": {1: 1, 3: 1},
    }
    # untouched rows are byte-identical
    texts = {
        (r["user_id"], r["seq"]): r["text"]
        for r in tables["turns"].read(spark).collect()
    }
    assert texts[(1, 0)] == "t1-0" and texts[(3, 3)] == "t3-3"


def test_replay_heals_partial_request(spark, tmp_path):
    """Crash after table 1 of 2: re-running the SAME forget_id completes
    the rest; the already-scrubbed table is a committed no-op."""
    tables = _mk_tables(spark, tmp_path)
    # "crash": only the turns table processed
    forget_entity(spark, {"turns": tables["turns"]}, "user_id", 3, "req-2")
    v = tables["turns"].current_version()
    # full re-run of the request
    rep = forget_entity(spark, tables, "user_id", 3, "req-2")
    assert rep["turns"] == {}  # replayed: guard no-op
    assert tables["turns"].current_version() == v
    assert _user_counts(spark, tables) == {
        "turns": {1: 4, 2: 4},
        "profile": {1: 1, 2: 1},
    }


def test_time_travel_nuance_and_true_erasure(spark, tmp_path):
    tables = _mk_tables(spark, tmp_path)
    t = tables["turns"]
    v_before = t.current_version()
    forget_entity(spark, tables, "user_id", 1, "req-3")
    # logical delete only: the old snapshot still reaches the rows
    old = t.read(spark, version=v_before)
    assert old.where(F.col("user_id") == 1).count() == 4
    # expire=True makes erasure real: pre-delete snapshots are gone
    forget_entity(
        spark, {"turns": t}, "user_id", 1, "req-3b", expire=True
    )
    import pytest

    with pytest.raises(Exception):
        t.read(spark, version=v_before).collect()
    assert t.read(spark).where(F.col("user_id") == 1).count() == 0


def test_pseudonymize_stable_null_safe_and_unlinkable(spark):
    from kafka2iceberg_spark import privacy as pv
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [("u1", 1), ("u1", 2), ("u2", 3), (None, 4)],
        "user string, v int",
    )
    a = pv.pseudonymize(df, ["user"], salt="s1").collect()
    by_v = {r.v: r.user for r in a}
    assert by_v[1] == by_v[2]                 # same entity, same surrogate
    assert by_v[1] != by_v[3]                 # distinct entities distinct
    assert by_v[4] is None                    # NULL stays NULL
    assert all(
        r.user is None or len(r.user) == 16 for r in a
    )
    b = {r.v: r.user for r in pv.pseudonymize(df, ["user"], salt="s2").collect()}
    assert b[1] != by_v[1]                    # different salt -> unlinkable
