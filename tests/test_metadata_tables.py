"""Metadata-table inspection surface (Iceberg $snapshots/$files/... parity).

``files`` — the only table whose size scales with data — must be read by
executors (spark.read over manifest JSON), not collected on the driver.
"""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from kafka2iceberg_spark.sink import IcebergLite

PK = ["conv_id", "turn_idx"]
D1 = datetime.datetime(2024, 9, 1, 5, 0, 0)
D2 = datetime.datetime(2024, 9, 2, 17, 30, 0)


def _batch(spark, rows):
    return spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, text string, ts timestamp,"
        " offset long, partition_idx int, is_cdc_delete boolean",
    )


@pytest.fixture()
def table(spark, tmp_path):
    t = IcebergLite(str(tmp_path / "tbl"), pk=PK)
    t.commit_append(
        _batch(
            spark,
            [("c1", 0, "a", D1, 0, 0, False), ("c2", 0, "b", D2, 1, 0, False)],
        ),
        "0",
    )
    t.commit_upsert(_batch(spark, [("c1", 0, "a2", D1, 2, 0, False)]), "1")
    yield t
    t.drop()


def test_snapshots_table(spark, table):
    snaps = table.meta_table(spark, "snapshots").orderBy("version").collect()
    assert [s["version"] for s in snaps] == [0, 1, 2]
    assert snaps[1]["commit_kind"] == "append"
    assert snaps[2]["commit_kind"] == "upsert-cow"
    assert snaps[2]["batch_id"] == "1"
    # parent chain is consistent
    assert snaps[2]["parent_id"] == snaps[1]["snapshot_id"]

    # maintenance and metadata commits name their kind too, and every
    # snapshot carries one key set (kind-specific informational lists
    # aside) — they are all built by the same commit path
    assert table.compact(spark, min_files_per_partition=1) == 2
    table.commit_upsert(
        _batch(spark, [("c2", 0, "b2", D2, 3, 0, False)]), "2",
        strategy="mor",
    )
    assert table.materialize_deletes(spark) == 1
    snaps = table.meta_table(spark, "snapshots").orderBy("version").collect()
    assert [s["commit_kind"] for s in snaps[3:]] == [
        "compact", "upsert-mor", "materialize-deletes",
    ]
    assert all(s["commit_kind"] is not None for s in snaps[1:])
    keys = {
        v: set(table.snapshot_at(v)) - {"compaction", "materialize"}
        for v in range(table.current_version() + 1)
    }
    assert len({frozenset(k) for k in keys.values()}) == 1, keys
    assert table.snapshot_at(3)["compaction"] == ["2024-09-01", "2024-09-02"]
    assert table.snapshot_at(5)["materialize"] == ["2024-09-02"]
    assert {r.text for r in table.read(spark).collect()} == {"a2", "b2"}


def test_history_marks_current_ancestors(spark, table):
    hist = {
        r["version"]: r["is_current_ancestor"]
        for r in table.meta_table(spark, "history").collect()
    }
    assert hist == {0: True, 1: True, 2: True}


def test_partitions_table(spark, table):
    parts = {
        r["partition"]: (r["file_count"], r["row_count"])
        for r in table.meta_table(spark, "partitions").collect()
    }
    assert set(parts) == {"2024-09-01", "2024-09-02"}
    assert parts["2024-09-01"][1] == 1  # one live row after the upsert
    assert all(fc >= 1 for fc, _ in parts.values())


def test_files_table_matches_manifests(spark, table):
    files = table.meta_table(spark, "files")
    # executor-side read: the plan is a real scan, not a LocalTableScan
    plan = files._jdf.queryExecution().executedPlan().toString()
    assert "Scan json" in plan
    rows = files.collect()
    snap = table.current_snapshot()
    live = {
        f["path"]
        for fs in table.resolve_manifests(snap).values()
        for f in fs
    }
    assert {r["path"] for r in rows} == live
    assert sum(r["rows"] for r in rows) == table.read(spark).count()
    assert {r["partition"] for r in rows} == {"2024-09-01", "2024-09-02"}


def test_files_table_time_travel(spark, table):
    from kafka2iceberg_spark.metadata_tables import files_table

    v1 = files_table(table, spark, version=1).count()
    v2 = files_table(table, spark, version=2).count()
    assert v1 >= 1 and v2 >= 1
    snap1 = table.snapshot_at(1)
    assert v1 == sum(
        len(fs) for fs in table.resolve_manifests(snap1).values()
    )


def test_manifests_table_and_unknown_name(spark, table):
    m = table.meta_table(spark, "manifests").collect()
    assert {r["partition"] for r in m} == {"2024-09-01", "2024-09-02"}
    with pytest.raises(ValueError):
        table.meta_table(spark, "nope")


def test_snapshot_diffs_tracks_added_and_rewritten_files(spark, table):
    # v1 = append (2 rows, fresh files), v2 = CoW upsert of c1 (rewrites
    # the c1-bearing partition file: some files added, some removed)
    diffs = {
        r["version"]: r
        for r in table.meta_table(spark, "snapshot_diffs").collect()
    }
    assert set(diffs) == {1, 2}
    assert diffs[1]["parent_version"] == 0
    assert diffs[1]["files_added"] >= 1
    assert diffs[1]["files_removed"] == 0
    assert diffs[1]["rows_added"] == 2
    # the upsert rewrote at least one file and the live row count is
    # conserved: rows_added - rows_removed == 0 net for an update
    d2 = diffs[2]
    assert d2["files_added"] >= 1 and d2["files_removed"] >= 1
    assert d2["rows_added"] - d2["rows_removed"] == 0


def test_snapshot_diffs_empty_for_fresh_table(spark, tmp_path):
    from kafka2iceberg_spark.metadata_tables import snapshot_diffs

    t = IcebergLite(str(tmp_path / "t2"), pk=PK)
    t.create()
    assert snapshot_diffs(t, spark).count() == 0
    t.drop()


def test_snapshot_row_diff_classifies(spark, tmp_path):
    """added / removed / changed (NULL-safe struct compare); unchanged
    rows are not emitted."""
    from kafka2iceberg_spark.metadata_tables import snapshot_row_diff
    from kafka2iceberg_spark.sink import IcebergLite

    t = IcebergLite(str(tmp_path / "t"), pk=["k"], partition_field=None)
    t.commit_upsert(
        spark.createDataFrame(
            [(1, "a", False), (2, None, False), (3, "c", False),
             (4, "d", False)],
            "k int, v string, is_cdc_delete boolean",
        ),
        "0",
    )
    v0 = t.current_version()
    t.commit_upsert(
        spark.createDataFrame(
            # 1 unchanged, 2 NULL→value (changed), 3 deleted, 5 added
            [(1, "a", False), (2, "b", False), (3, None, True),
             (5, "e", False)],
            "k int, v string, is_cdc_delete boolean",
        ),
        "1",
    )
    v1 = t.current_version()
    got = {
        r["k"]: r["change"]
        for r in snapshot_row_diff(t, spark, v0, v1).collect()
    }
    assert got == {2: "changed", 3: "removed", 5: "added"}
