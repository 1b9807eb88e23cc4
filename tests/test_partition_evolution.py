"""Partition-spec evolution + hidden-partition transforms (Iceberg
spec.md "Partition Transforms" / partition-spec evolution semantics).

Evolution is metadata-only: files written under an old spec stay valid,
new commits land under the new spec, and reads see both. CoW upserts across
a spec boundary stay exactly-once via a sequence-scoped equality delete
covering the old layout (rewriting the legacy layout would be O(table)).
"""

from __future__ import annotations

import datetime

import pytest

from kafka2iceberg_spark import partition_spec as PS
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
def table(tmp_path):
    t = IcebergLite(str(tmp_path / "tbl"), pk=PK)
    yield t
    t.drop()


# -- transform parsing / value encoding ----------------------------------


def test_parse_spec_forms():
    f = PS.parse_field("bucket(16, conv_id)")
    assert (f.transform, f.source, f.param) == ("bucket", "conv_id", 16)
    f = PS.parse_field("truncate(4, text)")
    assert (f.transform, f.source, f.param) == ("truncate", "text", 4)
    for s in ("day(ts)", "month(ts)", "hour(ts)", "identity(conv_id)"):
        PS.parse_field(s)
    with pytest.raises(ValueError):
        PS.parse_field("years(ts)")


def test_transform_values(spark):
    df = spark.createDataFrame(
        [("conv-7", 42, D2)], "conv_id string, n int, ts timestamp"
    )
    out = df.select(
        PS.spec_expr(PS.parse_spec(["day(ts)"]), df, "NULLP").alias("d"),
        PS.spec_expr(PS.parse_spec(["month(ts)"]), df, "NULLP").alias("m"),
        PS.spec_expr(PS.parse_spec(["hour(ts)"]), df, "NULLP").alias("h"),
        PS.spec_expr(PS.parse_spec(["truncate(4, conv_id)"]), df, "NULLP").alias("t"),
        PS.spec_expr(PS.parse_spec(["truncate(10, n)"]), df, "NULLP").alias("ti"),
        PS.spec_expr(
            PS.parse_spec(["day(ts)", "bucket(8, conv_id)"]), df, "NULLP"
        ).alias("db"),
    ).collect()[0]
    assert out["d"] == "2024-09-02"
    assert out["m"] == "2024-09"
    assert out["h"] == "2024-09-02-17"
    assert out["t"] == "conv"
    assert out["ti"] == "40"  # integer floor-to-width, not string prefix
    day, bucket = out["db"].split("_")
    assert day == "2024-09-02" and 0 <= int(bucket) < 8


def test_bucket_is_deterministic(spark):
    df = spark.createDataFrame([("c1",)] * 3, "conv_id string")
    vals = {
        r[0]
        for r in df.select(
            PS.spec_expr(PS.parse_spec(["bucket(16, conv_id)"]), df, "N")
        ).collect()
    }
    assert len(vals) == 1


def test_multi_field_spec_any_order(spark, tmp_path):
    # identity may appear in ANY position: field values are percent-escaped
    # before the '_' join, so separators inside values (including the null
    # sentinel, which contains '_') keep every partition value unambiguous
    t = IcebergLite(
        str(tmp_path / "ok"),
        pk=PK,
        partition_spec=["identity(conv_id)", "day(ts)"],
    )
    rows = [
        ("a_b", 1, "x", D1, 1, 0, False),   # '_' inside an identity value
        ("plain", 1, "y", None, 2, 0, False),  # NULL day -> sentinel field
        ("plain", 2, "z", D2, 3, 0, False),
    ]
    t.commit_append(_batch(spark, rows), "b0")
    assert t.read(spark).count() == 3
    got = t.scan_range(spark, "ts", D2, D2).collect()
    assert [(r.conv_id, r.turn_idx) for r in got] == [("plain", 2)]
    t.drop()


# -- explicit spec at create ----------------------------------------------


def test_create_with_explicit_spec(spark, tmp_path):
    t = IcebergLite(
        str(tmp_path / "b"), pk=PK, partition_spec=["bucket(4, conv_id)"]
    )
    rows = [(f"c{i}", 0, "x", D1, i, 0, False) for i in range(40)]
    assert t.commit_append(_batch(spark, rows), "0")
    snap = t.current_snapshot()
    assert snap["default_spec_id"] == 1
    assert all(pv.startswith("s1-") for pv in snap["manifests"])
    assert 1 < len(snap["manifests"]) <= 4  # hash-spread over buckets
    assert t.read(spark).count() == 40
    t.drop()


# -- evolution: old files stay, new files land under the new spec ---------


def test_evolve_day_to_hour(spark, table):
    table.commit_append(
        _batch(spark, [("c1", 0, "a", D1, 0, 0, False)]), "0"
    )
    new_id = table.evolve_partition_spec(["hour(ts)"])
    assert new_id == 1
    table.commit_append(
        _batch(spark, [("c2", 0, "b", D2, 1, 0, False)]), "1"
    )
    snap = table.current_snapshot()
    assert set(snap["manifests"]) == {"2024-09-01", "s1-2024-09-02-17"}
    # reads span both layouts
    assert table.read(spark).count() == 2
    # time travel to the pre-evolution snapshot still works
    assert table.read(spark, version=1).count() == 1


def test_evolution_is_metadata_only(spark, table):
    table.commit_append(
        _batch(spark, [("c1", 0, "a", D1, 0, 0, False)]), "0"
    )
    before = table.current_snapshot()["manifests"]
    table.evolve_partition_spec(["month(ts)"])
    after = table.current_snapshot()
    assert after["manifests"] == before  # no file was touched
    assert after["commit_kind"] == "evolve-spec"


def test_spec_survives_restart_and_expire(spark, table):
    table.commit_append(
        _batch(spark, [("c1", 0, "a", D1, 0, 0, False)]), "0"
    )
    table.evolve_partition_spec(["month(ts)"])
    # a NEW instance (restarted writer constructed with legacy args) must
    # pick the evolved spec up from the snapshot, not the constructor
    t2 = IcebergLite(table.location, pk=PK)
    assert t2.current_spec()[0] == 1
    t2.commit_append(_batch(spark, [("c2", 0, "b", D2, 1, 0, False)]), "1")
    assert "s1-2024-09" in t2.current_snapshot()["manifests"]
    for i in range(2, 14):
        t2.commit_append(
            _batch(spark, [(f"c{i}", 0, "x", D2, i, 0, False)]), str(i)
        )
    t2.expire_snapshots(keep_last=3)
    assert t2.current_spec()[0] == 1  # registry rides retained snapshots


# -- upserts across a spec boundary ---------------------------------------


def test_upsert_across_spec_boundary_exactly_once(spark, table):
    # v1: two rows under the legacy day layout
    table.commit_append(
        _batch(
            spark,
            [("c1", 0, "old-1", D1, 0, 0, False), ("c2", 0, "keep", D1, 1, 0, False)],
        ),
        "0",
    )
    table.evolve_partition_spec(["month(ts)"])
    # upsert c1 (same PK, new text) + insert c3 under the NEW layout
    table.commit_upsert(
        _batch(
            spark,
            [("c1", 0, "new-1", D2, 2, 0, False), ("c3", 0, "ins", D2, 3, 0, False)],
        ),
        "1",
    )
    rows = {
        (r["conv_id"], r["text"]) for r in table.read(spark).collect()
    }
    # exactly one version of c1 survives (the new one), c2 untouched
    assert rows == {("c1", "new-1"), ("c2", "keep"), ("c3", "ins")}
    # cdc delete of c2 under the new layout removes the old-layout row
    table.commit_upsert(
        _batch(spark, [("c2", 0, None, D2, 4, 0, True)]), "2"
    )
    assert {r["conv_id"] for r in table.read(spark).collect()} == {"c1", "c3"}
    # compaction folds the cross-layout deletes into data
    table.materialize_deletes(spark)
    snap = table.current_snapshot()
    assert not snap.get("delete_manifests")
    assert {r["conv_id"] for r in table.read(spark).collect()} == {"c1", "c3"}


def test_same_spec_upsert_writes_no_delete_files(spark, table):
    table.commit_append(
        _batch(spark, [("c1", 0, "a", D1, 0, 0, False)]), "0"
    )
    table.commit_upsert(
        _batch(spark, [("c1", 0, "b", D1, 1, 0, False)]), "1"
    )
    assert not table.current_snapshot().get("delete_manifests")

