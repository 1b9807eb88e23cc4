"""Copy-on-write DELETE WHERE range: manifest surgery + rewrite semantics.

The planning contract is the point: files the stats prove disjoint are
carried by reference, files proven fully-matching (and null-free in the
predicate column) are dropped metadata-only, and ONLY boundary-overlap
files pay a rewrite. Read-back equivalence with a plain filter is asserted
for every case, plus NULL survival, replay idempotence, MOR interaction,
and time travel to the pre-delete snapshot.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka2iceberg_spark.sink import IcebergLite

SCHEMA = T.StructType(
    [
        T.StructField("pk", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("v", T.LongType()),
    ]
)


def _day(d: int, h: int = 0) -> dt.datetime:
    return dt.datetime(2026, 3, d, h, 0, 0)


def _mk_table(spark, path, days=4, rows_per_day=10):
    """One commit per day → one partition/file per day (days(ts) spec)."""
    t = IcebergLite(path, pk=["pk"], partition_field="ts")
    for d in range(1, days + 1):
        rows = [
            (d * 100 + i, _day(d, h=i % 24), d * 1000 + i)
            for i in range(rows_per_day)
        ]
        assert t.commit_append(
            spark.createDataFrame(rows, SCHEMA), f"day{d}"
        )
    return t


def test_delete_whole_days_is_metadata_only(spark, tmp_path):
    """A day-aligned range drops whole files from the manifest: zero
    rewrites, zero data IO; survivors and time travel are exact."""
    t = _mk_table(spark, str(tmp_path / "t"))
    before = t.read(spark).count()
    res = t.delete_range(
        spark, "ts", lo=_day(2), hi=_day(3, 23), batch_id="del1"
    )
    assert res["files_rewritten"] == 0
    assert res["files_dropped"] == 2
    assert res["files_carried"] == 2
    got = t.read(spark)
    assert got.count() == before - 20
    assert got.where(
        (F.col("ts") >= F.lit(_day(2))) & (F.col("ts") <= F.lit(_day(3, 23)))
    ).count() == 0
    # time travel: pre-delete snapshot still reads the deleted rows
    assert t.read(spark, version=res["version"] - 1).count() == before


def test_delete_boundary_rewrites_only_overlap(spark, tmp_path):
    """A mid-file boundary rewrites exactly the overlapping file; the
    others are carried or dropped by metadata alone."""
    t = _mk_table(spark, str(tmp_path / "t"))
    # delete day 2 entirely plus the first 5 hours of day 3
    res = t.delete_range(
        spark, "ts", lo=_day(2), hi=_day(3, 4), batch_id="del2"
    )
    assert res["files_dropped"] == 1      # day 2
    assert res["files_rewritten"] == 1    # day 3 boundary
    assert res["files_carried"] == 2      # days 1, 4
    assert res["rows_kept_in_rewrite"] == 5
    got = t.read(spark)
    assert got.count() == 40 - 10 - 5
    # equivalence with the plain filter semantics
    assert got.where(
        (F.col("ts") >= F.lit(_day(2))) & (F.col("ts") <= F.lit(_day(3, 4)))
    ).count() == 0


def test_delete_replay_is_noop(spark, tmp_path):
    t = _mk_table(spark, str(tmp_path / "t"))
    t.delete_range(spark, "ts", lo=_day(2), hi=_day(2, 23), batch_id="d")
    v = t.current_version()
    assert t.delete_range(
        spark, "ts", lo=_day(2), hi=_day(2, 23), batch_id="d"
    ) is None
    assert t.current_version() == v


def test_delete_null_values_survive(spark, tmp_path):
    """NULLs never match a range predicate; a file whose non-null values
    are all inside the range but which holds NULLs must be rewritten (the
    manifest null count vetoes the metadata drop), and the NULL rows
    survive."""
    t = IcebergLite(str(tmp_path / "t"), pk=["pk"])
    # same day (same file): v in [0, 4] plus one NULL v
    rows = [(i, _day(1), i) for i in range(5)] + [(9, _day(1), None)]
    t.commit_append(spark.createDataFrame(rows, SCHEMA), "b0")
    res = t.delete_range(spark, "v", lo=0, hi=100, batch_id="d0")
    assert res["files_dropped"] == 0 and res["files_rewritten"] == 1
    got = t.read(spark).collect()
    assert len(got) == 1 and got[0]["pk"] == 9 and got[0]["v"] is None


def test_delete_null_partition_file_has_no_stats_so_rewrites(spark, tmp_path):
    """A NULL-ts row lands in the NULL partition file with no ts stats;
    deleting a ts range drops the provable day file metadata-only and
    rewrites only the stats-less file — the NULL row survives."""
    t = IcebergLite(str(tmp_path / "t"), pk=["pk"])
    rows = [(i, _day(1), i) for i in range(5)] + [(9, None, 99)]
    t.commit_append(spark.createDataFrame(rows, SCHEMA), "b0")
    res = t.delete_range(spark, "ts", lo=_day(1), hi=_day(1), batch_id="d0")
    assert res["files_dropped"] == 1 and res["files_rewritten"] == 1
    got = t.read(spark).collect()
    assert len(got) == 1 and got[0]["pk"] == 9 and got[0]["ts"] is None


def test_delete_on_non_partition_column(spark, tmp_path):
    """Stats pruning works on ANY column with manifest ranges, not just
    the partition column: v is monotone per file here, so the plan still
    drops/carries by metadata."""
    t = _mk_table(spark, str(tmp_path / "t"))
    res = t.delete_range(spark, "v", lo=2000, hi=2999, batch_id="dv")
    assert res["files_dropped"] == 1 and res["files_rewritten"] == 0
    assert t.read(spark).where(
        (F.col("v") >= 2000) & (F.col("v") <= 2999)
    ).count() == 0
    assert t.read(spark).count() == 30


def test_delete_open_and_incomparable_bounds(spark, tmp_path):
    """A one-sided range carries the files its bound excludes. A bound the
    LONG stats cannot compare with (a Decimal) proves no file inside the
    range: nothing is dropped by metadata, only matching rows go."""
    from decimal import Decimal

    t = _mk_table(spark, str(tmp_path / "t"), days=3)
    res = t.delete_range(spark, "v", hi=1004, batch_id="d1")
    assert res["files_rewritten"] == 1 and res["files_carried"] == 2
    res = t.delete_range(spark, "v", lo=Decimal("3005"), batch_id="d2")
    assert res["files_dropped"] == 0
    got = sorted(r["v"] for r in t.read(spark).collect())
    assert got == [*range(1005, 1010), *range(2000, 2010), *range(3000, 3005)]


def test_delete_after_mor_upsert_applies_deletes_first(spark, tmp_path):
    """Rows superseded by MOR equality deletes must NOT resurrect when
    their file is rewritten with a newer sequence."""
    t = IcebergLite(str(tmp_path / "t"), pk=["pk"])
    base = [(i, _day(1, h=i), i) for i in range(10)]
    t.commit_append(spark.createDataFrame(base, SCHEMA), "b0")
    # MOR-upsert pk=3 to a new value far outside the delete range
    t.commit_upsert(
        spark.createDataFrame([(3, _day(4), 333)], SCHEMA),
        "b1",
        strategy="mor",
    )
    # delete the first 5 hours of day 1: the old pk=3 row (h=3) is inside
    # the rewritten file but already superseded — it must stay dead
    t.delete_range(spark, "ts", lo=_day(1), hi=_day(1, 4), batch_id="d")
    got = {r["pk"]: r["v"] for r in t.read(spark).collect()}
    assert got == {5: 5, 6: 6, 7: 7, 8: 8, 9: 9, 3: 333}


def test_delete_requires_a_bound(spark, tmp_path):
    t = _mk_table(spark, str(tmp_path / "t"), days=1)
    with pytest.raises(ValueError):
        t.delete_range(spark, "ts")


def test_stream_refuses_delete_commits(spark, tmp_path):
    """table_stream must refuse delete snapshots like other restating
    commits — an append scan over a rewrite double-counts."""
    from kafka2iceberg_spark.table_stream import table_stream

    t = _mk_table(spark, str(tmp_path / "t"), days=2)
    t.delete_range(spark, "ts", lo=_day(1), hi=_day(1, 23), batch_id="d")
    q = (
        table_stream(spark, str(tmp_path / "t"), 0)
        .writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
        raised = False
    except Exception as e:
        raised = "delete commit" in str(e)
    assert raised


def test_null_count_pruned_is_null_scan(spark, tmp_path):
    """plan_scan_null skips every file whose manifest proves zero NULLs;
    scan_is_null equals the plain filter read."""
    t = IcebergLite(str(tmp_path / "tn"), pk=["pk"])
    t.commit_append(
        spark.createDataFrame([(i, _day(1), i) for i in range(5)], SCHEMA),
        "b0",
    )
    t.commit_append(
        spark.createDataFrame(
            [(10, _day(2), None), (11, _day(2), 11)], SCHEMA
        ),
        "b1",
    )
    plan = t.plan_scan_null("v")
    assert plan["files_skipped"] >= 1 and len(plan["paths"]) >= 1
    got = sorted(r["pk"] for r in t.scan_is_null(spark, "v").collect())
    want = sorted(
        r["pk"]
        for r in t.read(spark).where(F.col("v").isNull()).collect()
    )
    assert got == want == [10]
