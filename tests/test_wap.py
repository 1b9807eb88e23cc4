"""Branches and write-audit-publish on IcebergLite.

Mirrors Iceberg's ref semantics (branch registry in table metadata,
fast-forward publish, snapshot retention pinned by refs) — the audit
workflow a production ingestion pipeline stages risky data through.
"""

from __future__ import annotations

import pytest

from kafka2iceberg_spark.sink import CommitConflict, IcebergLite


def _df(spark, ids, text="x"):
    return spark.createDataFrame(
        [(f"conv_{i}", i, f"{text}:{i}", i) for i in ids],
        "conv_id string, turn_idx int, text string, offset long",
    )


@pytest.fixture()
def table(tmp_path):
    return IcebergLite(
        str(tmp_path / "t"), pk=["conv_id", "turn_idx"], partition_field=None
    )


def test_branch_write_isolated_from_main(spark, table):
    table.commit_append(_df(spark, range(5)), "b0")
    main_v = table.head_version("main")
    table.commit_append(_df(spark, range(10, 13)), "b1", branch="audit")
    # main: untouched head, untouched content
    assert table.head_version("main") == main_v
    assert table.read(spark).count() == 5
    # branch: fork content + staged rows
    assert table.head_version("audit") > main_v
    assert table.read(spark, branch="audit").count() == 8
    # metadata head advanced past main (table-global version numbers)
    assert table.current_version() == table.head_version("audit")
    # pruned scans read main's head too, not the newer branch snapshot
    assert table.scan_point(spark, "conv_id", "conv_10").count() == 0
    assert table.scan_range(spark, "turn_idx", 0, 20).count() == 5


def test_fast_forward_publishes_without_rewrite(spark, table):
    table.commit_append(_df(spark, range(5)), "b0")
    v_before = table.head_version("main")
    files_before = set()
    for files in table.resolve_manifests(table.current_snapshot()).values():
        files_before |= {f["path"] for f in files}
    table.commit_append(_df(spark, range(10, 13)), "b1", branch="audit")
    table.commit_append(_df(spark, range(20, 22)), "b2", branch="audit")
    # audit gate passed -> publish
    published = table.fast_forward("audit")
    assert table.head_version("main") == published
    assert table.read(spark).count() == 10
    # publish was metadata-only: previously-committed files unmoved
    files_after = {
        f["path"]
        for files in table.resolve_manifests(
            table.current_snapshot()
        ).values()
        for f in files
    }
    assert files_before <= files_after
    # incremental consumers resume across the publish seamlessly
    added = table.added_files_between(v_before, table.head_version("main"))
    assert spark.read.parquet(*added).count() == 5  # exactly the branch rows


def test_fast_forward_requires_ancestry(spark, table):
    table.commit_append(_df(spark, range(3)), "b0")
    table.commit_append(_df(spark, range(10, 12)), "b1", branch="audit")
    # main advances after the fork -> divergence -> publish must refuse
    table.commit_append(_df(spark, range(5, 8)), "b2")
    with pytest.raises(CommitConflict, match="advanced since"):
        table.fast_forward("audit")
    # main content never saw branch rows
    assert table.read(spark).count() == 6
    # an incremental consumer parked on the branch's lineage fails loudly
    with pytest.raises(ValueError, match="not an ancestor"):
        table.lineage_versions(
            table.head_version("audit"), table.head_version("main")
        )


def test_streaming_offsets_follow_main_not_branch(spark, table):
    table.commit_append(_df(spark, range(4)), "b0")
    v = table.head_version("main")
    table.commit_append(_df(spark, range(10, 14)), "b1", branch="audit")
    # the table-stream source polls head_version("main"): no new offset
    assert table.head_version("main") == v
    table.fast_forward("audit")
    assert table.head_version("main") > v
    added = table.added_files_between(v, table.head_version("main"))
    assert len(added) >= 1


def test_replay_guard_is_global_across_refs(spark, table):
    table.commit_append(_df(spark, range(3)), "batch-1", branch="audit")
    # same batch id replayed on main is a no-op (Iceberg wap.id dedup)
    assert table.commit_append(_df(spark, range(3)), "batch-1") is False


def test_branch_pins_snapshot_through_expiration(spark, table):
    # a branch forked at an old version (MultiTableTransaction's staged
    # txn-* branches) keeps its fork point alive past the retention window
    table.commit_append(_df(spark, range(3)), "b0")
    forked = table.head_version("main")
    for i in range(1, 8):
        table.commit_append(_df(spark, range(10 * i, 10 * i + 2)), f"b{i}")
    assert table.create_branch("audit-2024", forked) == forked
    stats = table.expire_snapshots(keep_last=2)
    assert stats["expired_snapshots"] > 0
    # the branch's snapshot survived the window and still reads
    assert table.read(spark, branch="audit-2024").count() == 3
    assert table.snapshot_at(forked)["version"] == forked
    # dropping the branch releases it for future expiration
    table.drop_ref("audit-2024")
    assert "audit-2024" not in table.refs()


def test_branch_refs_survive_main_commits(spark, table):
    table.commit_append(_df(spark, range(2)), "b0")
    table.commit_append(_df(spark, range(10, 12)), "b1", branch="audit")
    audit_head = table.head_version("audit")
    table.commit_append(_df(spark, range(5, 7)), "b2")
    assert table.head_version("audit") == audit_head
    assert table.read(spark, branch="audit").count() == 4
    assert table.read(spark).count() == 4  # 2 + 2 on main


def test_upsert_and_compact_still_linear(spark, table):
    """Mixed commit kinds keep working with the refs layer in place."""
    df = _df(spark, range(4)).withColumn("is_cdc_delete", F_lit_false())
    table.commit_upsert(df, "u0")
    table.commit_append(_df(spark, range(10, 12)), "a1")
    table.commit_upsert(
        _df(spark, range(2), text="upd").withColumn(
            "is_cdc_delete", F_lit_false()
        ),
        "u1",
    )
    rows = {
        (r["conv_id"], r["turn_idx"]): r["text"]
        for r in table.read(spark).collect()
    }
    assert rows[("conv_0", 0)] == "upd:0"
    assert ("conv_10", 10) in rows
    assert table.added_files_between(0, table.head_version("main"))


def F_lit_false():
    from pyspark.sql import functions as F

    return F.lit(False)
