"""SCD2 dimension history: batch semantics + incremental maintenance parity.

The batch operator (scd.scd2) and the streaming micro-batch maintainer
(scd.scd2_apply_batch → IcebergLite upserts) must agree row-for-row on any
split of the same change log — the same batch/stream parity bar the session
and pairing operators are held to elsewhere in the suite.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka2iceberg_spark import scd
from kafka2iceberg_spark.sink import IcebergLite

SCHEMA = T.StructType(
    [
        T.StructField("k", T.StringType()),
        T.StructField("seq", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("attr", T.StringType()),
        T.StructField("is_del", T.BooleanType()),
    ]
)


def _ts(minute: int) -> dt.datetime:
    return dt.datetime(2026, 1, 1, 0, minute, 0)


def _changes(spark, rows):
    return spark.createDataFrame(
        [(k, s, _ts(m), a, d) for (k, s, m, a, d) in rows], SCHEMA
    )


# change log exercising every rule: no-op compression, tombstone closing,
# re-insert-after-delete, multi-key, NULL attr
LOG = [
    # key a: v1 -> no-op -> v2 -> delete -> re-insert v2 (same attrs!)
    ("a", 1, 1, "x", False),
    ("a", 2, 2, "x", False),   # no-op: compressed away
    ("a", 3, 3, "y", False),
    ("a", 4, 4, None, True),   # tombstone closes y at t4
    ("a", 5, 5, "y", False),   # re-insert after delete: NEW interval
    # key b: single version, still open
    ("b", 1, 2, "q", False),
    # key c: NULL attr versions (NULL == NULL must compress)
    ("c", 1, 1, None, False),
    ("c", 2, 2, None, False),  # no-op vs NULL
    ("c", 3, 3, "z", False),
]

EXPECTED = {
    # (k, attr, from_min, to_min, is_current)
    ("a", "x", 1, 3, False),
    ("a", "y", 3, 4, False),
    ("a", "y", 5, None, True),
    ("b", "q", 2, None, True),
    ("c", None, 1, 3, False),
    ("c", "z", 3, None, True),
}


def _as_set(rows):
    out = set()
    for r in rows:
        to_m = r["valid_to"].minute if r["valid_to"] is not None else None
        out.add((r["k"], r["attr"], r["valid_from"].minute, to_m, r["is_current"]))
    return out


def test_scd2_batch_semantics(spark):
    hist = scd.scd2(
        _changes(spark, LOG),
        key=["k"],
        order=["ts", "seq"],
        tracked=["attr"],
        delete_col="is_del",
    )
    assert _as_set(hist.collect()) == EXPECTED


def test_scd2_replay_collapses(spark):
    """At-least-once transport: exact duplicate change rows mint nothing."""
    hist = scd.scd2(
        _changes(spark, LOG + LOG),
        key=["k"],
        order=["ts", "seq"],
        tracked=["attr"],
        delete_col="is_del",
    )
    assert _as_set(hist.collect()) == EXPECTED


def test_scd2_single_shuffle_plan(spark):
    """The compression lag and validity lead share one window spec — the
    whole operator must plan exactly ONE exchange (hash on the key)."""
    hist = scd.scd2(
        _changes(spark, LOG),
        key=["k"],
        order=["ts", "seq"],
        tracked=["attr"],
        delete_col="is_del",
    )
    plan = hist._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1


def _expected_us(spark):
    """Batch truth converted to the table's epoch-micro column layout."""
    hist = scd.scd2(
        _changes(spark, LOG),
        key=["k"],
        order=["ts", "seq"],
        tracked=["attr"],
        delete_col="is_del",
    )
    return hist.select(
        "k",
        "attr",
        F.unix_micros(F.col("valid_from").cast("timestamp")).alias(
            "valid_from_us"
        ),
        F.unix_micros(F.col("valid_to").cast("timestamp")).alias(
            "valid_to_us"
        ),
    )


def _rows_set(df):
    return {
        (r["k"], r["attr"], r["valid_from_us"], r["valid_to_us"])
        for r in df.collect()
    }


def test_scd2_incremental_matches_batch(spark, tmp_path):
    """Any batch split of the change log converges to the batch truth."""
    table = IcebergLite(str(tmp_path / "dim"), pk=["k", "valid_from_us"])
    splits = [LOG[:3], LOG[3:6], LOG[6:]]
    for i, part in enumerate(splits):
        assert scd.scd2_apply_batch(
            spark,
            table,
            _changes(spark, part),
            batch_id=f"b{i}",
            key=["k"],
            order=["ts", "seq"],
            tracked=["attr"],
            delete_col="is_del",
        )
    got = table.read(spark).select(
        "k", "attr", "valid_from_us", "valid_to_us"
    )
    assert _rows_set(got) == _rows_set(_expected_us(spark))


def test_scd2_incremental_batch_replay_is_noop(spark, tmp_path):
    """Redelivering a whole micro-batch (same epoch id) commits nothing —
    the sink replay guard covers the SCD2 maintainer like every sink."""
    table = IcebergLite(str(tmp_path / "dim"), pk=["k", "valid_from_us"])
    first = _changes(spark, LOG[:5])
    assert scd.scd2_apply_batch(
        spark, table, first, "e0",
        key=["k"], order=["ts", "seq"], tracked=["attr"], delete_col="is_del",
    )
    v_before = table.current_version()
    assert not scd.scd2_apply_batch(
        spark, table, first, "e0",
        key=["k"], order=["ts", "seq"], tracked=["attr"], delete_col="is_del",
    )
    assert table.current_version() == v_before


def test_scd2_cross_batch_noop_extends_interval(spark, tmp_path):
    """A batch whose only change repeats the open attrs mints no version
    and leaves the open interval open."""
    table = IcebergLite(str(tmp_path / "dim"), pk=["k", "valid_from_us"])
    scd.scd2_apply_batch(
        spark, table, _changes(spark, [("a", 1, 1, "x", False)]), "e0",
        key=["k"], order=["ts", "seq"], tracked=["attr"], delete_col="is_del",
    )
    scd.scd2_apply_batch(
        spark, table, _changes(spark, [("a", 2, 5, "x", False)]), "e1",
        key=["k"], order=["ts", "seq"], tracked=["attr"], delete_col="is_del",
    )
    rows = table.read(spark).collect()
    assert len(rows) == 1
    assert rows[0]["valid_from_us"] == int(_ts(1).replace(
        tzinfo=dt.timezone.utc).timestamp() * 1_000_000)
    assert rows[0]["valid_to_us"] is None
