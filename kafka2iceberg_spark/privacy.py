"""Right-to-be-forgotten: entity erasure across every table of a store.

A transcript warehouse holds one user's data in many tables (raw turns,
session summaries, pair tables, metrics side tables); a deletion request
must scrub ALL of them, survive crashes mid-way, and actually erase —
Iceberg-style time travel keeps deleted rows reachable until their
snapshots expire, a nuance most "DELETE and done" pipelines miss.

Built on the sink's CoW ``delete_range`` point-delete (manifest-stats
planning: disjoint files carried by reference, contained files dropped
metadata-only, only overlapping files rewritten — at 100 TB an
entity-clustered table erases a user by rewriting a handful of files).

Crash model: deletes run table-by-table under ONE shared ``forget_id``
replay guard per table — not atomic across tables, and deliberately so:
erasure is MONOTONE (a half-completed request leaves some tables already
scrubbed, which is strictly closer to compliance), and re-running the
same request heals to completion with committed tables as no-ops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = [
    "forget_entity",
    "pseudonymize",
]


def pseudonymize(
    df: DataFrame, cols: list[str], salt: str, id_len: int = 16
) -> DataFrame:
    """Keyed pseudonymization of identifier columns: every value is
    replaced by the stable surrogate ``md5(salt || ':' || value)`` (hex
    prefix). Same entity → same surrogate within a release, so joins,
    groupBys, and session keys keep working on the pseudonymized data; a
    different salt makes two releases unlinkable. NULL stays NULL (concat
    propagates it). Pure codegen'd column expressions — zero shuffle, and
    the surrogate is engine-portable (DuckDB replays it verbatim).

    This is the middle rung of the privacy ladder: redact_pii removes
    free-text identifiers, pseudonymize de-identifies the KEY columns
    while keeping the data analytically intact, forget_entity erases, and
    k/l/t audits grade what remains.
    """
    out = df
    for c in cols:
        out = out.withColumn(
            c,
            F.substring(
                F.md5(F.concat(F.lit(salt + ":"), F.col(c).cast("string"))),
                1,
                id_len,
            ),
        )
    return out


def forget_entity(
    spark: SparkSession,
    tables: dict,
    col: str,
    value,
    forget_id: str,
    expire: bool = False,
    keep_snapshots: int = 1,
) -> dict:
    """Erase every row with ``col == value`` from each named table.

    ``tables``: name → IcebergLite (each must carry ``col``). Per table:
    one replay-guarded CoW point delete (``delete_range(col, v, v)``),
    then — with ``expire=True`` — snapshot expiration down to
    ``keep_snapshots`` so the erased rows stop being time-travel
    reachable (TRUE erasure; without it the delete is only a logical
    tombstone until retention catches up). Returns per-table surgery
    counts ({} for replayed no-ops).
    """
    report = {}
    for name, table in tables.items():
        res = table.delete_range(
            spark, col, lo=value, hi=value,
            batch_id=f"forget:{forget_id}:{name}",
        )
        if expire:
            table.expire_snapshots(keep_last=keep_snapshots)
        report[name] = res or {}
    return report

