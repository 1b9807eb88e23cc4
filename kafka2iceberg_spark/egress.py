"""CDC egress: a table's changelog re-emitted as Canal-JSON envelopes.

The reference is strictly one-directional (Kafka → Iceberg,
Kafka2IcebergApp.java:60-113); its output tables can only be shared by
granting catalog access. This module closes the loop: any IcebergLite
table's change stream (table_stream changelog) is re-encoded into the
SAME Canal-JSON envelope shape the ingest layer consumes
(DeserializedSchemaTest.java:39 sample; gen.envelopes parity) — so a
downstream consumer, including another instance of THIS pipeline, can
subscribe to a table as if it were a CDC topic. That is the standard
"outbox / data-sharing" pattern: the table is the source of truth, the
envelope stream is its replication feed.

Spark-first: netting, string-encoding, and envelope assembly are pure
column expressions (`to_json` over a struct); the only shuffle is the
per-(pk, version) netting aggregate — O(changed rows), never O(table).

Delivery contract is Kafka's: at-least-once. A replayed egress batch
re-emits its envelopes (file writes are not transactional), and that is
fine BY CONSTRUCTION because the ingest side is PK-upsert idempotent
with batch-id commit guards — the same reason the reference tolerates
Canal redelivery. Offsets are synthesized monotone per partition
(version·10^9 + rank within the version) so downstream lineage stays
ordered across egress restarts and stable under replay.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .pipeline import _start_foreach_batch
from .table_stream import CHANGE_TYPE_COL, COMMIT_VERSION_COL

__all__ = ["changelog_envelopes", "start_egress_sink"]


def _str_cell(col, dtype: str):
    """Canal string encoding: timestamps in the P10 pattern, NULL → the
    textual "null" the parser re-nulls (P8), everything else CAST."""
    if dtype.startswith("timestamp"):
        s = F.date_format(col, "yyyy-MM-dd HH:mm:ss")
    elif dtype == "date":
        s = F.date_format(col, "yyyy-MM-dd")
    else:
        s = col.cast("string")
    return F.coalesce(s, F.lit("null"))


def changelog_envelopes(
    changes: DataFrame,
    database: str,
    table: str,
    pk: list[str],
    fields: list[str],
    n_partitions: int = 4,
) -> DataFrame:
    """Changelog events → one envelope string per net row change.

    Netting per (pk, commit): a MOR upsert surfaces as delete+insert at
    the same version — that pair is ONE logical change, emitted as an
    INSERT envelope carrying the new image (PK-upsert downstream makes
    INSERT/UPDATE indistinguishable, as in the reference's sink); a
    commit with only a delete event emits a DELETE envelope carrying the
    PK columns. Envelope event time is the commit version on the
    version-time clock (`ts = version·1000 ms`, the CDC-native choice —
    the changelog carries no event time for deletes).

    Output: (value: string, partition: int, offset: long) — the broker
    triple. Partition = pk-hash mod ``n_partitions`` (keyed-producer
    layout, same keys always same partition); offset = version·10^9 + rank
    within (partition, version), monotone across egress batches and a
    pure function of the change itself (replay-stable).
    """
    is_ins = F.col(CHANGE_TYPE_COL) == F.lit("insert")
    dtypes = dict(changes.dtypes)
    net = changes.groupBy(*pk, COMMIT_VERSION_COL).agg(
        F.max(
            F.when(is_ins, F.struct(*[F.col(c) for c in fields]))
        ).alias("_img"),
        F.max(is_ins.cast("int")).alias("_has_ins"),
    )
    data_map = F.create_map(
        *[
            x
            for c in fields
            for x in (
                F.lit(c),
                F.when(
                    F.col("_has_ins") == 1,
                    _str_cell(F.col(f"_img.{c}"), dtypes[c]),
                ).otherwise(
                    # DELETE image: PK columns only, rest textual null
                    _str_cell(F.col(c), dtypes[c])
                    if c in pk
                    else F.lit("null")
                ),
            )
        ]
    )
    part = F.pmod(
        F.hash(*[F.col(c) for c in pk]), F.lit(n_partitions)
    ).cast("int")
    # rank WITHIN (partition, version): a version's events are atomic in
    # the changelog, so each change's offset is a pure function of its
    # version + pk — stable across batch composition and checkpoint
    # rebuilds (a batch-spanning rank would renumber on replay and break
    # offset-based downstream dedup). 10^9 slots per (version, partition)
    # before collision with the next version's range.
    w = Window.partitionBy(part, F.col(COMMIT_VERSION_COL)).orderBy(
        *[F.col(c) for c in pk]
    )
    off = (
        F.col(COMMIT_VERSION_COL).cast("long") * F.lit(1_000_000_000)
        + F.row_number().over(w)
    ).cast("long")
    ts_ms = F.col(COMMIT_VERSION_COL).cast("long") * F.lit(1000)
    env = F.struct(
        F.array(data_map).alias("data"),
        F.lit(database).alias("database"),
        F.lit(table).alias("table"),
        F.when(F.col("_has_ins") == 1, F.lit("INSERT"))
        .otherwise(F.lit("DELETE"))
        .alias("type"),
        F.lit(False).alias("isDdl"),
        ts_ms.alias("ts"),
        (ts_ms - F.lit(500)).alias("es"),
        F.lit(None).cast("string").alias("old"),
        F.array(*[F.lit(c) for c in pk]).alias("pkNames"),
        F.lit("").alias("sql"),
        off.alias("_offset"),
        part.alias("_partition"),
    )
    return net.select(
        # ignoreNullFields=false keeps the Canal "old": null slot
        F.to_json(env, {"ignoreNullFields": "false"}).alias("value"),
        part.alias("partition"),
        off.alias("offset"),
    )


def start_egress_sink(
    changelog: DataFrame,
    out_dir: str,
    database: str,
    table: str,
    pk: list[str],
    fields: list[str],
    checkpoint: str,
    trigger: dict | None = None,
    n_partitions: int = 4,
):
    """Streaming egress: each changelog micro-batch lands as one JSONL
    broker file in ``out_dir`` (the sandbox Kafka-producer analogue; on a
    real cluster the same ``value`` column feeds
    ``writeStream.format("kafka")`` unchanged). At-least-once: a
    replayed batch re-emits — downstream ingest is PK-upsert idempotent,
    which is exactly the Canal/Kafka delivery contract the reference
    already assumes."""
    import os

    def commit(batch_df: DataFrame, batch_id: int) -> None:
        envs = changelog_envelopes(
            batch_df, database, table, pk, fields, n_partitions
        )
        # distributed write — nothing collects to the driver and no
        # global sort: one shuffle on the broker partition key, order
        # within each partition only (Kafka's own contract — order is
        # per-partition, never global). The text writer's
        # _temporary→rename protocol keeps readers off partial files. On
        # a real cluster this whole branch is envs.write.format("kafka")
        # with the same value column.
        os.makedirs(out_dir, exist_ok=True)
        (
            envs.repartition(n_partitions, F.col("partition"))
            .sortWithinPartitions("partition", "offset")
            .select("value")
            .write.mode("append")
            .format("text")
            .save(out_dir)
        )

    return _start_foreach_batch(
        changelog, commit, checkpoint, "append", trigger
    )
