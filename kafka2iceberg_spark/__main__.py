"""spark-submit entry point (reference Kafka2IcebergApp.main analogue).

Run on a cluster:

    zip -r k2i.zip kafka2iceberg_spark
    spark-submit --py-files k2i.zip -m kafka2iceberg_spark ...   # or:
    spark-submit --py-files k2i.zip job.py k=v k=v ...

where job.py does ``from kafka2iceberg_spark.__main__ import main; main()``.
Accepts the reference's ``k=v`` argument style (ParamUtils.java:56-81):

    source-database=chat source-table=transcripts \
    broker.dir=/data/broker            # or kafka.bootstrap-server=...
    table.location=/warehouse/chat/transcripts \
    checkpoint.location=/ckpt/transcripts \
    local=true local.cores=8           # local run (T1, StreamUtils analogue)
    mode=availableNow|continuous       # availableNow drains then stops

Environment selection mirrors StreamUtils.getStreamEnv (local vs cluster,
StreamUtils.java:16-29): with ``local=true`` a local[#cores] master is set;
otherwise the master comes from spark-submit (cluster mode).
"""

from __future__ import annotations

import sys

from pyspark.sql import SparkSession

from .config import (
    KAFKA_BOOTSTRAP,
    KAFKA_TOPICS,
    enhance_config,
    parse_args,
    task_from_params,
)
from .pipeline import (
    file_broker_stream,
    kafka_stream,
    parsed_stream,
    start_append_sink,
    start_upsert_sink,
)
from .schema import transcript_task
from .sink import IcebergLite

_TRUE = {"true", "1", "yes"}


def _csv(params: dict[str, str], key: str) -> list[str]:
    """Comma-separated list param → stripped non-empty items."""
    return [x.strip() for x in params.get(key, "").split(",") if x.strip()]


def build_session(params: dict[str, str]) -> SparkSession:
    b = SparkSession.builder.appName(
        params.get("app.name", "kafka2iceberg_spark")
    )
    if params.get("local", "").lower() in _TRUE:
        b = b.master(f"local[{params.get('local.cores', '*')}]")
    b = (
        b.config(
            "spark.sql.shuffle.partitions",
            params.get("shuffle.partitions", "64"),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
    )
    if params.get("state.rocksdb", "true").lower() in _TRUE:
        b = b.config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
    return b.getOrCreate()


def main(argv: list[str] | None = None) -> None:
    params = enhance_config(parse_args(argv if argv is not None else sys.argv[1:]))
    spec = task_from_params(params) if any(
        k.startswith("fields.") for k in params
    ) else transcript_task(
        params.get("source-database", "chat"),
        params.get("source-table", "transcripts"),
    )
    spark = build_session(params)

    if "egress.dir" in params:
        # table-as-topic job: re-emit table.location's changelog as
        # Canal-JSON envelope files (no broker source involved) — the
        # reverse direction of every other mode
        from .egress import start_egress_sink
        from .table_stream import table_stream

        trigger = (
            {"availableNow": True}
            if params.get("mode", "availableNow") == "availableNow"
            else {
                "processingTime": params.get("trigger.interval", "10 seconds")
            }
        )
        q = start_egress_sink(
            table_stream(
                spark,
                params["table.location"],
                starting_version=int(
                    params.get("egress.starting-version", "0")
                ),
                changelog=True,
            ),
            params["egress.dir"],
            params.get("source-database", "chat"),
            spec.source_table,
            pk=spec.primary_keys,
            fields=[f.name for f in spec.ordered_fields],
            checkpoint=params["checkpoint.location"],
            trigger=trigger,
        )
        q.awaitTermination()
        return

    table = IcebergLite(
        params["table.location"],
        pk=spec.primary_keys,
        partition_field="ts" if "ts" in [f.name for f in spec.fields] else None,
    )

    if params.get("maintenance.run", "").lower() in _TRUE:
        # standalone table-maintenance job (Iceberg rewrite_data_files +
        # expire_snapshots + remove_orphan_files procedures analogue):
        # compact small files (optionally SORT/Z-order clustered), then
        # expire old snapshots. Runs against the table alone — no broker
        # source. Scheduling contract: the COMPACTION commit is CAS-
        # protected (a racing ingest commit surfaces as CommitConflict,
        # loudly), but EXPIRATION physically deletes files and must not
        # run concurrently with a live writer — schedule expire-keep runs
        # in the ingest job's maintenance.every-batches slot or while the
        # ingest job is stopped (sink.expire_snapshots docstring).
        rewritten = table.compact(
            spark,
            min_files_per_partition=int(
                params.get("maintenance.min-files", "2")
            ),
            sort_by=_csv(params, "maintenance.sort-by") or None,
            target_files=int(params.get("maintenance.target-files", "1")),
            zorder_by=_csv(params, "maintenance.zorder-by") or None,
        )
        report = {"partitions_rewritten": rewritten}
        if "maintenance.retention" in params:
            # event-time TTL from the standalone job: drop rows older than
            # (table max event time - interval). Cutoff derives from the
            # table's own data, not the wall clock, and the batch id
            # derives from the cutoff — re-running against unchanged data
            # replays as a no-op. The anchor is the poison-clamped
            # robust_event_max (p99 + 1h bound), so one committed bad
            # timestamp cannot age out the table; an empty/just-created
            # table records a no-op instead of failing the read.
            from .pipeline import _us_to_ts, robust_event_max
            from .windows import _interval_us

            ret_col = params.get("maintenance.retention-col", "ts")
            try:
                mx = robust_event_max(
                    table.read(spark), ret_col, 3_600_000_000
                )
            except FileNotFoundError:
                mx = None
                report["retention"] = "no-op (empty table)"
            if mx is not None:
                cutoff = int(mx) - _interval_us(
                    params["maintenance.retention"]
                )
                report["retention"] = table.delete_range(
                    spark,
                    ret_col,
                    hi=_us_to_ts(cutoff),
                    batch_id=f"retention:{cutoff}",
                ) or "replayed no-op"
        if "maintenance.expire-keep" in params:
            report["expired"] = table.expire_snapshots(
                keep_last=int(params["maintenance.expire-keep"])
            )
        print(f"maintenance: {report}")
        return

    # kafka_shaped: the raw stream carries offset/partition metadata
    # columns (real Kafka, or the fan-in twin that namespaces per-topic
    # partitions into the same shape)
    kafka_shaped = KAFKA_BOOTSTRAP in params or "fanin.dirs" in params
    if "fanin.dirs" in params:
        # multi-topic fan-in: N broker dirs -> one query / one checkpoint /
        # one exactly-once commit path, partition ids namespaced per topic
        from .pipeline import fanin_broker_stream

        raw = fanin_broker_stream(
            spark,
            _csv(params, "fanin.dirs"),
            int(params.get("broker.max-files-per-trigger", "8")),
            stride=int(params.get("fanin.partition-stride", "1024")),
        )
        parsed = parsed_stream(raw, spec, from_kafka=True)
    elif KAFKA_BOOTSTRAP in params:
        raw = kafka_stream(
            spark,
            params[KAFKA_BOOTSTRAP],
            params.get(KAFKA_TOPICS, spec.source_table),
            params.get("kafka.starting-offsets", "earliest"),
        )
        parsed = parsed_stream(raw, spec, from_kafka=True)
    else:
        raw = file_broker_stream(
            spark,
            params["broker.dir"],
            int(params.get("broker.max-files-per-trigger", "8")),
        )
        parsed = parsed_stream(raw, spec)

    checkpoint = params["checkpoint.location"]
    trigger = (
        {"availableNow": True}
        if params.get("mode", "availableNow") == "availableNow"
        else {"processingTime": params.get("trigger.interval", "10 seconds")}
    )
    if "backfill.parquet" in params:
        # kappa-style bootstrap: land a bounded historical dump (typed rows
        # parquet, spec columns) through the SAME idempotent commit path
        # before tailing the stream. Replay-guarded under a batch id
        # derived from the dump path, so restarting the job never
        # duplicates the backfill; stream rows arriving later for the same
        # PKs simply upsert over the historical image. Rows get synthetic
        # lineage (partition_idx -1, unique in-batch offsets) so real
        # broker lineage stays disjoint. Contract (the same one Iceberg's
        # upsert mode enforces by requiring partition fields ⊆ identifier
        # fields): the dump must carry the TRUE event ts per PK — upserts
        # are partition-scoped, so a PK whose backfill ts lands in a
        # different day-partition than its live stream ts would survive as
        # a second image instead of being replaced.
        if "fanout.tables" in params:
            raise ValueError("backfill.parquet is single-table; not fanout")
        import hashlib

        from pyspark.sql import functions as F

        from .schema import spark_type

        src_path = params["backfill.parquet"]
        # the batch id defaults to a path digest (restart-safe) —
        # REGENERATING the dump in place therefore replays as a no-op;
        # pass backfill.id=<new id> to land a new dump at the same path
        bid = "backfill:" + params.get(
            "backfill.id", hashlib.md5(src_path.encode()).hexdigest()[:12]
        )
        cur_v = table.current_version()
        already = str(bid) in table.committed_batches() if cur_v else False
        if cur_v and not already and params.get(
            "backfill.force", ""
        ).lower() not in _TRUE:
            # the table already holds live commits: an unconditional upsert
            # would overwrite NEWER live rows with the historical image
            # (upsert is last-commit-wins, no event-time comparison).
            # Bootstrap runs hit an empty table; anything else must opt in.
            raise ValueError(
                f"table at version {cur_v} already has data; backfilling "
                "now would overwrite newer live rows with the historical "
                "image — pass backfill.force=true to do it anyway"
            )
        hist = spark.read.parquet(src_path)
        cols = [
            F.col(f.name).cast(spark_type(f.type)).alias(f.name)
            for f in spec.ordered_fields
        ]
        cols += [
            F.monotonically_increasing_id().alias("offset"),
            F.lit(-1).cast("int").alias("partition_idx"),
            F.lit(False).alias("is_cdc_delete"),
        ]
        if spec.primary_keys:
            did = table.commit_upsert(hist.select(cols), bid)
        else:
            did = table.commit_append(hist.select(cols), bid)
        print(
            f"backfill: {'committed' if did else 'replayed no-op'}"
            f" ({src_path})"
        )

    apply_ddl = params.get("ddl.apply", "").lower() in _TRUE
    side_queries = []
    if "ddl.location" in params and not apply_ddl:
        # side query: isDdl=true envelopes -> queryable DDL event table
        # (closes the reference's P5 TODO, DeserializedSchema.java:114-116)
        from .pipeline import start_ddl_sink

        side_queries.append(
            start_ddl_sink(
                raw,
                IcebergLite(params["ddl.location"], pk=[], partition_field=None),
                params.get("ddl.checkpoint", checkpoint + "_ddl"),
                spec=spec,
                trigger=trigger,
                from_kafka=kafka_shaped,
            )
        )
    if "dlq.location" in params:
        # side query: malformed envelopes -> their own exactly-once table
        from .pipeline import start_corrupt_dlq

        side_queries.append(
            start_corrupt_dlq(
                raw,
                IcebergLite(params["dlq.location"], pk=[], partition_field=None),
                params.get("dlq.checkpoint", checkpoint + "_dlq"),
                trigger=trigger,
            )
        )
    if "fanout.tables" in params:
        # fanout.tables=transcripts,audit: one topic scan lands every
        # routed source table atomically (the reference runs one job per
        # (db, table) — N scans of the same topic)
        from .pipeline import start_fanout_sink
        from .transactions import CatalogLite

        names = [
            t.strip()
            for t in params["fanout.tables"].split(",")
            if t.strip()
        ]
        db = params.get("source-database", "chat")
        specs = [transcript_task(db, t) for t in names]
        cat = CatalogLite(params["table.location"])
        for name, fo_spec in zip(names, specs):
            cat.register(
                name,
                IcebergLite(
                    f"{params['table.location']}/{name}",
                    pk=fo_spec.primary_keys,
                ),
            )
        q = start_fanout_sink(
            raw,
            specs,
            cat,
            names,
            checkpoint,
            trigger=trigger,
            from_kafka=kafka_shaped,
        )
    elif apply_ddl:
        # ddl.apply=true: upstream ADD COLUMN and type-widening MODIFY
        # COLUMN statements evolve the task spec mid-stream (P5 fully
        # closed); the spec journal replays applied DDL on restart.
        # Unsupported DDL (narrowings, renames, mixed statements) lands
        # in ddl.location (if given) instead of being half-applied.
        from .pipeline import start_dynamic_sink

        if not spec.primary_keys:
            raise ValueError("ddl.apply requires primary keys (upsert sink)")
        q = start_dynamic_sink(
            raw,
            spec,
            table,
            checkpoint,
            params.get("ddl.spec-journal", checkpoint + "_spec.jsonl"),
            trigger=trigger,
            ddl_table=(
                IcebergLite(
                    params["ddl.location"], pk=[], partition_field=None
                )
                if "ddl.location" in params
                else None
            ),
            from_kafka=kafka_shaped,
        )
    elif spec.primary_keys:
        from .windows import _interval_us

        maint = params.get("maintenance.every-batches")
        q = start_upsert_sink(
            parsed,
            table,
            checkpoint,
            trigger=trigger,
            maintenance_every=int(maint) if maint else None,
            keep_snapshots=int(params.get("maintenance.keep-snapshots", "50")),
            # maintenance.sort-by=conv_id,turn_idx switches compaction to
            # the SORT/clustering strategy (file-skipping inside partitions)
            compact_sort_by=(
                [
                    c.strip()
                    for c in params["maintenance.sort-by"].split(",")
                    if c.strip()
                ]
                if params.get("maintenance.sort-by")
                else None
            ),
            compact_target_files=int(
                params.get("maintenance.target-files", "1")
            ),
            # upsert.strategy=mor switches per-batch commits to
            # merge-on-read (O(batch) appends + equality-delete files);
            # maintenance then also materializes outstanding deletes
            strategy=params.get("upsert.strategy", "cow"),
            # retention.interval="30 days": event-time TTL — rows older
            # than (max batch event time - interval) age out at each
            # maintenance tick via replay-guarded manifest surgery
            retention_us=(
                _interval_us(params["retention.interval"])
                if "retention.interval" in params
                else None
            ),
        )
    else:
        q = start_append_sink(parsed, table, checkpoint, trigger=trigger)
    q.awaitTermination()
    for sq in side_queries:
        # drain side queries too: in availableNow mode the main sink
        # finishing must not exit the process before the DLQ/DDL streams
        # have processed every envelope
        sq.awaitTermination()


if __name__ == "__main__":
    main()
