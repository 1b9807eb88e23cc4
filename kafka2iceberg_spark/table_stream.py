"""IcebergLite table-as-stream: a Spark 4 Python streaming data source.

Consume a committed table INCREMENTALLY as a Structured Streaming source —
Iceberg's incremental append scan as a first-class ``readStream`` format.
This is what lets pipelines CHAIN without a broker in the middle: the
ingest job commits micro-batches to a table, and any number of downstream
jobs (sessionization, CEP, enrichment) stream from the table with their
own checkpoints, each resuming exactly where it left off.

Scale/semantics notes:
- Offsets are snapshot VERSIONS (json ``{"version": N}``), checkpointed by
  Spark; the snapshot chain is immutable, so a (start, end] range always
  resolves to the same file set — deterministic replay, exactly-once when
  paired with an idempotent sink.
- One input partition per added data file: read parallelism tracks the
  producer's file layout; executors read parquet via pyarrow and emit
  Arrow record batches (vectorized end to end, zero per-row Python).
- Rows are conformed to the table schema AS OF the range end (add-column
  null-fill + integer/float widening), so a consumer catching up across
  a schema change sees one coherent type.
- Append-scan semantics, like Iceberg's incremental read: compaction /
  materialize snapshots are skipped (their files are rewrites of
  already-consumed rows). MOR upsert commits stream exactly (their data
  files ARE the batch's rows); CoW upsert commits are REFUSED with a
  clear error (their files rewrite already-streamed rows — Iceberg's
  streaming read refuses overwrite snapshots for the same reason).
  Equality-DELETE events do not stream in the append scan; a consumer
  needing full CDC semantics opens the stream with ``changelog=True``.
- Snapshot expiration must retain at least the consumer's lag (same
  operational rule as Iceberg streaming reads).

No counterpart in the reference (its Flink job is MQ→Iceberg one-way,
Kafka2IcebergApp.java:62-113); this closes the loop Spark-side.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)

from .sink import IcebergLite

FORMAT_NAME = "iceberglite"


#: Changelog metadata columns (Iceberg changelog-scan analogue).
CHANGE_TYPE_COL = "_change_type"
COMMIT_VERSION_COL = "_commit_version"


class _FilesPartition(InputPartition):
    def __init__(
        self,
        path: str,
        schema_json: str,
        change_type: str | None = None,
        version: int | None = None,
    ) -> None:
        self.path = path
        self.schema_json = schema_json
        self.change_type = change_type  # None = plain append scan
        self.version = version


def _arrow_schema(spark_schema: T.StructType):
    from pyspark.sql.pandas.types import to_arrow_schema

    return to_arrow_schema(spark_schema)


def _conform_arrow_table(table, target):
    """Null-fill missing columns and cast (widening) to the target arrow
    schema — executor-side twin of IcebergLite._conform."""
    import pyarrow as pa

    cols = []
    for fld in target:
        if fld.name in table.column_names:
            cols.append(table.column(fld.name).cast(fld.type))
        else:
            cols.append(pa.nulls(len(table), type=fld.type))
    return pa.Table.from_arrays(cols, schema=target)


class _TableStreamReader(DataSourceStreamReader):
    def __init__(self, location: str, schema: T.StructType,
                 starting_version: int | None,
                 changelog: bool = False) -> None:
        self._table = IcebergLite(location, pk=[])
        self._schema = schema
        self._start = starting_version
        self._changelog = changelog

    def initialOffset(self) -> dict:
        if self._start is not None:
            return {"version": int(self._start)}
        # default "latest": stream only commits made after the query starts
        v = self._head()
        return {"version": int(v if v is not None else 0)}

    def latestOffset(self) -> dict:
        v = self._head()
        return {"version": int(v if v is not None else 0)}

    def _head(self) -> int | None:
        """MAIN's head, not the metadata head: commits staged on a WAP/audit
        branch must not stream to consumers until they are fast-forwarded
        onto main."""
        if self._table.current_version() is None:
            return None
        return self._table.head_version("main")

    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        lo, hi = int(start["version"]), int(end["version"])
        if hi <= lo:
            return []
        # CoW MERGE rewrites whole partitions, so its "added files" hold
        # already-delivered rows — an append scan over them double-counts.
        # Refuse loudly, like Iceberg's streaming read refuses overwrite
        # snapshots. Append and MOR commits are true row-adds and stream
        # exactly. (Snapshots older than commit-kind tagging pass through —
        # legacy tables keep the plain append-scan behavior.)
        for v in self._table.lineage_versions(lo, hi):
            s = self._table.snapshot_at(v)
            if s.get("commit_kind") in (
                "upsert-cow", "overwrite", "overwrite-dynamic",
                "delete", "update",
            ):
                raise ValueError(
                    f"snapshot v{v} is a {s['commit_kind']} commit: its "
                    "files rewrite/restate already-streamed rows. Stream "
                    "from tables written with strategy='mor' (or append "
                    "tables), or consume this table in batch."
                )
        # schema AS OF the range end — evolution lands atomically with the
        # batch that introduced it
        snap = self._table.snapshot_at(hi)
        schema = self._table.table_schema(snap) or self._schema
        schema = T.StructType(
            [f for f in schema.fields
             if f.name not in (CHANGE_TYPE_COL, COMMIT_VERSION_COL)]
        )
        sj = json.dumps(schema.jsonValue())
        if not self._changelog:
            return [
                _FilesPartition(p, sj)
                for p in self._table.added_files_between(lo, hi)
            ]
        parts = [
            _FilesPartition(p, sj, "insert", v)
            for p, v in self._table.added_files_with_versions(lo, hi)
        ]
        parts += [
            _FilesPartition(p, sj, "delete", v)
            for p, v in self._table.added_delete_files_with_versions(lo, hi)
        ]
        return parts

    def read(self, partition: _FilesPartition):
        import pyarrow as pa
        import pyarrow.parquet as pq

        target = _arrow_schema(
            T.StructType.fromJson(json.loads(partition.schema_json))
        )
        pf = pq.ParquetFile(partition.path)
        want = [n for n in target.names if n in pf.schema_arrow.names]
        for batch in pf.iter_batches(columns=want):
            # equality-delete files hold only PK columns; the conform step
            # null-fills the rest — a changelog DELETE event is the key
            out = _conform_arrow_table(pa.Table.from_batches([batch]), target)
            if partition.change_type is not None:
                n = len(out)
                out = out.append_column(
                    CHANGE_TYPE_COL,
                    pa.array([partition.change_type] * n, pa.string()),
                ).append_column(
                    COMMIT_VERSION_COL,
                    pa.array([partition.version] * n, pa.int64()),
                )
            yield from out.to_batches()

    def commit(self, end: dict) -> None:
        pass  # progress lives in Spark's offset checkpoint


class IcebergLiteDataSource(DataSource):
    """``spark.readStream.format("iceberglite").option("location", ...)``.

    Streaming only; a batch ``spark.read`` of a table is
    ``IcebergLite.read``. Options:
      location          table root (required)
      startingVersion   first snapshot version already CONSUMED (exclusive
                        lower bound); 0 replays the table from creation.
                        Default: the current version at stream start
                        ("latest", like Kafka's default).
      changelog         "true" → CDC events (_change_type/_commit_version)
    """

    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def _location(self) -> str:
        loc = self.options.get("location") or self.options.get("path")
        if not loc:
            raise ValueError("iceberglite source requires option 'location'")
        return loc

    def _changelog(self) -> bool:
        return str(self.options.get("changelog", "false")).lower() == "true"

    def schema(self) -> T.StructType:
        schema = IcebergLite(self._location(), pk=[]).table_schema()
        if schema is None:
            hint = os.path.join(self._location(), "_schema.json")
            if not os.path.exists(hint):
                raise ValueError(
                    f"table at {self._location()} has no committed schema yet"
                )
            with open(hint) as fh:
                schema = T.StructType.fromJson(json.load(fh))
        if self._changelog():
            schema = T.StructType(
                list(schema.fields)
                + [
                    T.StructField(CHANGE_TYPE_COL, T.StringType(), False),
                    T.StructField(COMMIT_VERSION_COL, T.LongType(), False),
                ]
            )
        return schema

    def streamReader(self, schema: T.StructType) -> _TableStreamReader:
        sv = self.options.get("startingversion")
        return _TableStreamReader(
            self._location(),
            schema,
            int(sv) if sv is not None else None,
            changelog=self._changelog(),
        )


def table_stream(
    spark: SparkSession,
    location: str,
    starting_version: int | None = None,
    changelog: bool = False,
) -> DataFrame:
    """Convenience: register the source (idempotent) and open the stream.

    ``changelog=True`` emits CDC events instead of a plain append scan
    (Iceberg changelog-scan analogue): every row carries ``_change_type``
    ('insert' | 'delete') and ``_commit_version``; DELETE events are the
    equality-delete keys with non-key columns NULL. A MOR upsert appears
    as delete+insert of the same PK at the same version — the standard
    upsert changelog encoding."""
    spark.dataSource.register(IcebergLiteDataSource)
    reader = spark.readStream.format(FORMAT_NAME).option("location", location)
    if starting_version is not None:
        reader = reader.option("startingVersion", str(starting_version))
    if changelog:
        reader = reader.option("changelog", "true")
    return reader.load()

