"""Exactly-once table sink with Iceberg commit semantics (operators K1-K3).

The reference commits to Iceberg via Flink's checkpoint-coordinated
``FlinkSink`` — append when no PK, equality-delete upsert when a PK exists
(Kafka2IcebergApp.java:86-113). Spark's equivalent recipe is
``foreachBatch`` + idempotent MERGE guarded by a batch-id recorded in the
table's snapshot metadata, because foreachBatch alone is at-least-once.

This container ships no iceberg-spark-runtime jar, so the module implements
the same commit contract over plain parquet — ``IcebergLite``:

  * immutable data files under ``data/``; files are inert until referenced by
    a committed snapshot (Iceberg's actual visibility model),
  * an atomic snapshot log under ``metadata/`` (write-tmp + rename, then an
    atomically-replaced version hint — the Hadoop-catalog commit protocol);
    ``IcebergLite._commit`` is the only code that writes a snapshot,
  * per-partition manifests (file list + row counts) in every snapshot,
  * per-snapshot lineage: batch id, per-(kafka)partition offset ranges, row
    counts — the north_rule's "per-partition manifest/lineage metadata",
  * idempotent replay: a batch id found in the snapshot log is skipped (K3),
  * MERGE as copy-on-write on *affected date partitions only* — the batch's
    distinct days are rewritten, untouched partitions' files carry forward
    unchanged, exactly like Iceberg CoW MERGE at 100 TB.

When a real Iceberg catalog is on the classpath, ``have_iceberg()`` is true
and ``merge_into_iceberg`` issues the equivalent SQL MERGE — the rest of the
pipeline is unchanged.

Upsert semantics (K2): last-writer-wins per PK ordered by (ts_ms, offset);
DELETE events (is_cdc_delete) remove the key — the behavior of the
reference's equality-delete upsert fed by Canal ordered per-key streams.
In-batch dedup on (partition_idx, offset) gives replay provenance (K3,
task.json:71-82).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import uuid
from contextlib import contextmanager

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from . import partition_spec as PS

class CommitConflict(RuntimeError):
    """Another writer committed the same snapshot version first (optimistic
    concurrency). Refresh to the current snapshot and retry the commit."""


class SchemaEvolutionError(TypeError):
    """A batch column's type is incompatible with the table's committed
    schema and no widening promotion exists (e.g. string -> int). Raised at
    COMMIT time — never deferred to a read-time parquet decode failure."""


#: Widening promotion lattice (Iceberg-style type evolution, matching what
#: Spark 4's vectorized parquet reader can promote when handed an explicit
#: wider read schema — SPARK-40876): integral chain byte<short<int<long,
#: float<double, and {byte,short,int}->{float,double}. long->double is
#: deliberately NOT allowed (lossy past 2^53, and Iceberg forbids it).
_INT_CHAIN = ["byte", "short", "integer", "long"]
_FLOAT_CHAIN = ["float", "double"]


def _widen_type(old: T.DataType, new: T.DataType, path: str) -> T.DataType:
    """Least upper bound of two types in the widening lattice, or raise."""
    if old == new:
        return old
    on, nn = old.typeName(), new.typeName()
    if on in _INT_CHAIN and nn in _INT_CHAIN:
        return (
            old if _INT_CHAIN.index(on) >= _INT_CHAIN.index(nn) else new
        )
    if {on, nn} <= set(_FLOAT_CHAIN):
        return T.DoubleType()
    # small-integral + float family -> double (int->float would be lossy)
    ints, floats = set(_INT_CHAIN[:3]), set(_FLOAT_CHAIN)
    if (on in ints and nn in floats) or (on in floats and nn in ints):
        return T.DoubleType()
    if isinstance(old, T.StructType) and isinstance(new, T.StructType):
        return widen_schema(old, new, path)
    if isinstance(old, T.ArrayType) and isinstance(new, T.ArrayType):
        return T.ArrayType(
            _widen_type(old.elementType, new.elementType, path + "[]"),
            old.containsNull or new.containsNull,
        )
    if isinstance(old, T.MapType) and isinstance(new, T.MapType):
        if old.keyType != new.keyType:
            raise SchemaEvolutionError(
                f"{path}: map key type {old.keyType.simpleString()} -> "
                f"{new.keyType.simpleString()} is not a widening promotion"
            )
        return T.MapType(
            old.keyType,
            _widen_type(old.valueType, new.valueType, path + "{}"),
            old.valueContainsNull or new.valueContainsNull,
        )
    raise SchemaEvolutionError(
        f"{path}: {old.simpleString()} -> {new.simpleString()} is not a"
        " widening promotion (allowed: byte<short<int<long, float<double,"
        " small-int->double, add-column)"
    )


def widen_schema(
    old: T.StructType, new: T.StructType, path: str = ""
) -> T.StructType:
    """Reconcile a batch schema against the table schema: the supremum in
    the widening lattice. Table field order is preserved; net-new batch
    fields are appended (Iceberg add-column). A field missing from the
    batch stays (null-filled at read), so columns never disappear."""
    new_by_name = {f.name: f for f in new.fields}
    fields: list[T.StructField] = []
    for f in old.fields:
        nf = new_by_name.pop(f.name, None)
        if nf is None:
            fields.append(
                T.StructField(f.name, f.dataType, True, f.metadata)
            )
        else:
            fields.append(
                T.StructField(
                    f.name,
                    _widen_type(
                        f.dataType, nf.dataType, f"{path}.{f.name}".lstrip(".")
                    ),
                    f.nullable or nf.nullable,
                    f.metadata,
                )
            )
    for f in new.fields:  # preserve batch-side order for appended columns
        if f.name in new_by_name:
            fields.append(T.StructField(f.name, f.dataType, True, f.metadata))
    return T.StructType(fields)


#: Partition value for rows whose partition source column is NULL. The same
#: string Spark/Hive use for null partition directories, so the collected
#: partition values, the manifest keys, and the on-disk directory names all
#: agree — a null-ts upsert/delete hits the same partition it was written to.
NULL_PARTITION = "__HIVE_DEFAULT_PARTITION__"


#: Stage directories are named ``s{seq:08d}-...`` — the commit's data
#: sequence number, recoverable per-row from the file path alone.
_SEQ_RE = r"/s(\d{8})-"


def _file_seq_col():
    """Row's data sequence number from its file path (codegen'd, no joins).
    Files written before sequencing existed carry no marker → -1, i.e.
    older than every sequenced commit — exactly the right MOR semantics."""
    return F.coalesce(
        F.nullif(
            F.regexp_extract(F.input_file_name(), _SEQ_RE, 1), F.lit("")
        ).cast("long"),
        F.lit(-1),
    )


def have_iceberg(spark: SparkSession) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(  # noqa: SLF001
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


def merge_sql(table: str, pk: list[str], source_view: str = "_m_src") -> str:
    """The MERGE statement for the real-Iceberg upsert path, as text.

    Pure function so the statement's contract (PK equi-join, delete-wins on
    is_cdc_delete, update-else-insert — the semantics of the reference's
    equality-delete upsert, Kafka2IcebergApp.java:95-113) is testable
    without an Iceberg runtime jar on the classpath."""
    if not pk:
        raise ValueError("MERGE requires at least one primary-key column")
    on = " AND ".join(f"t.{c} = s.{c}" for c in pk)
    return (
        f"MERGE INTO {table} t USING {source_view} s ON {on}\n"
        "WHEN MATCHED AND s.is_cdc_delete THEN DELETE\n"
        "WHEN MATCHED THEN UPDATE SET *\n"
        "WHEN NOT MATCHED AND NOT s.is_cdc_delete THEN INSERT *"
    )


def merge_into_iceberg(
    spark: SparkSession, table: str, batch: DataFrame, pk: list[str]
) -> None:
    """Real-Iceberg path: SQL MERGE keyed on the PK (used when the runtime
    jar is present; functionally identical to IcebergLite.commit_upsert)."""
    batch.createOrReplaceTempView("_m_src")
    spark.sql(merge_sql(table, pk))


def dedup_batch(
    df: DataFrame,
    pk: list[str],
    order_cols: tuple[str, ...] = ("ts_ms", "offset"),
) -> DataFrame:
    """K3 in-batch dedup: keep the last writer per PK — one window, one
    shuffle on the PK.

    A replayed record carries the same PK as its original, so the window
    collapses replays too; no separate ``(partition_idx, offset)`` drop is
    needed. One would be wrong: a Canal envelope batches several rows in
    ``data[]`` (P6) and every row exploded from it shares the envelope's
    offset, so dropping on the offset keeps one row of the envelope.

    Ordering uses whichever of ``order_cols`` exist (offset is per-Kafka-
    partition monotonic and the producer keys by conv_id, so offset order IS
    per-key arrival order — the reference's upsert relies on the same fact).
    With no order column at all (tables not fed from a partitioned log),
    in-batch PK collisions collapse arbitrarily (callers should send one
    row per PK per batch). Either way the output is unique per PK.
    """
    avail = [c for c in order_cols if c in df.columns]
    if not avail:
        return df.dropDuplicates(list(pk))
    w = Window.partitionBy(*pk).orderBy(
        *[F.col(c).desc_nulls_last() for c in avail]
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


class IcebergLite:
    """Minimal Iceberg-semantics table: snapshot log + manifests + lineage."""

    def __init__(
        self,
        location: str,
        pk: list[str],
        partition_field: str | None = "ts",  # partitioned by days(ts)
        partition_spec: list[str] | None = None,  # e.g. ["day(ts)", "bucket(16, conv_id)"]
    ) -> None:
        self.location = location
        self.pk = list(pk)
        self.partition_field = partition_field
        # explicit hidden-partitioning spec (Iceberg transforms); None keeps
        # the legacy days(partition_field) layout as spec 0
        self._ctor_spec = (
            PS.parse_spec(partition_spec) if partition_spec else None
        )
        self.data_dir = os.path.join(location, "data")
        self.meta_dir = os.path.join(location, "metadata")
        self.manifest_dir = os.path.join(self.meta_dir, "manifests")
        # (version the cache is valid through, batch-id set) — seeded by one
        # walk, then maintained incrementally; a commit reads only the
        # snapshots it hasn't seen instead of re-parsing v0..vN every time.
        self._batch_cache: tuple[int, set[str]] | None = None
        self._manifest_cache: dict[str, list[dict]] = {}

    # -- metadata -----------------------------------------------------------

    def create(self) -> None:
        os.makedirs(self.data_dir, exist_ok=True)
        os.makedirs(self.meta_dir, exist_ok=True)
        if self.current_version() is None:
            specs = {}
            if self._ctor_spec:
                # explicit hidden-partitioning spec: registered as spec 1
                # (spec 0 stays the legacy bare-value day layout, so the
                # two can never produce colliding partition values)
                specs = {
                    "partition_specs": {"1": PS.spec_to_json(self._ctor_spec)},
                    "default_spec_id": 1,
                }
            try:
                self._commit(
                    0, None, {"main": {"version": 0, "type": "branch"}},
                    "create", ref="main", **specs,
                )
            except CommitConflict:
                pass  # another writer created the (identical, empty) v0

    def _hint_path(self) -> str:
        return os.path.join(self.meta_dir, "version-hint.text")

    def current_version(self) -> int | None:
        """Newest committed version: the hint, probed FORWARD.

        A snapshot file is durable and complete the moment it is linked;
        the hint is a best-effort pointer written after. A writer crashing
        between link and hint (or a racing writer's hint landing late)
        leaves a claimed v{n+1} the hint doesn't know — probing forward
        adopts it, so a restart sees the commit, its batch id re-arms the
        replay guard, and retries build the NEXT version instead of
        raising CommitConflict forever (the Hadoop-catalog recovery rule)."""
        try:
            with open(self._hint_path()) as fh:
                v = int(fh.read().strip())
        except (FileNotFoundError, ValueError):
            # lost/corrupt hint: recover from the max existing v*.json.
            # expire_snapshots deletes v0, so assuming the chain starts at
            # v0 would mint a fresh empty table and orphan every retained
            # snapshot (and the replay guard) behind the v1..vN hole.
            try:
                versions = [
                    int(f[1:-5])
                    for f in os.listdir(self.meta_dir)
                    if f.startswith("v")
                    and f.endswith(".json")
                    and f[1:-5].isdigit()
                ]
            except FileNotFoundError:
                return None
            if not versions:
                return None
            v = max(versions)
        while os.path.exists(os.path.join(self.meta_dir, f"v{v + 1}.json")):
            v += 1
        return v

    def metadata_head(self) -> dict:
        """Newest committed snapshot file — the table-metadata head. With
        branches in play this may be a branch/tag commit; content readers
        want :meth:`current_snapshot` (the ``main`` ref) instead."""
        v = self.current_version()
        if v is None:
            raise FileNotFoundError(f"no committed snapshot at {self.location}")
        with open(os.path.join(self.meta_dir, f"v{v}.json")) as fh:
            return json.load(fh)

    def refs(self, meta: dict | None = None) -> dict[str, dict]:
        """Named refs (Iceberg branch/tag registry): name -> {version,
        type}. Refs ride every snapshot like the partition-spec registry;
        legacy linear tables resolve to {main -> newest}."""
        if meta is None:
            meta = self.metadata_head()
        refs = meta.get("refs") or {
            "main": {"version": meta["version"], "type": "branch"}
        }
        return {k: dict(v) for k, v in refs.items()}

    def current_snapshot(self) -> dict:
        """Head CONTENT snapshot of the ``main`` branch (what readers,
        compaction, and incremental consumers follow). Equal to the
        metadata head unless a branch/tag commit is newer."""
        meta = self.metadata_head()
        mv = self.refs(meta)["main"]["version"]
        return meta if mv == meta["version"] else self.snapshot_at(mv)

    def head_snapshot(self, branch: str = "main") -> dict:
        """Head content snapshot of a named branch or tag."""
        meta = self.metadata_head()
        refs = self.refs(meta)
        if branch not in refs:
            raise KeyError(
                f"no ref {branch!r} at {self.location}; have {sorted(refs)}"
            )
        ev = refs[branch]["version"]
        return meta if ev == meta["version"] else self.snapshot_at(ev)

    def head_version(self, branch: str = "main") -> int | None:
        """Version the named ref points at (None for an uncreated table).
        Incremental consumers track THIS, not ``current_version`` — branch
        commits advance the metadata head but not ``main``."""
        if self.current_version() is None:
            return None
        refs = self.refs()
        if branch not in refs:
            raise KeyError(
                f"no ref {branch!r} at {self.location}; have {sorted(refs)}"
            )
        return refs[branch]["version"]

    def _commit_meta(self, branch: str = "main") -> tuple[int, dict, dict]:
        """Allocate (new_version, content_base, refs_after) for a commit on
        ``branch``. Version numbers are table-global (every snapshot of
        every branch gets a unique, monotonically increasing number — the
        Iceberg sequence-number rule), so concurrent writers on ANY refs
        collide on the same next version and optimistic concurrency keeps
        working. A commit to an unknown branch forks it from main's head.

        The partition-spec registry is table-global, so a base older than
        the metadata head is handed back carrying the HEAD's registry —
        ``_commit`` then carries it forward without re-reading the head."""
        meta = self.metadata_head()
        refs = self.refs(meta)
        entry = refs.get(branch)
        if entry is None:
            entry = {"version": refs["main"]["version"], "type": "branch"}
        if entry.get("type") != "branch":
            raise ValueError(f"cannot commit to {branch!r}: it is a tag")
        base = (
            meta
            if entry["version"] == meta["version"]
            else {
                **self.snapshot_at(entry["version"]),
                "partition_specs": meta.get("partition_specs") or {},
                "default_spec_id": meta.get("default_spec_id", 0),
            }
        )
        v_new = meta["version"] + 1
        refs[branch] = {"version": v_new, "type": "branch"}
        return v_new, base, refs

    def _commit(
        self,
        v_new: int,
        base: dict | None,
        refs: dict,
        kind: str,
        *,
        ref: str,
        batch_id: str | None = None,
        manifests: dict | None = None,
        delete_manifests: list | None = None,
        schema: dict | None = None,
        lineage=(),
        **extra,
    ) -> None:
        """The one commit path: builds the snapshot and claims ``v_new``.

        Content (``manifests``, ``delete_manifests``, ``schema``) and the
        partition-spec registry carry forward from ``base`` — the content
        head ``_commit_meta`` returned, or None for a table's v0 — unless
        the caller overrides them; ``extra`` adds or replaces fields
        (the spec registry on evolution, informational lists on
        maintenance commits). Every snapshot therefore has the same keys."""
        base = base or {}
        self._write_snapshot(
            {
                "snapshot_id": uuid.uuid4().hex,
                "version": v_new,
                "parent": base.get("snapshot_id"),
                "parent_version": base.get("version"),
                "ref": ref,
                "refs": refs,
                "batch_id": None if batch_id is None else str(batch_id),
                "commit_kind": kind,
                "schema": base.get("schema") if schema is None else schema,
                "manifests": (
                    base.get("manifests", {}) if manifests is None else manifests
                ),
                "delete_manifests": (
                    base.get("delete_manifests") or []
                    if delete_manifests is None
                    else delete_manifests
                ),
                "lineage": list(lineage),
                "partition_specs": base.get("partition_specs") or {},
                "default_spec_id": base.get("default_spec_id", 0),
                **extra,
            }
        )

    def _commit_refs_only(self, refs: dict, kind: str) -> None:
        """Metadata-only commit that changes the ref registry (create
        branch/tag, fast-forward, rollback). Its parent is the metadata
        head; content carries the main head's so time travel to this
        version still resolves, but no ref ever points AT a refs-only
        snapshot except through the explicit version it names."""
        meta = self.metadata_head()
        main = self.current_snapshot()
        self._commit(
            meta["version"] + 1, meta, refs, kind, ref="_meta",
            schema=main.get("schema"),
            manifests=main["manifests"],
            delete_manifests=main.get("delete_manifests") or [],
        )

    def create_branch(self, name: str, version: int | None = None) -> int:
        """Fork a writable branch at main's head (or an explicit retained
        version). O(1) metadata — no data is copied; the branch head SHARES
        the fork point's manifests, exactly Iceberg's branch semantics."""
        if name == "main":
            raise ValueError("main already exists")
        refs = self.refs()
        at = refs["main"]["version"] if version is None else int(version)
        self.snapshot_at(at)  # must be retained
        refs[name] = {"version": at, "type": "branch"}
        self._commit_refs_only(refs, f"create-branch:{name}")
        return at

    def tag(self, name: str, version: int | None = None) -> int:
        """Immutable named pointer to a snapshot (Iceberg tag). Tagged
        versions are protected from ``expire_snapshots`` until the tag is
        dropped — an audit/reproducibility pin at zero storage cost."""
        refs = self.refs()
        at = refs["main"]["version"] if version is None else int(version)
        self.snapshot_at(at)
        refs[name] = {"version": at, "type": "tag"}
        self._commit_refs_only(refs, f"tag:{name}")
        return at

    def drop_ref(self, name: str) -> None:
        if name == "main":
            raise ValueError("cannot drop main")
        refs = self.refs()
        if name not in refs:
            raise KeyError(name)
        del refs[name]
        self._commit_refs_only(refs, f"drop-ref:{name}")

    def is_ancestor(self, ancestor_version: int, version: int) -> bool:
        """True iff ``ancestor_version`` is on ``version``'s parent chain
        (inclusive). Legacy snapshots without ``parent_version`` fall back
        to the linear version-1 rule they were written under."""
        v = version
        while v is not None and v >= ancestor_version:
            if v == ancestor_version:
                return True
            snap = self.snapshot_at(v)
            pv = snap.get("parent_version")
            v = (v - 1 if v > 0 else None) if pv is None else int(pv)
            if v is not None and v >= snap["version"]:
                raise ValueError("cyclic parent chain")
        return False

    def fast_forward(self, from_branch: str, to_branch: str = "main") -> int:
        """Write-audit-publish: move ``to_branch`` (main) to
        ``from_branch``'s head. Requires main's head to be an ancestor of
        the branch head (Iceberg's fast-forward rule) so publishing never
        silently drops commits that landed on main after the fork. O(1)
        metadata — the audited data files become live on main with no
        rewrite."""
        refs = self.refs()
        for r in (from_branch, to_branch):
            if r not in refs:
                raise KeyError(r)
        src, dst = refs[from_branch], refs[to_branch]
        if not self.is_ancestor(dst["version"], src["version"]):
            raise CommitConflict(
                f"{to_branch} (v{dst['version']}) advanced since "
                f"{from_branch} forked (head v{src['version']}); "
                "rebase the branch before publishing"
            )
        refs[to_branch] = {"version": src["version"], "type": "branch"}
        self._commit_refs_only(
            refs, f"fast-forward:{to_branch}<-{from_branch}"
        )
        return src["version"]

    def rollback(self, version: int) -> int:
        """Point main back at a retained older snapshot (Iceberg
        ``rollback_to_snapshot``). Metadata-only; newer snapshots stay
        retained (and replayable) until expiration."""
        refs = self.refs()
        self.snapshot_at(version)
        if not self.is_ancestor(version, refs["main"]["version"]):
            raise ValueError(
                f"v{version} is not on main's history"
            )
        refs["main"] = {"version": int(version), "type": "branch"}
        self._commit_refs_only(refs, f"rollback:{version}")
        return int(version)

    def _write_snapshot(self, snap: dict) -> None:
        """Atomic commit with optimistic concurrency.

        The snapshot file is claimed via ``os.link`` — create-if-absent
        semantics, unlike ``os.rename`` which silently clobbers on POSIX —
        so if two writers race to commit the same version, exactly one
        wins and the loser gets ``CommitConflict`` to refresh-and-retry
        against the new current snapshot (Iceberg's optimistic commit
        protocol). The version hint then moves by rename; hint movement is
        monotone because every hint value corresponds to a uniquely-owned
        snapshot file. Only :meth:`_commit` calls this.
        """
        v = snap["version"]
        path = os.path.join(self.meta_dir, f"v{v}.json")
        tmp = path + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as fh:
            json.dump(snap, fh)
        try:
            os.link(tmp, path)  # atomic create-if-absent
        except FileExistsError:
            raise CommitConflict(
                f"version {v} was committed concurrently at {self.location};"
                " refresh to the current snapshot and retry"
            ) from None
        finally:
            os.unlink(tmp)
        htmp = self._hint_path() + f".tmp-{uuid.uuid4().hex}"
        with open(htmp, "w") as fh:
            fh.write(str(v))
        os.rename(htmp, self._hint_path())

    def snapshot_at(self, version: int) -> dict:
        """Load a specific retained snapshot (time travel)."""
        path = os.path.join(self.meta_dir, f"v{version}.json")
        with open(path) as fh:
            return json.load(fh)

    def committed_batches(self) -> set[str]:
        """All batch ids in the snapshot chain (replay guard).

        Incrementally cached: the full chain is parsed once per instance,
        after which each call reads only snapshots newer than the cache —
        per-commit metadata work is O(new snapshots), not O(history), so a
        long-running streaming sink's commit cost stays flat. The cache
        resets if the hint ever moves backwards (external rollback)."""
        v = self.current_version()
        if v is None:
            return set()
        if self._batch_cache is not None and self._batch_cache[0] <= v:
            start, out = self._batch_cache[0] + 1, self._batch_cache[1]
        else:
            start, out = 0, set()
        for i in range(start, v + 1):
            try:
                snap = self.snapshot_at(i)
            except FileNotFoundError:
                continue  # expired snapshot — its ids are inherited forward
            out |= {str(b) for b in snap.get("inherited_batch_ids", [])}
            if snap.get("batch_id") is not None:
                out.add(str(snap["batch_id"]))
        self._batch_cache = (v, out)
        return out

    # -- manifest files -----------------------------------------------------
    #
    # Snapshots reference per-partition manifest FILES by content-hash name
    # (Iceberg's manifest reuse): a partition untouched by a commit keeps the
    # same manifest name, so per-snapshot metadata is O(|partitions|) names —
    # not O(|files|) paths — and total metadata grows with *changed*
    # partitions per commit, not quadratically over the job's life.

    def _manifest_path(self, name: str) -> str:
        return os.path.join(self.manifest_dir, name)

    @staticmethod
    @contextmanager
    def _dense_range_sampling(spark: SparkSession, enabled: bool = True):
        """Scoped dense reservoir sampling for the clustered-rewrite range
        exchange. Range boundary precision IS file-skipping precision: a
        boundary that lands off-quantile makes one output file straddle a
        wide z-/sort-range and every scan over that range opens it
        forever. Spark's default 100 samples/partition is tuned for ad-hoc
        queries; a compaction group is bounded (target_file_size × files),
        so collecting 100k samples/partition makes boundaries effectively
        exact for a one-time rewrite whose output is read thousands of
        times — and layout-deterministic, not dependent on how the input
        happened to be split. Restores the previous value on exit."""
        key = "spark.sql.execution.rangeExchange.sampleSizePerPartition"
        if not enabled:
            yield
            return
        try:
            prev = spark.conf.get(key)
        except Exception:
            prev = None
        spark.conf.set(key, "100000")
        try:
            yield
        finally:
            if prev is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, prev)

    @staticmethod
    @contextmanager
    def _micros_timestamps(spark: SparkSession):
        """Scoped INT64-micros parquet timestamps (INT96 carries no
        min/max statistics, which would blind plan_scan on every time
        predicate). Restores the previous session value on exit — the
        embedding application's own writes keep their configured type."""
        key = "spark.sql.parquet.outputTimestampType"
        try:
            prev = spark.conf.get(key)
        except Exception:
            prev = None
        spark.conf.set(key, "TIMESTAMP_MICROS")
        try:
            yield
        finally:
            if prev is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, prev)

    @staticmethod
    def _file_stats(path: str) -> dict | None:
        """Per-file column min/max from the parquet FOOTER (metadata-only
        read — no data pages touched), recorded into the manifest entry.

        This is Iceberg's manifest-stats mechanism: at 100 TB the planner
        skips whole files whose [min, max] cannot satisfy a predicate, so
        a selective scan touches O(matching files), not O(table). Values
        are normalized JSON-safe: timestamps → ISO strings (lexical order
        == chronological), bytes decoded as UTF-8 or dropped; columns
        without comparable stats are simply absent (never pruned on).
        """
        try:
            import pyarrow.parquet as pq
        except ImportError:  # pragma: no cover - pyarrow is baked in
            return None
        try:
            md = pq.ParquetFile(path).metadata
        except Exception:
            return None

        norm = IcebergLite._norm_stat_value

        mins: dict = {}
        maxs: dict = {}
        poison: set = set()  # a row group without comparable stats makes
        # the whole file's column range unknown — never prune on it
        nulls: dict = {}
        null_poison: set = set()  # a row group without a null count makes
        # the file's null count unknown — never metadata-drop on it
        for rg in range(md.num_row_groups):
            row_group = md.row_group(rg)
            for ci in range(row_group.num_columns):
                col = row_group.column(ci)
                name = col.path_in_schema
                if "." in name:  # nested leaves: not prunable top-level
                    continue
                st = col.statistics
                nc = st.null_count if st is not None else None
                if nc is None:
                    null_poison.add(name)
                else:
                    nulls[name] = nulls.get(name, 0) + nc
                mn = norm(st.min) if st is not None and st.has_min_max else None
                mx = norm(st.max) if st is not None and st.has_min_max else None
                if mn is None or mx is None:
                    poison.add(name)
                    continue
                if name in mins:
                    mins[name] = min(mins[name], mn)
                    maxs[name] = max(maxs[name], mx)
                else:
                    mins[name], maxs[name] = mn, mx
        stats = {
            n: [mins[n], maxs[n]] for n in mins if n not in poison
        }
        out = {"rows": md.num_rows}
        if stats:
            out["stats"] = stats
        known_nulls = {
            n: c for n, c in nulls.items() if n not in null_poison
        }
        if known_nulls:
            out["nulls"] = known_nulls
        return out

    def _write_manifest(self, files: list[dict]) -> str:
        payload = json.dumps(files, sort_keys=True)
        name = hashlib.md5(payload.encode()).hexdigest()[:20] + ".json"
        path = self._manifest_path(name)
        if not os.path.exists(path):
            os.makedirs(self.manifest_dir, exist_ok=True)
            tmp = path + f".tmp-{uuid.uuid4().hex}"
            with open(tmp, "w") as fh:
                fh.write(payload)
            os.rename(tmp, path)
        self._manifest_cache[name] = files
        return name

    def _load_manifest(self, ref) -> list[dict]:
        """Resolve a manifest reference: a content-hash filename, or (legacy
        snapshots) an inline file list."""
        if isinstance(ref, list):
            return ref
        if ref not in self._manifest_cache:
            with open(self._manifest_path(ref)) as fh:
                self._manifest_cache[ref] = json.load(fh)
        return self._manifest_cache[ref]

    def resolve_manifests(self, snap: dict) -> dict[str, list[dict]]:
        """partition value → data-file list for a snapshot."""
        return {
            pv: self._load_manifest(ref)
            for pv, ref in snap["manifests"].items()
        }

    def lineage(self) -> list[dict]:
        """Per-commit lineage records (north_rule metrics surface)."""
        snaps = []
        v = self.current_version()
        for i in range((v or 0) + 1):
            p = os.path.join(self.meta_dir, f"v{i}.json")
            if os.path.exists(p):
                with open(p) as fh:
                    snaps.append(json.load(fh))
        return [rec for s in snaps for rec in s.get("lineage", [])]

    # -- data ---------------------------------------------------------------

    def _legacy_spec(self) -> list[PS.PartitionField]:
        """Spec 0: the constructor's days(partition_field) layout (bare
        partition values, kept byte-identical for existing tables)."""
        if self.partition_field:
            return [PS.PartitionField("day", self.partition_field)]
        return []

    def spec_registry(self, snap: dict | None = None) -> tuple[dict[int, list], int]:
        """(spec_id -> fields) for every spec the table has ever had, plus
        the current default spec id — Iceberg's partition-specs metadata."""
        if snap is None:
            try:
                snap = self.current_snapshot()
            except FileNotFoundError:
                snap = {}
        reg: dict[int, list] = {0: self._legacy_spec()}
        for sid, js in (snap.get("partition_specs") or {}).items():
            reg[int(sid)] = PS.spec_from_json(js)
        default = snap.get("default_spec_id")
        if default is None:
            default = 1 if (self._ctor_spec and 1 in reg) else 0
        return reg, int(default)

    def current_spec(self) -> tuple[int, list]:
        reg, default = self.spec_registry()
        return default, reg[default]

    def evolve_partition_spec(self, fields: list[str]) -> int:
        """Change the table's partition layout WITHOUT rewriting any data
        (Iceberg partition-spec evolution). Existing files stay under their
        original spec's values; new commits write under the new spec; scan
        planning prunes each partition against the spec that produced it.
        Metadata-only commit — O(1) regardless of table size, which is the
        whole point at 100 TB (vs an O(table) re-layout rewrite)."""
        parsed = PS.parse_spec(fields)
        self.create()
        v_new, snap, refs = self._commit_meta("main")
        # the spec registry is table-global: _commit_meta hands back the
        # metadata head's, whichever ref ``snap`` is the head of
        reg_json = dict(snap.get("partition_specs") or {})
        new_id = max([int(k) for k in reg_json] + [0]) + 1
        reg_json[str(new_id)] = PS.spec_to_json(parsed)
        self._commit(
            v_new, snap, refs, "evolve-spec", ref="main",
            partition_specs=reg_json, default_spec_id=new_id,
        )
        return new_id

    def _partition_expr(self, df: DataFrame):
        sid, fields = self.current_spec()
        if sid == 0:
            # legacy layout, byte-identical to pre-evolution tables
            if self.partition_field and self.partition_field in df.columns:
                return F.coalesce(
                    F.to_date(F.col(self.partition_field)).cast("string"),
                    F.lit(NULL_PARTITION),
                )
            return F.lit("all")
        missing = [f.source for f in fields if f.source not in df.columns]
        if missing:
            raise ValueError(
                f"partition spec {sid} needs column(s) {missing} absent from batch"
            )
        return F.concat(
            F.lit(PS.pval_prefix(sid)), PS.spec_expr(fields, df, NULL_PARTITION)
        )

    def prune_partitions(
        self,
        spark: SparkSession,
        col: str,
        lo=None,
        hi=None,
        snap: dict | None = None,
    ) -> dict:
        """Partition-level pruning across ALL specs the table has lived
        under: each manifest's partition value is judged against the spec
        that wrote it (Iceberg residual evaluation). Range bounds prune
        order-preserving transforms (day/month/hour/truncate/identity);
        an equality bound (lo == hi) additionally prunes hash buckets.
        Metadata-only — no file IO."""
        if snap is None:
            snap = self.current_snapshot()
        reg, _ = self.spec_registry(snap)
        keep: set[str] = set()
        total = pruned = 0
        # transformed bounds per (spec_id, field index), evaluated once
        bounds_cache: dict[tuple[int, int], tuple] = {}
        for pval in snap["manifests"]:
            total += 1
            sid = PS.spec_id_of_pval(pval)
            fields = reg.get(sid)
            rel = [
                (i, f) for i, f in enumerate(fields or []) if f.source == col
            ]
            if not fields or not rel or pval == "all":
                keep.add(pval)  # spec can't prune on this column
                continue
            raw = PS.strip_prefix(pval)
            # multi-field values are '_'-joined with percent-escaped fields
            # (spec_expr), so the split is unambiguous and reversed here
            vals = (
                [raw]
                if len(fields) == 1
                else [
                    PS.unescape_field(v)
                    for v in raw.split("_", len(fields) - 1)
                ]
            )
            if len(vals) != len(fields):
                keep.add(pval)
                continue
            # integer bounds ⇒ numeric ordering for truncate/identity
            # values ('12' < '9' lexically); bool excluded (it is an int)
            numeric = any(
                isinstance(b, int) and not isinstance(b, bool)
                for b in (lo, hi)
            )
            ok = True
            for i, f in rel:
                if (sid, i) not in bounds_cache:
                    bounds_cache[(sid, i)] = (
                        PS.transform_literal(spark, f, lo),
                        PS.transform_literal(spark, f, hi),
                    )
                lo_t, hi_t = bounds_cache[(sid, i)]
                if not PS.field_may_match(
                    f, vals[i], lo_t, hi_t, NULL_PARTITION, numeric=numeric
                ):
                    ok = False
                    break
            if ok:
                keep.add(pval)
            else:
                pruned += 1
        return {"partitions": keep, "total": total, "pruned": pruned}

    def read_partition_range(
        self, spark: SparkSession, col: str, lo=None, hi=None
    ) -> DataFrame:
        """Semantically ``read().where(lo <= col <= hi)``, but partitions
        whose transformed values cannot intersect the bounds are never
        listed, let alone read — hidden-partitioning query routing."""
        plan = self.prune_partitions(spark, col, lo, hi)
        df = self.read_partitions(spark, plan["partitions"])
        if df is None:
            df = self.read(spark).limit(0)
        if lo is not None:
            df = df.where(F.col(col) >= F.lit(lo))
        if hi is not None:
            df = df.where(F.col(col) <= F.lit(hi))
        return df

    def _write_files(
        self, df: DataFrame, batch_id: str, seq: int = 0
    ) -> dict[str, list[dict]]:
        """Write batch data as immutable parquet, return partition→files.

        The commit's data SEQUENCE NUMBER is encoded in the stage directory
        name (``s{seq:08d}-``), so readers recover each row's sequence with
        one codegen'd ``regexp_extract(input_file_name())`` — no per-file
        joins, no manifest lookups on the hot path. Sequence ordering is
        what merge-on-read equality deletes are scoped by (Iceberg's
        data_sequence_number)."""
        stage = os.path.join(
            self.data_dir, f"s{seq:08d}-b{batch_id}-{uuid.uuid4().hex[:8]}"
        )
        # cluster rows by partition value before the partitionBy write:
        # one task (→ one file) per date partition instead of
        # tasks × partitions tiny files — at scale this is the difference
        # between |days| manifest entries and |days|·|shuffle.partitions|.
        with self._micros_timestamps(df.sparkSession):
            (
                df.withColumn("_p", self._partition_expr(df))
                .repartition(F.col("_p"))
                .write.partitionBy("_p")
                .parquet(stage, mode="overwrite")
            )
        manifests: dict[str, list[dict]] = {}
        for entry in sorted(os.listdir(stage)):
            if entry.startswith("_p="):
                files = self._stage_entries(os.path.join(stage, entry))
                if files:
                    manifests[entry.split("=", 1)[1]] = files
        return manifests

    def _stage_entries(self, stage: str) -> list[dict]:
        """Manifest entries (path + footer stats) for a stage directory's
        parquet files."""
        paths = (os.path.join(stage, f) for f in sorted(os.listdir(stage)))
        return [
            {"path": p, **(self._file_stats(p) or {"rows": None})}
            for p in paths
            if p.endswith(".parquet")
        ]

    def _append_manifests(
        self, manifests: dict, new: dict[str, list[dict]]
    ) -> dict:
        """``manifests`` with each partition's ``new`` files appended."""
        out = dict(manifests)
        for pv, files in new.items():
            if pv in out:
                files = self._load_manifest(out[pv]) + files
            out[pv] = self._write_manifest(files)
        return out

    def _reconcile_schema(
        self,
        snap: dict,
        schema: T.StructType,
        current: DataFrame | None = None,
    ) -> T.StructType:
        """Widen the committed schema (``current``'s for a pre-evolution
        table) by a batch's ``schema`` and save it as the empty-table read
        hint (Iceberg type evolution): a batch may widen a column
        (int->long mid-stream) or add one; incompatible changes raise HERE,
        not as a read-time decode failure."""
        base = self.table_schema(snap)
        if base is None and current is not None:
            base = current.schema
        reconciled = widen_schema(base, schema) if base is not None else schema
        self._save_schema_hint(reconciled)
        return reconciled

    def read(
        self,
        spark: SparkSession,
        version: int | None = None,
        branch: str | None = None,
    ) -> DataFrame:
        """Read a committed snapshot (main's head, time-travel to
        ``version``, or a named ``branch``/tag head).

        Snapshot files are immutable and every version's manifest is
        retained, so reading an old version is just resolving its file list
        — Iceberg's ``VERSION AS OF`` / ``branch_<name>`` semantics.
        """
        if version is not None and branch is not None:
            raise ValueError("pass version OR branch, not both")
        snap = (
            self.snapshot_at(version)
            if version is not None
            else self.head_snapshot(branch)
            if branch is not None
            else self.current_snapshot()
        )
        paths = [
            f["path"]
            for files in self.resolve_manifests(snap).values()
            for f in files
        ]
        if not paths:
            sample = os.path.join(self.location, "_schema.json")
            if os.path.exists(sample):
                with open(sample) as fh:
                    from pyspark.sql.types import StructType

                    return spark.createDataFrame(
                        [], StructType.fromJson(json.load(fh))
                    )
            raise FileNotFoundError("empty table with no schema hint")
        return self._apply_equality_deletes(
            spark, self._read_files(spark, paths, snap), snap
        )

    def meta_table(self, spark: SparkSession, name: str) -> DataFrame:
        """Queryable metadata table (Iceberg ``table$snapshots`` etc.):
        one of snapshots / history / partitions / manifests / files."""
        from .metadata_tables import meta_table

        return meta_table(self, spark, name)

    def read_partitions(
        self, spark: SparkSession, pvals: set[str], snap: dict | None = None
    ) -> DataFrame | None:
        if snap is None:
            snap = self.current_snapshot()
        paths = [
            f["path"]
            for pv, ref in snap["manifests"].items()
            if pv in pvals
            for f in self._load_manifest(ref)
        ]
        if not paths:
            return None
        return self._apply_equality_deletes(
            spark, self._read_files(spark, paths, snap), snap
        )

    @staticmethod
    def _norm_stat_value(v):
        """THE single normalizer for the stats-pruning comparison domain —
        used for both manifest stats (write time, _file_stats) and scan
        bounds (plan time, plan_scan). One implementation, or pruning goes
        subtly wrong: parquet returns TIMESTAMP(LTZ) stats tz-AWARE while
        callers pass naive bounds; rendering one with a '+00:00' suffix
        and the other without made a file whose min equals the hi bound
        lexically compare greater and get wrongly pruned (silent row
        loss, caught in review). Datetimes are unified to naive UTC ISO
        strings (session TZ is pinned UTC, so naive == UTC by contract);
        bools/unknowns → None (not comparable); bytes must be UTF-8.
        """
        import datetime as _dt

        if isinstance(v, bool) or v is None:
            return None
        if isinstance(v, _dt.datetime):
            if v.tzinfo is not None:
                v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
            return v.isoformat(sep=" ")
        if isinstance(v, _dt.date):
            # same comparison domain as datetimes (midnight — matching
            # Spark's date→timestamp cast in the residual predicate), so
            # a date bound against a timestamp column prunes correctly
            return v.isoformat() + " 00:00:00"
        if isinstance(v, bytes):
            try:
                return v.decode("utf-8")
            except UnicodeDecodeError:
                return None
        if isinstance(v, (int, float, str)):
            return v
        return None

    def plan_scan(
        self, col: str, lo=None, hi=None, version: int | None = None
    ) -> dict:
        """File-skipping scan plan: which data files can contain rows with
        ``lo <= col <= hi`` (either bound optional), judged from manifest
        min/max stats. Files without stats for ``col`` are conservatively
        kept. This is the Iceberg planning step that keeps a selective
        read O(matching files) at 100 TB — no data IO happens here, only
        manifest JSON already on the driver.
        """
        snap = (
            self.current_snapshot()
            if version is None
            else self.snapshot_at(version)
        )
        lo_n = self._norm_stat_value(lo)
        hi_n = self._norm_stat_value(hi)
        paths: list[str] = []
        total = skipped = 0
        for files in self.resolve_manifests(snap).values():
            for f in files:
                total += 1
                rng = (f.get("stats") or {}).get(col)
                keep = True
                if rng is not None:
                    mn, mx = rng
                    try:
                        if lo_n is not None and mx < lo_n:
                            keep = False
                        if hi_n is not None and mn > hi_n:
                            keep = False
                    except TypeError:
                        keep = True  # incomparable bound types: no pruning
                if keep:
                    paths.append(f["path"])
                else:
                    skipped += 1
        return {"paths": paths, "files_total": total, "files_skipped": skipped}

    def scan_range(
        self,
        spark: SparkSession,
        col: str,
        lo=None,
        hi=None,
        version: int | None = None,
    ) -> DataFrame:
        """Read with manifest-stats file skipping + the residual predicate.

        Semantically identical to ``read(spark).where(lo <= col <= hi)``
        (tested), but only the files whose stats ranges intersect the
        bounds are opened — the complement of files is never touched.
        """
        # pin the snapshot ONCE: resolving it again after planning would
        # let a concurrent commit hand the file plan and the delete set
        # different snapshots (a read matching no committed state)
        if version is None:
            version = self.current_version()
        snap = self.snapshot_at(version)
        plan = self.plan_scan(col, lo, hi, version)
        if not plan["paths"]:
            empty = self.read(spark, version).limit(0)
            df = empty
        else:
            df = self._apply_equality_deletes(
                spark, self._read_files(spark, plan["paths"], snap), snap
            )
        if lo is not None:
            df = df.where(F.col(col) >= F.lit(lo))
        if hi is not None:
            df = df.where(F.col(col) <= F.lit(hi))
        return df

    def plan_scan_null(self, col: str, version: int | None = None) -> dict:
        """Which data files can hold NULLs in ``col``, judged from the
        manifest null counts — min/max ranges cannot express ``IS NULL``,
        the null-count stat can. Files without a recorded count are
        conservatively kept. Metadata-only."""
        snap = (
            self.current_snapshot()
            if version is None
            else self.snapshot_at(version)
        )
        paths: list[str] = []
        total = skipped = 0
        for files in self.resolve_manifests(snap).values():
            for f in files:
                total += 1
                nc = (f.get("nulls") or {}).get(col)
                if nc == 0:
                    skipped += 1
                else:
                    paths.append(f["path"])
        return {"paths": paths, "files_total": total, "files_skipped": skipped}

    def scan_is_null(
        self, spark: SparkSession, col: str, version: int | None = None
    ) -> DataFrame:
        """Read ``col IS NULL`` opening only files the null counts cannot
        rule out — semantically identical to ``read().where(isNull)``.
        The open-interval scan of an SCD2 dimension (``valid_to IS NULL``)
        is the canonical use: open rows concentrate in recent files, so at
        scale this touches O(open files), not O(history)."""
        # pin the snapshot ONCE: resolving it again after planning would
        # let a concurrent commit hand the file plan and the delete set
        # different snapshots (a read matching no committed state)
        if version is None:
            version = self.current_version()
        snap = self.snapshot_at(version)
        plan = self.plan_scan_null(col, version)
        if not plan["paths"]:
            return self.read(spark, version).limit(0)
        df = self._apply_equality_deletes(
            spark, self._read_files(spark, plan["paths"], snap), snap
        )
        return df.where(F.col(col).isNull())

    def build_blooms(
        self, spark: SparkSession, cols: list[str], fpp: float = 0.01
    ) -> int:
        """Attach per-file bloom sidecars for ``cols`` (Puffin analogue);
        one executor task per data file, metadata-only commit. See
        bloom.build_blooms."""
        from . import bloom as bl

        return bl.build_blooms(self, spark, cols, fpp)

    def plan_scan_eq(
        self, col: str, value, version: int | None = None
    ) -> dict:
        """Point-lookup plan: min/max stats + bloom sidecars. Metadata-only."""
        from . import bloom as bl

        return bl.plan_scan_eq(self, col, value, version)

    def scan_point(
        self,
        spark: SparkSession,
        col: str,
        value,
        version: int | None = None,
    ) -> DataFrame:
        """Read ``col = value`` opening only files the stats AND blooms
        cannot rule out. Semantically identical to
        ``read(spark).where(col = value)`` (tested) — bloom false positives
        are filtered by the residual predicate, never surfaced."""
        # pin the snapshot ONCE: resolving it again after planning would
        # let a concurrent commit hand the file plan and the delete set
        # different snapshots (a read matching no committed state)
        if version is None:
            version = self.current_version()
        snap = self.snapshot_at(version)
        plan = self.plan_scan_eq(col, value, version)
        if not plan["paths"]:
            return self.read(spark, version).limit(0).where(F.lit(False))
        df = self._apply_equality_deletes(
            spark, self._read_files(spark, plan["paths"], snap), snap
        )
        return df.where(F.col(col) == F.lit(value))

    def _save_schema_hint(self, schema: T.StructType) -> None:
        """Persist the reconciled schema for the empty-table read path.
        Overwritten whenever evolution changes it (unlike snapshots, the
        hint is advisory — the snapshot's ``schema`` field is the truth)."""
        p = os.path.join(self.location, "_schema.json")
        payload = schema.jsonValue()
        if os.path.exists(p):
            with open(p) as fh:
                if json.load(fh) == payload:
                    return
        tmp = p + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as fh:
            json.dump(payload, fh)
        os.rename(tmp, p)

    def table_schema(self, snap: dict | None = None) -> T.StructType | None:
        """The authoritative committed schema carried by the snapshot chain
        (None for pre-evolution tables, which fall back to mergeSchema)."""
        if snap is None:
            try:
                snap = self.current_snapshot()
            except FileNotFoundError:
                return None
        js = snap.get("schema")
        return T.StructType.fromJson(js) if js else None

    def _read_files(
        self, spark: SparkSession, paths: list[str], snap: dict | None = None
    ) -> DataFrame:
        """Read data files under the snapshot's committed schema.

        With an authoritative schema the parquet reader gets it EXPLICITLY:
        files written before a widening (int when the table is now long) are
        promoted in the vectorized decoder, files written before an
        add-column are null-filled, and Spark skips the mergeSchema
        footer-reading planning job entirely. Pre-evolution snapshots (no
        schema field) keep the old mergeSchema behavior."""
        schema = self.table_schema(snap)
        if schema is not None:
            return spark.read.schema(schema).parquet(*paths)
        return spark.read.option("mergeSchema", "true").parquet(*paths)

    @staticmethod
    def _conform(df: DataFrame, schema: T.StructType) -> DataFrame:
        """Project ``df`` onto the reconciled schema: cast widened columns,
        null-fill columns the batch lacks, order columns canonically. Used
        at write time so every NEW file is already in the table's current
        types (old files are promoted at read). A frame already in the
        schema comes back as is, with no projection to plan."""
        if [(f.name, f.dataType) for f in df.schema.fields] == [
            (f.name, f.dataType) for f in schema.fields
        ]:
            return df
        cols = []
        have = set(df.columns)
        for f in schema.fields:
            if f.name in have:
                cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
            else:
                cols.append(F.lit(None).cast(f.dataType).alias(f.name))
        return df.select(*cols)

    def _delete_aggregate(
        self, spark: SparkSession, snap: dict
    ) -> DataFrame | None:
        """Max delete sequence per PK from a snapshot's delete manifests —
        the single MOR reconciliation input, shared by every read path and
        by materialize_deletes (one implementation, or their semantics
        drift). None when the snapshot carries no outstanding deletes.

        PK-projected read (the delete files' only payload the reconcile
        needs); pre-evolution files fall back to mergeSchema. Broadcast
        only while the delete debt is dimension-sized — a long-deferred
        reconcile over a huge debt must fall back to a shuffled hash join,
        not OOM the driver."""
        refs = snap.get("delete_manifests") or []
        if not refs or not self.pk:
            return None
        entries = [f for ref in refs for f in self._load_manifest(ref)]
        if not entries:
            return None
        schema = self.table_schema(snap)
        if schema is not None:
            pk_set = set(self.pk)
            reader = spark.read.schema(
                T.StructType([f for f in schema.fields if f.name in pk_set])
            )
        else:
            reader = spark.read.option("mergeSchema", "true")
        deletes = (
            reader.parquet(*[e["path"] for e in entries])
            .withColumn("_del_seq", _file_seq_col())
            .groupBy(*self.pk)
            .agg(F.max("_del_seq").alias("_del_seq"))
        )
        if sum(e.get("rows") or 0 for e in entries) <= 5_000_000:
            deletes = F.broadcast(deletes)
        return deletes

    def _apply_equality_deletes(
        self, spark: SparkSession, df: DataFrame, snap: dict
    ) -> DataFrame:
        """Merge-on-read scan: drop rows superseded by equality deletes.

        Iceberg v2 semantics — a delete at sequence S covers data rows of
        the same PK with sequence < S. One aggregation over the delete
        files (``_delete_aggregate``) + one join against the scan. Rows'
        own sequences come from the file path — no per-file plans."""
        deletes = self._delete_aggregate(spark, snap)
        if deletes is None:
            return df
        out_cols = df.columns  # join(on=pk) reorders; restore the schema
        return (
            df.withColumn("_seq", _file_seq_col())
            .join(deletes, on=self.pk, how="left")
            .where(
                F.col("_del_seq").isNull()
                | (F.col("_seq") >= F.col("_del_seq"))
            )
            .select(*out_cols)
        )

    def _lineage_record(
        self, df_cached: DataFrame, batch_id: str
    ) -> tuple[dict, set]:
        """One aggregation job: per-(kafka)partition offset ranges + counts;
        total rows derived from the same result (no second count job).

        A ``_p`` column (the table partition value, added by the CoW merge)
        is grouped on too, and the values seen come back with the record:
        the merge's partition discovery rides this same job. Offset ranges
        and counts are merged across ``_p`` on the driver."""
        keys = [c for c in ("_p", "partition_idx") if c in df_cached.columns]
        aggs = [F.count(F.lit(1)).alias("rows")]
        if "partition_idx" in keys:
            aggs += [
                F.min("offset").alias("min_offset"),
                F.max("offset").alias("max_offset"),
            ]
        stats = df_cached.groupBy(*keys).agg(*aggs).collect()
        offsets: dict[str, list] = {}
        partition_rows: dict[str, int] = {}
        if "partition_idx" in keys:
            for r in stats:
                k = str(r["partition_idx"])
                seen = offsets.get(k, [None, None])
                lo = [v for v in (seen[0], r["min_offset"]) if v is not None]
                hi = [v for v in (seen[1], r["max_offset"]) if v is not None]
                offsets[k] = [min(lo, default=None), max(hi, default=None)]
                partition_rows[k] = partition_rows.get(k, 0) + r["rows"]
        record = {
            "batch_id": str(batch_id),
            "rows": sum(r["rows"] for r in stats),
            "offsets": offsets,
            "partition_rows": partition_rows,
        }
        return record, {r["_p"] for r in stats} if "_p" in keys else set()

    # -- commits ------------------------------------------------------------

    def commit_append(
        self, df: DataFrame, batch_id: str, branch: str = "main"
    ) -> bool:
        """K1: append commit. Returns False if batch already committed.

        ``branch`` targets a named branch head instead of main (Iceberg
        branch write / the WAP staging step): content builds on the branch's
        head while main stays untouched until :meth:`fast_forward`. The
        replay guard is table-global across refs, matching Iceberg's
        wap.id-based dedup."""
        self.create()
        if str(batch_id) in self.committed_batches():
            return False
        df = df.cache()
        try:
            v_new, snap, refs = self._commit_meta(branch)
            reconciled = self._reconcile_schema(snap, df.schema)
            new = self._write_files(
                self._conform(df, reconciled), str(batch_id), v_new
            )
            self._commit(
                v_new, snap, refs, "append", ref=branch, batch_id=batch_id,
                schema=reconciled.jsonValue(),
                manifests=self._append_manifests(snap["manifests"], new),
                lineage=[self._lineage_record(df, batch_id)[0]],
            )
            return True
        finally:
            df.unpersist()

    def count_rows(self, version: int | None = None) -> int | None:
        """Metadata-only COUNT(*): the sum of per-file row counts from the
        manifests (Iceberg's count pushdown). Returns None — caller falls
        back to ``read().count()`` — when the count is not provable from
        metadata alone: outstanding equality deletes (MOR rows may be
        superseded) or a file missing its row stat. No data IO either way.
        """
        snap = (
            self.current_snapshot()
            if version is None
            else self.snapshot_at(version)
        )
        if snap.get("delete_manifests"):
            return None
        total = 0
        for files in self.resolve_manifests(snap).values():
            for f in files:
                rows = f.get("rows")
                if rows is None:
                    return None
                total += rows
        return total

    def commit_overwrite(
        self, df: DataFrame, batch_id: str, dynamic: bool = True
    ) -> bool:
        """Atomic overwrite commit (Iceberg INSERT OVERWRITE).

        ``dynamic=True`` (replacePartitions): exactly the partitions the
        batch touches are swapped for its rows; every other partition
        carries forward by manifest reference — the backfill/restatement
        primitive. ``dynamic=False``: static whole-table overwrite (the
        new snapshot holds only this batch; outstanding MOR deletes are
        dropped with the data they covered). Replay-guarded by batch_id
        like every data commit; time travel keeps the overwritten data
        reachable until expiration.
        """
        self.create()
        if str(batch_id) in self.committed_batches():
            return False
        df = df.cache()
        try:
            v_new, snap, refs = self._commit_meta("main")
            reconciled = self._reconcile_schema(snap, df.schema)
            new = self._write_files(
                self._conform(df, reconciled), str(batch_id), v_new
            )
            if dynamic:
                manifests = {
                    pv: ref
                    for pv, ref in snap["manifests"].items()
                    if pv not in new
                }
                # MOR deletes still cover the untouched partitions; the
                # replaced partitions' rows carry sequence v_new, newer
                # than every outstanding delete, so they are immune
                delete_manifests = snap.get("delete_manifests") or []
            else:
                manifests = {}
                delete_manifests = []
            for pv, files in new.items():
                manifests[pv] = self._write_manifest(files)
            self._commit(
                v_new, snap, refs,
                "overwrite-dynamic" if dynamic else "overwrite",
                ref="main", batch_id=batch_id,
                schema=reconciled.jsonValue(),
                manifests=manifests,
                delete_manifests=delete_manifests,
                lineage=[self._lineage_record(df, batch_id)[0]],
            )
            return True
        finally:
            df.unpersist()

    def delete_range(
        self,
        spark: SparkSession,
        col: str,
        lo=None,
        hi=None,
        batch_id: str | None = None,
    ) -> dict | None:
        """Row-level ``DELETE WHERE lo <= col <= hi`` (copy-on-write).

        Iceberg's CoW DELETE planning, file by file from manifest stats —
        no data IO for anything the metadata can decide:

        * **disjoint** files (range cannot contain a match): carried
          forward by manifest reference, untouched;
        * **contained** files (every non-null value inside the range, and
          the manifest proves ``col`` has zero nulls): dropped from the
          manifest — a metadata-only delete;
        * **overlapping** files: rewritten without the matching rows.
          Outstanding MOR equality deletes are applied during the rewrite
          (the rewritten files get sequence ``v_new``, newer than every
          delete — without reconciling first, superseded rows would
          resurrect); carried files keep the old delete manifests.

        NULL values never match a range predicate (SQL semantics) and
        always survive — which is why containment alone is not enough to
        drop a file. Replay-guarded by ``batch_id``; time travel keeps the
        deleted rows reachable until snapshot expiration. Returns surgery
        counts, or None if the batch was already committed.

        At 100 TB this is the restatement primitive for time-scoped GDPR /
        retention deletes: a date-clustered table deletes whole days by
        manifest surgery and rewrites only the two boundary files.
        """
        out = self._rewrite_range(
            spark, "delete", col, lo, hi, batch_id,
            lambda df, cond: df.where(~cond), drop_contained=True,
        )
        if out is None:
            return None
        counts, rows, v_new = out
        return {**counts, "rows_kept_in_rewrite": rows, "version": v_new}

    def update_range(
        self,
        spark: SparkSession,
        col: str,
        set_exprs: dict,
        lo=None,
        hi=None,
        batch_id: str | None = None,
    ) -> dict | None:
        """Row-level ``UPDATE ... SET ... WHERE lo <= col <= hi``
        (copy-on-write) — the restatement/redaction complement to
        :meth:`delete_range`, with the same manifest-stats planning:

        * files the stats prove DISJOINT from the range carry forward by
          reference (zero data IO);
        * every file that may hold a match is rewritten with each
          ``set_exprs[name]`` (a Column, or a literal) applied to the rows
          inside the range and all other rows copied verbatim — unlike
          DELETE there is no metadata-only fast path, because matching
          rows change content rather than disappear.

        MOR equality deletes are applied during the rewrite (rewritten
        files take sequence ``v_new``); NULLs in ``col`` never match and
        are copied unchanged. Replay-guarded by ``batch_id``; the updated
        columns must already exist (no implicit evolution in an UPDATE).
        At 100 TB this is the GDPR-redaction shape: a date-bounded UPDATE
        touches O(matching files), not O(table).
        """
        if not set_exprs:
            raise ValueError("update_range needs at least one SET column")
        schema = self.table_schema()
        for name in set_exprs:
            if schema is not None and name not in schema.fieldNames():
                raise ValueError(
                    f"UPDATE SET column {name!r} is not in the table schema"
                )

        def _set_col(c: str, cond: Column) -> Column:
            e = set_exprs[c]
            if not isinstance(e, Column):
                e = F.lit(e)
            return F.when(cond, e).otherwise(F.col(c)).alias(c)

        out = self._rewrite_range(
            spark, "update", col, lo, hi, batch_id,
            lambda df, cond: df.select(
                *[
                    _set_col(c, cond) if c in set_exprs else F.col(c)
                    for c in df.columns
                ]
            ),
        )
        if out is None:
            return None
        counts, rows, v_new = out
        return {**counts, "rows_in_rewrite": rows, "version": v_new}

    def _rewrite_range(
        self,
        spark: SparkSession,
        kind: str,
        col: str,
        lo,
        hi,
        batch_id: str | None,
        rewrite,
        drop_contained: bool = False,
    ) -> tuple[dict, int, int] | None:
        """Shared copy-on-write plan + commit of :meth:`delete_range` and
        :meth:`update_range`: files the manifest stats prove disjoint from
        ``lo <= col <= hi`` carry forward, every other file is read (MOR
        deletes applied) and replaced by ``rewrite(df, cond)``, where
        ``cond`` is the NULL-safe range match. ``drop_contained`` adds
        DELETE's metadata-only drop of files wholly inside the range with
        zero nulls in ``col``. Returns (file counts, rewritten rows,
        version), or None when ``batch_id`` was already committed."""
        if lo is None and hi is None:
            raise ValueError(f"{kind}_range needs at least one bound")
        self.create()
        batch_id = str(batch_id if batch_id is not None else uuid.uuid4().hex)
        if batch_id in self.committed_batches():
            return None
        lo_n = self._norm_stat_value(lo)
        hi_n = self._norm_stat_value(hi)
        v_new, snap, refs = self._commit_meta("main")

        carried: dict[str, list[dict]] = {}
        rewrite_paths: list[str] = []
        counts = {"files_rewritten": 0, "files_carried": 0}
        if drop_contained:
            counts["files_dropped"] = 0
        for pv, files in self.resolve_manifests(snap).items():
            keep: list[dict] = []
            for f in files:
                rng = (f.get("stats") or {}).get(col)
                disjoint = contained = False
                if rng is not None:
                    mn, mx = rng
                    try:
                        disjoint = (lo_n is not None and mx < lo_n) or (
                            hi_n is not None and mn > hi_n
                        )
                        contained = (
                            drop_contained
                            and not disjoint
                            and (lo_n is None or mn >= lo_n)
                            and (hi_n is None or mx <= hi_n)
                            and (f.get("nulls") or {}).get(col) == 0
                        )
                    except TypeError:
                        pass  # incomparable bounds: conservative rewrite
                if disjoint:
                    keep.append(f)
                    counts["files_carried"] += 1
                elif contained:
                    counts["files_dropped"] += 1  # file simply not kept
                else:
                    rewrite_paths.append(f["path"])
                    counts["files_rewritten"] += 1
            carried[pv] = keep

        new: dict[str, list[dict]] = {}
        rows = 0
        if rewrite_paths:
            df = self._apply_equality_deletes(
                spark, self._read_files(spark, rewrite_paths, snap), snap
            )
            cond = F.lit(True)
            if lo is not None:
                cond = cond & (F.col(col) >= F.lit(lo))
            if hi is not None:
                cond = cond & (F.col(col) <= F.lit(hi))
            out = rewrite(df, F.coalesce(cond, F.lit(False))).cache()
            try:
                rows = out.count()
                if rows:
                    new = self._write_files(out, batch_id, v_new)
            finally:
                out.unpersist()

        manifests: dict[str, str] = {}
        for pv in set(carried) | set(new):
            files = carried.get(pv, []) + new.get(pv, [])
            if files:
                manifests[pv] = self._write_manifest(files)
        # delete manifests carry forward: the carried files still need
        # them; rewritten files have sequence v_new and are immune
        self._commit(
            v_new, snap, refs, kind, ref="main", batch_id=batch_id,
            manifests=manifests,
            lineage=[
                {
                    "batch_id": batch_id,
                    "rows": rows,
                    "kind": kind,
                    "col": col,
                    **counts,
                    "offsets": {},
                    "partition_rows": {},
                }
            ],
        )
        return counts, rows, v_new

    def commit_upsert(
        self,
        df: DataFrame,
        batch_id: str,
        strategy: str = "cow",
        branch: str = "main",
    ) -> bool:
        """K2+K3: idempotent equality-upsert commit.

        ``strategy="cow"`` (default): copy-on-write MERGE — only the
        batch's affected date partitions are rewritten; everything else
        carries forward by manifest reference. Reads stay join-free.

        ``strategy="mor"``: merge-on-read — the commit is O(batch) (no
        partition rewrite, no existing-data read); readers reconcile via
        equality-delete files until compaction/materialize folds them in.
        The right trade for high-frequency streaming triggers against a
        huge table, where CoW's per-batch partition rewrite dominates.

        Works for non-CDC tables too (dimension/side tables without an
        ``is_cdc_delete`` column): every batch row is then an upsert.
        """
        self.create()
        if str(batch_id) in self.committed_batches():
            return False
        if strategy == "mor":
            return self._commit_upsert_mor(df, batch_id, branch)
        if strategy != "cow":
            raise ValueError(f"unknown upsert strategy {strategy!r}")
        spark = df.sparkSession
        has_cdc = "is_cdc_delete" in df.columns
        batch = dedup_batch(df, self.pk).cache()
        try:
            v_new, snap, refs = self._commit_meta(branch)
            # partition discovery and lineage: one aggregation job
            lineage, affected = self._lineage_record(
                batch.withColumn("_p", self._partition_expr(batch)), batch_id
            )
            # merge against the TARGET ref's head (branch-staged upserts
            # build on the branch, not on main)
            current = self.read_partitions(spark, affected, snap)
            upserts = (
                batch.filter(~F.col("is_cdc_delete")).drop("is_cdc_delete")
                if has_cdc
                else batch
            )
            # schema evolution (reference addSignTime analogue,
            # ConnectionUtils.java:54-61, plus Iceberg type widening): the
            # batch may add columns OR widen one (int->long mid-stream);
            # reconcile to the lattice supremum, conform both sides, and
            # commit the new schema with the snapshot
            reconciled = self._reconcile_schema(snap, upserts.schema, current)
            upserts = self._conform(upserts, reconciled)
            deletes = batch.select(*self.pk)  # unique per PK after dedup
            if current is not None:
                # equality delete: drop current rows whose PK appears in the
                # batch (either replaced or deleted), then add the upserts
                survivors = self._conform(
                    current, reconciled
                ).join(F.broadcast(deletes), on=self.pk, how="left_anti")
                merged = survivors.unionByName(upserts)
            else:
                merged = upserts
            new = self._write_files(merged, str(batch_id), v_new)
            manifests = {
                pv: ref
                for pv, ref in snap["manifests"].items()
                if pv not in affected
            }
            for pv, files in new.items():
                manifests[pv] = self._write_manifest(files)
            delete_manifests = list(snap.get("delete_manifests") or [])
            # partition-spec evolution: rows for this batch's PKs may still
            # live under OLD-spec partition values the current-spec
            # ``affected`` set can't name. Rewriting every legacy partition
            # would be O(table); instead cover them with one equality-delete
            # file at seq V+1 (applies only to seq < V+1, so this commit's
            # own rewritten rows are untouched) — CoW for the current
            # layout, MOR across layouts, folded in by compaction.
            sid, _ = self.current_spec()
            if any(
                PS.spec_id_of_pval(pv) != sid
                for pv in snap["manifests"]
                if pv not in affected
            ):
                delete_manifests.append(
                    self._write_manifest(
                        self._write_delete_entries(
                            spark, batch, reconciled, v_new
                        )
                    )
                )
            self._commit(
                v_new, snap, refs, "upsert-cow", ref=branch,
                batch_id=batch_id,
                schema=reconciled.jsonValue(),
                manifests=manifests,
                # outstanding MOR deletes still cover the partitions this
                # CoW merge did NOT touch; the rewritten partitions' rows
                # get sequence V+1 (> every delete), so double-application
                # is impossible
                delete_manifests=delete_manifests,
                lineage=[lineage],
            )
            return True
        finally:
            batch.unpersist()

    def _write_delete_entries(
        self, spark: SparkSession, batch: DataFrame, reconciled, seq: int
    ) -> list[dict]:
        """Write one equality-delete parquet covering the batch's PKs (unique
        after ``dedup_batch``) at sequence ``seq``; returns its manifest
        entries."""
        pk_set = set(self.pk)
        dkeys = self._conform(
            batch.select(*self.pk),
            T.StructType([f for f in reconciled.fields if f.name in pk_set]),
        )
        dstage = os.path.join(
            self.data_dir, f"s{seq:08d}-deletes-{uuid.uuid4().hex[:8]}"
        )
        with self._micros_timestamps(spark):
            dkeys.coalesce(1).write.parquet(dstage, mode="overwrite")
        return self._stage_entries(dstage)

    def _commit_upsert_mor(
        self, df: DataFrame, batch_id: str, branch: str = "main"
    ) -> bool:
        """Merge-on-read upsert: append data files + one equality-delete
        file, both at sequence V+1. Cost is O(batch) — the existing table
        is never read and no partition is rewritten, which is what keeps a
        per-trigger streaming upsert viable against a 100 TB table. Readers
        drop rows whose PK has a NEWER delete (``_apply_equality_deletes``);
        every upsert row is paired with a same-sequence delete of its PK, so
        the newest version of each PK survives and older ones die — Iceberg
        v2 row-level-delete semantics (reference parity: same committed rows
        as the CoW MERGE for the same stream, tested)."""
        if not self.pk:
            raise ValueError(
                "merge-on-read needs equality-delete keys: table has no pk"
            )
        spark = df.sparkSession
        has_cdc = "is_cdc_delete" in df.columns
        batch = dedup_batch(df, self.pk).cache()
        try:
            seq, snap, refs = self._commit_meta(branch)
            upserts = (
                batch.filter(~F.col("is_cdc_delete")).drop("is_cdc_delete")
                if has_cdc
                else batch
            )
            reconciled = self._reconcile_schema(snap, upserts.schema)
            upserts = self._conform(upserts, reconciled)
            new = self._write_files(upserts, str(batch_id), seq)
            manifests = self._append_manifests(snap["manifests"], new)
            # ONE equality-delete file per commit: every PK the batch
            # touched (upserted OR cdc-deleted), written small and compact
            dentries = self._write_delete_entries(spark, batch, reconciled, seq)
            self._commit(
                seq, snap, refs, "upsert-mor", ref=branch, batch_id=batch_id,
                schema=reconciled.jsonValue(),
                manifests=manifests,
                delete_manifests=(snap.get("delete_manifests") or [])
                + [self._write_manifest(dentries)],
                lineage=[self._lineage_record(batch, batch_id)[0]],
            )
            return True
        finally:
            batch.unpersist()

    def materialize_deletes(self, spark: SparkSession) -> int:
        """Fold outstanding equality deletes into the data (Iceberg
        ``rewrite_position_delete_files`` / major-compaction analogue).

        One distributed pass finds the partitions that actually hold
        superseded rows (scan + delete join, partition recovered from the
        file path); only those partitions are rewritten, then the delete
        manifests are CLEARED. Partitions without droppable rows are
        untouched — their surviving rows survive on sequence order alone.
        Returns the number of partitions rewritten. Run it from the
        single-writer maintenance loop like ``compact``."""
        snap = self.current_snapshot()
        refs = snap.get("delete_manifests") or []
        if not refs or not self.pk:
            return 0
        seq, snap, crefs = self._commit_meta("main")
        by_part = self.resolve_manifests(snap)
        all_paths = [f["path"] for files in by_part.values() for f in files]
        dagg = self._delete_aggregate(spark, snap) if all_paths else None
        if dagg is not None:
            scan = self._read_files(spark, all_paths, snap)
            # file-derived columns (_seq, partition value) must be computed
            # BEFORE the join — input_file_name() is per-source
            doomed = (
                scan.withColumn("_seq", _file_seq_col())
                .withColumn(
                    "_pv",
                    F.regexp_extract(
                        F.input_file_name(), r"/_p=([^/]+)/", 1
                    ),
                )
                .join(dagg, on=self.pk, how="inner")
                .where(F.col("_seq") < F.col("_del_seq"))
            )
            affected = {
                r["_pv"] for r in doomed.select("_pv").distinct().collect()
            }
        else:
            affected = set()
        manifests = dict(snap["manifests"])
        for pv in sorted(affected):
            files = by_part[pv]
            df = self._apply_equality_deletes(
                spark,
                self._read_files(spark, [f["path"] for f in files], snap),
                snap,
            )
            stage = os.path.join(
                self.data_dir,
                f"s{seq:08d}-materialize-{uuid.uuid4().hex[:8]}",
                f"_p={pv}",
            )
            with self._micros_timestamps(spark):
                df.coalesce(1).write.parquet(stage, mode="overwrite")
            manifests[pv] = self._write_manifest(self._stage_entries(stage))
        # a reorg, not a data batch — the replay guard is unaffected
        self._commit(
            seq, snap, crefs, "materialize-deletes", ref="main",
            manifests=manifests, delete_manifests=[],
            materialize=sorted(affected),
        )
        return len(affected)

    def read_appends_between(
        self, spark: SparkSession, from_version: int, to_version: int
    ) -> DataFrame | None:
        """Incremental read: rows in data files added by DATA snapshots
        between two versions (Iceberg incremental append scan analogue).

        Walks the snapshot chain step by step instead of diffing only the
        endpoints, and skips snapshots with no batch_id (compaction /
        table-create): files a compaction introduces are rewrites of
        already-consumed rows, so a consumer whose range spans a compaction
        does not re-read compacted partitions — the same rule as Iceberg's
        incremental append scan skipping replace snapshots. Exact for
        append-only tables; for CoW-upsert (and overwrite) commits the
        rewritten partitions' files are new by construction, so consumers
        see the post-merge/post-restatement rows of every partition touched
        in the range (document downstream accordingly; the streaming source
        refuses these kinds outright). Returns None when the range added no
        files.

        Cost: per step, only partitions whose manifest NAME changed are
        opened — untouched partitions share the same manifest file.
        """
        added = self.added_files_between(from_version, to_version)
        if not added:
            return None
        # read the incremental files under the schema committed AT the
        # range's end, so a consumer sees widened/added columns exactly as
        # of the version it caught up to
        return self._read_files(
            spark, added, self.snapshot_at(to_version)
        )

    def added_files_between(
        self, from_version: int, to_version: int
    ) -> list[str]:
        """Data-file paths added by DATA snapshots in (from, to] — the
        shared walk behind the incremental batch read and the streaming
        table source."""
        return [
            p for p, _v in self.added_files_with_versions(
                from_version, to_version
            )
        ]

    def lineage_versions(
        self, from_version: int, to_version: int
    ) -> list[int]:
        """Versions on ``to_version``'s ancestry chain in (from, to],
        oldest first — the true commit lineage even when branch snapshots
        interleave version numbers (table-global numbering). Legacy
        snapshots without ``parent_version`` fall back to the linear
        version-1 rule they were written under. Raises when
        ``from_version`` is not an ancestor (e.g. across a rollback): an
        incremental consumer cannot diff across divergent history."""
        chain: list[int] = []
        v = to_version
        while v > from_version:
            snap = self.snapshot_at(v)
            chain.append(v)
            pv = snap.get("parent_version")
            pv = (v - 1) if pv is None else int(pv)
            if pv >= v:
                raise ValueError(f"cyclic parent chain at v{v}")
            v = pv
        if v != from_version:
            raise ValueError(
                f"v{from_version} is not an ancestor of v{to_version} at"
                f" {self.location}: incremental read crosses divergent"
                " history (rollback or branch switch) — restart the"
                " consumer from a snapshot on the new lineage"
            )
        return list(reversed(chain))

    def added_files_with_versions(
        self, from_version: int, to_version: int
    ) -> list[tuple[str, int]]:
        """(data-file path, committing version) pairs added in (from, to]
        along the commit lineage."""
        added: list[tuple[str, int]] = []
        seen: set[str] = set()
        prev = self.snapshot_at(from_version)
        for v in self.lineage_versions(from_version, to_version):
            snap = self.snapshot_at(v)
            if snap.get("batch_id") is not None:
                prev_refs = prev["manifests"]
                for pv, ref in snap["manifests"].items():
                    if prev_refs.get(pv) == ref and not isinstance(ref, list):
                        continue  # manifest reused — nothing new here
                    prev_paths = (
                        {
                            f["path"]
                            for f in self._load_manifest(prev_refs[pv])
                        }
                        if pv in prev_refs
                        else set()
                    )
                    for f in self._load_manifest(ref):
                        p = f["path"]
                        if p not in prev_paths and p not in seen:
                            seen.add(p)
                            added.append((p, v))
            prev = snap
        return added

    def added_delete_files_with_versions(
        self, from_version: int, to_version: int
    ) -> list[tuple[str, int]]:
        """(equality-delete-file path, committing version) pairs added in
        (from, to] — the changelog stream's DELETE event source. A
        materialize snapshot clears the manifest list without adding files,
        so the per-step diff naturally yields nothing there."""
        added: list[tuple[str, int]] = []
        prev_refs = set(
            self.snapshot_at(from_version).get("delete_manifests") or []
        )
        for v in self.lineage_versions(from_version, to_version):
            snap = self.snapshot_at(v)
            refs = snap.get("delete_manifests") or []
            for ref in refs:
                if ref not in prev_refs:
                    for f in self._load_manifest(ref):
                        added.append((f["path"], v))
            prev_refs = set(refs)
        return added

    def compact(
        self,
        spark: SparkSession,
        min_files_per_partition: int = 2,
        sort_by: list[str] | None = None,
        target_files: int = 1,
        zorder_by: list[str] | None = None,
    ) -> int:
        """Small-file compaction: rewrite partitions holding ≥ N files, as
        a new snapshot (Iceberg rewrite_data_files analogue). Streaming
        appends one file per partition per batch — without periodic
        compaction a long-lived job's read amplification grows linearly in
        batches; with it, reads stay O(|partitions|).

        ``sort_by`` + ``target_files`` is the SORT/clustering strategy:
        rows are range-partitioned on the sort key into ``target_files``
        files per partition, each sorted within. Range partitioning makes
        the per-file [min, max] key ranges DISJOINT, so the manifest-stats
        pruning (plan_scan) skips (target_files − 1)/target_files of each
        partition for a point/range predicate on the key — and the
        within-file sort tightens parquet row-group stats for the scan's
        own pushdown. Default (no sort) keeps the bin-pack behavior: one
        file per partition.

        ``zorder_by`` (mutually exclusive with ``sort_by``) is the Z-ORDER
        strategy: rows are clustered on the Morton interleave of 2-4
        numeric/timestamp columns (zorder.zvalue), so every output file
        covers a small hyper-rectangle of the combined key space and
        ``plan_scan`` skips files for predicates on ANY z-ordered column —
        the multi-dimensional generalization of SORT's single-key pruning.

        Returns the number of partitions rewritten. Committed batch ids are
        preserved (compaction is a data reorganization, not a new batch), so
        replay idempotence is unaffected.
        """
        if sort_by and zorder_by:
            raise ValueError("pass sort_by OR zorder_by, not both")
        v_new, snap, crefs = self._commit_meta("main")
        # fixed point: a partition the SORT strategy already rewrote into
        # target_files files must not re-trigger every maintenance tick
        # (O(table) rewrite amplification on a long-lived job — review
        # catch); only rewrite once NEW files arrive on top
        threshold = min_files_per_partition
        if sort_by or zorder_by:
            threshold = max(threshold, target_files + 1)
        todo = {
            pv: files
            for pv, files in self.resolve_manifests(snap).items()
            if len(files) >= threshold
        }
        if not todo:
            return 0
        manifests = dict(snap["manifests"])
        for pv, files in todo.items():
            # committed schema (or mergeSchema for pre-evolution tables): a
            # partition may hold files appended before and after an
            # add-column/widening evolution — picking one file's schema
            # would silently drop or narrow the evolved columns on rewrite.
            # Outstanding MOR deletes are APPLIED during the rewrite (the
            # rewritten files get a sequence newer than every delete, which
            # would otherwise stop covering their superseded rows).
            df = self._apply_equality_deletes(
                spark,
                self._read_files(spark, [f["path"] for f in files], snap),
                snap,
            )
            stage = os.path.join(
                self.data_dir,
                f"s{v_new:08d}-compact-{uuid.uuid4().hex[:8]}",
                f"_p={pv}",
            )
            with self._micros_timestamps(spark), self._dense_range_sampling(
                spark, enabled=bool(sort_by or zorder_by)
            ):
                if zorder_by:
                    from . import zorder as zo

                    (
                        df.withColumn("_z", zo.zvalue(df, zorder_by))
                        .repartitionByRange(max(target_files, 1), F.col("_z"))
                        .sortWithinPartitions("_z")
                        .drop("_z")
                        .write.parquet(stage, mode="overwrite")
                    )
                elif sort_by:
                    sort_cols = [F.col(c) for c in sort_by]
                    (
                        df.repartitionByRange(
                            max(target_files, 1), *sort_cols
                        )
                        .sortWithinPartitions(*sort_cols)
                        .write.parquet(stage, mode="overwrite")
                    )
                else:
                    df.coalesce(1).write.parquet(stage, mode="overwrite")
            manifests[pv] = self._write_manifest(self._stage_entries(stage))
        # not a data batch (replay guard unaffected) and not an evolution
        # (schema carries); deletes stay: partitions below the file-count
        # threshold were not rewritten and still need them at read
        self._commit(
            v_new, snap, crefs, "compact", ref="main",
            manifests=manifests, compaction=sorted(todo),
        )
        return len(todo)

    def expire_snapshots(self, keep_last: int = 10) -> dict:
        """Iceberg ``expire_snapshots`` + ``remove_orphan_files`` analogue.

        Drops snapshot metadata older than the newest ``keep_last``
        versions and physically deletes data files and manifest files no
        retained snapshot references. Without this, a streaming sink
        committing every trigger grows metadata and keeps every rewritten
        file forever; with it, storage is bounded by the retention window —
        the maintenance half of the exactly-once story.

        The replay guard SURVIVES expiration: expired snapshots' batch ids
        fold into the oldest retained snapshot's ``inherited_batch_ids``
        (``committed_batches`` unions them), so replaying a batch whose
        snapshot was expired is still a no-op. Time travel remains
        available only within the retention window, exactly like Iceberg.
        Single-writer assumption (same as the Hadoop-catalog commit
        protocol): run maintenance from the committing process.
        """
        v = self.current_version()
        stats = {"expired_snapshots": 0, "deleted_data_files": 0,
                 "deleted_manifests": 0}
        if v is None:
            return stats
        oldest_keep = max(0, v - keep_last + 1)
        if oldest_keep == 0:
            return stats
        # a PRIOR deeper expiration may already have removed snapshots
        # inside the new (wider) retention window — anchor on the oldest
        # snapshot that still exists (v itself always does)
        while oldest_keep < v and not os.path.exists(
            os.path.join(self.meta_dir, f"v{oldest_keep}.json")
        ):
            oldest_keep += 1
        # refs (branch heads + tags) pin their snapshots regardless of the
        # retention window — Iceberg retains referenced snapshots until the
        # ref is dropped; without this a tag older than keep_last would
        # dangle and its files would be GC'd from under it
        protected = {int(e["version"]) for e in self.refs().values()}
        # 1. fold expiring batch ids forward
        inherited: set[str] = set()
        expiring: list[int] = []
        for i in range(0, oldest_keep):
            if i in protected:
                continue
            try:
                snap = self.snapshot_at(i)
            except FileNotFoundError:
                continue
            expiring.append(i)
            inherited |= {str(b) for b in snap.get("inherited_batch_ids", [])}
            if snap.get("batch_id") is not None:
                inherited.add(str(snap["batch_id"]))
        oldest = self.snapshot_at(oldest_keep)
        oldest["inherited_batch_ids"] = sorted(
            inherited | {str(b) for b in oldest.get("inherited_batch_ids", [])}
        )
        path = os.path.join(self.meta_dir, f"v{oldest_keep}.json")
        tmp = path + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as fh:
            json.dump(oldest, fh)
        os.rename(tmp, path)  # atomic; version hint untouched
        # 2. reference sets over RETAINED snapshots only
        live_files: set[str] = set()
        live_manifests: set[str] = set()
        for i in sorted(set(range(oldest_keep, v + 1)) | protected):
            try:
                snap = self.snapshot_at(i)
            except FileNotFoundError:
                continue  # hole from a prior deeper expiration
            refs = list(snap["manifests"].values()) + list(
                snap.get("delete_manifests") or []
            )
            for ref in refs:
                if isinstance(ref, str):
                    live_manifests.add(ref)
                for f in self._load_manifest(ref):
                    live_files.add(f["path"])
        # 3. drop expired snapshot metadata
        for i in expiring:
            os.remove(os.path.join(self.meta_dir, f"v{i}.json"))
            stats["expired_snapshots"] += 1
        # 4. delete orphan manifests and data files; prune empty dirs
        if os.path.isdir(self.manifest_dir):
            for name in os.listdir(self.manifest_dir):
                if name.endswith(".json") and name not in live_manifests:
                    os.remove(os.path.join(self.manifest_dir, name))
                    self._manifest_cache.pop(name, None)
                    stats["deleted_manifests"] += 1
        for dirpath, _dirnames, filenames in os.walk(
            self.data_dir, topdown=False
        ):
            for fn in filenames:
                p = os.path.join(dirpath, fn)
                if fn.endswith(".parquet") and p not in live_files:
                    os.remove(p)
                    stats["deleted_data_files"] += 1
            remaining = os.listdir(dirpath)
            # a dir left with only write-marker FILES (_SUCCESS, .crc) is
            # dead; `_p=...` partition SUBDIRS also start with "_", so only
            # regular files count as markers
            if remaining and all(
                os.path.isfile(os.path.join(dirpath, f))
                and (f.startswith(("_", ".")) or f.endswith(".crc"))
                for f in remaining
            ):
                for f in remaining:
                    os.remove(os.path.join(dirpath, f))
                remaining = []
            if not remaining and dirpath != self.data_dir:
                os.rmdir(dirpath)
        return stats

    def drop(self) -> None:
        shutil.rmtree(self.location, ignore_errors=True)
