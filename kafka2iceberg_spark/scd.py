"""Type-2 slowly-changing-dimension (SCD2) history from a CDC change stream.

The reference pipeline lands raw CDC upserts/deletes into Iceberg
(Kafka2IcebergApp.java:95-113 equality-upsert path); what a dimension
consumer actually wants downstream is *versioned history*: one row per
(key, attribute-version) interval with ``valid_from`` / ``valid_to`` /
``is_current``. This module derives that history Spark-first, twice:

* :func:`scd2` — the batch/backfill form: pure window functions over the
  full change log. One hash exchange on the key; the compression ``lag``
  and the validity ``lead`` share the same (partitionBy, orderBy), so
  Catalyst plans a SINGLE exchange + sort reused by both windows — the
  whole operator is one shuffle regardless of input size, which is the
  correct 100 TB shape (the key is the natural partitioner; skewed keys
  are bounded by per-entity change counts, not corpus size).
* :func:`scd2_apply_batch` — the incremental streaming form: maintains an
  :class:`~kafka2iceberg_spark.sink.IcebergLite` dimension table from
  micro-batches via the sink's idempotent equality-upsert commit, closing
  the previously-open interval of every key the batch touches and
  compressing no-op updates across the batch boundary. Replay-safe: the
  batch id rides the sink's replay guard, so at-least-once delivery of a
  whole batch is a no-op, and within a batch exact duplicate change rows
  are collapsed before versioning.

Semantics (both forms agree; tested for parity):
  * exact replays — identical (key, order, attrs, delete-flag) rows — are
    collapsed by the compression step itself (at-least-once transport);
  * a change whose tracked attributes equal the key's previous surviving
    change is compressed away (no-op update ⇒ no new version);
  * a delete tombstone closes the open interval at its timestamp and
    emits no row of its own; a re-insert after a delete opens a NEW
    interval even with identical attributes (the delete breaks equality);
  * ``valid_to`` is NULL on the open (current) interval;
    ``is_current = valid_to IS NULL``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .pipeline import _start_foreach_batch

__all__ = [
    "TemporalEnrich",
    "scd2",
    "scd2_apply_batch",
]

_DEL_SENTINEL = "\x00<deleted>"


def _attr_key(tracked: list[str], is_delete: Column) -> Column:
    """Comparison key for change-compression: the tracked attrs packed into
    one string, with NULLs made explicit and delete rows mapped to a
    sentinel no live row can equal (so delete → re-insert never
    compresses)."""
    packed = F.concat_ws(
        "\x1f", *[F.coalesce(F.col(c).cast("string"), F.lit("\x00null")) for c in tracked]
    )
    return F.when(is_delete, F.lit(_DEL_SENTINEL)).otherwise(packed)


def scd2(
    changes: DataFrame,
    key: list[str],
    order: list[str],
    tracked: list[str],
    ts_col: str = "ts",
    delete_col: str | None = None,
) -> DataFrame:
    """Change log → SCD2 interval rows.

    ``changes`` holds one row per CDC change: ``key`` columns identify the
    entity, ``order`` columns give the total per-entity change order (the
    first must be ``ts_col`` or correlate with it), ``tracked`` are the
    versioned attribute columns, and ``delete_col`` (boolean, optional)
    marks tombstones. Returns ``key + tracked + valid_from (ts type) +
    valid_to (ts type, NULL = open) + is_current``.
    """
    is_del = (
        F.coalesce(F.col(delete_col), F.lit(False))
        if delete_col
        else F.lit(False)
    )
    df = changes.withColumn("_ak", _attr_key(tracked, is_del))

    w = Window.partitionBy(*key).orderBy(*order)
    # 1. change-compression: keep the first change of every run of equal
    #    payloads (delete rows carry a sentinel payload, so they always
    #    differ from live rows and from each other's neighbors correctly:
    #    consecutive deletes compress to one). This also collapses
    #    at-least-once transport replays with NO extra shuffle: ``order``
    #    is a total order per key, so a replayed row ties with its twin,
    #    lands adjacent in the sorted run, and compresses as a no-op —
    #    a dropDuplicates here would add a second (wider-keyed) exchange.
    df = df.withColumn("_prev_ak", F.lag("_ak").over(w)).where(
        F.col("_prev_ak").isNull() | (F.col("_ak") != F.col("_prev_ak"))
    )
    # 2. validity intervals over the surviving changes: the next surviving
    #    change (version or tombstone) closes this one. Same window spec
    #    as the lag ⇒ Catalyst reuses the exchange + sort.
    df = df.withColumn("_next_ts", F.lead(F.col(ts_col)).over(w))
    out = df.where(~F.col("_ak").eqNullSafe(F.lit(_DEL_SENTINEL))).select(
        *key,
        *tracked,
        F.col(ts_col).alias("valid_from"),
        F.col("_next_ts").alias("valid_to"),
        F.col("_next_ts").isNull().alias("is_current"),
    )
    return out


def scd2_apply_batch(
    spark: SparkSession,
    table,
    batch: DataFrame,
    batch_id,
    key: list[str],
    order: list[str],
    tracked: list[str],
    ts_col: str = "ts",
    delete_col: str | None = None,
) -> bool:
    """Incrementally maintain an SCD2 dimension table from one micro-batch.

    The table's upsert identity is ``key + valid_from_us`` (microsecond
    BIGINT — engine-neutral and exactly joinable, unlike floats): closing
    an interval re-upserts the same identity with ``valid_to`` filled;
    new versions insert new identities. Steps, all DataFrame ops:

      1. run :func:`scd2` on the batch alone (collapses replays and
         intra-batch no-ops; yields this batch's interval candidates plus
         the batch's surviving tombstones);
      2. fetch the table's OPEN rows for the touched keys only — a
         broadcast semi-join against the batch's distinct keys, never a
         full-dimension scan;
      3. cross-boundary compression: a batch's first surviving change that
         equals the key's open attrs mints no version (its rows simply
         extend the open interval);
      4. close open intervals at the first surviving boundary change's
         timestamp (version or tombstone);
      5. one idempotent ``commit_upsert`` of closings + new versions.

    Designed for ``foreachBatch``: pass the epoch id as ``batch_id`` and
    the sink's replay guard makes redelivery a no-op.
    """
    is_del = (
        F.coalesce(F.col(delete_col), F.lit(False))
        if delete_col
        else F.lit(False)
    )
    w = Window.partitionBy(*key).orderBy(*order)

    # surviving changes of this batch, including tombstones (needed both
    # to close prior intervals and to bound new ones)
    ch = batch.withColumn("_ak", _attr_key(tracked, is_del))
    ch = ch.withColumn("_prev_ak", F.lag("_ak").over(w)).where(
        F.col("_prev_ak").isNull() | (F.col("_ak") != F.col("_prev_ak"))
    )
    ch = ch.withColumn("_next_ts", F.lead(F.col(ts_col)).over(w)).withColumn(
        "_rn", F.row_number().over(w)
    )
    ch = ch.cache()
    open_rows = None
    try:
        # open rows for the touched keys only: a null-count-pruned scan
        # (open rows are exactly valid_to_us IS NULL, and fully-closed
        # files carry a zero null count in their manifest — the scan
        # touches O(open files), not O(history)), then a broadcast
        # semi-join against the batch's distinct keys.
        try:
            existing = table.scan_is_null(spark, "valid_to_us")
        except FileNotFoundError:
            existing = None  # first batch: table not created yet
        if existing is not None:
            touched = ch.select(*key).distinct()
            open_rows = (
                existing
                .join(F.broadcast(touched), on=key, how="inner")
                .withColumn("_open_ak", _attr_key(tracked, F.lit(False)))
                .select(*key, *tracked, "valid_from_us", "_open_ak")
            ).cache()

        # a change is EFFECTIVE unless it is the batch's first surviving
        # change and equals the key's open attrs (cross-boundary no-op —
        # it merely extends the open interval). Effective changes mint
        # versions / tombstone-close; the first effective change's ts is
        # where the open interval closes.
        eff = ch
        if open_rows is not None:
            open_aks = open_rows.select(*key, "_open_ak")
            eff = ch.join(F.broadcast(open_aks), on=key, how="left").where(
                (F.col("_rn") > 1)
                | F.col("_open_ak").isNull()
                | (F.col("_ak") != F.col("_open_ak"))
            )

        new_rows = eff.where(
            ~F.col("_ak").eqNullSafe(F.lit(_DEL_SENTINEL))
        ).select(
            *key,
            *tracked,
            F.unix_micros(F.col(ts_col).cast("timestamp")).alias(
                "valid_from_us"
            ),
            F.unix_micros(F.col("_next_ts").cast("timestamp")).alias(
                "valid_to_us"
            ),
        )

        if open_rows is not None:
            boundary = eff.groupBy(*key).agg(
                F.min(
                    F.unix_micros(F.col(ts_col).cast("timestamp"))
                ).alias("_close_us")
            )
            closings = open_rows.join(
                F.broadcast(boundary), on=key, how="inner"
            ).select(
                *key,
                *tracked,
                F.col("valid_from_us"),
                F.col("_close_us").alias("valid_to_us"),
            )
            new_rows = closings.unionByName(new_rows)

        return table.commit_upsert(new_rows, batch_id)
    finally:
        ch.unpersist()
        if open_rows is not None:
            open_rows.unpersist()


class TemporalEnrich:
    """Event-time temporal join view — Flink's ``FOR SYSTEM_TIME AS OF
    fact.ts`` re-expressed Spark-first over exactly-once tables.

    A per-micro-batch re-read of the dimension gives PROCESSING-time
    temporal semantics: each fact takes whatever dimension version is
    committed when its micro-batch runs, so the answer depends on arrival
    timing. This operator gives the deterministic EVENT-time form the
    Flink SQL surface calls a temporal (versioned-table) join: every fact is
    enriched with the dimension version whose SCD2 validity interval
    contains the fact's event timestamp — regardless of which arrived
    first — by holding facts back until the dimension stream's watermark
    passes their timestamp (before that instant, an out-of-order dim
    update could still rewrite the version their instant falls in).

    State layout (all exactly-once):
      * ``hist``  — standalone :class:`IcebergLite` SCD2 dimension
        history, maintained by :func:`scd2_apply_batch` (its own
        batch-id replay guard);
      * catalog tables ``facts`` (raw fact append log), ``out``
        (released enriched facts), ``meta`` (single-row released
        watermark) — advanced together in ONE
        :class:`MultiTableTransaction` per micro-batch.

    Per batch: fold dim changes into ``hist`` FIRST, advance the dim
    watermark monotonically, append the new facts, then release (a) this
    batch's facts strictly inside the watermark (``ts_us < wm`` — a dim
    change AT the watermark instant may still arrive and rewrite that
    instant's version) — including late facts below it, whose history is
    final the moment they arrive — plus (b) committed held facts in the
    band ``prev_wm <= ts_us < new_wm`` (each fact releases exactly once:
    the watermark is monotone and the band edges are the committed
    watermarks), AS-OF join the release set against
    ``hist`` (windows.asof_join — union + one ordered window, no
    interval theta-join; facts inside a tombstone gap or before the
    first version get NULL enrichment), and commit facts+out+meta
    atomically. Crash between the hist commit and the catalog commit
    leaves hist one batch ahead — harmless (enrichment only ever needs
    hist AT or beyond the fact watermark) and healed on replay, where
    both guards make the redelivered batch a no-op.

    At 100 TB: the fact log is partitioned on event-time days, so the
    release band prunes to the watermark-frontier partitions; the dim
    side shuffles at dimension cardinality (key-partitioned window),
    never at fact scale; nothing driver-side but the watermark scalar.
    """

    def __init__(
        self,
        catalog,
        hist,
        key: list[str],
        tracked: list[str],
        facts: str = "facts",
        out: str = "out",
        meta: str = "meta",
        dim_ts: str = "ts",
        dim_order: list[str] | None = None,
        dim_delete: str | None = None,
        fact_ts: str = "ts",
        prefix: str = "dim_",
    ) -> None:
        self.catalog = catalog
        self.hist = hist
        self.key = key
        self.tracked = tracked
        self.facts = facts
        self.out = out
        self.meta = meta
        self.dim_ts = dim_ts
        self.dim_order = dim_order or [dim_ts]
        self.dim_delete = dim_delete
        self.fact_ts = fact_ts
        self.prefix = prefix

    # -- committed state ------------------------------------------------------

    def released_wm_us(self, spark: SparkSession) -> int | None:
        """Committed released-watermark, or None before the first batch."""
        try:
            rows = self.catalog.read(spark, self.meta).collect()
        except FileNotFoundError:
            return None
        return rows[0]["wm_us"] if rows else None

    def _hist_df(self, spark: SparkSession) -> DataFrame | None:
        try:
            return self.hist.read(spark)
        except FileNotFoundError:
            return None

    # -- enrichment plan ------------------------------------------------------

    def _enrich(self, band: DataFrame, hist_df: DataFrame | None) -> DataFrame:
        from .windows import asof_join

        if hist_df is None:
            return band.select(
                "*",
                *[F.lit(None).cast("string").alias(f"{self.prefix}{c}")
                  for c in self.tracked],
            )
        j = asof_join(
            band,
            hist_df.select(*self.key, *self.tracked, "valid_from_us",
                           "valid_to_us"),
            on=self.key,
            left_ts="ts_us",
            right_ts="valid_from_us",
            right_cols=[*self.tracked, "valid_to_us"],
        )
        # interval containment: [valid_from, valid_to) — a fact inside a
        # tombstone gap (matched interval already closed before the fact)
        # gets NULL enrichment, never the stale pre-delete version
        in_iv = F.col("_asof_ts").isNotNull() & (
            F.col("valid_to_us").isNull()
            | (F.col("ts_us") < F.col("valid_to_us"))
        )
        return j.select(
            *band.columns,
            *[F.when(in_iv, F.col(c)).alias(f"{self.prefix}{c}")
              for c in self.tracked],
        )

    # -- merge ----------------------------------------------------------------

    def apply_batch(
        self,
        dim_batch: DataFrame | None,
        fact_batch: DataFrame,
        batch_id: str,
        wm_us: int | None = None,
    ) -> bool:
        """Fold one micro-batch of dim changes + facts. Idempotent per
        batch_id. ``wm_us`` overrides the dim watermark (default: the
        max dim event time seen so far — correct when the dim source is
        in event-time order across batches; pass the stream's real
        watermark otherwise)."""
        spark = fact_batch.sparkSession
        txn_id = f"te:{self.out}:{batch_id}"
        if txn_id in self.catalog.committed_txns():
            return False
        if dim_batch is not None:
            scd2_apply_batch(
                spark,
                self.hist,
                dim_batch,
                f"te-dim:{self.out}:{batch_id}",
                key=self.key,
                order=self.dim_order,
                tracked=self.tracked,
                ts_col=self.dim_ts,
                delete_col=self.dim_delete,
            )
            if wm_us is None:
                row = dim_batch.agg(
                    F.max(F.unix_micros(F.col(self.dim_ts).cast("timestamp")))
                    .alias("m")
                ).collect()[0]
                wm_us = row["m"]
        prev = self.released_wm_us(spark)
        lo = prev if prev is not None else -(1 << 62)
        new_wm = max(lo, wm_us) if wm_us is not None else lo

        fact_cols = [c for c in fact_batch.columns if c != self.fact_ts]
        staged_facts = fact_batch.select(
            *fact_cols,
            F.unix_micros(F.col(self.fact_ts).cast("timestamp"))
            .alias("ts_us"),
        )
        hist_df = self._hist_df(spark)
        if hist_df is None:
            # no dim history yet ⇒ nothing can be versioned-joined; hold the
            # watermark so no fact is released un-enriched (and ``out`` is
            # never created with placeholder-typed columns)
            new_wm = lo
        txn = self.catalog.transaction(txn_id)
        txn.append(self.facts, staged_facts)
        if hist_df is not None:
            # release = this batch's facts already inside the watermark
            # (incl. LATE facts below the released watermark — their
            # history is final, so they enrich immediately rather than
            # being dropped) ∪ previously-committed facts the advancing
            # watermark just passed. Release is STRICT (ts_us < wm): a dim
            # change AT the watermark instant may still arrive (watermark
            # = "nothing EARLIER than wm comes later"), and under scd2's
            # tiebreak it could rewrite the version valid at exactly wm —
            # releasing at == would freeze the wrong enrichment.
            # Exactly-once: the two parts cannot overlap (part 2 reads the
            # PRE-txn committed log), and a committed fact's ts lies in at
            # most one [wm, wm') band because the watermark is monotone.
            band = staged_facts.where(F.col("ts_us") < F.lit(new_wm))
            if new_wm > lo:
                try:
                    prev_facts = self.catalog.read(spark, self.facts)
                except FileNotFoundError:
                    prev_facts = None
                if prev_facts is not None:
                    band = band.unionByName(
                        prev_facts.where(
                            (F.col("ts_us") >= F.lit(lo))
                            & (F.col("ts_us") < F.lit(new_wm))
                        )
                    )
            txn.append(self.out, self._enrich(band, hist_df))
        txn.upsert(
            self.meta,
            spark.createDataFrame([(0, new_wm)], "k int, wm_us long"),
        )
        return txn.commit()

    # -- wiring ---------------------------------------------------------------

    def start(self, stream: DataFrame, split, checkpoint: str, **trigger):
        """Maintain from ONE tagged stream (``split(df) -> (dim, facts)``)
        — the same single-stream shape as IncrementalJoinView: two
        independent queries could not share the catalog transaction."""

        def _one(df: DataFrame, bid) -> None:
            dim, facts = split(df)
            self.apply_batch(dim, facts, str(bid))

        return _start_foreach_batch(
            stream,
            _one,
            checkpoint,
            "append",
            trigger or {"availableNow": True},
        )

    # -- reads ----------------------------------------------------------------

    def read(self, spark: SparkSession) -> DataFrame:
        """Released enriched facts, at the catalog's pinned version."""
        return self.catalog.read(spark, self.out)

    def pending(self, spark: SparkSession) -> DataFrame:
        """Facts beyond the released watermark — held, not yet enriched."""
        wm = self.released_wm_us(spark)
        lo = wm if wm is not None else -(1 << 62)
        return self.catalog.read(spark, self.facts).where(
            F.col("ts_us") >= F.lit(lo)
        )

    def recompute(self, spark: SparkSession) -> DataFrame:
        """Batch parity twin: the same enrichment, from scratch, over
        every released fact against the full committed history."""
        wm = self.released_wm_us(spark)
        lo = wm if wm is not None else -(1 << 62)
        released = self.catalog.read(spark, self.facts).where(
            F.col("ts_us") < F.lit(lo)
        )
        return self._enrich(released, self._hist_df(spark))
