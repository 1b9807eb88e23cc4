"""Incremental materialized-view maintenance for join views.

A downstream view recomputed from scratch every trigger is O(table) per
micro-batch; at 100 TB that is the whole job. Classic incremental view
maintenance (delta processing) makes it O(changes): each micro-batch's
per-side deltas are joined against the committed state and the view table
absorbs one small append per batch (see :class:`IncrementalJoinView`).

Exactly-once: the source appends and the view append for one micro-batch
publish through a single catalog transaction keyed on the batch id, so a
replayed micro-batch is a committed no-op.

No counterpart in the reference (one-way MQ→Iceberg, no aggregation
surface); this is [NORTH] surface — the standard streaming-warehouse MV
pattern, Spark-first.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .pipeline import _start_foreach_batch


class IncrementalJoinView:
    """Maintain ``SELECT key..., left_cols..., right_cols... FROM left JOIN
    right USING (key...)`` incrementally from per-batch insert deltas of two
    APPEND-ONLY sources (the fact-joins-fact case: orders x lineitem, turns
    x annotations).

    Recomputing a fact-to-fact join every trigger is O(|L| + |R|) per
    micro-batch — at 100 TB it is the whole job, every few seconds. The
    classic delta rule makes it O(changes)::

        dV  =  dL >< R_pre  UNION  L_pre >< dR  UNION  dL >< dR

    where ``pre`` is the committed state BEFORE the batch, so every matching
    (l, r) pair is produced exactly once: whichever row arrives later finds
    the earlier one committed, and same-batch pairs come from the dL >< dR
    term. The view only ever ABSORBS appends — insert-only sources cannot
    retract a previous match (updating/deleting sources are MOR-upsert
    territory, not this operator).

    Scale shape: the per-batch deltas are small and broadcast; the big
    committed side is probed with one broadcast-hash join per term — the
    100 TB table is scanned with the join key pushed down and never
    shuffled, and nothing is ever recomputed. An optional ``filter`` is
    applied to each delta BEFORE the join (standard IVM predicate
    pushdown through the view definition).

    Exactly-once across THREE tables: both source appends and the view
    append for one micro-batch publish through a single
    ``MultiTableTransaction`` catalog CAS — a crash between writes leaves
    only invisible staged branches, and a replayed batch_id is a committed
    no-op. The sources-of-record the deltas are appended to are the same
    tables the ``pre`` snapshots are read from (catalog-pinned versions),
    so the delta boundary is exact under any interleaving.

    No counterpart in the reference (one-way MQ->Iceberg, no join surface;
    SURVEY.md §2.1); this is [NORTH] streaming-warehouse surface — the
    Iceberg-changelog incremental-view-maintenance pattern, Spark-first.
    """

    def __init__(
        self,
        catalog,
        left: str,
        right: str,
        view: str,
        on: list[str],
        left_cols: list[str],
        right_cols: list[str],
        filter_left: str | None = None,
        filter_right: str | None = None,
    ) -> None:
        if not on:
            raise ValueError("join needs at least one key column")
        overlap = set(left_cols) & set(right_cols)
        if overlap:
            raise ValueError(f"output columns collide across sides: {overlap}")
        for side, cols in (("left", left_cols), ("right", right_cols)):
            dup = set(cols) & set(on)
            if dup:
                raise ValueError(f"{side}_cols repeat join keys: {dup}")
        self.catalog = catalog
        self.left = left
        self.right = right
        self.view = view
        self.on = list(on)
        self.left_cols = list(left_cols)
        self.right_cols = list(right_cols)
        self.filter_left = filter_left
        self.filter_right = filter_right

    # -- delta computation ----------------------------------------------------

    def _prep(self, df: DataFrame, cols: list[str], flt: str | None) -> DataFrame:
        if flt:
            df = df.where(F.expr(flt))
        return df.select(*self.on, *cols)

    def _pre(self, spark: SparkSession, name: str) -> DataFrame | None:
        """Committed catalog-pinned snapshot, or None before first data."""
        try:
            return self.catalog.read(spark, name)
        except FileNotFoundError:
            return None

    def _delta_view(
        self,
        spark: SparkSession,
        dl: DataFrame,
        dr: DataFrame,
    ) -> DataFrame:
        out_cols = [*self.on, *self.left_cols, *self.right_cols]
        dl = self._prep(dl, self.left_cols, self.filter_left)
        dr = self._prep(dr, self.right_cols, self.filter_right)
        l_pre = self._pre(spark, self.left)
        r_pre = self._pre(spark, self.right)
        parts = [F.broadcast(dl).join(dr, self.on).select(*out_cols)]
        if r_pre is not None:
            # delta side broadcast: the committed 100 TB side is probed in
            # place, never shuffled
            r_pre = self._prep(r_pre, self.right_cols, self.filter_right)
            parts.append(r_pre.join(F.broadcast(dl), self.on).select(*out_cols))
        if l_pre is not None:
            l_pre = self._prep(l_pre, self.left_cols, self.filter_left)
            parts.append(l_pre.join(F.broadcast(dr), self.on).select(*out_cols))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    # -- merge ------------------------------------------------------------------

    def apply_batch(self, dl: DataFrame, dr: DataFrame, batch_id: str) -> bool:
        """Fold one micro-batch of per-side insert deltas into the sources
        AND the view, atomically. Idempotent per batch_id."""
        txn_id = f"jv:{self.view}:{batch_id}"
        if txn_id in self.catalog.committed_txns():
            return False
        spark = dl.sparkSession
        delta = self._delta_view(spark, dl, dr)
        txn = self.catalog.transaction(txn_id)
        txn.append(self.left, dl)
        txn.append(self.right, dr)
        txn.append(self.view, delta)
        return txn.commit()

    # -- wiring -------------------------------------------------------------------

    def start(
        self,
        stream: DataFrame,
        split,
        checkpoint: str,
        **trigger,
    ):
        """Maintain the view from ONE tagged stream (the multi-table broker
        shape: both sides ride the same source; ``split(df) -> (dl, dr)``
        routes rows). Two independent streaming queries could not share a
        transaction — one stream, split per batch, keeps the three-table
        commit atomic."""

        def _one(df: DataFrame, bid) -> None:
            dl, dr = split(df)
            self.apply_batch(dl, dr, str(bid))

        return _start_foreach_batch(
            stream,
            _one,
            checkpoint,
            "append",
            trigger or {"availableNow": True},
        )

    def recompute(self, spark: SparkSession) -> DataFrame:
        """The view's defining query, from scratch — the parity oracle."""
        l = self._prep(
            self.catalog.read(spark, self.left), self.left_cols, self.filter_left
        )
        r = self._prep(
            self.catalog.read(spark, self.right), self.right_cols, self.filter_right
        )
        return l.join(r, self.on).select(
            *self.on, *self.left_cols, *self.right_cols
        )

    def read(self, spark: SparkSession) -> DataFrame:
        """The maintained view, at the catalog's pinned version."""
        return self.catalog.read(spark, self.view).select(
            *self.on, *self.left_cols, *self.right_cols
        )
