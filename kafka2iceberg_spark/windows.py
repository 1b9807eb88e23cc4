"""Event-time windowing (operators W1-W5, north_star CEP surface).

The reference declares flink-cep / windowing capability but never uses it
(pom.xml:276-281; its source explicitly attaches NO watermarks,
Kafka2IcebergApp.java:60-64). This module supplies the mandated surface with
Spark built-ins only — every aggregation is a hash-aggregate with map-side
partial combine, and all window assignment happens inside whole-stage codegen:

  W1 watermark            withWatermark(ts, delay)
  W2 tumbling             groupBy(window(ts, size))
  W3 sliding              groupBy(window(ts, size, slide))
  W4 session              groupBy(session_window(ts, gap), conv_id)
  W5 late-data handling   watermark-driven drop + observe() metrics

All functions are pure DataFrame transformations usable in batch AND
streaming. Window bounds are surfaced as epoch-microsecond BIGINTs
(unix_micros) so results are timezone-proof and exactly comparable across
engines.

Skew (X1): `salted_agg` breaks mega-conversation hot keys by salting the
grouping key, running the partial aggregate on (key, salt), then combining —
two shuffles but each balanced; with AQE on, the second is tiny.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from pyspark.sql.types import MapType

_WIN_STRUCTS = {"window", "session_window"}


def with_watermark(
    df: DataFrame, ts_col: str = "ts", delay: str = "10 minutes"
) -> DataFrame:
    """W1 — no-op in batch mode, late-row cutoff in streaming.

    Spark event time must be TIMESTAMP (with-tz); the sink schema keeps the
    reference's TIMESTAMP_NTZ, so reinterpret here — the session TZ is pinned
    to UTC (SURVEY.md §7 hard-part e), making the cast value-preserving.
    """
    if not df.isStreaming:
        return df
    from pyspark.sql import types as T

    if isinstance(df.schema[ts_col].dataType, T.TimestampNTZType):
        df = df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return df.withWatermark(ts_col, delay)


def _flatten(out: DataFrame, keys: list[str], struct: str, prefix: str) -> DataFrame:
    aggs = [c for c in out.columns if c not in _WIN_STRUCTS and c not in keys]
    return out.select(
        F.unix_micros(F.col(f"{struct}.start")).alias(f"{prefix}_start_us"),
        F.unix_micros(F.col(f"{struct}.end")).alias(f"{prefix}_end_us"),
        *keys,
        *aggs,
    )


def tumbling(
    df: DataFrame,
    size: str,
    keys: list[str],
    aggs: list[Column],
    ts_col: str = "ts",
) -> DataFrame:
    """W2 — tumbling window aggregate (one hash-agg, map-side combine)."""
    out = df.groupBy(F.window(F.col(ts_col), size), *keys).agg(*aggs)
    return _flatten(out, list(keys), "window", "window")


def sliding(
    df: DataFrame,
    size: str,
    slide: str,
    keys: list[str],
    aggs: list[Column],
    ts_col: str = "ts",
) -> DataFrame:
    """W3 — sliding window aggregate (each row lands in size/slide windows)."""
    out = df.groupBy(F.window(F.col(ts_col), size, slide), *keys).agg(*aggs)
    return _flatten(out, list(keys), "window", "window")


def sessionize(
    df: DataFrame,
    gap: str,
    keys: list[str] = ("conv_id",),
    aggs: list[Column] | None = None,
    ts_col: str = "ts",
) -> DataFrame:
    """W4 — gap-closed session windows keyed by conv_id.

    Spark merges overlapping-or-touching [ts, ts+gap] intervals; a quiet
    period STRICTLY longer than gap closes the session (two events exactly
    gap apart share a session — verified empirically, boundary pinned by
    tests/test_properties.py). session_end = last event ts + gap.

    Streaming late-data note (W5, verified empirically on this Spark
    version — tests/test_streaming_late.py): rows later than the watermark
    are NOT filtered before session aggregation; they merge into any
    still-in-state session, and a row arriving after its session was
    evicted starts a new (split) session. Emitted sessions are final —
    append mode emits each exactly once when the watermark passes its end —
    so late data degrades to session splits, never to updates of emitted
    rows. Plan parity oracles must model insert-then-evict per micro-batch,
    not a per-row late filter.
    """
    aggs = list(aggs) if aggs else [F.count(F.lit(1)).alias("n_turns")]
    out = df.groupBy(F.session_window(F.col(ts_col), gap), *keys).agg(*aggs)
    return _flatten(out, list(keys), "session_window", "session")


def sessionize_two_phase(
    df: DataFrame,
    gap_seconds: int,
    key: str = "conv_id",
    ts_col: str = "ts",
    max_col: str | None = None,
) -> DataFrame:
    """W4 at mega-conversation scale: two-phase gap-closed sessions.

    Phase 1 pre-aggregates rows into (key, gap-sized time bucket) partials —
    a hash aggregate with full map-side combine, so the shuffle carries one
    row per non-empty bucket instead of one per event. Phase 2 runs the
    gaps-and-islands merge over bucket summaries with a window function.

    Exactness: bucket width == gap, so two consecutive events more than gap
    apart can never land in the same bucket (intra-bucket spread < gap), and
    the bucket summaries (min/max event time per bucket) preserve every
    inter-event gap: a session break exists between buckets iff
    next.min − prev.max > gap — the strict inequality matches the builtin,
    which merges events exactly gap apart (touching [ts, ts+gap] intervals).
    Intra-bucket (and adjacent-bucket ≤ gap) events always merge — identical
    output to ``sessionize`` (driver-verified against the same oracle;
    boundary case pinned by the two-phase hypothesis property).

    For a 10^7-turn conversation the sort/window input shrinks by the mean
    bucket occupancy (often 100-10000×); the first phase is the only pass
    over raw rows.
    """
    from pyspark.sql.window import Window

    gap_us = gap_seconds * 1_000_000
    eu = F.unix_micros(F.col(ts_col))
    extra_partial = (
        [F.max(max_col).alias("_mx")] if max_col else []
    )
    partial = (
        df.withColumn("_b", (eu / gap_us).cast("long"))
        .groupBy(key, "_b")
        .agg(
            F.min(eu).alias("_min"),
            F.max(eu).alias("_max"),
            F.count(F.lit(1)).alias("_n"),
            *extra_partial,
        )
    )
    w = Window.partitionBy(key).orderBy("_b")
    marked = partial.withColumn(
        "_brk",
        F.when(
            F.col("_min") - F.lag("_max").over(w) > gap_us, F.lit(1)
        ).otherwise(F.lit(0)),
    ).withColumn(
        "_sid",
        F.sum("_brk").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    extra_final = (
        [F.max("_mx").alias(f"max_{max_col}")] if max_col else []
    )
    out = marked.groupBy(key, "_sid").agg(
        F.min("_min").alias("session_start_us"),
        (F.max("_max") + F.lit(gap_us)).alias("session_end_us"),
        F.sum("_n").alias("n_turns"),
        *extra_final,
    )
    cols = ["session_start_us", "session_end_us", key, "n_turns"]
    if max_col:
        cols.append(f"max_{max_col}")
    return out.select(*cols)


def late_rows_batch(
    df: DataFrame,
    delay_seconds: int,
    ts_col: str = "ts",
    arrival_col: str = "arrival_seq",
    partition_cols: tuple[str, ...] = (),
) -> DataFrame:
    """W5 batch emulation of the streaming late-drop policy.

    A row is late iff its event time is older than (watermark at its
    arrival), where the watermark is the running max event time over all
    *previously arrived* rows minus the delay. Parity tests use this to
    compute, in batch, exactly the rows a streaming run would drop. Adds
    ``is_late``.

    ``partition_cols`` scopes both the arrival sequence and the running max
    to a key (e.g. ``("conv_id",)``): the per-key watermark analogue, and
    the only scalable form — each key's running max is an independent
    ordered window, so the plan is a normal hash-partitioned sort instead
    of a global single-task sort. The empty default (one global watermark,
    exactly what a single streaming query maintains) keeps the whole input
    in one window partition — use only on per-test inputs.
    """
    from pyspark.sql.window import Window

    base = (
        Window.partitionBy(*partition_cols) if partition_cols else Window
    )
    w = base.orderBy(arrival_col).rowsBetween(
        Window.unboundedPreceding, -1
    )
    running_max = F.max(F.unix_micros(F.col(ts_col))).over(w)
    return df.withColumn(
        "is_late",
        F.coalesce(
            F.unix_micros(F.col(ts_col))
            < (running_max - F.lit(delay_seconds * 1_000_000)),
            F.lit(False),
        ),
    )


def disorder_profile(
    df: DataFrame,
    ts_col: str = "ts",
    arrival_col: str = "arrival_seq",
    partition_col: str = "kafka_partition",
    delays_seconds: tuple[int, ...] = (60, 3600, 86400),
) -> DataFrame:
    """W1/W5 companion — the out-of-orderness profile that *chooses* the
    watermark delay.

    For each source partition (Kafka partitions are the unit of arrival
    order, so disorder is only well-defined within one), replay arrival
    order and measure every row's lateness against the running max event
    time of the rows that arrived before it — exactly the quantity a
    streaming watermark tracker maintains. Emits, per partition: row and
    out-of-order counts, worst lateness, and how many rows each candidate
    ``withWatermark`` delay would drop. Reading this table *before*
    deploying the stream replaces guessing the delay with measuring it.

    Scale shape: one ordered window hash-partitioned on the source
    partition id (bounded cardinality — one group per Kafka partition,
    never per key), then a partial-aggregated groupBy on the same key, so
    the window's partitioning is reused and the whole profile is a single
    shuffle of the input. All outputs are exact integers (micros / ppm).
    """
    from pyspark.sql.window import Window

    w = (
        Window.partitionBy(partition_col)
        .orderBy(arrival_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ts_us = F.unix_micros(F.col(ts_col))
    run_max = F.max(ts_us).over(w)
    late = df.withColumn(
        "_lateness_us",
        F.greatest(F.coalesce(run_max - ts_us, F.lit(0)), F.lit(0)),
    )
    aggs = [
        F.count(F.lit(1)).alias("n_rows"),
        F.sum((F.col("_lateness_us") > 0).cast("long"))
        .cast("long")
        .alias("n_ooo"),
        F.max("_lateness_us").cast("long").alias("max_lateness_us"),
    ]
    for d in delays_seconds:
        aggs.append(
            F.sum((F.col("_lateness_us") > d * 1_000_000).cast("long"))
            .cast("long")
            .alias(f"n_late_{d}s")
        )
    out = late.groupBy(partition_col).agg(*aggs)
    return out.withColumn(
        "ooo_ppm", F.expr("CAST(n_ooo * 1000000 DIV n_rows AS BIGINT)")
    )


def salted_agg(
    df: DataFrame,
    key: str,
    n_salts: int,
    count_col: str = "n",
) -> DataFrame:
    """X1 — skew-safe count per hot key: partial agg on (key, salt), then
    final combine. The salt spreads a mega-conversation over n_salts tasks.

    Salt = hash(input partition id, hashable row columns): deterministic
    under task retry/speculation (a retried partition re-derives identical
    salts — partition ids are stable for a fixed lineage, unlike
    monotonically_increasing_id across stage retries), and byte-identical
    replayed rows landing in DIFFERENT input partitions still spread
    instead of collapsing onto one (key, salt) bucket. Within one input
    partition, identical rows sharing a salt is free — map-side partial
    aggregation combines them locally anyway. Map-typed columns are
    excluded (Spark's hash() cannot take them)."""
    hashable = [
        F.col(f.name)
        for f in df.schema.fields
        if not isinstance(f.dataType, MapType)
    ]
    salted = df.withColumn(
        "_salt",
        F.pmod(F.hash(F.spark_partition_id(), *hashable), F.lit(n_salts)),
    )
    partial = salted.groupBy(key, "_salt").agg(F.count(F.lit(1)).alias("_c"))
    return partial.groupBy(key).agg(F.sum("_c").cast("long").alias(count_col))


def skew_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    hot_threshold: int,
    how: str = "inner",
) -> DataFrame:
    """X1 for JOINS — the explicit two-path skew join ``salted_agg`` is
    for aggregates. A shuffle join hash-partitions BOTH sides on the key,
    so one mega-conversation lands its entire fact side in one task; AQE
    skew-join splits such partitions at runtime, but only after the skew
    materializes and only per-partition, not per-key. This operator makes
    the plan explicit and deterministic:

      hot keys   left-side counts > hot_threshold (one partial-agg count;
                 the survivors are by construction few — a driver-side
                 collect of hot keys only is bounded coordination, same
                 discipline as sink commit metadata)
      hot path   fact rows with hot keys join a ``broadcast()`` of the
                 dim rows for those keys — no shuffle of the heavy side
                 at all, the mega-key streams map-side
      cold path  everything else takes the normal shuffle-hash join
      result     unionByName of both paths — row-identical to the plain
                 join for inner/left semantics (each row takes exactly
                 one path, decided by its key)

    Requires the RIGHT side to be join-key-unique-ish and small per hot
    key (a dimension), which is the only regime where per-key broadcast
    is correct medicine. ``dq.key_skew`` is the diagnostic that chooses
    ``hot_threshold``.
    """
    if how not in ("inner", "left"):
        raise ValueError("skew_join supports inner/left joins")
    counts = left.groupBy(key).agg(F.count(F.lit(1)).alias("_n"))
    hot = [
        r[0]
        for r in counts.where(F.col("_n") > hot_threshold)
        .select(key)
        .collect()
    ]
    if not hot:
        return left.join(right.hint("shuffle_hash"), key, how)
    hot_lit = [F.lit(h) for h in hot]
    hot_left = left.where(F.col(key).isin(*hot_lit))
    cold_left = left.where(~F.col(key).isin(*hot_lit))
    hot_right = right.where(F.col(key).isin(*hot_lit))
    hot_part = hot_left.join(F.broadcast(hot_right), key, how)
    cold_part = cold_left.join(right.hint("shuffle_hash"), key, how)
    return hot_part.unionByName(cold_part)


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    right_cols: list[str] | None = None,
    strict: bool = False,
) -> DataFrame:
    """Event-time AS-OF join: each left row picks the single LATEST right
    row with ``right_ts <= left_ts`` (``<`` when ``strict``) sharing the
    ``on`` keys; left rows with no prior right row keep NULLs (left outer
    semantics). Spark has no ASOF JOIN operator — the common workarounds
    are a range-exploded theta join (quadratic per key) or per-row Python;
    this is neither: both sides union into one stream, one hash shuffle on
    the keys, and one ordered window pass carries the most recent right
    payload forward (``last(..., ignoreNulls)`` over unbounded-preceding),
    so the cost is sort-within-partition — the same shape at 10^12 rows.

    Ties: right rows sort before left rows at an equal timestamp (after,
    when ``strict``), and multiple right rows at the same (key, ts) resolve
    by the LAST right_cols values in (ts, right_cols...) order — pre-dedupe
    the right side for engine-independent determinism (DuckDB's ASOF picks
    an arbitrary tie winner). Right rows with a NULL timestamp can never
    satisfy the as-of predicate and are dropped.

    The right payload is carried as ONE struct, so every output value —
    including genuine NULLs in the matched row's payload — comes from the
    same right row (carrying columns independently would let an older
    row's value leak under a newer row's NULL).

    Output: all left columns + the carried ``right_cols`` (default: every
    non-key, non-ts right column) + ``_asof_ts`` (the matched right_ts).
    Raises if output names collide (a left column named like a carried
    right column or the reserved ``_asof_ts``/``_ev_ts``/``_side``/``_r``).
    """
    if right_cols is None:
        right_cols = [
            c for c in right.columns if c not in on and c != right_ts
        ]
    clash = set(left.columns) & (
        set(right_cols) | {"_asof_ts", "_ev_ts", "_side", "_r"}
    )
    if clash:
        raise ValueError(
            f"asof_join output name collision on {sorted(clash)}: rename "
            "or project the left side, or pass explicit right_cols"
        )
    # one struct per right row: the window carries the whole matched row,
    # so a NULL payload value in the latest right row stays NULL instead
    # of exposing a stale value from an older row
    r = right.where(F.col(right_ts).isNotNull()).select(
        *on,
        F.col(right_ts).alias("_ev_ts"),
        F.struct(
            F.col(right_ts).alias("_asof_ts"),
            *[F.col(c) for c in right_cols],
        ).alias("_r"),
        F.lit(2 if strict else 0).alias("_side"),
    )
    left_cols = left.columns
    l = left.select(  # noqa: E741
        "*", F.col(left_ts).alias("_ev_ts"), F.lit(1).alias("_side")
    )
    unioned = l.unionByName(r, allowMissingColumns=True)
    w = (
        Window.partitionBy(*on)
        .orderBy(
            "_ev_ts", "_side", *[F.col("_r")[c] for c in right_cols]
        )
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = unioned.withColumn(
        "_c", F.last("_r", ignorenulls=True).over(w)
    )
    return out.where(F.col("_side") == 1).select(
        *left_cols,
        *[F.col("_c")[c].alias(c) for c in right_cols],
        F.col("_c")["_asof_ts"].alias("_asof_ts"),
    )


def range_join_within(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    interval_sec: int,
    left_ts: str = "ts",
    right_ts: str = "ts",
) -> DataFrame:
    """Banded range join: pairs (l, r) sharing ``on`` keys with
    ``left_ts < right_ts <= left_ts + interval_sec``.

    The naive formulation is an inequality theta-join — a per-key cartesian
    that Spark executes as BroadcastNestedLoop or a key-cartesian, both
    quadratic. Banding restores an equi-join: both sides bucket their
    timestamp by the interval width, each left row probes exactly two
    buckets (its own and the next — any right row within the interval must
    land in one of them), and the exact predicate filters inside the join.
    Cost: 2× left amplification on (key, bucket) short keys, one hash
    shuffle each side, zero cartesian — the standard interval-join shape
    (Flink's IntervalJoin materializes the same banding in state).

    Output: all left columns (suffixed ``_l`` on collision) + all right
    columns (suffixed ``_r`` on collision).
    """
    lb = F.floor(F.unix_timestamp(F.col(left_ts)) / interval_sec)
    rb = F.floor(F.unix_timestamp(F.col(right_ts)) / interval_sec)
    overlap = set(left.columns) & set(right.columns) - set(on)
    lsel = left.select(
        *on,
        *[
            F.col(c).alias(f"{c}_l" if c in overlap else c)
            for c in left.columns
            if c not in on
        ],
        F.explode(F.array(lb, lb + 1)).alias("_band"),
    )
    rsel = right.select(
        *on,
        *[
            F.col(c).alias(f"{c}_r" if c in overlap else c)
            for c in right.columns
            if c not in on
        ],
        rb.alias("_band"),
    )
    lt = f"{left_ts}_l" if left_ts in overlap else left_ts
    rt = f"{right_ts}_r" if right_ts in overlap else right_ts
    return (
        # shuffle-hash: both sides can be large and the keys are short —
        # hash build avoids sorting either side (AQE may still downgrade
        # to broadcast when one side turns out tiny)
        lsel.join(rsel.hint("shuffle_hash"), on + ["_band"])
        .where(
            (F.col(rt) > F.col(lt))
            # exact micros arithmetic: second-truncated bounds would
            # mis-classify pairs within the same second of the window edge
            & (
                F.unix_micros(F.col(rt))
                <= F.unix_micros(F.col(lt)) + interval_sec * 1_000_000
            )
        )
        .drop("_band")
    )


def multitouch_attribution(
    touches: DataFrame,
    conversions: DataFrame,
    on: list[str],
    window_sec: int,
    model: str = "linear",
    touch_ts: str = "ts",
    conv_ts: str = "ts",
    touch_id: str = "touch_id",
    conv_id: str = "conv_id",
    value_col: str = "value",
) -> DataFrame:
    """Multi-touch attribution: split each conversion's value across the
    touches (clicks/views) by the same key inside the lookback window
    ``(conv_ts - window_sec, conv_ts]`` — the marketing-analytics
    complement to :func:`asof_join`'s single last-touch answer.

    Models: ``linear`` (equal credit), ``first`` / ``last`` (all credit
    to the earliest/latest touch; ties on timestamp break on the smaller
    touch id, deterministically). Weights are exact integer ppm
    (1e6 div n, remainder unassigned — honest about integer splitting
    rather than pretending thirds are exact); credit is the single final
    double multiply, rounded.

    Scale shape: the touch↔conversion pairing reuses
    :func:`range_join_within`'s banded equi-join (two bucket probes per
    touch, zero cartesian); per-conversion stats are ONE window pass over
    the pair relation, partitioned by the conversion id.

    Output: (conv_id, touch_id, n_touches, weight_ppm, credit).
    """
    if model not in ("linear", "first", "last"):
        raise ValueError(f"unknown attribution model: {model}")
    pairs = range_join_within(
        touches.select(*on, F.col(touch_ts), F.col(touch_id)),
        conversions.select(*on, F.col(conv_ts), F.col(conv_id), F.col(value_col)),
        on,
        window_sec,
        left_ts=touch_ts,
        right_ts=conv_ts,
    )
    tts = f"{touch_ts}_l" if touch_ts == conv_ts else touch_ts
    w = Window.partitionBy(conv_id)
    n = F.count(F.lit(1)).over(w)
    rk_first = F.row_number().over(
        w.orderBy(F.col(tts).asc(), F.col(touch_id).asc())
    )
    rk_last = F.row_number().over(
        w.orderBy(F.col(tts).desc(), F.col(touch_id).desc())
    )
    if model == "linear":
        weight_ppm = F.expr("1000000 div n_touches")
    elif model == "first":
        weight_ppm = F.when(F.col("_rk_first") == 1, F.lit(1_000_000)).otherwise(
            F.lit(0)
        )
    else:
        weight_ppm = F.when(F.col("_rk_last") == 1, F.lit(1_000_000)).otherwise(
            F.lit(0)
        )
    marked = pairs.select(
        F.col(conv_id),
        F.col(touch_id),
        F.col(value_col),
        n.cast("long").alias("n_touches"),
        rk_first.alias("_rk_first"),
        rk_last.alias("_rk_last"),
    )
    return marked.select(
        conv_id,
        touch_id,
        "n_touches",
        weight_ppm.cast("long").alias("weight_ppm"),
        F.round(
            F.col(value_col) * weight_ppm.cast("double") / 1e6, 6
        ).alias("credit"),
    )


def concurrency_curve(
    sessions: DataFrame,
    step_us: int,
    start_col: str = "session_start_us",
    end_col: str = "session_end_us",
) -> DataFrame:
    """Concurrent-session curve — how many conversations are active at
    each time-grid boundary (capacity planning's first question; Spark
    has no interval-stacking primitive). A session [s, e) is active at
    boundary b iff s ≤ b < e, so each session contributes +1 at the
    first boundary ≥ s and −1 at the first boundary ≥ e (integer ceil
    arithmetic), and the curve is ONE cumulative sum over the DISTINCT
    boundary domain (the histogram-window discipline — a billion
    sessions collapse to at most span/step delta rows before the
    window). Output: (boundary_us, delta, active) at every boundary
    where the count changes.
    """
    if step_us <= 0:
        raise ValueError("step_us must be positive")
    up = lambda c: (  # noqa: E731  (first grid boundary >= c)
        F.expr(f"(({c} + {step_us - 1}) div {step_us}) * {step_us}")
    )
    deltas = (
        sessions.select(up(start_col).alias("boundary_us"), F.lit(1).alias("_d"))
        .unionByName(
            sessions.select(
                up(end_col).alias("boundary_us"), F.lit(-1).alias("_d")
            )
        )
        .groupBy("boundary_us")
        .agg(F.sum("_d").alias("delta"))
    )
    w = Window.orderBy("boundary_us").rangeBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return deltas.withColumn(
        "active", F.sum("delta").over(w).cast("long")
    ).select("boundary_us", F.col("delta").cast("long").alias("delta"), "active")


def capped_sessions(
    df: DataFrame,
    gap_seconds: int,
    cap_seconds: int,
    key: str = "conv_id",
    ts_col: str = "ts",
    order_col: str = "turn_idx",
) -> DataFrame:
    """Gap-closed sessions with a hard duration cap — the production
    variant of W4: inactivity > ``gap_seconds`` closes a session as
    usual, and any gap-session longer than ``cap_seconds`` is split on
    fixed cap boundaries measured from its own start (so no emitted
    session ever spans more than the cap). The cap is what bounds
    per-key state at 10^12 turns: without it a never-idle bot
    conversation grows one session forever (unbounded streaming state,
    unmergeable rollups); with it every session is a bounded object.

    The cap split is intentionally grid-based (bucket = elapsed-since-
    gap-session-start div cap), not reset-on-row: that keeps the whole
    operator CLOSED-FORM — two per-key window passes and one hash agg,
    all JVM-side whole-stage codegen — where reset-on-row semantics
    would force a sequential per-row scan (a Python loop or a custom
    stateful op).

    Shape: one lag window (hash exchange on key, in-partition sort),
    one min-over-gap-session window (same partitioning reused), one
    (key, session) hash agg, one post-agg row_number for the stable
    per-key sequence. No joins.

    Output: (conv_id, session_seq, n_turns, start_us, end_us, dur_us).
    """
    from pyspark.sql.window import Window

    gap_us = gap_seconds * 1_000_000
    cap_us = cap_seconds * 1_000_000
    eu = F.unix_micros(F.col(ts_col))
    w = Window.partitionBy(key).orderBy(ts_col, order_col)
    marked = (
        df.select(key, ts_col, order_col)
        .withColumn("_eu", eu)
        .withColumn(
            "_brk",
            F.when(
                F.col("_eu") - F.lag("_eu").over(w) > gap_us, F.lit(1)
            ).otherwise(F.lit(0)),
        )
        .withColumn(
            "_gsid",
            F.sum("_brk").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
    )
    wg = Window.partitionBy(key, "_gsid")
    seg = marked.withColumn(
        "_els", F.col("_eu") - F.min("_eu").over(wg)
    ).withColumn("_seg", F.expr(f"_els div {cap_us}").cast("long"))
    agg = seg.groupBy(key, "_gsid", "_seg").agg(
        F.count(F.lit(1)).cast("long").alias("n_turns"),
        F.min("_eu").alias("start_us"),
        F.max("_eu").alias("end_us"),
    )
    wseq = Window.partitionBy(key).orderBy("start_us", "_gsid", "_seg")
    return agg.select(
        key,
        F.row_number().over(wseq).cast("long").alias("session_seq"),
        "n_turns",
        "start_us",
        "end_us",
        (F.col("end_us") - F.col("start_us")).cast("long").alias("dur_us"),
    )


def quota_admit(
    df: DataFrame,
    key: str,
    ts_col: str,
    window: str,
    quota: int,
    tiebreak: str,
) -> DataFrame:
    """Deterministic admission control: per (key, tumbling window), ADMIT
    the ``quota`` earliest rows by (event time, tiebreak) and reject the
    rest — the per-conversation / per-source rate cap an ingestion
    pipeline enforces before expensive downstream work (a runaway agent
    loop or a crawler hammering one domain must not monopolize the
    corpus). Event-time order, not arrival order, so the verdict is a
    pure function of the data: replays, reordering and backfills admit
    exactly the same rows.

    One shuffle on (key, window bucket) + one rank window — the same
    partitioning every per-conversation op in this repo reuses; at 100 TB
    the quota windows are embarrassingly parallel across keys.

    Output: every input row's (key, tiebreak, ts_us, window_us,
    admitted).
    """
    from .timeseries import _bucket_us

    dur_us = _interval_us(window)
    out = df.select(
        key,
        tiebreak,
        F.unix_micros(F.col(ts_col)).alias("ts_us"),
        _bucket_us(F.col(ts_col), dur_us).alias("window_us"),
    )
    w = Window.partitionBy(key, "window_us").orderBy("ts_us", tiebreak)
    return out.select(
        key,
        tiebreak,
        "ts_us",
        "window_us",
        (F.row_number().over(w) <= quota).alias("admitted"),
    )


def _interval_us(spec: str) -> int:
    """'1 day' / '6 hours' / '15 minutes' / '30 seconds' -> microseconds."""
    n, unit = spec.split()
    mult = {
        "second": 1_000_000,
        "seconds": 1_000_000,
        "minute": 60_000_000,
        "minutes": 60_000_000,
        "hour": 3_600_000_000,
        "hours": 3_600_000_000,
        "day": 86_400_000_000,
        "days": 86_400_000_000,
    }[unit]
    return int(n) * mult


def gap_sensitivity(
    t: DataFrame,
    gaps_us: list[int],
    key: str = "conv_id",
    ts_col: str = "ts",
    tiebreak: str = "turn_idx",
) -> DataFrame:
    """Session-gap sensitivity sweep: how many gap-closed sessions (and
    how big) EVERY candidate gap yields, in ONE pass — the tuning tool
    for the session-window hyperparameter (a gap-closed sessionization's
    entire output structure is determined by which inter-turn silences
    exceed the gap, so all candidate gaps share one lag computation).

    For each gap g: n_sessions(g) = n_conversations + #{consecutive-turn
    silences > g} — exactly the session count ``sessionize``/
    ``session_window`` would emit, without materializing any session.

    Scale shape: one hash shuffle on the conversation key for the ordered
    lag (the same exchange sessionization itself pays), then conditional
    sums per gap inside ONE partial-aggregated pass and a |gaps|-row
    stack. Adding candidate gaps is free; a naive sweep re-runs the whole
    sessionization per gap.

    Output: (gap_us, n_sessions, n_boundaries, avg_turns_per_session_ppm)
    — one row per candidate gap, exact integer arithmetic.
    """
    w = Window.partitionBy(key).orderBy(ts_col, tiebreak)
    us = F.unix_micros(F.col(ts_col))
    d = t.select(
        F.col(key),
        (us - F.lag(us).over(w)).alias("_diff"),
    )
    aggs = [
        F.count(F.lit(1)).cast("long").alias("_rows"),
        F.count_distinct(F.col(key)).cast("long").alias("_convs"),
    ] + [
        F.sum((F.col("_diff") > F.lit(int(g))).cast("long")).alias(f"_b{i}")
        for i, g in enumerate(gaps_us)
    ]
    one = d.agg(*aggs)
    stacked = one.select(
        F.expr(
            "stack({n}, {cols}) as (gap_us, n_boundaries)".format(
                n=len(gaps_us),
                cols=", ".join(
                    f"CAST({int(g)} AS BIGINT), coalesce(_b{i}, 0)"
                    for i, g in enumerate(gaps_us)
                ),
            )
        ),
        "_rows",
        "_convs",
    )
    return stacked.select(
        "gap_us",
        (F.col("_convs") + F.col("n_boundaries")).cast("long").alias(
            "n_sessions"
        ),
        F.col("n_boundaries").cast("long").alias("n_boundaries"),
        F.expr(
            "_rows * 1000000 div (_convs + n_boundaries)"
        ).cast("long").alias("avg_turns_per_session_ppm"),
    )
