"""Stateful stream-stream join of user turns to assistant/tool replies (J1/J2).

north_star: "maintains a stateful stream-stream join of user turns to
assistant/tool replies via flatMapGroupsWithState-style pandas UDFs over
Arrow batches"; "turn ordering within each conv_id is enforced by a
(conv_id, turn_idx) sort inside mapInPandas so per-turn text equality holds
under replay".

Two implementations with identical final-output semantics:

  * ``paired_turns_batch`` — the declarative batch/parity form: lead() over
    (conv_id, turn_idx). One shuffle, no state; used by the oracle gate and
    batch backfills.
  * ``paired_turns_stream`` — the streaming form: ``applyInPandasWithState``
    keyed by conv_id. State buffers turns that cannot yet emit; each incoming
    Arrow batch group is sorted by turn_idx (J2) before matching; a
    processing-time timeout flushes conversations idle past the session gap.
    All pandas ops are columnar — no per-row Python in the hot loop.

Shared pairing contract (turn_idx is dense per conv_id, FIXTURES.md §1):
user turn i pairs with turn i+1 when i+1 is assistant/tool; if i+1 is another
user turn, turn i emits unpaired (NULL reply columns); a trailing user turn
emits unpaired at state expiry (stream) / end of input (batch). Requiring
exact i+1 contiguity makes the streaming result independent of arrival order
— an out-of-order hole defers emission instead of mis-pairing across it.
"""

from __future__ import annotations

import json

from collections.abc import Iterable

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)
from pyspark.sql.window import Window

PAIR_SCHEMA = StructType(
    [
        StructField("conv_id", StringType(), False),
        StructField("user_turn_idx", IntegerType(), False),
        StructField("user_text", StringType(), True),
        StructField("user_ts", TimestampType(), True),
        StructField("reply_turn_idx", IntegerType(), True),
        StructField("reply_role", StringType(), True),
        StructField("reply_text", StringType(), True),
        StructField("reply_ts", TimestampType(), True),
        StructField("latency_us", LongType(), True),
    ]
)

# buffered unemitted turns, columnar-packed into strings (cheap Arrow state)
_STATE_SCHEMA = StructType(
    [
        StructField("turn_idx", StringType(), True),  # csv ints
        StructField("role", StringType(), True),  # JSON list
        StructField("text", StringType(), True),  # JSON list (null-safe)
        StructField("ts_us", StringType(), True),  # csv int64 micros
    ]
)

_PAIR_COLS = [f.name for f in PAIR_SCHEMA.fields]


def paired_turns_batch(turns: DataFrame) -> DataFrame:
    """Declarative batch form — the parity oracle's shape."""
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    nxt = turns.select(
        "conv_id",
        "turn_idx",
        "role",
        "text",
        "ts",
        F.lead("turn_idx").over(w).alias("n_idx"),
        F.lead("role").over(w).alias("n_role"),
        F.lead("text").over(w).alias("n_text"),
        F.lead("ts").over(w).alias("n_ts"),
    ).filter(F.col("role") == "user")
    replied = F.col("n_role").isNotNull() & (F.col("n_role") != "user")
    return nxt.select(
        "conv_id",
        F.col("turn_idx").alias("user_turn_idx"),
        F.col("text").alias("user_text"),
        F.col("ts").alias("user_ts"),
        F.when(replied, F.col("n_idx")).alias("reply_turn_idx"),
        F.when(replied, F.col("n_role")).alias("reply_role"),
        F.when(replied, F.col("n_text")).alias("reply_text"),
        F.when(replied, F.col("n_ts")).alias("reply_ts"),
        F.when(
            replied, F.unix_micros(F.col("n_ts")) - F.unix_micros(F.col("ts"))
        ).alias("latency_us"),
    )


def _empty_pairs() -> pd.DataFrame:
    return pd.DataFrame(columns=_PAIR_COLS)


def _pair_rows(buf: pd.DataFrame) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Vectorized pairing over one conversation's buffered turns.

    Returns (pairs, leftover). Only emits where turn i+1 is present
    (contiguity); everything not consumed stays in ``leftover``.
    """
    df = (
        buf.sort_values("turn_idx", kind="mergesort")
        .drop_duplicates(subset=["turn_idx"], keep="first")
        .reset_index(drop=True)
    )
    idx = df["turn_idx"].astype("int64")
    roles = df["role"]
    contig = idx.shift(-1) == idx + 1
    nxt_role = roles.shift(-1)
    is_user = roles == "user"
    paired = (is_user & contig & (nxt_role != "user")).fillna(False)
    closed = (is_user & contig & (nxt_role == "user")).fillna(False)
    emit = df.index[paired | closed]
    if not len(emit):
        return _empty_pairs(), df

    rep = df.shift(-1).loc[emit].reset_index(drop=True)
    m = paired.loc[emit].reset_index(drop=True).to_numpy()
    out = pd.DataFrame(
        {
            "conv_id": df.loc[emit, "conv_id"].to_numpy(),
            "user_turn_idx": df.loc[emit, "turn_idx"].astype("int32").to_numpy(),
            "user_text": df.loc[emit, "text"].to_numpy(),
            "user_ts": df.loc[emit, "ts"].to_numpy(),
            "reply_turn_idx": pd.Series(
                rep["turn_idx"].astype("int64"), dtype="Int64"
            ).where(m),
            "reply_role": rep["role"].where(m),
            "reply_text": rep["text"].where(m),
            "reply_ts": pd.to_datetime(rep["ts"]).where(m),
        }
    )
    u_us = pd.to_datetime(out["user_ts"]).astype("int64") // 1000  # ns→us
    r_us = pd.to_datetime(out["reply_ts"]).astype("int64") // 1000
    out["latency_us"] = pd.Series(r_us - u_us, dtype="Int64").where(m)
    consumed = set(idx.loc[emit]) | set(
        idx.loc[e + 1] for e, p in zip(emit, paired.loc[emit]) if p
    )
    leftover = df[~df["turn_idx"].isin(consumed)]
    return out, leftover


def _flush_unpaired(leftover: pd.DataFrame) -> pd.DataFrame:
    users = leftover[leftover["role"] == "user"]
    n = len(users)
    return pd.DataFrame(
        {
            "conv_id": users["conv_id"].to_numpy(),
            "user_turn_idx": users["turn_idx"].astype("int32").to_numpy(),
            "user_text": users["text"].to_numpy(),
            "user_ts": users["ts"].to_numpy(),
            "reply_turn_idx": pd.array([None] * n, dtype="Int64"),
            "reply_role": pd.array([None] * n, dtype=object),
            "reply_text": pd.array([None] * n, dtype=object),
            "reply_ts": pd.to_datetime(pd.array([None] * n)),
            "latency_us": pd.array([None] * n, dtype="Int64"),
        }
    )


def _decode_list(s: str, n: int, legacy_sep: str) -> list:
    """Current JSON list format, with a fallback for state buffered by the
    previous release's csv/\\x1f codec — a checkpoint written before the
    codec change must restore, not poison the query. A JSON payload always
    starts with '[' (json.dumps of a list); legacy payloads never do."""
    if s.startswith("["):
        try:
            out = json.loads(s)
            if isinstance(out, list) and len(out) == n:
                return out
            # a legacy \x1f-joined payload whose first text starts with
            # '[' can parse as a JSON list of the wrong shape — fall
            # through to the legacy split rather than poison downstream
        except ValueError:
            pass  # pathological legacy text that starts with '['
    out = s.split(legacy_sep)
    if len(out) != n:
        raise ValueError(
            f"undecodable state buffer: {n} rows, {len(out)} values"
        )
    return out


def _unpack_state(state, conv_id: str) -> pd.DataFrame:
    cols = ["conv_id", "turn_idx", "role", "text", "ts"]
    if not state.exists:
        return pd.DataFrame(columns=cols)
    idx_s, role_s, text_s, ts_s = state.get
    if not idx_s:
        return pd.DataFrame(columns=cols)
    idx = [int(x) for x in idx_s.split(",")]
    return pd.DataFrame(
        {
            "conv_id": [conv_id] * len(idx),
            "turn_idx": idx,
            "role": _decode_list(role_s, len(idx), ","),
            "text": _decode_list(text_s, len(idx), "\x1f"),
            "ts": pd.to_datetime(
                pd.array([int(x) for x in ts_s.split(",")], dtype="int64")
                * 1000  # us → ns
            ),
        }
    )


def _pack_state(state, leftover: pd.DataFrame) -> None:
    """Buffer leftover turns into the string-typed state columns.

    role/text are JSON-encoded lists: a text containing any separator
    character round-trips intact, and a null text stays null (the previous
    \\x1f-join both split on embedded separators — a poison-pill
    conversation that crashed the query — and stringified nulls to 'None').
    turn_idx/ts stay csv — they're integers, no escaping needed.
    """
    if not len(leftover):
        if state.exists:
            state.remove()
        return
    ts_us = pd.to_datetime(leftover["ts"]).astype("int64") // 1000
    state.update(
        (
            ",".join(str(int(x)) for x in leftover["turn_idx"]),
            json.dumps(
                [None if pd.isna(r) else str(r) for r in leftover["role"]]
            ),
            json.dumps(
                [None if pd.isna(t) else str(t) for t in leftover["text"]]
            ),
            ",".join(str(int(x)) for x in ts_us),
        )
    )


def _duration_ms(s: str) -> int:
    n, unit = s.split()
    return int(n) * {"second": 1000, "minute": 60_000, "hour": 3_600_000}[
        unit.rstrip("s")
    ]


def _concat_nonempty(frames: list[pd.DataFrame]) -> pd.DataFrame:
    nonempty = [f for f in frames if len(f)]
    if not nonempty:
        return frames[0]
    return pd.concat(nonempty, ignore_index=True)


def paired_turns_stream(
    turns: DataFrame,
    gap: str = "30 minutes",
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """J1 streaming form: applyInPandasWithState keyed by conv_id.

    Event-time timeouts (not processing-time): a conversation's buffered
    state expires when the watermark passes last-turn-ts + gap — the same
    boundary the session windows use, and fully replay-deterministic. At
    expiry the trailing unpaired user turns flush with NULL reply columns.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from .windows import with_watermark

    gap_ms = _duration_ms(gap)
    turns = with_watermark(turns, "ts", watermark_delay)

    def fn(key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState):
        if state.hasTimedOut:
            buf = _unpack_state(state, key[0])
            state.remove()
            if len(buf):
                pairs, leftover = _pair_rows(buf)
                out = _concat_nonempty([pairs, _flush_unpaired(leftover)])
                if len(out):
                    yield out
            return
        new = _concat_nonempty(list(pdfs))[
            ["conv_id", "turn_idx", "role", "text", "ts"]
        ]
        buf = _concat_nonempty([_unpack_state(state, key[0]), new])
        pairs, leftover = _pair_rows(buf)
        _pack_state(state, leftover)
        if len(leftover):
            last_ms = int(
                pd.to_datetime(leftover["ts"]).astype("int64").max() // 1_000_000
            )
            state.setTimeoutTimestamp(
                max(last_ms + gap_ms, state.getCurrentWatermarkMs() + 1)
            )
        if len(pairs):
            yield pairs

    return turns.groupBy("conv_id").applyInPandasWithState(
        fn,
        outputStructType=PAIR_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def paired_turns_stream_join(
    turns: DataFrame,
    gap: str = "30 minutes",
    watermark_delay: str | None = "10 minutes",
    disorder: str = "10 minutes",
) -> DataFrame:
    """J1 as a watermarked JVM stream-stream LEFT OUTER join — the
    whole-stage-codegen'd alternative for the contiguous-pair contract.

    The user side joins the reply side on (conv_id, turn_idx+1) with an
    event-time band ``reply_ts ∈ [user_ts - disorder, user_ts + gap]`` (the
    band bounds join state exactly like the stateful impl's session-gap
    timeout; ``disorder`` admits bounded intra-conversation timestamp
    inversions). Unmatched user turns emit with NULL reply columns once the
    watermark passes their band — same final rows as
    ``paired_turns_stream``, produced by Spark's symmetric hash join state
    instead of per-group Python. It is not faster: BENCH_r05.json measured
    it at 20.8 s (``pairs_e2e_join``) against 5.5 s for the
    applyInPandasWithState path (``pairs_e2e``). Differences vs the
    stateful impl: emission timing (pairs surface when the watermark closes
    the band, not eagerly) and no duplicate-turn collapse — feed it
    offset-deduped input (the ingest sink's dedup, or
    dropDuplicatesWithinWatermark upstream) when replays are possible.

    The watermark is defined ONCE on the unified stream and both filtered
    sides inherit it through the rename (re-watermarking each side would be
    a disallowed redefinition when the caller chains another stateful
    operator upstream). Pass ``watermark_delay=None`` for input that is
    already watermarked.
    """
    from .windows import with_watermark

    if watermark_delay is not None:
        turns = with_watermark(turns, "ts", watermark_delay)
    users = turns.filter(F.col("role") == "user").select(
        F.col("conv_id").alias("u_conv_id"),
        F.col("turn_idx").alias("user_turn_idx"),
        F.col("text").alias("user_text"),
        F.col("ts").alias("user_ts"),
    )
    replies = turns.filter(F.col("role") != "user").select(
        F.col("conv_id").alias("r_conv_id"),
        F.col("turn_idx").alias("reply_turn_idx"),
        F.col("role").alias("reply_role"),
        F.col("text").alias("reply_text"),
        F.col("ts").alias("reply_ts"),
    )
    cond = (
        (F.col("u_conv_id") == F.col("r_conv_id"))
        & (F.col("reply_turn_idx") == F.col("user_turn_idx") + 1)
        & (
            F.col("reply_ts")
            >= F.col("user_ts") - F.expr(f"INTERVAL {disorder}")
        )
        & (F.col("reply_ts") <= F.col("user_ts") + F.expr(f"INTERVAL {gap}"))
    )
    return users.join(replies, cond, "leftOuter").select(
        F.col("u_conv_id").alias("conv_id"),
        F.col("user_turn_idx").cast("int").alias("user_turn_idx"),
        "user_text",
        "user_ts",
        F.col("reply_turn_idx").cast("int").alias("reply_turn_idx"),
        "reply_role",
        "reply_text",
        "reply_ts",
        (
            F.unix_micros(F.col("reply_ts"))
            - F.unix_micros(F.col("user_ts"))
        ).alias("latency_us"),
    )


_TWS_BUF_SCHEMA = "turn_idx INT, role STRING, text STRING, ts_us BIGINT"


def paired_turns_stream_tws(
    turns: DataFrame,
    gap: str = "30 minutes",
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """J1 on the Spark 4.x state API: ``transformWithStateInPandas`` with a
    typed ListState buffer and real event-time timers.

    Same output contract as ``paired_turns_stream`` (shared ``_pair_rows``
    core); the modern API gives schema'd state (no string packing), per-key
    timers with explicit delete/re-register, and state-store-native TTL
    hooks. Prefer this form on Spark ≥ 4.0 clusters. Requires the
    ``protobuf`` package (the tws state-server protocol) — absent from this
    sandbox image, so tests gate on it; ``paired_turns_stream`` is the
    dependency-free fallback with identical semantics.
    """
    from pyspark.sql.streaming.stateful_processor import (
        ExpiredTimerInfo,
        StatefulProcessor,
        StatefulProcessorHandle,
        TimerValues,
    )

    from .windows import with_watermark

    gap_ms = _duration_ms(gap)
    turns = with_watermark(turns, "ts", watermark_delay)
    cols = ["conv_id", "turn_idx", "role", "text", "ts"]

    class PairProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self.handle = handle
            self.buf = handle.getListState("buf", _TWS_BUF_SCHEMA)

        def _stored(self, conv_id: str) -> pd.DataFrame:
            if not self.buf.exists():
                return pd.DataFrame(columns=cols)
            rows = list(self.buf.get())
            if not rows:
                return pd.DataFrame(columns=cols)
            return pd.DataFrame(
                {
                    "conv_id": [conv_id] * len(rows),
                    "turn_idx": [r[0] for r in rows],
                    "role": [r[1] for r in rows],
                    "text": [r[2] for r in rows],
                    "ts": pd.to_datetime(
                        pd.array([r[3] for r in rows], dtype="int64") * 1000
                    ),
                }
            )

        def _store(self, leftover: pd.DataFrame, timerValues: TimerValues) -> None:
            self.buf.clear()
            for t in list(self.handle.listTimers()):
                self.handle.deleteTimer(t)
            if not len(leftover):
                return
            ts_us = pd.to_datetime(leftover["ts"]).astype("int64") // 1000
            self.buf.put(
                [
                    (int(i), str(r), str(x), int(u))
                    for i, r, x, u in zip(
                        leftover["turn_idx"], leftover["role"],
                        leftover["text"], ts_us,
                    )
                ]
            )
            last_ms = int(ts_us.max() // 1000)
            self.handle.registerTimer(
                max(last_ms + gap_ms, timerValues.getCurrentWatermarkInMs() + 1)
            )

        def handleInputRows(self, key, rows, timerValues: TimerValues):
            new = _concat_nonempty(list(rows))[cols]
            buf = _concat_nonempty([self._stored(key[0]), new])
            pairs, leftover = _pair_rows(buf)
            self._store(leftover, timerValues)
            if len(pairs):
                yield pairs

        def handleExpiredTimer(
            self, key, timerValues: TimerValues, expiredTimerInfo: ExpiredTimerInfo
        ):
            buf = self._stored(key[0])
            self.buf.clear()
            if len(buf):
                pairs, leftover = _pair_rows(buf)
                out = _concat_nonempty([pairs, _flush_unpaired(leftover)])
                if len(out):
                    yield out

        def close(self) -> None:
            pass

    return turns.groupBy("conv_id").transformWithStateInPandas(
        statefulProcessor=PairProcessor(),
        outputStructType=PAIR_SCHEMA,
        outputMode="append",
        timeMode="eventTime",
    )


def sla_breaches_batch(
    turns: DataFrame,
    sla_us: int,
    key_col: str = "conv_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    role_col: str = "role",
    trigger_role: str = "user",
    reply_role: str = "assistant",
) -> DataFrame:
    """Timeout-pattern CEP, batch form: for every ``trigger_role`` turn,
    did a ``reply_role`` turn follow WITHIN ``sla_us`` in the same
    conversation? This is Flink CEP's ``notFollowedBy(...).within(T)``
    pattern — the one CEP class a plain sequence match can't express,
    because the match condition is the ABSENCE of an event.

    One window pass: turns sorted per conversation by (ts, id); each
    row carries the running minimum reply timestamp over STRICTLY later
    rows (a reversed cumulative conditional min — no self-join, no range
    explosion), and the breach flag is pure integer arithmetic on epoch
    micros. Output: one row per trigger turn with (ts_us, deadline_us,
    next_reply_us NULLable, breached).
    """
    eu = F.unix_micros(F.col(ts_col).cast("timestamp"))
    base = turns.select(
        F.col(key_col).alias("key"),
        F.col(id_col).alias("id"),
        F.col(role_col).alias("role"),
        eu.alias("eu"),
    )
    w = (
        Window.partitionBy("key")
        .orderBy(F.desc("eu"), F.desc("id"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    nxt = F.min(
        F.when(F.col("role") == reply_role, F.col("eu"))
    ).over(w)
    # next_reply_us is the ABSOLVING reply (inside the window) or NULL —
    # the streaming twin finalizes at the deadline and can never know a
    # post-deadline reply, so the batch form reports the same thing
    return (
        base.withColumn("_nxt", nxt)
        .where(F.col("role") == trigger_role)
        .select(
            F.col("key").alias(key_col),
            F.col("id").alias(id_col),
            F.col("eu").alias("ts_us"),
            (F.col("eu") + F.lit(int(sla_us))).alias("deadline_us"),
            F.when(
                F.col("_nxt") <= F.col("eu") + F.lit(int(sla_us)),
                F.col("_nxt"),
            ).alias("next_reply_us"),
            (
                F.col("_nxt").isNull()
                | (F.col("_nxt") > F.col("eu") + F.lit(int(sla_us)))
            ).alias("breached"),
        )
    )


def sla_breaches_stream(
    turns: DataFrame,
    sla_us: int,
    key_col: str = "conv_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    role_col: str = "role",
    trigger_role: str = "user",
    reply_role: str = "assistant",
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """Streaming twin of :func:`sla_breaches_batch`: the absence-within-T
    pattern as a stateful operator with event-time timeouts — the live
    SLA monitor (page when a user turn goes unanswered for T).

    Finalize-on-watermark: a trigger turn's verdict emits exactly once,
    when the watermark passes its deadline (ts + sla) — at that point
    every in-watermark reply that could absolve it has been seen.
    State per conversation: pending trigger turns (those whose deadline
    the watermark hasn't passed) + reply timestamps still inside the
    relevance horizon (r > watermark − sla; a retained-window argument
    in the code shows every reply relevant to a pending trigger is
    kept). Both are O(events within sla + watermark delay). An
    event-time timeout re-arms at the earliest pending deadline so a
    silent stream still emits its breaches. Late-beyond-watermark rows
    are dropped — the repo-wide policy (windows.py docstring).
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from .windows import with_watermark

    events = with_watermark(turns, ts_col, watermark_delay)
    key_field = [
        f for f in events.schema.fields if f.name == key_col
    ][0]
    out_schema = StructType(
        [
            StructField(key_col, key_field.dataType),
            StructField(id_col, LongType()),
            StructField("ts_us", LongType()),
            StructField("deadline_us", LongType()),
            StructField("next_reply_us", LongType()),
            StructField("breached", BooleanType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("pend_json", StringType()),
            StructField("replies_json", StringType()),
        ]
    )
    sla = int(sla_us)

    def _unpack(state):
        if not state.exists:
            return [], []
        pj, rj = state.get
        return [tuple(x) for x in json.loads(pj)], json.loads(rj)

    def fn(key, pdfs, state: GroupState):
        wm_us = state.getCurrentWatermarkMs() * 1000
        pend, replies = _unpack(state)
        if not state.hasTimedOut:
            for pdf in pdfs:
                if not len(pdf):
                    continue
                us = (
                    pd.to_datetime(pdf[ts_col]).astype("int64") // 1000
                ).tolist()
                ids = pdf[id_col].astype("int64").tolist()
                roles = pdf[role_col].tolist()
                for u, i, r in zip(us, ids, roles):
                    if u <= wm_us:
                        continue  # late-beyond-watermark: dropped
                    if r == trigger_role:
                        pend.append((u, i))
                    elif r == reply_role:
                        replies.append(u)
        pend.sort()
        out, remain = [], []
        for u, i in pend:
            if u + sla <= wm_us:
                within = [r for r in replies if u < r <= u + sla]
                nxt = min(within) if within else None
                out.append((i, u, u + sla, nxt, nxt is None))
            else:
                remain.append((u, i))
        # replies stay relevant while some pending trigger's window can
        # still reach them: r > wm - sla covers every remaining trigger
        # (u > wm - sla for all pending u, and relevant r > u)
        replies = [r for r in replies if r > wm_us - sla]
        state.update(
            (
                json.dumps([[u, i] for u, i in remain]),
                json.dumps(replies),
            )
        )
        if remain:
            state.setTimeoutTimestamp(
                max(
                    (remain[0][0] + sla) // 1000,
                    state.getCurrentWatermarkMs() + 1,
                )
            )
        if out:
            yield pd.DataFrame(
                {
                    key_col: [key[0]] * len(out),
                    id_col: [i for i, *_ in out],
                    "ts_us": [u for _, u, *_ in out],
                    "deadline_us": [d for _, _, d, *_ in out],
                    "next_reply_us": pd.array(
                        [n for *_, n, _ in out], dtype="Int64"
                    ),
                    "breached": [b for *_, b in out],
                }
            )

    return events.groupBy(key_col).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
