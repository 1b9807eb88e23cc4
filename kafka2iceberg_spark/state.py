"""Stateful stream-stream join of user turns to assistant/tool replies (J1/J2).

north_star: "maintains a stateful stream-stream join of user turns to
assistant/tool replies via flatMapGroupsWithState-style pandas UDFs over
Arrow batches"; "turn ordering within each conv_id is enforced by a
(conv_id, turn_idx) sort inside mapInPandas so per-turn text equality holds
under replay".

Two forms of one pairing contract:

  * ``paired_turns_batch`` — the declarative batch/parity form: lead() over
    (conv_id, turn_idx). One shuffle, no state; used by the oracle gate and
    batch backfills.
  * ``paired_turns_stream`` — the streaming form: ``applyInPandasWithState``
    keyed by conv_id. Each group call turns the buffered state plus the
    group's new rows into four NumPy arrays (turn_idx, role, text, ts) and
    runs one array kernel, ``_pair_turns``: a stable argsort on turn_idx
    (J2), a first-wins duplicate drop, then contiguity and role masks.
    Emitted rows leave as one pandas frame per group; the turns that cannot
    emit yet go back to state through the string codec, the only per-row
    Python left. An event-time timeout (the watermark passing the last
    buffered turn's ts + the session gap) flushes an idle conversation.

Shared pairing contract (turn_idx is dense per conv_id, FIXTURES.md §1):
user turn i pairs with turn i+1 when i+1 is any non-user turn
(assistant/tool); if i+1 is another user turn, turn i emits unpaired (NULL
reply columns); a trailing user turn emits unpaired at state expiry
(stream) / end of input (batch). Requiring exact i+1 contiguity makes the
streaming result independent of arrival order — an out-of-order hole
defers emission instead of mis-pairing across it. In the stream, a turn
whose turn_idx is already buffered is dropped (first arrival wins), and a
turn is forgotten once it has emitted or been consumed as a reply.
"""

from __future__ import annotations

import json

from collections.abc import Iterable
from typing import TYPE_CHECKING

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)
from pyspark.sql.window import Window

if TYPE_CHECKING:
    from pyspark.sql.streaming.state import GroupState

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


#: Columns of one conversation's turns as the kernel sees them: turn_idx
#: int64, role/text object, ts int64 epoch nanoseconds.
_TURN_COLS = ("turn_idx", "role", "text", "ts")
_NAT = np.iinfo(np.int64).min  # datetime64[ns] NaT as int64


def _turns(pdf: pd.DataFrame) -> dict[str, np.ndarray]:
    """One Arrow batch's rows as the kernel's four arrays."""
    return {
        "turn_idx": pdf["turn_idx"].to_numpy("int64"),
        "role": pdf["role"].to_numpy(object),
        "text": pdf["text"].to_numpy(object),
        "ts": pdf["ts"].to_numpy("datetime64[ns]").view("int64"),
    }


def _pair_turns(
    conv_id: str, turns: dict[str, np.ndarray], flush: bool = False
) -> tuple[pd.DataFrame | None, dict[str, np.ndarray]]:
    """The pairing kernel over one conversation's buffered turns.

    Returns (emitted rows typed to ``PAIR_SCHEMA`` or None, leftover turns).
    Turns are ordered by a stable argsort on turn_idx and the first copy of
    a duplicated turn_idx wins, so buffered state beats a replayed row. A
    user turn emits when turn i+1 is present (contiguity): paired when
    i+1 is not a user turn, which is then consumed too, unpaired when it
    is. ``flush`` (state expiry) also emits every leftover user turn
    unpaired. The leftover keeps its turn_idx order.
    """
    order = np.argsort(turns["turn_idx"], kind="stable")
    idx = turns["turn_idx"][order]
    first = np.ones(len(idx), dtype=bool)
    first[1:] = idx[1:] != idx[:-1]
    order, idx = order[first], idx[first]
    role, text, ts = (turns[c][order] for c in ("role", "text", "ts"))
    is_user = role == "user"
    emit = np.zeros(len(idx), dtype=bool)
    emit[:-1] = is_user[:-1] & (idx[1:] == idx[:-1] + 1)
    paired = np.zeros(len(idx), dtype=bool)
    paired[:-1] = emit[:-1] & ~is_user[1:]
    left = ~emit
    left[1:] &= ~paired[:-1]
    if flush:
        emit |= is_user & left
        left[:] = False
    leftover = {
        c: a[left] for c, a in zip(_TURN_COLS, (idx, role, text, ts))
    }
    rows = np.flatnonzero(emit)
    if not len(rows):
        return None, leftover
    m = paired[rows]
    rep = np.minimum(rows + 1, len(idx) - 1)
    out = pd.DataFrame(
        {
            "conv_id": np.full(len(rows), conv_id, dtype=object),
            "user_turn_idx": idx[rows].astype(np.int32),
            "user_text": text[rows],
            "user_ts": ts[rows].view("datetime64[ns]"),
            "reply_turn_idx": pd.arrays.IntegerArray(
                idx[rep].astype(np.int32), ~m
            ),
            "reply_role": np.where(m, role[rep], None),
            "reply_text": np.where(m, text[rep], None),
            "reply_ts": np.where(m, ts[rep], _NAT).view("datetime64[ns]"),
            "latency_us": pd.arrays.IntegerArray(
                ts[rep] // 1000 - ts[rows] // 1000, ~m
            ),
        },
        copy=False,  # fresh arrays; skips block consolidation
    )
    return out, leftover


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


def _unpack_state(state) -> dict[str, np.ndarray]:
    idx_s, role_s, text_s, ts_s = state.get if state.exists else ("",) * 4
    if not idx_s:
        return {
            "turn_idx": np.empty(0, dtype=np.int64),
            "role": np.empty(0, dtype=object),
            "text": np.empty(0, dtype=object),
            "ts": np.empty(0, dtype=np.int64),
        }
    idx = np.array([int(x) for x in idx_s.split(",")], dtype=np.int64)
    ts_us = np.array([int(x) for x in ts_s.split(",")], dtype=np.int64)
    n = len(idx)
    return {
        "turn_idx": idx,
        "role": np.fromiter(_decode_list(role_s, n, ","), object, n),
        "text": np.fromiter(_decode_list(text_s, n, "\x1f"), object, n),
        "ts": ts_us * 1000,
    }


def _pack_state(state, leftover: dict[str, np.ndarray]) -> None:
    """Buffer leftover turns into the string-typed state columns.

    role/text are JSON-encoded lists: a text containing any separator
    character round-trips intact, and a null text stays null (the previous
    \\x1f-join both split on embedded separators — a poison-pill
    conversation that crashed the query — and stringified nulls to 'None').
    turn_idx/ts stay csv — they're integers, no escaping needed.
    """
    if not len(leftover["turn_idx"]):
        if state.exists:
            state.remove()
        return
    state.update(
        (
            ",".join(map(str, leftover["turn_idx"].tolist())),
            json.dumps(
                [None if pd.isna(r) else str(r) for r in leftover["role"]]
            ),
            json.dumps(
                [None if pd.isna(t) else str(t) for t in leftover["text"]]
            ),
            ",".join(map(str, (leftover["ts"] // 1000).tolist())),  # ns → us
        )
    )


def _duration_ms(s: str) -> int:
    n, unit = s.split()
    return int(n) * {"second": 1000, "minute": 60_000, "hour": 3_600_000}[
        unit.rstrip("s")
    ]


def _pair_group_fn(gap_ms: int):
    """``paired_turns_stream``'s per-conversation group function: unpack
    the buffered turns, append the group's new rows, run the kernel, pack
    the leftover back and re-arm the event-time timeout at last buffered
    turn + ``gap_ms``. On timeout, flush the buffer and drop the state."""

    def fn(key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState):
        buf = _unpack_state(state)
        if state.hasTimedOut:
            state.remove()
            out, _ = _pair_turns(key[0], buf, flush=True)
        else:
            parts = [buf, *map(_turns, pdfs)]
            buf = {
                c: np.concatenate([p[c] for p in parts]) for c in _TURN_COLS
            }
            out, leftover = _pair_turns(key[0], buf)
            _pack_state(state, leftover)
            if len(leftover["ts"]):
                last_ms = int(leftover["ts"].max() // 1_000_000)
                state.setTimeoutTimestamp(
                    max(last_ms + gap_ms, state.getCurrentWatermarkMs() + 1)
                )
        if out is not None:
            yield out

    return fn


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
    from pyspark.sql.streaming.state import GroupStateTimeout

    from .windows import with_watermark

    turns = with_watermark(turns, "ts", watermark_delay)
    return turns.groupBy("conv_id").applyInPandasWithState(
        _pair_group_fn(_duration_ms(gap)),
        outputStructType=PAIR_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
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
    # next_reply_us is the ABSOLVING reply (inside the window) or NULL: a
    # reply after the deadline absolves nothing, so it is not reported
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


