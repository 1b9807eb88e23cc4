"""MATCH_RECOGNIZE-style sequence CEP over conversation transcripts.

The reference declares a flink-cep dependency it never uses (pom.xml:276-281);
the repo's existing ``cep_pattern`` query covers the fixed-length triple case
with lead() windows. This module generalizes to *variable-length* patterns —
"user, then one-or-more assistant exchanges", "a complete tool round-trip" —
the way Flink CEP / SQL MATCH_RECOGNIZE express them, but Spark-first:

  1. Each turn's role is encoded as one character (user=u, assistant=a,
     tool=t) and each conversation's turns are folded into a single ordered
     role string: ``collect_list(struct(turn_idx, chr))`` → ``array_sort`` →
     ``array_join(transform(...))``.  ONE hash shuffle on conv_id; everything
     else is whole-stage codegen.  At 10^12 turns this is the same shuffle
     every session/window op already pays, and the folded string costs one
     byte per turn.
  2. Pattern matching runs JVM-side with ``regexp_count`` /
     ``regexp_extract_all`` — greedy, non-overlapping, leftmost — which have
     identical semantics in java.util.regex (Spark), RE2 (DuckDB oracle), and
     Python ``re.finditer`` (the positional variant).  Patterns must therefore
     avoid constructs RE2 lacks (no lookahead/backrefs); quantifiers and
     alternation are fine.
  3. ``match_spans`` adds match *positions* (start/end turn_idx), which no
     SQL regexp API exposes: one Arrow-vectorized ``mapInPandas`` over the
     already-folded per-conversation rows (U1 surface — one python eval over
     |convs| rows, never |turns|).

Non-overlap caveat (pinned by tests): adjacent occurrences that share a
boundary turn collapse into the leftmost match — "ututu" yields ONE ``utu``
— identically in all three engines, which is what makes the oracle exact.
"""

from __future__ import annotations

import re
from typing import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

__all__ = [
    "ROLE_CHARS",
    "compile_pattern",
    "role_sequence",
    "match_extract",
    "match_counts",
    "match_spans",
    "match_stream",
    "precedence_support",
]

ROLE_CHARS = {"user": "u", "assistant": "a", "tool": "t"}

#: Named steps a human-readable pattern may use, mapping to role chars.
_STEP_CHARS = {**ROLE_CHARS, "any": "[uat]"}


def compile_pattern(steps: str) -> str:
    """'user tool+ user' → 'ut+u'.  Each whitespace-separated step is a role
    name (or ``any``) with an optional trailing quantifier (``+ * ?`` or
    ``{m,n}``).  Parenthesized char-level regex is also accepted verbatim."""
    out = []
    for step in steps.split():
        m = re.fullmatch(r"([a-z_]+)([+*?]|\{[\d,]+\})?", step)
        if not m or m.group(1) not in _STEP_CHARS:
            # verbatim fragment (already char-level regex)
            out.append(step)
            continue
        out.append(_STEP_CHARS[m.group(1)] + (m.group(2) or ""))
    return "".join(out)


def _role_char() -> Column:
    return (
        F.when(F.col("role") == "user", F.lit("u"))
        .when(F.col("role") == "tool", F.lit("t"))
        .otherwise(F.lit("a"))
    )


def role_sequence(t: DataFrame) -> DataFrame:
    """Fold each conversation into (conv_id, n_turns, role_str, turns).

    ``turns`` keeps the sorted turn_idx array so positional variants can map
    string offsets back to turn ids without re-reading the table.  Single
    shuffle; array ops are codegen'd, no Python.
    """
    pair = F.struct(F.col("turn_idx").alias("i"), _role_char().alias("c"))
    g = t.groupBy("conv_id").agg(
        F.array_sort(F.collect_list(pair)).alias("seq")
    )
    return g.select(
        "conv_id",
        F.size("seq").cast("int").alias("n_turns"),
        F.array_join(F.transform("seq", lambda x: x["c"]), "").alias(
            "role_str"
        ),
        F.transform("seq", lambda x: x["i"]).alias("turns"),
    )


def match_extract(t: DataFrame, pattern: str) -> DataFrame:
    """All non-overlapping matches of ``pattern`` per conversation:
    (conv_id, match_seq, match_str, match_len).  Entirely JVM-side."""
    seq = role_sequence(t)
    return seq.select(
        "conv_id",
        F.posexplode(
            F.regexp_extract_all("role_str", F.lit(pattern), F.lit(0))
        ).alias("match_seq", "match_str"),
    ).select(
        "conv_id",
        F.col("match_seq").cast("int").alias("match_seq"),
        "match_str",
        F.length("match_str").cast("int").alias("match_len"),
    )


def match_counts(t: DataFrame, patterns: dict[str, str]) -> DataFrame:
    """One row per conversation with a count column per named pattern plus
    ``longest_<name>`` (longest matched run, 0 when none).  All conversations
    are kept — a conv with no matches reports zeros."""
    seq = role_sequence(t)
    cols = [F.col("conv_id"), F.col("n_turns")]
    for name, pat in patterns.items():
        cols.append(
            F.regexp_count("role_str", F.lit(pat)).cast("int").alias(name)
        )
        cols.append(
            F.coalesce(
                F.array_max(
                    F.transform(
                        F.regexp_extract_all(
                            "role_str", F.lit(pat), F.lit(0)
                        ),
                        F.length,
                    )
                ),
                F.lit(0),
            )
            .cast("int")
            .alias(f"longest_{name}")
        )
    return seq.select(*cols)


_SPAN_SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("match_seq", IntegerType()),
        StructField("start_turn", IntegerType()),
        StructField("end_turn", IntegerType()),
        StructField("match_len", IntegerType()),
        StructField("span_us", LongType()),
    ]
)


def match_spans(
    t: DataFrame, pattern: str, ts_col: str = "ts"
) -> DataFrame:
    """Positional matches: (conv_id, match_seq, start_turn, end_turn,
    match_len, span_us).  The only Python stage is ONE ``mapInPandas`` over
    per-conversation folded rows (|convs| rows, Arrow batches); re.finditer
    shares non-overlapping greedy semantics with regexp_count, which the
    tests pin by cross-checking against :func:`match_extract`."""
    pair = F.struct(
        F.col("turn_idx").alias("i"),
        _role_char().alias("c"),
        F.unix_micros(F.col(ts_col).cast("timestamp")).alias("us"),
    )
    folded = (
        t.groupBy("conv_id")
        .agg(F.array_sort(F.collect_list(pair)).alias("seq"))
        .select(
            "conv_id",
            F.array_join(F.transform("seq", lambda x: x["c"]), "").alias(
                "role_str"
            ),
            F.transform("seq", lambda x: x["i"]).alias("turns"),
            F.transform("seq", lambda x: x["us"]).alias("tss"),
        )
    )
    rx = re.compile(pattern)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {
                k.name: [] for k in _SPAN_SCHEMA.fields
            }
            for conv, s, turns, tss in zip(
                pdf["conv_id"], pdf["role_str"], pdf["turns"], pdf["tss"]
            ):
                for k, m in enumerate(rx.finditer(s)):
                    out["conv_id"].append(conv)
                    out["match_seq"].append(k)
                    out["start_turn"].append(int(turns[m.start()]))
                    out["end_turn"].append(int(turns[m.end() - 1]))
                    out["match_len"].append(m.end() - m.start())
                    out["span_us"].append(
                        int(tss[m.end() - 1]) - int(tss[m.start()])
                    )
            yield pd.DataFrame(out)

    return folded.mapInPandas(run, _SPAN_SCHEMA)


def precedence_support(t: DataFrame) -> DataFrame:
    """Length-2 sequential-pattern support over tool invocations.

    PrefixSpan's counting step for 2-patterns (Pei et al. 2001): for every
    ordered tool pair (tool_a, tool_b, a ≠ b), the number of conversations
    where some invocation of tool_a happens strictly *before* some
    invocation of tool_b — subsequence-with-gaps semantics, the CEP
    relaxation of transition_counts' strict adjacency. "a before b" holds
    iff min_turn(a) < max_turn(b) within the conversation, so the
    turn-level table collapses to ONE (conv_id, tool) min/max hash
    aggregate first (map-side partial agg on the data-sized input), and the
    pair join runs on that |convs|×|tools| relation — co-partitioned on
    conv_id, never touching raw turns again. At 10^12 turns the aggregate
    output is |convs|×|distinct tools| rows (tools is a small closed set),
    and the per-conv self-join is bounded by |tools|² per conversation.
    support_ppm is exact BIGINT ppm over tool-using conversations (the
    1-row total broadcast back, never collected).
    """
    inv = (
        t.where(F.col("tool").isNotNull())
        .groupBy("conv_id", "tool")
        .agg(
            F.min("turn_idx").alias("first_idx"),
            F.max("turn_idx").alias("last_idx"),
        )
    )
    total = inv.agg(
        F.count_distinct(F.col("conv_id")).alias("n_tool_convs")
    )
    x = inv.alias("x")
    y = inv.alias("y")
    pairs = (
        x.join(y, "conv_id")
        .where(
            (F.col("x.tool") != F.col("y.tool"))
            & (F.col("x.first_idx") < F.col("y.last_idx"))
        )
        .groupBy(
            F.col("x.tool").alias("tool_a"),
            F.col("y.tool").alias("tool_b"),
        )
        .agg(F.count(F.lit(1)).alias("support"))
    )
    return pairs.crossJoin(F.broadcast(total)).select(
        "tool_a",
        "tool_b",
        "support",
        F.expr("CAST(support * 1000000 AS BIGINT) div n_tool_convs").alias(
            "support_ppm"
        ),
    )


def turn_integrity(tr: DataFrame) -> DataFrame:
    """Per-conversation turn-stream integrity audit — the DQ pass a
    transcript ingest runs before any windowed analytics trusts
    ``turn_idx``: dropped turns (index holes), replayed turns (duplicate
    indices), and protocol violations (adjacent same-role turns, e.g. two
    user messages with the lost assistant reply between them).

    All counts are derivable from one per-conv hash partition:

        n_turns        row count
        span           max(turn_idx) − min(turn_idx) + 1
        n_missing      span − distinct(turn_idx)   (holes)
        n_dup_idx      n_turns − distinct(turn_idx) (replays)
        n_role_repeats adjacent pairs with equal role in
                       (turn_idx, role, text) order

    One window pass (lag inside the conv_id partition — the tiebreak
    (role, text) makes the order total even under duplicate indices) and
    one aggregate; no join, no global sort. At 10^12 turns this is the
    cheapest full-corpus shape that exists: a single exchange on conv_id.

    Output: one row per conv — (conv_id, n_turns, span, n_missing,
    n_dup_idx, n_role_repeats).
    """
    from pyspark.sql import Window

    w = Window.partitionBy("conv_id").orderBy("turn_idx", "role", "text")
    flagged = tr.select("conv_id", "turn_idx", "role", "text").withColumn(
        "_rep",
        F.when(
            F.lag("role").over(w) == F.col("role"), F.lit(1)
        ).otherwise(F.lit(0)),
    )
    return flagged.groupBy("conv_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_turns"),
        (
            F.max("turn_idx") - F.min("turn_idx") + F.lit(1)
        ).cast("long").alias("span"),
        (
            F.max("turn_idx")
            - F.min("turn_idx")
            + F.lit(1)
            - F.count_distinct(F.col("turn_idx"))
        ).cast("long").alias("n_missing"),
        (
            F.count(F.lit(1)) - F.count_distinct(F.col("turn_idx"))
        ).cast("long").alias("n_dup_idx"),
        F.sum("_rep").cast("long").alias("n_role_repeats"),
    )


def longest_streaks(
    df: DataFrame,
    key: str = "conv_id",
    order_col: str = "turn_idx",
    state_col: str = "role",
) -> DataFrame:
    """Longest run of consecutive same-state rows per key — the classic
    gaps-and-islands pattern (island id = dense position minus per-state
    row_number), surfaced for transcripts as "the longest uninterrupted
    streak of one role in each conversation": a long assistant/tool
    streak is a monologue or an agent loop, exactly what a dialogue-
    quality gate flags.

    Requires ``order_col`` to be DENSE per key (transcripts' turn_idx
    is, by construction). Shape: one row_number window partitioned by
    (key, state) + one (key, state, island) hash agg + one per-key
    top-1 window over the aggregated runs — no joins, no global sort,
    every stage keyed on the conversation.

    Output: (key, state, streak_len, start_turn) — the single longest
    run per key (ties: earliest start, then smallest state).
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy(key, state_col).orderBy(order_col)
    runs = (
        df.select(key, state_col, order_col)
        .withColumn(
            "_isl", F.col(order_col) - F.row_number().over(w)
        )
        .groupBy(key, state_col, "_isl")
        .agg(
            F.count(F.lit(1)).cast("long").alias("streak_len"),
            F.min(order_col).cast("long").alias("start_turn"),
        )
    )
    wr = Window.partitionBy(key).orderBy(
        F.desc("streak_len"), F.asc("start_turn"), F.asc(state_col)
    )
    return (
        runs.withColumn("_rk", F.row_number().over(wr))
        .where(F.col("_rk") == 1)
        .select(key, state_col, "streak_len", "start_turn")
    )


def echo_stats(
    df: DataFrame,
    key: str = "conv_id",
    order_col: str = "turn_idx",
    role_col: str = "role",
    signal_col: str = "signal",
) -> DataFrame:
    """Echo/loop detector over turn streams: an *echo* is a turn that
    repeats the previous turn's (role, signal) — the signature of an
    agent stuck re-issuing the same action or re-emitting the same
    response. ``longest_streaks`` flags same-ROLE monologues; this is the
    stricter content-aware version a transcript-quality gate runs to
    drop degenerate loops before training.

    Same gaps-and-islands shape as ``longest_streaks``, keyed one level
    deeper: island id = dense ``order_col`` minus row_number inside the
    (key, role, signal) partition, so a run of identical actions is one
    island. A run of length L contributes L-1 echoes. Requires
    ``order_col`` to be DENSE within each (key, role) group — for
    transcripts pass each role's within-conversation rank, which also
    gives echoes the useful semantics: "the agent's NEXT turn repeats
    the same action", regardless of the other speakers in between.

    Shape: one row_number window + one hash agg on (key, role, signal,
    island) + one per-key rollup — every stage partitioned by the
    conversation, no joins, no global sort; at 10^12 turns it is the
    standard single conv_id exchange.

    Output per key: (key, n_turns, n_echoes, longest_echo — longest run
    of one repeated action, ≥1 — and echo_ppm, exact integer).
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy(key, role_col, signal_col).orderBy(order_col)
    runs = (
        df.select(key, role_col, signal_col, order_col)
        .withColumn("_isl", F.col(order_col) - F.row_number().over(w))
        .groupBy(key, role_col, signal_col, "_isl")
        .agg(F.count(F.lit(1)).cast("long").alias("_len"))
    )
    return (
        runs.groupBy(key)
        .agg(
            F.sum("_len").cast("long").alias("n_turns"),
            (F.sum("_len") - F.count(F.lit(1))).cast("long").alias(
                "n_echoes"
            ),
            F.max("_len").cast("long").alias("longest_echo"),
        )
        .withColumn(
            "echo_ppm",
            F.expr("CAST(n_echoes * 1000000 DIV n_turns AS BIGINT)"),
        )
    )


def match_stream(
    events: DataFrame,
    pattern: str,
    gap_seconds: int = 1800,
    key: str = "conv_id",
    role_col: str = "role",
    idx_col: str = "turn_idx",
    ts_col: str = "ts",
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """LIVE variable-length CEP: ``match_spans`` as a streaming stateful
    operator — the Flink-CEP ``within()`` shape the reference's unused
    flink-cep dependency (pom.xml:276-281) points at, Spark-first.

    Greedy regex matching over a growing role string is not prefix-stable
    (``a+b`` on ``"aaa"`` has no match yet, and a match that ends exactly at
    the frontier can still extend), so per-turn finalization cannot equal
    the batch matcher.  Instead the unit of finalization is the
    *gap-closed conversation segment* — exactly the session-window
    boundary every other op in this repo uses: once the watermark passes
    ``last buffered turn + gap_seconds`` the segment can never grow, the
    buffered turns are folded into one role string (sorted by turn_idx,
    ties impossible by data contract) and matched with ``re.finditer`` —
    the same engine and non-overlap semantics as the batch twin — then the
    state is dropped.  Stream == batch row-for-row whenever no
    conversation straddles a silence longer than ``gap_seconds``
    (tests/test_cep_stream.py pins parity, segment splitting, cross-batch
    buffering, and the late-row drop policy).

    State per open conversation = the un-emitted turn buffer
    (``[ts_us, turn_idx, role_char]`` triples) — normally one open segment,
    transiently several while the watermark lags behind a silence; the
    close step splits the buffer on ts-gaps and seals each segment
    independently, so a lagging watermark never glues two conversations'
    worth of turns into one matched string.  Output rows reuse the batch
    ``_SPAN_SCHEMA``: (conv_id, match_seq, start_turn, end_turn,
    match_len, span_us).
    """
    import json as _json

    from pyspark.sql.streaming.state import (
        GroupState,
        GroupStateTimeout,
    )

    from .windows import with_watermark

    rx = re.compile(pattern)
    gap_us = int(gap_seconds) * 1_000_000
    events = with_watermark(events, ts_col, watermark_delay)
    key_field = [f for f in events.schema.fields if f.name == key][0]
    out_schema = StructType(
        [StructField(key, key_field.dataType)]
        + [f for f in _SPAN_SCHEMA.fields if f.name != "conv_id"]
    )
    state_schema = StructType([StructField("buf_json", StringType())])
    role_char = {"user": "u", "tool": "t"}

    def _close(conv, seg):
        """Fold one closed segment and emit its matches (batch semantics).
        ``seg`` is ts-sorted; fold order is turn_idx, like array_sort."""
        seg = sorted(seg, key=lambda r: r[1])
        s = "".join(c for _, _, c in seg)
        rows = []
        for k, m in enumerate(rx.finditer(s)):
            rows.append(
                (
                    conv,
                    k,
                    int(seg[m.start()][1]),
                    int(seg[m.end() - 1][1]),
                    m.end() - m.start(),
                    int(seg[m.end() - 1][0]) - int(seg[m.start()][0]),
                )
            )
        return rows

    def fn(kt, pdfs, state: GroupState):
        wm_us = state.getCurrentWatermarkMs() * 1000
        buf = (
            _json.loads(state.get[0]) if state.exists else []
        )
        if not state.hasTimedOut:
            for pdf in pdfs:
                if not len(pdf):
                    continue
                us = (
                    pd.to_datetime(pdf[ts_col]).astype("int64") // 1000
                ).tolist()
                for u, i, r in zip(
                    us, pdf[idx_col].tolist(), pdf[role_col].tolist()
                ):
                    if u > wm_us:  # late-beyond-watermark: dropped
                        buf.append([u, int(i), role_char.get(r, "a")])
        # split the buffer into gap-separated segments (a lagging
        # watermark can hold several per conversation); close every
        # segment the watermark has sealed.  Safe exactly-once: a row
        # able to extend a segment has ts <= seg_end + gap <= wm, so it
        # would already have been dropped as late.
        buf.sort()
        segs, cur = [], []
        for row in buf:
            if cur and row[0] - cur[-1][0] > gap_us:
                segs.append(cur)
                cur = []
            cur.append(row)
        if cur:
            segs.append(cur)
        out, keep = [], []
        for seg in segs:
            if wm_us >= seg[-1][0] + gap_us:
                out.extend(_close(kt[0], seg))
            else:
                keep.extend(seg)
        if keep:
            state.update((_json.dumps(keep),))
            state.setTimeoutTimestamp(
                max(
                    min(
                        seg[-1][0] + gap_us
                        for seg in segs
                        if wm_us < seg[-1][0] + gap_us
                    )
                    // 1000,
                    state.getCurrentWatermarkMs() + 1,
                )
            )
        else:
            state.remove()
        if out:
            pdf = pd.DataFrame(
                out, columns=[f.name for f in out_schema.fields]
            )
            for f in out_schema.fields[1:]:
                pdf[f.name] = pdf[f.name].astype(
                    "int64" if f.name == "span_us" else "int32"
                )
            yield pdf

    return events.groupBy(key).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
