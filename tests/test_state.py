"""Stateful join tests (J1/J2): batch form correctness, streaming form
parity with the batch form on the same input (the north_star invariant),
out-of-order robustness from the contiguity rule, and a Spark-free
property test of the pairing kernel against a plain-Python reference.
"""

from __future__ import annotations

import datetime

import numpy as np
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from kafka2iceberg_spark import gen
from kafka2iceberg_spark.state import paired_turns_batch, paired_turns_stream

BASE = datetime.datetime(2024, 9, 1, 12, 0, 0)


def _df(spark, rows):
    return spark.createDataFrame(
        [
            (c, i, r, t, None, BASE + datetime.timedelta(minutes=i))
            for (c, i, r, t) in rows
        ],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )


def test_batch_pairs_user_with_next_reply(spark):
    df = _df(
        spark,
        [
            ("c1", 0, "user", "q0"),
            ("c1", 1, "assistant", "a1"),
            ("c1", 2, "user", "q2"),
            ("c1", 3, "tool", "t3"),
            ("c1", 4, "user", "q4"),  # trailing, unpaired
        ],
    )
    out = {r.user_turn_idx: r for r in paired_turns_batch(df).collect()}
    assert out[0].reply_text == "a1" and out[0].reply_role == "assistant"
    assert out[2].reply_text == "t3" and out[2].reply_role == "tool"
    assert out[4].reply_text is None
    assert out[0].latency_us == 60_000_000


def test_batch_consecutive_users_unpaired(spark):
    df = _df(
        spark,
        [("c1", 0, "user", "q0"), ("c1", 1, "user", "q1"), ("c1", 2, "assistant", "a2")],
    )
    out = {r.user_turn_idx: r for r in paired_turns_batch(df).collect()}
    assert out[0].reply_text is None  # next turn is another user turn
    assert out[1].reply_text == "a2"


_SEQ = [0]


def _stream_parity(spark, tmp_path, rows_by_file):
    """Feed files through the streaming join, compare to batch form.

    A far-future sentinel turn (separate conv) in a final file advances the
    watermark past every open conversation's event-time timeout, flushing
    trailing unpaired turns deterministically — then availableNow terminates.
    """
    import json
    import os

    src = str(tmp_path / "src")
    os.makedirs(src)
    all_rows = [r for f in rows_by_file for r in f]
    sentinel = ("zz_sentinel", 0, "system", "eof")
    files = list(rows_by_file) + [[sentinel]]
    for i, chunk in enumerate(files):
        with open(os.path.join(src, f"f{i:03d}.jsonl"), "w") as fh:
            for (c, idx, role, text) in chunk:
                ts = (
                    BASE + datetime.timedelta(days=365)
                    if c == "zz_sentinel"
                    else BASE + datetime.timedelta(minutes=idx)
                )
                fh.write(
                    json.dumps(
                        {
                            "conv_id": c,
                            "turn_idx": idx,
                            "role": role,
                            "text": text,
                            "ts": ts.strftime("%Y-%m-%d %H:%M:%S"),
                        }
                    )
                    + "\n"
                )
        # the file source orders by modification time; force distinct mtimes
        # so the arrival order is exactly the file order (no tie flakiness)
        os.utime(os.path.join(src, f"f{i:03d}.jsonl"), (1_000_000 + i, 1_000_000 + i))
    stream = (
        spark.readStream.format("json")
        .schema(
            "conv_id string, turn_idx int, role string, text string, ts timestamp"
        )
        .option("maxFilesPerTrigger", 1)
        .load(src)
    )
    _SEQ[0] += 1
    name = f"pairs_{_SEQ[0]}"
    q = (
        # disorder spans single-digit minutes; the 10-minute watermark must
        # tolerate it (rows later than the watermark are correctly dropped —
        # that policy is exercised separately in test_windows/test_streaming)
        paired_turns_stream(
            stream, gap="30 minutes", watermark_delay="10 minutes"
        )
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = [
        r
        for r in spark.sql(f"select * from {name}").collect()
        if r.conv_id != "zz_sentinel"
    ]
    batch = paired_turns_batch(_df(spark, all_rows)).collect()
    return got, batch


def test_sla_breaches_batch_hand_computed(spark):
    """Timeout-pattern CEP with a 2-minute SLA: a reply inside the SLA
    absolves a user turn and is reported; a reply after the deadline, a
    tool turn, or silence breaches with no absolving reply."""
    from pyspark.sql import functions as F

    from kafka2iceberg_spark.state import sla_breaches_batch

    base = "2024-01-01 00:"
    rows = [
        ("A", base + "00:00", 0, "user"),
        ("A", base + "01:00", 1, "assistant"),  # absolves 0
        ("A", base + "05:00", 2, "user"),  # never answered
        ("B", base + "00:00", 3, "user"),
        ("B", base + "03:00", 4, "assistant"),  # after 3's deadline
        ("B", base + "10:00", 5, "user"),
        ("B", base + "10:30", 6, "tool"),  # not a reply
        ("C", base + "00:00", 7, "user"),
        ("C", base + "01:30", 8, "assistant"),  # absolves 7
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, ts string, event_id long, role string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    got = {
        r.event_id: (r.ts_us, r.deadline_us, r.next_reply_us, r.breached)
        for r in sla_breaches_batch(df, sla_us=120_000_000).collect()
    }
    t0 = 1_704_067_200_000_000  # 2024-01-01 00:00 UTC
    minute = 60_000_000
    assert got == {
        0: (t0, t0 + 2 * minute, t0 + minute, False),
        2: (t0 + 5 * minute, t0 + 7 * minute, None, True),
        3: (t0, t0 + 2 * minute, None, True),
        5: (t0 + 10 * minute, t0 + 12 * minute, None, True),
        7: (t0, t0 + 2 * minute, t0 + 90_000_000, False),
    }


def test_stream_matches_batch_pairs(spark, tmp_path):
    rows_by_file = [
        [("c1", 0, "user", "q0"), ("c2", 0, "user", "x0")],
        [("c1", 1, "assistant", "a1"), ("c2", 1, "tool", "y1")],
        [("c1", 2, "user", "q2"), ("c1", 3, "assistant", "a3")],
    ]
    got, batch = _stream_parity(spark, tmp_path, rows_by_file)
    gotk = {
        (r.conv_id, r.user_turn_idx): (r.reply_text, r.latency_us) for r in got
    }
    batchk = {
        (r.conv_id, r.user_turn_idx): (r.reply_text, r.latency_us)
        for r in batch
        if r.reply_text is not None  # streamed run may hold trailing state
    }
    for k, v in batchk.items():
        assert gotk.get(k) == v, (k, v, gotk.get(k))


def test_stream_out_of_order_defers_not_mispairs(spark, tmp_path):
    # turn 1 arrives AFTER turn 2: without the contiguity rule the join
    # would wrongly pair user#0 with assistant#2
    rows_by_file = [
        [("c1", 0, "user", "q0")],
        [("c1", 2, "assistant", "a2")],
        [("c1", 1, "assistant", "a1")],
    ]
    got, _ = _stream_parity(spark, tmp_path, rows_by_file)
    paired = [r for r in got if r.user_turn_idx == 0 and r.reply_text]
    assert len(paired) == 1
    assert paired[0].reply_text == "a1"


def test_stream_duplicate_turns_collapse(spark, tmp_path):
    rows_by_file = [
        [("c1", 0, "user", "q0"), ("c1", 0, "user", "q0")],
        [("c1", 1, "assistant", "a1"), ("c1", 1, "assistant", "a1")],
    ]
    got, _ = _stream_parity(spark, tmp_path, rows_by_file)
    hits = [r for r in got if r.user_turn_idx == 0 and r.reply_text == "a1"]
    assert len(hits) == 1


def test_generator_scale_parity(spark):
    # batch join over the full generator output: every user turn appears
    # exactly once; replies' text matches ground truth
    cfg = gen.GenConfig(n_convs=8, turns_per_conv=10, mega_convs=1, mega_turns=50)
    truth = gen.turns(cfg)
    df = spark.createDataFrame(
        [
            (t["conv_id"], t["turn_idx"], t["role"], t["text"], t["tool"], t["ts"].replace(tzinfo=None))
            for t in truth
        ],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    out = paired_turns_batch(df).collect()
    n_users = sum(1 for t in truth if t["role"] == "user")
    assert len(out) == n_users
    by_key = {(t["conv_id"], t["turn_idx"]): t for t in truth}
    for r in out:
        if r.reply_turn_idx is not None:
            t = by_key[(r.conv_id, r.reply_turn_idx)]
            assert t["text"] == r.reply_text and t["role"] in ("assistant", "tool")


class _FakeState:
    """Minimal GroupState stand-in for unit-testing the state codec and
    the pairing group function (no Spark)."""

    def __init__(self):
        self.exists = False
        self._t = None
        self.hasTimedOut = False
        self.timeout_ms = None

    def getCurrentWatermarkMs(self):
        return 0

    def setTimeoutTimestamp(self, ms):
        self.timeout_ms = ms

    @property
    def get(self):
        return self._t

    def update(self, t):
        self.exists, self._t = True, tuple(t)

    def remove(self):
        self.exists, self._t = False, None


def test_state_codec_roundtrips_separators_and_nulls():
    """ADVICE: the old \x1f-joined text column split a buffered text that
    contained the separator (poison-pill conversation -> ValueError) and
    stringified nulls to 'None'. The JSON codec must round-trip both."""
    from kafka2iceberg_spark.state import _pack_state, _unpack_state

    evil = "a\x1fb,c\nd\"quote\""
    buf = {
        "turn_idx": np.array([0, 1, 2]),
        "role": np.array(["user", "tool", "user"], dtype=object),
        "text": np.array([evil, None, ""], dtype=object),
        "ts": pd.to_datetime(
            ["2024-09-01 12:00:00", "2024-09-01 12:01:00",
             "2024-09-01 12:02:00"]
        ).asi8,
    }
    st = _FakeState()
    _pack_state(st, buf)
    out = _unpack_state(st)
    assert list(out["turn_idx"]) == [0, 1, 2]
    assert out["text"][0] == evil
    assert out["text"][1] is None
    assert out["text"][2] == ""
    assert list(out["role"]) == ["user", "tool", "user"]
    assert list(out["ts"]) == list(buf["ts"])


def test_stream_survives_separator_text(spark, tmp_path):
    """E2E: a buffered user turn whose text contains \x1f must pair
    correctly after the reply arrives in a later file."""
    evil = "payload\x1fwith separator"
    rows_by_file = [
        [("c1", 0, "user", evil)],
        [("c1", 1, "assistant", "ok")],
    ]
    got, batch = _stream_parity(spark, tmp_path, rows_by_file)
    gotk = {(r.conv_id, r.user_turn_idx): (r.user_text, r.reply_text) for r in got}
    assert gotk[("c1", 0)] == (evil, "ok")


def test_state_codec_reads_legacy_checkpoint_format():
    """A checkpoint written by the previous csv/\x1f codec must restore
    (review finding: json.loads on legacy strings poisoned the query)."""
    from kafka2iceberg_spark.state import _unpack_state

    st = _FakeState()
    st.update((
        "0,1",                     # turn_idx csv
        "user,assistant",          # legacy role csv
        "hello\x1fworld",          # legacy \x1f-joined text
        "1725192000000000,1725192060000000",
    ))
    out = _unpack_state(st)
    assert list(out["turn_idx"]) == [0, 1]
    assert list(out["role"]) == ["user", "assistant"]
    assert list(out["text"]) == ["hello", "world"]


def test_decode_list_legacy_payload_parsing_as_wrong_length_json():
    """ADVICE: a single legacy-buffered text that is itself valid JSON of
    the wrong length (e.g. '["a","b"]' with n=1) must NOT be adopted as
    the decoded list — it is one legacy value, not two JSON elements."""
    from kafka2iceberg_spark.state import _decode_list

    assert _decode_list('["a","b"]', 1, "\x1f") == ['["a","b"]']
    # the genuine JSON path is unaffected
    assert _decode_list('["a","b"]', 2, "\x1f") == ["a", "b"]
    assert _decode_list("[1]", 1, "\x1f") == [1]


_GAP_MS = 30 * 60_000
_T0_NS = 1_725_192_000_000_000_000  # 2024-09-01 12:00:00 UTC


def _pair_batches(batches):
    """Drive ``paired_turns_stream``'s group function over one
    conversation's batches of (turn_idx, role, text, ts_ns) rows, then a
    timeout. Returns (emitted rows, state tuple after each batch)."""
    from kafka2iceberg_spark.state import PAIR_SCHEMA, _pair_group_fn

    fn = _pair_group_fn(_GAP_MS)
    state = _FakeState()
    frames, states = [], []
    for rows in batches:
        pdf = pd.DataFrame(
            {
                "conv_id": ["c"] * len(rows),
                "turn_idx": np.array([r[0] for r in rows], dtype=np.int32),
                "role": [r[1] for r in rows],
                "text": [r[2] for r in rows],
                "ts": pd.to_datetime(
                    np.array([r[3] for r in rows], dtype=np.int64)
                ),
            }
        )
        frames += fn(("c",), iter([pdf]), state)
        states.append((state._t, state.timeout_ms))
    state.hasTimedOut = True
    frames += fn(("c",), iter([]), state)
    assert not state.exists  # expiry drops the conversation's state
    got = []
    for f in frames:
        assert list(f.columns) == PAIR_SCHEMA.fieldNames()
        for r in f.itertuples(index=False):
            v = [None if v is None or pd.isna(v) else v for v in r]
            for i in (3, 7):  # user_ts, reply_ts → epoch ns
                v[i] = None if v[i] is None else pd.Timestamp(v[i]).value
            got.append(tuple(v))
    return got, states


def _reference_pairs(batches):
    """The pairing contract of the state module docstring in plain
    Python: per batch, the buffer takes each turn_idx's first arrival; a
    user turn i with i+1 buffered emits (paired unless i+1 is a user turn,
    which it then consumes) and leaves the buffer; expiry flushes the
    buffered user turns unpaired."""
    buf, out, states = {}, [], []

    def emit(i, j=None):
        _, text, ts = buf[i]
        if j is None:
            out.append(("c", i, text, ts, None, None, None, None, None))
        else:
            role, rtext, rts = buf[j]
            lat = rts // 1000 - ts // 1000
            out.append(("c", i, text, ts, j, role, rtext, rts, lat))

    for rows in batches:
        for i, role, text, ts in rows:
            buf.setdefault(i, (role, text, ts))
        for i in sorted(buf):
            if i in buf and buf[i][0] == "user" and i + 1 in buf:
                if buf[i + 1][0] == "user":
                    emit(i)
                else:
                    emit(i, i + 1)
                    del buf[i + 1]
                del buf[i]
        states.append(sorted(buf.items()))
    for i in sorted(buf):
        if buf[i][0] == "user":
            emit(i)
    return out, states


_texts = st.one_of(
    st.none(), st.text(alphabet=st.sampled_from('ab,\x1f"[] \n'), max_size=6)
)


_roles = st.sampled_from(["user", "user", "assistant", "tool"])


@st.composite
def _conversation_batches(draw):
    """A conversation with holes, runs of user turns, duplicate turns
    (a replay may differ from the first arrival), arriving in random order
    and cut into random batches."""
    n = draw(st.integers(0, 14))
    rows = []
    for i in range(n):
        if draw(st.booleans()) and draw(st.booleans()):
            continue  # a hole
        for _ in range(draw(st.sampled_from([1, 1, 1, 2]))):
            rows.append(
                (
                    i,
                    draw(_roles),
                    draw(_texts),
                    # Spark timestamps are microseconds, as is the codec
                    _T0_NS
                    + (i * 60_000_000 + draw(st.integers(0, 10**6))) * 1000,
                )
            )
    rows = draw(st.permutations(rows))
    cuts = sorted(draw(st.lists(st.integers(0, len(rows)), max_size=3)))
    bounds = [0, *cuts, len(rows)]
    return [rows[a:b] for a, b in zip(bounds, bounds[1:]) if b > a]


@settings(max_examples=300, deadline=None)
@given(_conversation_batches())
def test_pair_group_fn_matches_reference_contract(batches):
    """The pairing kernel, driven through the group function with state
    carried between batches and a final timeout flush, emits exactly the
    plain-Python reference's pairs and buffers exactly its leftover."""
    from kafka2iceberg_spark.state import _unpack_state

    got, states = _pair_batches(batches)
    want, want_states = _reference_pairs(batches)
    assert sorted(got, key=repr) == sorted(want, key=repr)
    for (packed, timeout_ms), left in zip(states, want_states):
        st_ = _FakeState()
        if packed is not None:
            st_.update(packed)
        buf = _unpack_state(st_)
        assert [
            (i, (r, t, ts))
            for i, r, t, ts in zip(*(buf[c].tolist() for c in buf))
        ] == left
        if left:
            last_ms = max(ts for _, (_, _, ts) in left) // 1_000_000
            assert timeout_ms == last_ms + _GAP_MS


def test_pair_group_fn_packs_state_byte_identically():
    """The state tuple of a fixed leftover is pinned: checkpoints written
    by earlier releases and by this one hold the same bytes."""
    batches = [
        [
            (5, "assistant", None, _T0_NS + 300_000_000_123),
            (3, "user", 'q "x"\x1f,', _T0_NS + 180_000_456_789),
            (0, "user", "q0", _T0_NS),
            (1, "assistant", "a1", _T0_NS + 60_000_000_000),
        ]
    ]
    got, states = _pair_batches(batches)
    assert states[0] == (
        (
            "3,5",
            '["user", "assistant"]',
            '["q \\"x\\"\\u001f,", null]',
            "1725192180000456,1725192300000000",
        ),
        1_725_192_300_000 + _GAP_MS,
    )
    assert sorted(r[1] for r in got) == [0, 3]
