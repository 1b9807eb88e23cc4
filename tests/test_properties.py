"""Property-based tests: engine operators vs brute-force Python references
on randomized inputs (hypothesis). Complements the fixed-fixture suite and
the DuckDB oracle gate with adversarial small cases (ties, empty groups,
single-turn conversations, duplicate timestamps).
"""

from __future__ import annotations

from datetime import datetime, timezone

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from kafka2iceberg_spark import windows as win
from kafka2iceberg_spark.sink import dedup_batch
from kafka2iceberg_spark.state import paired_turns_batch

EPOCH = datetime(2024, 9, 1, tzinfo=timezone.utc)

SETTINGS = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# up to 3 conversations, each a list of inter-turn gaps (seconds)
conv_strategy = st.lists(
    st.lists(st.integers(min_value=0, max_value=7200), min_size=1, max_size=12),
    min_size=1,
    max_size=3,
)


def _turn_rows(convs):
    rows = []
    for ci, gaps in enumerate(convs):
        t = 0
        for idx, gap in enumerate(gaps):
            t += gap
            rows.append(
                (f"c{ci}", idx, datetime.fromtimestamp(
                    EPOCH.timestamp() + t, tz=timezone.utc
                ).replace(tzinfo=None))
            )
    return rows


@pytest.mark.usefixtures("spark")
class TestSessionProperty:
    @given(convs=conv_strategy)
    @SETTINGS
    def test_sessionize_matches_islands(self, spark, convs):
        gap_s = 1800
        rows = _turn_rows(convs)
        df = spark.createDataFrame(
            rows, ["conv_id", "turn_idx", "ts"]
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        got = {
            (r["conv_id"], r["session_start_us"], r["session_end_us"], r["n_turns"])
            for r in win.sessionize(
                df, f"{gap_s // 60} minutes", ["conv_id"]
            ).collect()
        }
        # brute force: merge [ts, ts+gap) intervals per conv
        expect = set()
        by_conv: dict[str, list[int]] = {}
        for c, _, ts in rows:
            us = int(ts.replace(tzinfo=timezone.utc).timestamp() * 1_000_000)
            by_conv.setdefault(c, []).append(us)
        for c, times in by_conv.items():
            times.sort()
            start, last, n = times[0], times[0], 1
            for t in times[1:]:
                # strict >: the builtin merges events exactly gap apart
                if t - last > gap_s * 1_000_000:
                    expect.add((c, start, last + gap_s * 1_000_000, n))
                    start, n = t, 0
                last = t
                n += 1
            expect.add((c, start, last + gap_s * 1_000_000, n))
        assert got == expect


roles_strategy = st.lists(
    st.sampled_from(["user", "assistant", "tool", "system"]),
    min_size=1,
    max_size=14,
)


@pytest.mark.usefixtures("spark")
class TestPairingProperty:
    @given(roles=roles_strategy)
    @SETTINGS
    def test_batch_pairing_matches_reference(self, spark, roles):
        rows = [
            ("c0", i, r, f"t{i}",
             datetime(2024, 9, 1, 0, 0, min(i, 59)))
            for i, r in enumerate(roles)
        ]
        df = spark.createDataFrame(
            rows, ["conv_id", "turn_idx", "role", "text", "ts"]
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        got = {
            (r["user_turn_idx"], r["reply_turn_idx"], r["reply_text"])
            for r in paired_turns_batch(df).collect()
        }
        expect = set()
        for i, r in enumerate(roles):
            if r != "user":
                continue
            if i + 1 < len(roles) and roles[i + 1] != "user":
                expect.add((i, i + 1, f"t{i + 1}"))
            else:
                expect.add((i, None, None))
        assert got == expect


event_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=5),   # key
        st.integers(min_value=0, max_value=40),  # offset
    ),
    min_size=1,
    max_size=30,
)


@pytest.mark.usefixtures("spark")
class TestUpsertProperty:
    @given(events=event_strategy)
    @SETTINGS
    def test_dedup_batch_last_writer_wins(self, spark, events):
        # replayed (partition, offset) pairs must carry identical payloads
        # (true of a real log); derive the delete flag from the key so
        # duplicates are exact duplicates
        rows = [
            (f"k{k}", 0, off * 10 + k, int(off), (off + k) % 4 == 0)
            for k, off in events
        ]
        df = spark.createDataFrame(
            rows,
            ["conv_id", "partition_idx", "offset", "ts_ms", "is_cdc_delete"],
        )
        out = dedup_batch(df, ["conv_id"], order_cols=("ts_ms", "offset"))
        got = {
            (r["conv_id"], r["offset"], r["is_cdc_delete"])
            for r in out.collect()
        }
        # reference: per key, max (ts_ms, offset) wins; replayed
        # (partition, offset) pairs collapse first
        seen = {}
        for conv_id, p, off, ts_ms, del_ in rows:
            seen[(p, off)] = (conv_id, p, off, ts_ms, del_)
        best: dict[str, tuple] = {}
        for conv_id, p, off, ts_ms, del_ in seen.values():
            cur = best.get(conv_id)
            if cur is None or (ts_ms, off) > (cur[3], cur[2]):
                best[conv_id] = (conv_id, p, off, ts_ms, del_)
        expect = {(c, o, d) for c, _, o, _, d in best.values()}
        assert got == expect


@pytest.mark.usefixtures("spark")
class TestTwoPhaseSessionProperty:
    @given(convs=conv_strategy)
    @SETTINGS
    def test_two_phase_equals_builtin(self, spark, convs):
        """sessionize_two_phase must equal session_window on any input."""
        gap_s = 1800
        rows = _turn_rows(convs)
        df = spark.createDataFrame(
            rows, ["conv_id", "turn_idx", "ts"]
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        builtin = {
            tuple(r)
            for r in win.sessionize(
                df, f"{gap_s // 60} minutes", ["conv_id"]
            ).collect()
        }
        two_phase = {
            tuple(r)
            for r in win.sessionize_two_phase(df, gap_s, "conv_id").collect()
        }
        assert two_phase == builtin


sizes_strategy = st.lists(
    st.integers(min_value=0, max_value=40), min_size=1, max_size=25
)


@pytest.mark.usefixtures("spark")
class TestPackingProperty:
    @given(sizes=sizes_strategy)
    @SETTINGS
    def test_pack_respects_budget(self, spark, sizes):
        from kafka2iceberg_spark.packing import pack_sequences

        budget = 16
        rows = [(i, " ".join(["w"] * n)) for i, n in enumerate(sizes)]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        packed = pack_sequences(df, budget=budget, n_shards=3).collect()
        assert len(packed) == len(sizes)
        fills: dict[int, list[int]] = {}
        for r in packed:
            fills.setdefault(r["bin_id"], []).append(r["n_tok"])
        for toks in fills.values():
            if len(toks) > 1:
                assert sum(toks) <= budget


class TestStateCodecProperty:
    @settings(max_examples=60, deadline=None)
    @given(
        st.lists(
            st.one_of(
                st.none(),
                st.text(max_size=40),  # arbitrary unicode incl. separators
            ),
            min_size=1,
            max_size=8,
        )
    )
    def test_pack_unpack_roundtrips_any_text(self, texts):
        """The state buffer codec must round-trip ANY buffered text —
        arbitrary unicode (including \\x1f, commas, newlines, quotes) and
        nulls — without splitting, merging, or stringifying rows."""
        import numpy as np
        import pandas as pd

        from kafka2iceberg_spark.state import _pack_state, _unpack_state

        class FakeState:
            exists = False
            _t = None

            @property
            def get(self):
                return self._t

            def update(self, t):
                self.exists, self._t = True, tuple(t)

            def remove(self):
                self.exists, self._t = False, None

        n = len(texts)
        buf = {
            "turn_idx": np.arange(n),
            "role": np.array(["user"] * n, dtype=object),
            "text": np.fromiter(texts, object, n),
            "ts": pd.to_datetime(["2024-09-01 12:00:00"] * n).asi8,
        }
        st_ = FakeState()
        _pack_state(st_, buf)
        out = _unpack_state(st_)
        assert list(out["turn_idx"]) == list(range(n))
        got = [None if t is None else t for t in out["text"]]
        want = [None if t is None else str(t) for t in texts]
        assert got == want


tok_strategy = st.lists(
    st.lists(st.integers(min_value=0, max_value=40), min_size=1, max_size=15),
    min_size=1,
    max_size=3,
)


@pytest.mark.usefixtures("spark")
class TestTruncateTailProperty:
    @given(convs=tok_strategy, budget=st.integers(min_value=1, max_value=80))
    @SETTINGS
    def test_suffix_invariants(self, spark, convs, budget):
        from kafka2iceberg_spark.packing import truncate_tail

        rows = [
            (f"c{ci}", idx, tok)
            for ci, toks in enumerate(convs)
            for idx, tok in enumerate(toks)
        ]
        df = spark.createDataFrame(
            rows, "conv_id string, turn_idx int, n_tok int"
        )
        out = {r["conv_id"]: r for r in truncate_tail(df, budget).collect()}
        for ci, toks in enumerate(convs):
            r = out[f"c{ci}"]
            n = len(toks)
            assert r["n_kept"] + r["n_dropped"] == r["n_turns"] == n
            assert 1 <= r["n_kept"] <= n  # newest turn always kept
            # kept set is exactly the suffix starting at first_kept_turn
            fk = r["first_kept_turn"]
            assert fk == n - r["n_kept"]
            assert r["kept_tokens"] == sum(toks[fk:])
            # budget respected unless a single oversized newest turn
            if r["n_kept"] > 1:
                assert r["kept_tokens"] <= budget
            # maximality: one more turn would burst the budget
            if fk > 0:
                assert r["kept_tokens"] + toks[fk - 1] > budget
            assert r["waste_tokens"] == max(budget - r["kept_tokens"], 0)
