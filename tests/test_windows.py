"""Windowing semantics tests (W1-W5, X1) on deterministic generated turns."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from kafka2iceberg_spark import gen, windows

CFG = gen.GenConfig(
    n_convs=6, turns_per_conv=12, mega_convs=1, mega_turns=60, seed=11,
    ooo_fraction=0.0, late_fraction=0.0, dup_fraction=0.0, delete_fraction=0.0,
)


def _turns_df(spark, cfg=CFG):
    return spark.createDataFrame(
        [
            (t["conv_id"], t["turn_idx"], t["role"], t["text"], t["tool"], t["ts"].replace(tzinfo=None))
            for t in gen.turns(cfg)
        ],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )


def test_tumbling_counts_total(spark):
    df = _turns_df(spark)
    out = windows.tumbling(df, "5 minutes", [], [F.count(F.lit(1)).alias("n")])
    rows = out.collect()
    assert sum(r.n for r in rows) == df.count()
    # bounds aligned to the window size
    for r in rows:
        assert r.window_start_us % (5 * 60 * 1_000_000) == 0
        assert r.window_end_us - r.window_start_us == 5 * 60 * 1_000_000


def test_sliding_double_assignment(spark):
    df = _turns_df(spark)
    out = windows.sliding(
        df, "10 minutes", "5 minutes", [], [F.count(F.lit(1)).alias("n")]
    )
    # every row lands in exactly size/slide = 2 windows
    assert sum(r.n for r in out.collect()) == 2 * df.count()


def test_session_gap_semantics(spark):
    # generator breaks sessions every 8 turns with a 1h jump; gap=30min must
    # recover exactly ceil(turns/8) sessions per conversation
    df = _turns_df(spark)
    out = windows.sessionize(df, "30 minutes", ["conv_id"])
    per_conv = {
        r.conv_id: r.ns
        for r in out.groupBy("conv_id").agg(F.count(F.lit(1)).alias("ns")).collect()
    }
    for conv, n_turns in [(f"c{i:05d}", 12) for i in range(6)] + [("c00006", 60)]:
        expected = -(-n_turns // CFG.session_break_every)  # ceil
        assert per_conv[conv] == expected, conv
    # session_end = last ts + gap; n_turns sums to total
    assert out.agg(F.sum("n_turns")).first()[0] == df.count()


def test_session_bounds(spark):
    df = _turns_df(spark)
    out = windows.sessionize(
        df,
        "30 minutes",
        ["conv_id"],
        aggs=[
            F.count(F.lit(1)).alias("n_turns"),
            F.max(F.unix_micros("ts")).alias("last_us"),
        ],
    )
    for r in out.collect():
        assert r.session_end_us == r.last_us + 30 * 60 * 1_000_000
        assert r.session_start_us <= r.last_us


def test_late_rows_batch_policy(spark):
    # arrival order: t=0m, 20m, then a straggler at event-time 5m (15m older
    # than max seen) → late for delay=10m, on-time for delay=30m
    base = datetime.datetime(2024, 9, 1)
    rows = [
        (1, base),
        (2, base + datetime.timedelta(minutes=20)),
        (3, base + datetime.timedelta(minutes=5)),
    ]
    df = spark.createDataFrame(rows, "arrival_seq int, ts timestamp")
    late10 = {r.arrival_seq: r.is_late for r in windows.late_rows_batch(df, 600).collect()}
    assert late10 == {1: False, 2: False, 3: True}
    late30 = {r.arrival_seq: r.is_late for r in windows.late_rows_batch(df, 1800).collect()}
    assert late30 == {1: False, 2: False, 3: False}


def test_salted_agg_matches_plain(spark):
    df = _turns_df(spark)
    plain = {
        r.conv_id: r.n
        for r in df.groupBy("conv_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    salted = {r.conv_id: r.n for r in windows.salted_agg(df, "conv_id", 8).collect()}
    assert salted == plain


def test_streaming_watermark_applied(spark, tmp_path):
    # W1 wiring: watermark attaches on a streaming frame without error and
    # session aggregation runs in append mode
    src = str(tmp_path / "src")
    import json, os

    os.makedirs(src)
    cfg = gen.GenConfig(n_convs=3, turns_per_conv=6, mega_convs=0)
    gen.write_stream_files(cfg, src, files=2)
    from kafka2iceberg_spark import ingest, pipeline
    from kafka2iceberg_spark.schema import transcript_task

    raw = pipeline.file_broker_stream(spark, src, max_files_per_trigger=10)
    parsed = ingest.parse(raw, transcript_task())
    sess = windows.sessionize(
        windows.with_watermark(parsed, "ts", "10 minutes"),
        "30 minutes",
        ["conv_id"],
    )
    q = (
        sess.writeStream.format("memory")
        .queryName("sess_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    n = spark.sql("select count(*) c from sess_test").first().c
    assert n > 0


def test_asof_join_semantics(spark):
    """Latest right row at-or-before each left row, per key; equal
    timestamps included (excluded under strict); no-prior rows keep NULL;
    crossing keys never match."""
    import datetime

    from kafka2iceberg_spark.windows import asof_join

    B = datetime.datetime(2024, 9, 1, 12, 0, 0)

    def t(m):
        return B + datetime.timedelta(minutes=m)

    left = spark.createDataFrame(
        [("u1", 1, t(10)), ("u1", 2, t(20)), ("u1", 3, t(5)),
         ("u2", 4, t(10))],
        "user string, lid int, ts timestamp",
    )
    right = spark.createDataFrame(
        [("u1", 100, t(10)), ("u1", 101, t(15)), ("u3", 102, t(1))],
        "user string, rid int, ts timestamp",
    )
    out = {
        r.lid: (r.rid, r._asof_ts)
        for r in asof_join(left, right, on=["user"]).collect()
    }
    assert out[1] == (100, t(10))      # equal ts matches
    assert out[2] == (101, t(15))      # latest prior, not first
    assert out[3] == (None, None)      # nothing at-or-before
    assert out[4] == (None, None)      # u3's rows invisible to u2
    strict = {
        r.lid: r.rid
        for r in asof_join(left, right, on=["user"], strict=True).collect()
    }
    assert strict[1] is None           # equal ts excluded under strict
    assert strict[2] == 101


def test_asof_join_tie_on_right_ts(spark):
    """Multiple right rows at one (key, ts): the greatest right_cols value
    wins (documented deterministic tie-break)."""
    import datetime

    from kafka2iceberg_spark.windows import asof_join

    B = datetime.datetime(2024, 9, 1)
    left = spark.createDataFrame(
        [("u", 1, B + datetime.timedelta(hours=1))],
        "user string, lid int, ts timestamp",
    )
    right = spark.createDataFrame(
        [("u", 7, B), ("u", 9, B), ("u", 8, B)],
        "user string, rid int, ts timestamp",
    )
    [row] = asof_join(left, right, on=["user"]).collect()
    assert row.rid == 9


def test_range_join_within_band_edges(spark):
    """Interval edges are exact: a right row at exactly +interval matches,
    one microsecond later does not; matches crossing the internal band
    boundary are found (the two-bucket probe is sufficient)."""
    import datetime

    from kafka2iceberg_spark.windows import range_join_within

    B = datetime.datetime(2024, 9, 1, 0, 0, 0)
    sec = datetime.timedelta(seconds=1)
    us = datetime.timedelta(microseconds=1)
    left = spark.createDataFrame(
        [("u", 1, B + 90 * sec)],  # band (100s): bucket 0, probes 0 and 1
        "user string, lid int, ts timestamp",
    )
    right = spark.createDataFrame(
        [
            ("u", 10, B + 90 * sec),            # equal ts: excluded (>)
            ("u", 11, B + 95 * sec),            # same bucket: in
            ("u", 12, B + 150 * sec),           # next bucket: in
            ("u", 13, B + 190 * sec),           # exactly +interval: in
            ("u", 14, B + 190 * sec + us),      # 1 us past: out
            ("x", 15, B + 95 * sec),            # other key: out
        ],
        "user string, rid int, ts timestamp",
    )
    out = range_join_within(left, right, on=["user"], interval_sec=100)
    assert sorted(r.rid for r in out.collect()) == [11, 12, 13]


def test_asof_join_null_payload_not_overwritten_by_stale_row(spark):
    """Code-review regression: the matched (latest) right row's NULL
    payload must stay NULL — not be papered over by an older row's value
    (the struct carry guarantees all output values come from one row)."""
    import datetime

    import pytest

    from kafka2iceberg_spark.windows import asof_join

    B = datetime.datetime(2024, 9, 1)

    def t(m):
        return B + datetime.timedelta(minutes=m)

    left = spark.createDataFrame(
        [("u", 1, t(30))], "user string, lid int, ts timestamp"
    )
    right = spark.createDataFrame(
        [("u", "a", t(10)), ("u", None, t(20))],
        "user string, val string, ts timestamp",
    )
    [row] = asof_join(left, right, on=["user"]).collect()
    assert row._asof_ts == t(20)
    assert row.val is None  # NOT 'a'

    # a NULL-ts right row must not fabricate a match
    right2 = spark.createDataFrame(
        [("u", "phantom", None)], "user string, val string, ts timestamp"
    )
    [row2] = asof_join(left, right2, on=["user"]).collect()
    assert row2.val is None and row2._asof_ts is None

    # name collisions are rejected, not silently merged
    right3 = spark.createDataFrame(
        [("u", 5, t(1))], "user string, lid int, ts timestamp"
    )
    with pytest.raises(ValueError, match="collision"):
        asof_join(left, right3, on=["user"])


def test_multitouch_linear_and_positional(spark):
    import datetime as dt

    from kafka2iceberg_spark import windows as win

    T = dt.datetime(2000, 1, 1)
    s = dt.timedelta(seconds=1)
    touches = spark.createDataFrame(
        [(7, T, 1), (7, T + 10 * s, 2), (7, T + 9000 * s, 3)],
        "user_id long, ts timestamp, touch_id long",
    )
    convs = spark.createDataFrame(
        [(7, T + 20 * s, 100, 90.0)],
        "user_id long, ts timestamp, conv_id long, value double",
    )
    lin = {
        r["touch_id"]: (r["weight_ppm"], r["credit"])
        for r in win.multitouch_attribution(
            touches, convs, ["user_id"], 3600, model="linear"
        ).collect()
    }
    # touch 3 is outside the hour window
    assert lin == {1: (500000, 45.0), 2: (500000, 45.0)}
    first = {
        r["touch_id"]: r["credit"]
        for r in win.multitouch_attribution(
            touches, convs, ["user_id"], 3600, model="first"
        ).collect()
    }
    assert first == {1: 90.0, 2: 0.0}
    last = {
        r["touch_id"]: r["credit"]
        for r in win.multitouch_attribution(
            touches, convs, ["user_id"], 3600, model="last"
        ).collect()
    }
    assert last == {1: 0.0, 2: 90.0}


def test_multitouch_integer_ppm_thirds(spark):
    import datetime as dt

    from kafka2iceberg_spark import windows as win

    T = dt.datetime(2000, 1, 1)
    s = dt.timedelta(seconds=1)
    touches = spark.createDataFrame(
        [(7, T + i * s, i) for i in range(3)],
        "user_id long, ts timestamp, touch_id long",
    )
    convs = spark.createDataFrame(
        [(7, T + 60 * s, 100, 30.0)],
        "user_id long, ts timestamp, conv_id long, value double",
    )
    out = win.multitouch_attribution(
        touches, convs, ["user_id"], 3600, model="linear"
    ).collect()
    # integer ppm: 333333, not a pretended exact third
    assert {r["weight_ppm"] for r in out} == {333333}
    assert {round(r["credit"], 6) for r in out} == {9.99999}


class TestConcurrencyCurve:
    def _curve(self, spark, sessions, step=10):
        from kafka2iceberg_spark.windows import concurrency_curve

        df = spark.createDataFrame(
            sessions, "session_start_us long, session_end_us long"
        )
        return {
            r["boundary_us"]: (r["delta"], r["active"])
            for r in concurrency_curve(df, step).collect()
        }

    def test_hand_computed_overlap(self, spark):
        # [5,25) and [12,18): boundaries at 10 (+1), 20 (+1-1=0 net? ...)
        # s=5 -> +1@10; e=25 -> -1@30; s=12 -> +1@20; e=18 -> -1@20
        got = self._curve(spark, [(5, 25), (12, 18)])
        assert got[10] == (1, 1)
        assert got[20] == (0, 1)   # second session opens AND closes within
        assert got[30] == (-1, 0)

    def test_boundary_alignment_is_ceil(self, spark):
        # start exactly on a boundary counts at that boundary
        got = self._curve(spark, [(10, 30)])
        assert got[10] == (1, 1) and got[30] == (-1, 0)

    def test_peak_counts_simultaneous_sessions(self, spark):
        got = self._curve(spark, [(0, 100), (0, 100), (50, 100)])
        assert max(a for _, a in got.values()) == 3

    def test_invalid_step_rejected(self, spark):
        from kafka2iceberg_spark.windows import concurrency_curve
        import pytest as _pt

        df = spark.createDataFrame([(1, 2)], "session_start_us long, session_end_us long")
        with _pt.raises(ValueError):
            concurrency_curve(df, 0)


class TestCappedSessions:
    def test_gap_split_and_cap_split(self, spark):
        import datetime as dt

        from kafka2iceberg_spark import windows as win

        base = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
        def t(minutes):
            return base + dt.timedelta(minutes=minutes)

        rows = [
            # conv A: turns every 10 min for 130 min -> one gap-session,
            # cap 60 min splits at [0,60), [60,120), [120,...)
            *[("A", i, t(10 * i)) for i in range(14)],
            # conv B: two turns 90 min apart with gap 30 -> two sessions
            ("B", 0, t(0)), ("B", 1, t(90)),
        ]
        df = spark.createDataFrame(rows, "conv_id string, turn_idx int, ts timestamp")
        out = win.capped_sessions(
            df, gap_seconds=1800, cap_seconds=3600
        ).collect()
        a = sorted([r for r in out if r["conv_id"] == "A"],
                   key=lambda r: r["session_seq"])
        assert [r["n_turns"] for r in a] == [6, 6, 2]
        # every session obeys the cap
        assert all(r["dur_us"] < 3600 * 1_000_000 for r in a)
        b = sorted([r for r in out if r["conv_id"] == "B"],
                   key=lambda r: r["session_seq"])
        assert [r["n_turns"] for r in b] == [1, 1]

    def test_single_turn_conv(self, spark):
        import datetime as dt

        from kafka2iceberg_spark import windows as win

        df = spark.createDataFrame(
            [("C", 0, dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc))],
            "conv_id string, turn_idx int, ts timestamp",
        )
        [r] = win.capped_sessions(df, 1800, 3600).collect()
        assert (r["session_seq"], r["n_turns"], r["dur_us"]) == (1, 1, 0)


class TestDisorderProfile:
    def test_known_lateness(self, spark):
        import datetime as dt

        from kafka2iceberg_spark import windows as win

        def t(minutes):
            return dt.datetime(2024, 1, 1) + dt.timedelta(minutes=minutes)

        # partition 0 arrives 60, 0, 90, 30 -> rows 2 and 4 are 1h late;
        # partition 1 arrives in event-time order -> zero disorder
        rows = [
            (0, 1, t(60)), (0, 2, t(0)), (0, 3, t(90)), (0, 4, t(30)),
            (1, 1, t(0)), (1, 2, t(10)), (1, 3, t(20)),
        ]
        df = spark.createDataFrame(
            rows, "kafka_partition long, arrival_seq int, ts timestamp"
        )
        out = {
            r["kafka_partition"]: r
            for r in win.disorder_profile(df).collect()
        }
        p0 = out[0]
        assert (p0["n_rows"], p0["n_ooo"]) == (4, 2)
        assert p0["max_lateness_us"] == 3600 * 1_000_000
        # 1h lateness exceeds the 60s candidate delay but not the 1h one
        assert p0["n_late_60s"] == 2
        assert p0["n_late_3600s"] == 0
        assert p0["n_late_86400s"] == 0
        assert p0["ooo_ppm"] == 500_000
        p1 = out[1]
        assert (p1["n_ooo"], p1["max_lateness_us"], p1["ooo_ppm"]) == (0, 0, 0)

    def test_partitions_independent(self, spark):
        import datetime as dt

        from kafka2iceberg_spark import windows as win

        base = dt.datetime(2024, 1, 1)
        # the late row in partition 0 must not count against partition 1
        rows = [
            (0, 1, base + dt.timedelta(hours=5)),
            (0, 2, base),
            (1, 1, base + dt.timedelta(hours=1)),
        ]
        df = spark.createDataFrame(
            rows, "kafka_partition long, arrival_seq int, ts timestamp"
        )
        out = {r["kafka_partition"]: r for r in win.disorder_profile(df).collect()}
        assert out[0]["n_ooo"] == 1 and out[1]["n_ooo"] == 0


class TestSkewJoin:
    def _data(self, spark):
        left = spark.createDataFrame(
            [("hot", i) for i in range(20)] + [("c1", 0), ("c2", 0)],
            "k string, v int",
        )
        right = spark.createDataFrame(
            [("hot", "H"), ("c1", "A"), ("c2", "B"), ("orphan", "X")],
            "k string, lab string",
        )
        return left, right

    def test_inner_matches_plain_join(self, spark):
        from kafka2iceberg_spark import windows as win

        left, right = self._data(spark)
        out = win.skew_join(left, right, "k", hot_threshold=5)
        plain = left.join(right, "k")
        assert sorted(map(tuple, out.collect())) == sorted(
            map(tuple, plain.collect())
        )

    def test_left_keeps_unmatched(self, spark):
        from kafka2iceberg_spark import windows as win

        left, right = self._data(spark)
        left = left.union(
            spark.createDataFrame([("lonely", 9)], "k string, v int")
        )
        out = win.skew_join(left, right, "k", hot_threshold=5, how="left")
        plain = left.join(right, "k", "left")
        assert sorted(map(str, out.collect())) == sorted(
            map(str, plain.collect())
        )

    def test_no_hot_keys_path(self, spark):
        from kafka2iceberg_spark import windows as win

        left, right = self._data(spark)
        out = win.skew_join(left, right, "k", hot_threshold=1000)
        plain = left.join(right, "k")
        assert sorted(map(tuple, out.collect())) == sorted(
            map(tuple, plain.collect())
        )

    def test_rejects_other_join_types(self, spark):
        import pytest

        from kafka2iceberg_spark import windows as win

        left, right = self._data(spark)
        with pytest.raises(ValueError):
            win.skew_join(left, right, "k", 5, how="full")


def test_gap_sensitivity_matches_sessionize_counts(spark):
    """The sweep's n_sessions per gap must equal what the real gap-closed
    sessionization emits for that gap — same boundaries, no sessions
    materialized."""
    from pyspark.sql import functions as F

    from kafka2iceberg_spark import windows as win

    rows = [
        # conv a: gaps of 30m, 3h -> 1 session at 4h, 2 at 2h, 2 at 1h
        ("a", 0, "2024-01-01 00:00:00"),
        ("a", 1, "2024-01-01 00:30:00"),
        ("a", 2, "2024-01-01 03:30:00"),
        # conv b: single turn -> always 1 session
        ("b", 0, "2024-01-01 12:00:00"),
        # conv c: gaps of 5h, 5h -> 3 sessions at 4h, 1 at 8h
        ("c", 0, "2024-01-02 00:00:00"),
        ("c", 1, "2024-01-02 05:00:00"),
        ("c", 2, "2024-01-02 10:00:00"),
    ]
    t = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, ts string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    hour = 3_600_000_000
    out = {
        r.gap_us: r
        for r in win.gap_sensitivity(t, [hour, 2 * hour, 4 * hour, 8 * hour])
        .collect()
    }
    assert out[hour].n_sessions == 2 + 1 + 3          # a:2 b:1 c:3
    assert out[2 * hour].n_sessions == 2 + 1 + 3
    assert out[4 * hour].n_sessions == 1 + 1 + 3
    assert out[8 * hour].n_sessions == 1 + 1 + 1
    assert out[8 * hour].n_boundaries == 0
    assert out[hour].avg_turns_per_session_ppm == 7 * 1_000_000 // 6


def test_gap_sensitivity_matches_sessionize_on_generator_data(spark):
    """Randomized-ish cross-check on real generator transcripts: the
    sweep's n_sessions must equal the actual gap-closed sessionization's
    emitted session count for every candidate gap — including the
    boundary rule (diff == gap shares a session; only STRICTLY longer
    silences close one)."""
    from pyspark.sql import functions as F

    from kafka2iceberg_spark import gen, windows as win

    cfg = gen.GenConfig(n_convs=12, turns_per_conv=9, mega_convs=1,
                        mega_turns=40, seed=77)
    t = spark.createDataFrame(gen.turns(cfg)).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    hour = 3_600_000_000
    sweep = {
        r.gap_us: r.n_sessions
        for r in win.gap_sensitivity(t, [hour // 2, hour, 4 * hour])
        .collect()
    }
    for gap_us, gap_str in [
        (hour // 2, "30 minutes"),
        (hour, "1 hour"),
        (4 * hour, "4 hours"),
    ]:
        real = win.sessionize(t, gap_str).count()
        assert sweep[gap_us] == real, (gap_str, sweep[gap_us], real)


def test_quota_admit_hand_computed(spark):
    """Per (key, 1-hour window) the 3 earliest turns by (ts, tiebreak)
    are admitted and the rest rejected, whatever the input order: A has 7
    turns in hour 0 (3 in, 4 out) and 2 in hour 1; B sits exactly at the
    quota."""
    from kafka2iceberg_spark.windows import quota_admit

    rows = [("A", i, f"2024-01-01 00:{5 * i + 1:02d}:00") for i in range(7)]
    rows += [
        ("A", 100, "2024-01-01 01:10:00"),
        ("A", 101, "2024-01-01 01:20:00"),
    ]
    rows += [("B", i, f"2024-01-01 00:{7 * i + 2:02d}:00") for i in range(3)]
    shuffled = sorted(rows, key=lambda r: (-r[1], r[0]))

    def verdicts(rs):
        df = spark.createDataFrame(
            rs, "conv_id string, turn_idx long, ts string"
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        return {
            (r.conv_id, r.turn_idx): (r.window_us, r.admitted)
            for r in quota_admit(
                df, "conv_id", "ts", "1 hour", 3, "turn_idx"
            ).collect()
        }

    got = verdicts(rows)
    assert verdicts(shuffled) == got  # event-time, not arrival, order
    hour0 = 1_704_067_200_000_000  # 2024-01-01 00:00 UTC
    assert [got[("A", i)] for i in range(7)] == (
        [(hour0, True)] * 3 + [(hour0, False)] * 4
    )
    assert got[("A", 100)] == got[("A", 101)] == (hour0 + 3_600_000_000, True)
    assert all(got[("B", i)] == (hour0, True) for i in range(3))
