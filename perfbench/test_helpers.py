"""Unit tests of the benchmark's own helpers (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json

import pytest

from perfbench import helpers as H


def test_tail_is_highest_percentile_with_ten_samples_beyond():
    xs = list(range(1, 101))  # 1..100
    assert H.tail(xs) == (90.0, 90, 100)
    v, pct, n = H.tail(list(range(200)))
    assert (pct, n) == (95, 200)
    assert sum(1 for x in range(200) if x > v) == 10
    assert H.tail(list(range(5000)))[1] == 99  # capped below the maximum


def test_tail_never_reports_below_the_floor():
    v, pct, n = H.tail(list(range(25)))
    assert (pct, n) == (90, 25)
    assert sum(1 for x in range(25) if x > v) == 2  # fewer than ten beyond
    assert H.tail([3.0, 1.0, 2.0]) == (3.0, 90, 3)
    with pytest.raises(ValueError):
        H.tail([])


def _progress(commit_s, trigger_ms, rows):
    return {"commit_s": commit_s, "numInputRows": rows,
            "durationMs": {"triggerExecution": trigger_ms}}


def test_batch_rate_counts_trigger_time_only():
    bs = [_progress(10.0, 500, 1000), _progress(20.0, 1500, 3000)]
    assert H.batch_rate(bs) == pytest.approx(2000.0)


def test_busy_fraction_clips_triggers_to_the_window():
    bs = [_progress(2.0, 1000, 1), _progress(5.0, 1000, 1),
          _progress(10.5, 1000, 1)]  # the last half outside [0, 10]
    assert H.busy_fraction(bs, 0.0, 10.0) == pytest.approx(0.25)


def _env(conv, idx, op, off, ts="2024-09-01 00:00:00", text="t", part=0):
    return {
        "data": [{"conv_id": conv, "turn_idx": str(idx), "role": "user",
                  "text": text, "tool": "null", "ts": ts}],
        "type": op, "_offset": off, "_partition": part,
    }


def test_upsert_reference_last_arrival_wins_and_delete_removes():
    envs = [
        _env("a", 1, "INSERT", 0, text="first"),
        _env("b", 0, "INSERT", 1, ts="2024-09-01 00:05:00"),
        _env("a", 0, "INSERT", 2, ts="2024-08-31 23:59:00"),  # out of order
        _env("a", 1, "INSERT", 3, text="first"),  # duplicate, newer offset
        _env("b", 0, "DELETE", 4, ts="2024-09-01 00:05:00"),
    ]
    ref = H.upsert_reference(envs)
    assert set(ref) == {("a", 0), ("a", 1)}
    assert ref[("a", 1)] == ("a", 1, "user", "first", None,
                             "2024-09-01 00:00:00", 3, 0)
    assert ref[("a", 0)][5] == "2024-08-31 23:59:00"


def test_upsert_reference_reinsert_after_delete_is_present():
    envs = [_env("a", 0, "INSERT", 0), _env("a", 0, "DELETE", 1),
            _env("a", 0, "INSERT", 2, text="back")]
    assert H.upsert_reference(envs)[("a", 0)][3] == "back"


def test_freshness_join_reads_plain_and_compacted_source_logs(tmp_path):
    log = tmp_path / "sources" / "0"
    log.mkdir(parents=True)

    def entries(batch, names):
        return "v1\n" + "".join(
            json.dumps({"path": f"file:///broker/{n}", "timestamp": 1,
                        "batchId": batch}) + "\n" for n in names)

    (log / "9.compact").write_text(entries(0, ["f0"]) + entries(1, ["f1"])
                                   .split("\n", 1)[1])
    (log / "10").write_text(entries(10, ["f2", "f3"]))
    (log / ".10.crc").write_text("ignored")
    file_batch = H.source_log_files(str(log))
    assert file_batch == {"f0": 0, "f1": 1, "f2": 10, "f3": 10}

    due = {"f0": 100.0, "f1": 100.25, "f2": 100.5, "f3": 100.75}
    commit = {0: 101.0, 1: 101.5, 10: 102.0}
    got = H.freshness_join(due, file_batch, commit)
    assert [(n, b) for n, b, _ in got] == [
        ("f0", 0), ("f1", 1), ("f2", 10), ("f3", 10)]
    assert [round(ms) for _, _, ms in got] == [1000, 1250, 1500, 1250]

    done = {n: commit[b] for n, b in file_batch.items()}
    assert H.backlog_at(100.6, due, done) == 3  # f0 done at 101.0, not yet
    assert H.backlog_at(101.1, due, done) == 3
    assert H.backlog_at(101.6, due, done) == 2


def test_backlog_grew_ignores_the_ramp_and_flags_growth():
    assert not H.backlog_grew([1, 2, 3, 4] + [5, 4, 6] * 4)
    assert H.backlog_grew([1, 2, 3, 4, 3, 4, 3, 4] + list(range(6, 22, 2)))


def test_self_time_subtracts_the_union_of_children():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "start": 3.0, "end": 5.0},  # overlaps 1
        {"id": 3, "parent": 0, "start": 9.0, "end": 12.0},  # clipped at 10
        {"id": 4, "parent": 1, "start": 2.0, "end": 3.0},  # grandchild
    ]
    st = H.self_times(spans)
    assert st[0] == pytest.approx(10.0 - 4.0 - 1.0)
    assert st[1] == pytest.approx(2.0)
    assert st[2] == pytest.approx(2.0)
    assert st[4] == pytest.approx(1.0)


def test_content_hash_is_order_independent_and_counts_duplicates():
    rows = [("a", 1), ("b", 2), ("b", 2)]
    assert H.content_hash(rows) == H.content_hash(list(reversed(rows)))
    assert H.content_hash(rows) != H.content_hash(rows[:2])


def test_a_dropped_row_fails_the_check(tmp_path):
    from perfbench.workloads import Bench

    envs = [_env("a", i, "INSERT", i) for i in range(5)]
    ref = list(H.upsert_reference(envs).values())
    b = Bench(str(tmp_path), seed=0, trace=False)
    b.check("upsert table", list(ref), ref)
    assert b.problems == []
    b.check("upsert table", ref[1:], ref)
    assert len(b.problems) == 1 and "4 rows" in b.problems[0]
