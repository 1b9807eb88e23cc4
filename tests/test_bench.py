"""Spark-free checks of the benchmark harness (bench.py): it sizes the
driver from the box, and its one timer keeps every attempt."""

from __future__ import annotations

import bench
from perfbench.helpers import mem_total_mb

_UNIT_MB = {"k": 1 / 1024, "m": 1, "g": 1024, "t": 1024 * 1024}


def test_driver_memory_fits_the_box():
    mem = bench.session_conf("/unused")["spark.driver.memory"].lower()
    assert float(mem[:-1]) * _UNIT_MB[mem[-1]] < mem_total_mb()


def test_min_of_k_reports_min_and_keeps_every_attempt(monkeypatch):
    walls = [3.0, 1.5, 2.0, 4.0]
    steals = [0, 25, 0, 100]  # stolen jiffies per 100 busy jiffies
    clock = [0.0]
    jiffies = [0] * 8  # /proc/stat cpu fields: user … steal
    script = iter(zip(walls, steals))

    def fake_run():
        wall, stolen = next(script)
        clock[0] += wall
        jiffies[0] += 100
        jiffies[7] += stolen
        return wall

    monkeypatch.setattr(bench, "monotonic", lambda: clock[0])
    monkeypatch.setattr(bench, "cpu_times", lambda: list(jiffies))
    r = bench.min_of_k(fake_run, k=len(walls))
    assert r["wall"] == 1.5
    assert r["attempts"] == [(3.0, 0.0), (1.5, 0.2), (2.0, 0.0), (4.0, 0.5)]
    assert r["out"] == 4.0
