"""Pure-Python helpers of the benchmark: statistics, reference outputs,
content hashes, the file-to-batch freshness join, span self times and the
environment stamp. Nothing here imports Spark, so the unit tests run fast.
"""

from __future__ import annotations

import hashlib
import json
import os
import platform
import statistics
from datetime import datetime

TAIL_BEYOND = 10  # samples a tail percentile should leave above it
TAIL_FLOOR = 90  # the lowest percentile reported as a tail


def p50(values: list[float]) -> float:
    return float(statistics.median(values))


def tail(values: list[float]) -> tuple[float, int, int]:
    """The highest whole percentile, up to 99, with at least
    ``TAIL_BEYOND`` samples beyond it, by nearest rank, but never below
    ``TAIL_FLOOR``: ``(value, percentile, sample count)``.

    Below ``10 * TAIL_BEYOND`` samples no percentile from the floor up has
    that many samples beyond it, and the floor percentile is returned; the
    caller reports the sample count with it."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("tail of no samples")
    pct = min(99, max(TAIL_FLOOR, (100 * (n - TAIL_BEYOND)) // n))
    rank = max(1, -(-pct * n // 100))  # ceil(pct * n / 100)
    return float(xs[rank - 1]), pct, n


def batch_rate(progress: list[dict]) -> float:
    """Input rows per second of trigger time over executed micro-batches
    (StreamingQueryProgress dicts): the query's start-up, which runs before
    its first trigger, is not in it."""
    rows = sum(p["numInputRows"] for p in progress)
    busy_s = sum(p["durationMs"]["triggerExecution"] for p in progress)
    return rows / (busy_s / 1000.0)


def busy_fraction(progress: list[dict], t0: float, t1: float) -> float:
    """Share of the interval ``[t0, t1]`` (epoch s) that the query spent in
    triggers, from progress dicts carrying ``commit_s``."""
    busy = 0.0
    for p in progress:
        hi = p["commit_s"]
        lo = hi - p["durationMs"]["triggerExecution"] / 1000.0
        busy += max(0.0, min(hi, t1) - max(lo, t0))
    return busy / (t1 - t0)


# -- reference outputs ------------------------------------------------------


def norm_row(values) -> list:
    """Canonical JSON-able form of one output row (timestamps as text)."""
    return [
        v.strftime("%Y-%m-%d %H:%M:%S") if isinstance(v, datetime) else v
        for v in values
    ]


def content_hash(rows) -> tuple[int, str]:
    """Order-independent multiset hash of rows: ``(count, hex digest)``.

    Each row is hashed on its canonical JSON form; the 64-bit row hashes are
    summed, so row order does not matter and a duplicated row still counts."""
    total, n = 0, 0
    for r in rows:
        h = hashlib.blake2b(
            json.dumps(norm_row(r), separators=(",", ":")).encode(),
            digest_size=8,
        ).digest()
        total = (total + int.from_bytes(h, "big")) % (1 << 64)
        n += 1
    return n, f"{total:016x}"


#: Upsert table columns, in table order (ingest.parse minus is_cdc_delete).
UPSERT_COLS = (
    "conv_id", "turn_idx", "role", "text", "tool", "ts", "offset",
    "partition_idx",
)


def upsert_reference(envelopes) -> dict[tuple[str, int], tuple]:
    """Plain-Python upsert semantics: the last arrival per
    ``(conv_id, turn_idx)`` wins, and a DELETE as the last arrival means the
    row is absent. ``envelopes`` must be in arrival order."""
    last: dict[tuple[str, int], tuple | None] = {}
    for env in envelopes:
        deleted = env["type"].strip().upper() == "DELETE"
        for d in env["data"]:
            key = (d["conv_id"], int(d["turn_idx"]))
            tool = None if d["tool"].strip().lower() == "null" else d["tool"]
            last[key] = None if deleted else (
                d["conv_id"], int(d["turn_idx"]), d["role"], d["text"],
                tool, d["ts"], env["_offset"], env["_partition"],
            )
    return {k: v for k, v in last.items() if v is not None}


# -- freshness --------------------------------------------------------------


def source_log_files(source_log_dir: str) -> dict[str, int]:
    """File basename → the micro-batch id that read it, from a file-stream
    source's checkpoint log (``<checkpoint>/sources/0``). Compacted logs
    (``N.compact``) carry their entries' batch ids, so both forms parse."""
    out: dict[str, int] = {}
    for name in os.listdir(source_log_dir):
        if name.startswith("."):
            continue
        with open(os.path.join(source_log_dir, name)) as fh:
            lines = fh.read().splitlines()
        for line in lines[1:]:  # first line is the log version, e.g. "v1"
            if line.strip():
                e = json.loads(line)
                out[e["path"].rsplit("/", 1)[-1]] = int(e["batchId"])
    return out


def freshness_join(
    due_s: dict[str, float],
    file_batch: dict[str, int],
    commit_s: dict[int, float],
) -> list[tuple[str, int, float]]:
    """Per file: ``(name, batch id, freshness ms)``, freshness being the
    time from the file's due time until the batch that read it committed.
    Every due file must have been read and its batch committed."""
    out = []
    for name, due in sorted(due_s.items()):
        b = file_batch[name]
        out.append((name, b, (commit_s[b] - due) * 1000.0))
    return out


def backlog_at(t: float, due_s: dict[str, float],
               done_s: dict[str, float]) -> int:
    """Files due by ``t`` whose batch had not committed by ``t``."""
    return sum(1 for n, d in due_s.items() if d <= t and done_s[n] > t)


def backlog_grew(series: list[int]) -> bool:
    """Whether a backlog series (one reading per due time) grew: the median
    of its last quarter is more than twice that of its second quarter, plus
    two files. The first quarter is skipped, as the backlog ramps up from
    zero there."""
    q = max(1, len(series) // 4)
    base = sorted(series[q:2 * q])
    last = sorted(series[-q:])
    return last[len(last) // 2] > 2 * base[len(base) // 2] + 2


# -- spans ------------------------------------------------------------------


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id → self time: its duration minus the part of its interval
    covered by its direct children (overlapping children count once)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.get("parent") is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(kids.get(s["id"], [])):
            lo, hi = max(lo, s["start"]), min(hi, s["end"])
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


# -- environment ------------------------------------------------------------


def cpu_times() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def steal_fraction(before: list[int], after: list[int]) -> float:
    """Share of CPU time stolen by the hypervisor between two
    ``cpu_times()`` readings (fields: user … steal)."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d)
    return d[7] / total if total else 0.0


def mem_total_mb() -> float:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def vm_hwm_mb(pid: int | str = "self") -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def git_commit(root: str) -> str:
    """Commit id from ``.git`` without running git; "unknown" outside a
    repository (the benchmark also runs from plain source trees)."""
    head_path = os.path.join(root, ".git", "HEAD")
    try:
        with open(head_path) as fh:
            head = fh.read().strip()
        if not head.startswith("ref: "):
            return head
        ref = head[5:]
        ref_path = os.path.join(root, ".git", ref)
        if os.path.exists(ref_path):
            with open(ref_path) as fh:
                return fh.read().strip()
        with open(os.path.join(root, ".git", "packed-refs")) as fh:
            for line in fh:
                if line.rstrip().endswith(" " + ref):
                    return line.split()[0]
    except OSError:
        pass
    return "unknown"


def env_stamp(root: str, seed: int, nproc: int) -> dict:
    return {
        "nproc": nproc,
        "mem_total_mb": round(mem_total_mb()),
        "python": platform.python_version(),
        "commit": git_commit(root),
        "seed": seed,
    }
