"""The benchmark's workloads, run against the engine's public API.

Every workload runs the engine's whole job, so every end-to-end metric is
measured on every workload; each puts its weight on a different part:

* ``upsert_trickle`` (open loop): small envelope files are moved into the
  broker directory on a fixed schedule while one continuous copy-on-write
  upsert query runs at about half its one-file capacity, so a batch holds
  about one file. Per-batch fixed cost is the user's latency here. A read
  mix on the table and one session/pairs pass follow.
* ``upsert_backfill_mor`` (closed loop): two passes each replay a backlog
  through the merge-on-read upsert in a few large batches; a read mix runs
  on the last table, then a clean stream is replayed through the session
  sink and the stateful pairs sink in large batches. Per-row work,
  reader-side merging and the windows and state layers weigh most.
"""

from __future__ import annotations

import json
import os
import random
import resource
import threading
import time
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from kafka2iceberg_spark import gen, pipeline, windows
from kafka2iceberg_spark.ingest import parse
from kafka2iceberg_spark.schema import transcript_task
from kafka2iceberg_spark.sink import IcebergLite
from kafka2iceberg_spark.state import PAIR_SCHEMA, paired_turns_batch

from . import helpers as H
from .tracing import Tracer, traced_table_class

SPEC = transcript_task()
ROCKSDB = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)

# Trickle: in a trickle of one 100-envelope file every 2 s, a copy-on-write
# batch took 1.30-1.48 s on average on 4 cores (runs at under 4% steal), so
# one file every 2.5 s keeps the query busy about half the time and
# a batch holds one file. ``--seconds`` is the offer window. The
# per-trigger file cap is the CLI's default. Batches that take more than
# 1.5 files on average mean the query no longer keeps up with the offer,
# which voids the run.
TRICKLE_FILE_ENVS = 100
TRICKLE_INTERVAL_S = 2.5
TRICKLE_MAX_FILES = 8
SATURATED_FILES_PER_BATCH = 1.5
# Backfill: passes each replay a 6k-envelope backlog in 54 files through
# two merge-on-read batches; every file is one freshness sample, so two
# passes give 108. A traced run makes three, untraced-traced-untraced.
BACKFILL_ENVS = 6_000
BACKFILL_FILES = 54
BACKFILL_MAX_FILES = 27
# Session/pairs: a clean stream (exact batch twins) in 4k-envelope batches;
# at that size per-row work is about half of a pairs batch. The session
# query's per-row cost is small beside its per-batch cost at any size a
# run can afford.
CEP_BATCH_ENVS = 4_000
CEP_BATCHES = {"upsert_trickle": 1, "upsert_backfill_mor": 2}
WARM_ENVS = 300  # the warm-up's upsert and clean streams
# The read mix: full reads, point lookups on conv_id and one-hour ranges on
# ts, 2:5:3. 100 reads leave 10 beyond the p90; a merge-on-read read costs
# 0.3-0.45 s, so the backfill, which must fit a minute with its other
# phases, makes 60. Two concurrent clients overlap the reads' driver-side
# work; more would mostly wait on each other.
READ_MIX = (("read", 2), ("scan_point", 5), ("scan_range", 3))
READS = {"upsert_trickle": 100, "upsert_backfill_mor": 60}
READ_CLIENTS = 2
SESSION_GAP = "30 minutes"

PAIR_COLS = [f.name for f in PAIR_SCHEMA.fields]
SESSION_COLS = ["conv_id", "session_start_us", "session_end_us", "n_turns",
                "max_turn"]
SENTINEL = {  # far-future turn: advances the watermark past every session
    "data": [{"conv_id": "zzz", "turn_idx": "0", "role": "user", "text": "s",
              "tool": "null", "ts": "2030-01-01 00:00:00"}],
    "database": "chat", "table": "transcripts", "type": "INSERT",
    "isDdl": False, "ts": 1893456000000, "es": 1893456000000, "old": None,
    "pkNames": ["conv_id", "turn_idx"], "sql": "", "_offset": 9_999_999,
    "_partition": 0,
}


def stream(seed: int, n: int, clean: bool) -> list[dict]:
    """The first ``n`` arrival-ordered envelopes of a seeded stream. A
    clean stream has no late, out-of-order, duplicate or DELETE events."""
    cfg = gen.GenConfig(n_convs=n // 20 + 1, seed=seed)
    if clean:
        cfg.mega_convs = 0
        cfg.ooo_fraction = cfg.late_fraction = 0.0
        cfg.dup_fraction = cfg.delete_fraction = 0.0
    return gen.envelopes(cfg)[:n]


def write_files(envs, n_files: int, d: str, mtime0: float | None) -> dict:
    """Envelope chunks as JSON-line files in ``d``: name → envelope count.
    With ``mtime0`` the files get increasing mtimes, which fixes the order
    the file source reads them in."""
    os.makedirs(d, exist_ok=True)
    chunk = -(-len(envs) // n_files)
    out = {}
    for i in range(n_files):
        name = f"f{i:05d}.jsonl"
        part = envs[i * chunk:(i + 1) * chunk]
        with open(os.path.join(d, name), "w") as fh:
            for e in part:
                fh.write(json.dumps(e, separators=(",", ":")) + "\n")
        if mtime0 is not None:
            os.utime(os.path.join(d, name), (mtime0 + i, mtime0 + i))
        out[name] = len(part)
    return out


def write_cep_broker(envs, n_files: int, d: str) -> None:
    """A clean stream ending in the far-future sentinel, so the no-data
    batch after the last file closes every session and pair."""
    write_files(envs, n_files, d, mtime0=1_000_000)
    last = os.path.join(d, f"f{n_files - 1:05d}.jsonl")
    mtime = os.path.getmtime(last)
    with open(last, "a") as fh:
        fh.write(json.dumps(SENTINEL, separators=(",", ":")) + "\n")
    os.utime(last, (mtime, mtime))


@dataclass
class Inputs:
    """A run's generated inputs: the upsert stream and its broker, the
    clean stream of the session and pairs queries (one batch per file), and
    the warm-up's small upsert and clean streams."""

    envs: list  # the upsert stream, in arrival order
    ref: list  # its reference table rows (``H.UPSERT_COLS`` order)
    broker: str
    cep_broker: str
    warm_broker: str
    warm_ref: list
    warm_cep_broker: str
    staging: str = ""  # trickle: files wait here until they are due
    files: dict = field(default_factory=dict)  # trickle: name → envelopes


def make_inputs(workload: str, seed: int, seconds: int, new_dir) -> Inputs:
    """Generate the workload's inputs from ``seed`` into directories made by
    ``new_dir(tag)``."""
    n_cep = CEP_BATCHES[workload]
    clean = stream(seed + 1, n_cep * CEP_BATCH_ENVS, clean=True)
    cep_broker = new_dir("cep-broker")
    write_cep_broker(clean, n_cep, cep_broker)
    warm = stream(seed + 99, WARM_ENVS, clean=False)
    warm_broker = new_dir("warm-broker")
    write_files(warm, 1, warm_broker, mtime0=1_000_000)
    warm_cep_broker = new_dir("warm-cep-broker")
    write_cep_broker(stream(seed + 98, WARM_ENVS, clean=True), 1,
                     warm_cep_broker)
    broker = new_dir("broker")
    staging, files = "", {}
    if workload == "upsert_trickle":
        n_files = max(1, int(round(seconds / TRICKLE_INTERVAL_S)))
        envs = stream(seed, n_files * TRICKLE_FILE_ENVS, clean=False)
        staging = new_dir("staging")
        files = write_files(envs, n_files, staging, mtime0=None)
        os.makedirs(broker)
    else:
        envs = stream(seed, BACKFILL_ENVS, clean=False)
        write_files(envs, BACKFILL_FILES, broker, mtime0=1_000_000)
    return Inputs(
        envs, upsert_ref_rows(envs), broker, cep_broker,
        warm_broker, upsert_ref_rows(warm), warm_cep_broker, staging, files)


def upsert_ref_rows(envs) -> list[tuple]:
    return list(H.upsert_reference(envs).values())


def _epoch_s(iso: str) -> float:
    return datetime.strptime(iso, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=timezone.utc
    ).timestamp()


def batches(q) -> list[dict]:
    """Progress of the query's executed micro-batches, with a ``commit_s``
    epoch: trigger start plus trigger duration."""
    out = []
    for p in q.recentProgress:
        j = p.json
        p = json.loads(j() if callable(j) else j)
        if "addBatch" in p.get("durationMs", {}):
            p["commit_s"] = (
                _epoch_s(p["timestamp"])
                + p["durationMs"]["triggerExecution"] / 1000.0
            )
            out.append(p)
    return out


class Bench:
    """One benchmark run: a Spark session, the workload's inputs, counters
    and the samples the metrics are computed from."""

    def __init__(self, tmp: str, seed: int, trace: bool) -> None:
        self.tmp, self.seed, self.trace = tmp, seed, trace
        self.nproc = len(os.sched_getaffinity(0))
        self.tracer = Tracer(enabled=False)
        self.Table = traced_table_class(self.tracer) if trace else IcebergLite
        self.attempted = {"batches": 0, "reads": 0}
        self.failed = {"batches": 0, "reads": 0}
        self.problems: list[str] = []
        self.notes: dict[str, str] = {}
        self.s: dict[str, list] = {
            "freshness": [], "read": [], "turns": [], "session": [],
            "pairs": [],
        }
        self.main: list[dict] = []  # main-phase batches (progress dicts)
        self.inp: Inputs | None = None
        self.queue_wait: list[float] = []
        self.state_progress = {"windows": [], "state": []}
        self.traced_walls: dict[bool, list[float]] = {False: [], True: []}
        self.table_for_files: IcebergLite | None = None
        self.spark: SparkSession | None = None
        self.phase_s: dict[str, float] = {}  # wall time of each phase
        self._n = 0

    # -- session --------------------------------------------------------

    def start_session(self) -> None:
        b = (
            SparkSession.builder.master(f"local[{self.nproc}]")
            .appName("perfbench")
            # a fixed-size heap keeps the JVM's peak RSS from depending on
            # when G1 decides to grow the heap
            .config("spark.driver.memory", "1g")
            .config("spark.driver.extraJavaOptions",
                    f"-Xms1g -XX:-UsePerfData -Djava.io.tmpdir={self.tmp}/jvm")
            .config("spark.local.dir", f"{self.tmp}/local")
            .config("spark.sql.warehouse.dir", f"{self.tmp}/warehouse")
            .config("spark.sql.shuffle.partitions", str(self.nproc))
            .config("spark.sql.adaptive.enabled", "true")
            .config("spark.sql.session.timeZone", "UTC")
            .config("spark.sql.streaming.stateStore.providerClass", ROCKSDB)
            .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
        )
        if self.trace:
            os.makedirs(f"{self.tmp}/events", exist_ok=True)
            b = (
                b.config("spark.eventLog.enabled", "true")
                .config("spark.eventLog.dir", f"file://{self.tmp}/events")
                .config("spark.eventLog.compress", "false")
            )
        os.makedirs(f"{self.tmp}/jvm", exist_ok=True)
        self.spark = b.getOrCreate()
        self.spark.sparkContext.setLogLevel("ERROR")

    def peak_rss_mb(self) -> float:
        jvm = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        py = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
        return H.vm_hwm_mb(jvm) + py

    def dir(self, tag: str) -> str:
        self._n += 1
        return os.path.join(self.tmp, f"{tag}-{self._n}")

    # -- queries --------------------------------------------------------

    def start(self, kind: str, broker: str, max_files: int):
        """Start one ``availableNow`` query over ``broker`` into a new
        table: the upsert ("cow" or "mor"), the session sink or the pairs
        sink. Returns the query, the table and its checkpoint."""
        d = self.dir(kind)
        if kind in ("cow", "mor"):
            table = self.Table(f"{d}/tbl", pk=SPEC.primary_keys)
        else:
            table = self.Table(f"{d}/tbl", pk=[], partition_field=None)
        raw = pipeline.file_broker_stream(self.spark, broker, max_files)
        parsed = pipeline.parsed_stream(raw, SPEC)
        once = {"availableNow": True}
        if kind in ("cow", "mor"):
            q = pipeline.start_upsert_sink(parsed, table, f"{d}/ck",
                                           trigger=once, strategy=kind)
        elif kind == "sessions":
            q = pipeline.start_session_sink(parsed, table, f"{d}/ck",
                                            gap=SESSION_GAP, trigger=once)
        else:
            q = pipeline.start_pairs_sink(parsed, table, f"{d}/ck",
                                          gap=SESSION_GAP, trigger=once,
                                          impl="state")
        return q, table, f"{d}/ck"

    def replay(self, kind: str, broker: str, max_files: int, main: bool):
        """One ``availableNow`` query (see :meth:`start`) run to its end.
        Returns its wall time (s), from start to the commit of its last
        batch, the table and the batches' progress. Main-phase batches also
        give freshness samples, every file being due at the start."""
        t0 = time.time()
        q, table, ckpt = self.start(kind, broker, max_files)
        q.awaitTermination()
        bs = batches(q)
        wall = max(p["commit_s"] for p in bs) - t0
        self.attempted["batches"] += len(bs)
        if main:
            self.main.extend(bs)
            due = {n: t0 for n in os.listdir(broker)}
            self._freshness(due, ckpt, bs)
        return wall, table, bs

    def _freshness(self, due: dict, ckpt: str, bs: list[dict]) -> dict:
        file_batch = H.source_log_files(f"{ckpt}/sources/0")
        commit = {p["batchId"]: p["commit_s"] for p in bs}
        trig = {p["batchId"]: p["durationMs"]["triggerExecution"] for p in bs}
        done = {}
        for name, b, ms in H.freshness_join(due, file_batch, commit):
            self.s["freshness"].append(ms)
            self.queue_wait.append(ms - trig[b])
            done[name] = commit[b]
        return done

    # -- reads ----------------------------------------------------------

    def read_ops(self, rng: random.Random, ref_rows: list, n: int) -> list:
        """``n`` seeded reads ``(kind, argument)`` in ``READ_MIX``
        proportions: a conv_id for a point lookup, the start of a one-hour
        range for a range scan."""
        keys = sorted({r[0] for r in ref_rows})
        stamps = sorted({r[5] for r in ref_rows})
        unit = [k for k, m in READ_MIX for _ in range(m)]
        kinds = (unit * -(-n // len(unit)))[:n]
        rng.shuffle(kinds)
        return [(k, rng.choice(keys) if k == "scan_point"
                 else rng.choice(stamps) if k == "scan_range" else None)
                for k in kinds]

    def one_read(self, table, kind: str, arg, ref_rows: list):
        """One read of the mix, collected: ``(ms, matches the reference)``."""
        if kind == "read":
            want = ref_rows
        elif kind == "scan_point":
            want = [r for r in ref_rows if r[0] == arg]
        else:
            lo = datetime.strptime(arg, "%Y-%m-%d %H:%M:%S")
            hi = (lo + timedelta(hours=1)).strftime("%Y-%m-%d %H:%M:%S")
            want = [r for r in ref_rows if arg <= r[5] <= hi]
        t = time.perf_counter()
        if kind == "read":
            df = table.read(self.spark)
        elif kind == "scan_point":
            df = table.scan_point(self.spark, "conv_id", arg)
        else:
            df = table.scan_range(self.spark, "ts", lo,
                                  lo + timedelta(hours=1))
        rows = df.select(*H.UPSERT_COLS).collect()
        ms = (time.perf_counter() - t) * 1000
        return ms, H.content_hash(rows) == H.content_hash(want)

    def read_mix(self, table, ops: list, ref_rows: list) -> None:
        """Run ``ops`` on an upsert table from ``READ_CLIENTS`` concurrent
        clients, each taking the next read when its last one returns. Every
        result is checked against ``ref_rows`` (``UPSERT_COLS`` order);
        latencies go to the read samples."""
        todo = iter(range(len(ops)))
        lock = threading.Lock()
        results: list = [None] * len(ops)

        def client() -> None:
            while True:
                with lock:
                    i = next(todo, None)
                if i is None:
                    return
                try:
                    results[i] = self.one_read(table, *ops[i], ref_rows)
                except Exception as e:  # noqa: BLE001 - a failed read
                    results[i] = (None, repr(e))

        clients = [threading.Thread(target=client)
                   for _ in range(READ_CLIENTS)]
        for c in clients:
            c.start()
        for c in clients:
            c.join()
        for (kind, _), (ms, ok) in zip(ops, results):
            self.attempted["reads"] += 1
            if ms is None:
                self.failed["reads"] += 1
                self.problems.append(f"{kind} failed: {ok}")
                continue
            self.s["read"].append(ms)
            if not ok:
                self.failed["reads"] += 1
                self.problems.append(f"{kind} result differs from reference")

    def check(self, what: str, got_rows, want_rows) -> None:
        got, want = H.content_hash(got_rows), H.content_hash(want_rows)
        if got != want:
            self.problems.append(
                f"{what}: {got[0]} rows hash {got[1]}, "
                f"reference {want[0]} rows hash {want[1]}")

    def check_upsert(self, table, ref_rows: list[tuple]) -> None:
        rows = table.read(self.spark).select(*H.UPSERT_COLS).collect()
        self.check("upsert table", rows, ref_rows)

    # -- CEP ------------------------------------------------------------

    def cep_pass(self) -> tuple:
        """The session sink, then the pairs sink, over the clean stream, one
        batch per file. Each rate is envelopes per second of the query's
        executed batches, so the query's start-up is not in it."""
        tables = []
        for kind, key, layer in (("sessions", "session", "windows"),
                                 ("pairs", "pairs", "state")):
            _, table, bs = self.replay(kind, self.inp.cep_broker, 1,
                                       main=False)
            self.state_progress[layer].append(bs)
            self.s[key].append(H.batch_rate(bs))
            tables.append(table)
        return tuple(tables)

    def cep_twins(self) -> tuple[list, list]:
        """Sessions and pairs of the batch twins over the same parsed rows."""
        raw = self.spark.read.text(self.inp.cep_broker).select("value")
        rows = (
            pipeline.parsed_stream(raw, SPEC)
            .where(F.col("conv_id") != "zzz")
            .withColumn("ts", F.col("ts").cast("timestamp"))
        )
        sess = windows.sessionize(
            rows, SESSION_GAP, ["conv_id"],
            [F.count(F.lit(1)).alias("n_turns"),
             F.max("turn_idx").alias("max_turn")],
        ).select(*SESSION_COLS).collect()
        pairs = paired_turns_batch(rows).select(*PAIR_COLS).collect()
        return sess, pairs

    def check_cep(self, sess_table, pairs_table) -> None:
        twins = self.cep_twins()
        for what, table, cols, want in (
            ("sessions", sess_table, SESSION_COLS, twins[0]),
            ("pairs", pairs_table, PAIR_COLS, twins[1]),
        ):
            got = (table.read(self.spark).where(F.col("conv_id") != "zzz")
                   .select(*cols).collect())
            self.check(what, got, want)

    def warm(self, upsert: str) -> None:
        """Warm-up: one unmeasured pass of every query and read kind the run
        measures (``upsert`` is its strategy, "cow" or "mor") on small
        streams of its own, so the measured work starts with loaded classes,
        started Python workers and a compiled JIT. The three queries run at
        the same time, which overlaps their start-up costs."""
        inp = self.inp
        started = [
            self.start(upsert, inp.warm_broker, 1),
            self.start("sessions", inp.warm_cep_broker, 1),
            self.start("pairs", inp.warm_cep_broker, 1),
        ]
        for q, _, _ in started:
            q.awaitTermination()
        ops = self.read_ops(random.Random(0), inp.warm_ref, 2 * READ_CLIENTS)
        self.read_mix(started[0][1], ops, inp.warm_ref)
        self.s["read"].clear()
        self.attempted["reads"] = self.failed["reads"] = 0

    # -- workloads ------------------------------------------------------

    def upsert_trickle(self) -> None:
        inp = self.inp
        t_start = time.perf_counter()
        d = self.dir("trickle")
        table = self.Table(f"{d}/tbl", pk=SPEC.primary_keys)
        raw = pipeline.file_broker_stream(self.spark, inp.broker,
                                          TRICKLE_MAX_FILES)
        q = pipeline.start_upsert_sink(
            pipeline.parsed_stream(raw, SPEC), table, f"{d}/ck")
        deadline = time.time() + 60
        while "Waiting for data" not in q.status["message"]:
            if time.time() > deadline:
                raise RuntimeError(f"query not idle: {q.status}")
            time.sleep(0.05)

        # traced runs trace the odd batches only; the even ones are the
        # untraced side of the overhead comparison
        self.tracer.enabled = self.trace
        self.tracer.batch_filter = lambda b: int(b) % 2 == 1
        t0 = time.time() + 0.5
        due, late = {}, []
        # the open-loop generator: due times never slip, however late a
        # move runs (the query and its sink run on other threads)
        for i, name in enumerate(sorted(inp.files)):
            due_t = t0 + i * TRICKLE_INTERVAL_S
            time.sleep(max(0.0, due_t - time.time()))
            src = os.path.join(inp.staging, name)
            os.utime(src, (due_t, due_t))
            os.rename(src, os.path.join(inp.broker, name))
            late.append(time.time() - due_t)
            due[name] = due_t
        t_close = t0 + len(inp.files) * TRICKLE_INTERVAL_S
        deadline = time.time() + 120
        while sum(p["numInputRows"] for p in batches(q)) < len(inp.envs):
            if time.time() > deadline or q.exception():
                raise RuntimeError("trickle did not drain")
            time.sleep(0.05)
        q.stop()
        bs = [p for p in batches(q) if p["numInputRows"]]
        self.attempted["batches"] += len(bs)
        self.main = bs
        done = self._freshness(due, f"{d}/ck", bs)
        self.s["turns"].append(H.batch_rate(bs))
        self.tracer.batch_filter = None
        for p in bs[1:]:  # the first batch also pays the query's start-up
            self.traced_walls[p["batchId"] % 2 == 1].append(
                p["durationMs"]["triggerExecution"] / 1000)

        # load: busy share of the offer window, files per batch, and the
        # backlog (files due but not yet committed) at each due time
        busy = H.busy_fraction(bs, t0, max(t_close, max(done.values())))
        series = [H.backlog_at(t, due, done) for t in sorted(due.values())]
        at_close = H.backlog_at(t_close, due, done)
        self.notes["generator"] = (
            f"late p50 {H.p50(late) * 1000:.1f} ms, max "
            f"{max(late) * 1000:.1f} ms; backlog at close {at_close} files; "
            f"{len(bs)} batches for {len(inp.files)} files "
            f"({len(inp.files) / len(bs):.2f} per batch); busy {busy:.2f}")
        if H.backlog_grew(series):
            self.problems.append(f"backlog grew: {series}")
        if len(inp.files) / len(bs) > SATURATED_FILES_PER_BATCH:
            self.problems.append(
                f"saturated: {len(inp.files) / len(bs):.2f} files per batch")

        self.check_upsert(table, inp.ref)
        self.phase_s["trickle"] = time.perf_counter() - t_start
        self.reads_then_cep(table, READS["upsert_trickle"])

    def upsert_backfill_mor(self) -> None:
        inp = self.inp
        t_start = time.perf_counter()
        for i in range(3 if self.trace else 2):
            # a traced run traces the middle pass only: U T U cancels a
            # linear drift in the overhead comparison
            self.tracer.enabled = self.trace and i % 2 == 1
            wall, table, _ = self.replay("mor", inp.broker,
                                         BACKFILL_MAX_FILES, main=True)
            self.traced_walls[self.tracer.enabled].append(wall)
            self.s["turns"].append(len(inp.envs) / wall)
            self.check_upsert(table, inp.ref)
        self.tracer.enabled = self.trace
        self.phase_s["replay"] = time.perf_counter() - t_start
        self.reads_then_cep(table, READS["upsert_backfill_mor"])

    def reads_then_cep(self, table, n_reads: int) -> None:
        """How both workloads end: ``n_reads`` reads of the mix on the
        upsert table, then one session/pairs pass over the clean stream,
        each checked."""
        inp = self.inp
        t = time.perf_counter()
        ops = self.read_ops(random.Random(self.seed), inp.ref, n_reads)
        self.read_mix(table, ops, inp.ref)
        self.phase_s["reads"] = time.perf_counter() - t
        t = time.perf_counter()
        sess, pairs = self.cep_pass()
        self.phase_s["cep"] = time.perf_counter() - t
        t = time.perf_counter()
        self.check_cep(sess, pairs)
        self.phase_s["cep_check"] = time.perf_counter() - t
        self.table_for_files = table

    # -- per-layer probes (traced runs) -----------------------------------

    def ingest_probe(self) -> dict:
        """``ingest.parse`` over the main broker files as a static read,
        forced by a noop write: the parse cost without any sink."""
        raw = self.spark.read.text(self.inp.broker)
        parsed = parse(raw, SPEC)
        times = []
        for _ in range(3):
            t = time.perf_counter()
            parsed.write.format("noop").mode("overwrite").save()
            times.append((time.perf_counter() - t) * 1000)
        envs_in = raw.count()
        rows_out = parsed.count()
        producing = parsed.select("partition_idx", "offset").distinct().count()
        return {
            "ingest.parse_ms": H.p50(times),
            "ingest.envelopes_in": envs_in,
            "ingest.rows_out": rows_out,
            "ingest.rows_dropped": envs_in - producing,
        }

    def table_files(self) -> dict:
        t = self.table_for_files
        commits = max(1, t.current_version() or 0)
        data = meta_n = meta_bytes = 0
        for base, _, names in os.walk(t.data_dir):
            data += sum(1 for n in names if n.endswith(".parquet")
                        and "-deletes-" not in base)
        for base, _, names in os.walk(t.meta_dir):
            for n in names:
                meta_n += 1
                meta_bytes += os.path.getsize(os.path.join(base, n))
        return {
            "sink.data_files_per_commit": data / commits,
            "sink.metadata_files_per_commit": meta_n / commits,
            "sink.metadata_bytes_per_commit": meta_bytes / commits,
            "sink.live_delete_files": len(
                t.current_snapshot().get("delete_manifests") or []),
        }

    # -- metrics ----------------------------------------------------------

    def end_to_end(self, setup_s: float, rss_mb: float) -> dict:
        """End-to-end metric → (value, note)."""
        fr, fr_pct, fr_n = H.tail(self.s["freshness"])
        rd, rd_pct, rd_n = H.tail(self.s["read"])
        n_turns = len(self.s["turns"])
        return {
            "setup_s": (setup_s, "session start + warm-up"),
            "peak_rss_mb": (rss_mb, "driver JVM VmHWM + Python maxrss"),
            "freshness_p50_ms": (H.p50(self.s["freshness"]),
                                 f"{fr_n} files"),
            "freshness_tail_ms": (fr, f"p{fr_pct} of {fr_n} files"),
            "turns_per_s": (H.p50(self.s["turns"]),
                            f"median of {n_turns} passes" if n_turns > 1
                            else "per busy trigger second"),
            "read_latency_p50_ms": (H.p50(self.s["read"]), f"{rd_n} reads"),
            "read_latency_tail_ms": (rd, f"p{rd_pct} of {rd_n} reads"),
            "session_turns_per_s": (H.p50(self.s["session"]),
                                    "per trigger second"),
            "pairs_turns_per_s": (H.p50(self.s["pairs"]),
                                  "per trigger second"),
        }

    def per_layer(self) -> dict:
        """Per-layer metrics available before the session stops (the event
        log ones come from :func:`event_log_metrics` after it stops)."""
        m = {}
        for key, name in (
            ("triggerExecution", "trigger"), ("addBatch", "add_batch"),
            ("latestOffset", "latest_offset"),
            ("queryPlanning", "query_planning"), ("walCommit", "wal_commit"),
            ("commitOffsets", "commit_offsets"),
        ):
            m[f"pipeline.{name}_ms_p50"] = H.p50(
                [p["durationMs"].get(key, 0) for p in self.main])
        m["pipeline.queue_wait_ms_p50"] = H.p50(self.queue_wait)
        m.update(self.ingest_probe())

        spans = self.tracer.spans
        selfs = H.self_times(spans)
        for name in ("commit_upsert", "commit_append", "read_partitions",
                     "committed_batches", "read", "scan_point", "scan_range"):
            ms = [(s["end"] - s["start"]) * 1000 for s in spans
                  if s["name"] == name]
            m[f"sink.{name}_ms_p50"] = H.p50(ms) if ms else 0.0
        own = [selfs[s["id"]] * 1000 for s in spans
               if s["name"] == "commit_upsert"]
        m["sink.commit_upsert_self_ms_p50"] = H.p50(own) if own else 0.0
        m.update(self.table_files())

        # state operators: peak rows and memory over all batches, commit and
        # update time per batch, watermark drops per query pass
        for layer, passes in self.state_progress.items():
            per_batch = [p.get("stateOperators", []) for bs in passes
                         for p in bs]
            flat = [o for ops in per_batch for o in ops]

            def peak(key: str) -> float:
                return max([sum(o[key] for o in ops) for ops in per_batch]
                           or [0])

            def mean(key: str, n: int) -> float:
                return sum(o[key] for o in flat) / max(1, n)

            m[f"{layer}.state_rows_total"] = peak("numRowsTotal")
            m[f"{layer}.state_memory_bytes"] = peak("memoryUsedBytes")
            m[f"{layer}.state_commit_ms"] = mean("commitTimeMs",
                                                 len(per_batch))
            m[f"{layer}.all_updates_ms"] = mean("allUpdatesTimeMs",
                                                len(per_batch))
            m[f"{layer}.rows_dropped_by_watermark"] = mean(
                "numRowsDroppedByWatermark", len(passes))
        off, on = self.traced_walls[False], self.traced_walls[True]
        m["trace.overhead_frac"] = (
            H.p50(on) / H.p50(off) - 1.0 if on and off else 0.0)
        return m

    def span_table(self) -> list[tuple[str, int, float, float]]:
        """(span name, count, p50 ms, p50 self ms) per span name."""
        selfs = H.self_times(self.tracer.spans)
        names = sorted({s["name"] for s in self.tracer.spans})
        out = []
        for name in names:
            ss = [s for s in self.tracer.spans if s["name"] == name]
            out.append((
                name, len(ss),
                H.p50([(s["end"] - s["start"]) * 1000 for s in ss]),
                H.p50([selfs[s["id"]] * 1000 for s in ss]),
            ))
        return out


def event_log_metrics(events_dir: str, main: list[dict], nproc: int) -> dict:
    """Jobs, tasks, shuffle bytes, core busy share and GC time of the tasks
    that ran inside the main phase's micro-batches, from the event log."""
    spans = sorted(
        (p["commit_s"] - p["durationMs"]["triggerExecution"] / 1000,
         p["commit_s"]) for p in main)

    def inside(t: float) -> bool:
        return any(lo <= t <= hi for lo, hi in spans)

    jobs = tasks = shuffle = busy_ms = gc_ms = 0
    logs = [os.path.join(base, n) for base, _, names in os.walk(events_dir)
            for n in names if n.startswith(("events_", "local-"))]
    for path in logs:
        with open(path) as fh:
            for line in fh:
                e = json.loads(line)
                ev = e.get("Event")
                if ev == "SparkListenerJobStart":
                    jobs += inside(e["Submission Time"] / 1000)
                elif ev == "SparkListenerTaskEnd":
                    info = e["Task Info"]
                    if not inside(info["Launch Time"] / 1000):
                        continue
                    tm = e.get("Task Metrics") or {}
                    tasks += 1
                    busy_ms += info["Finish Time"] - info["Launch Time"]
                    gc_ms += tm.get("JVM GC Time", 0)
                    shuffle += (tm.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
    n = max(1, len(main))
    rows = sum(p["numInputRows"] for p in main)
    wall_s = sum(hi - lo for lo, hi in spans)
    return {
        "pipeline.jobs_per_batch": jobs / n,
        "pipeline.tasks_per_batch": tasks / n,
        "pipeline.shuffle_bytes_per_turn": shuffle / max(1, rows),
        "pipeline.core_busy_frac": busy_ms / 1000 / max(1e-9, nproc * wall_s),
        "pipeline.gc_ms": gc_ms / n,
    }
