#!/usr/bin/env python
"""Benchmark harness: one JSON line on stdout.

Measures, on local[$SPARK_GRAFT_CPUS] (default: every core of the box)
over $SPARK_GRAFT_SF_DIR:

  1. the 15-query HEADLINE set, each fully materialized by a noop write;
  2. warm streaming ingest (gen → envelope parse → exactly-once upsert
     sink) as a single batch, and as 8 micro-batches against the
     accumulating table, copy-on-write and merge-on-read;
  3. the session-window and user↔reply pairs streaming branches end to
     end over the same broker;
  4. N vs 4N scaling: the session-window CEP job over in-Spark generated
     turns at local[CPUS // 4] and local[CPUS], raw efficiency only.

Every tier is timed by ``min_of_k``: k runs, each recorded with its wall
and the /proc/stat steal over it; the minimum wall is the reported figure
and every attempt stays in the JSON. The driver's memory is half of the
box's MemTotal, and the JSON stamps the box (cores, MemTotal).

Output: {"metric", "value": <HEADLINE sec>, "unit": "sec", "box", "k",
         "sf", "queries", "query_attempts", "ingest", "ingest_multibatch",
         "session_e2e", "pairs_e2e", "scaling"}
"""

from __future__ import annotations

import itertools
import json
import os
import shutil
import sys
import tempfile
from time import monotonic

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from perfbench.helpers import (  # noqa: E402
    cpu_times,
    mem_total_mb,
    steal_fraction,
)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())
RUN_SCALING = os.environ.get("SPARK_GRAFT_SCALING", "1") != "0"
SCALE_ROWS = int(os.environ.get("SPARK_GRAFT_SCALE_ROWS", 50_000_000))
K = 3  # runs per measurement

# the round-1 comparison set — "value" sums exactly these
HEADLINE = [
    "session_window",
    "session_window_two_phase",
    "tumbling_window",
    "paired_turns",
    "conversation_stats",
    "envelope_roundtrip",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "text_quality",
    "ann_brute_topk",
    "ann_lsh_topk",
    "blob_features",
    "pricing_summary",
    "nation_revenue",
]

SCALE_GEN = dict(
    n_convs=1200, turns_per_conv=100, mega_convs=4, mega_turns=5000,
    n_partitions=16,
)
BROKER_FILES = 64
FILES_PER_TRIGGER = 64


def driver_memory() -> str:
    """Spark driver memory for this box: half of MemTotal."""
    return f"{int(mem_total_mb() // 2)}m"


def session_conf(local_dir: str) -> dict[str, str]:
    return {
        "spark.sql.shuffle.partitions": "64",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.driver.memory": driver_memory(),
        "spark.local.dir": local_dir,
        "spark.ui.enabled": "false",
    }


def session(cores: int, root: str):
    from pyspark.sql import SparkSession

    builder = SparkSession.builder.master(f"local[{cores}]").appName(
        "k2i-bench"
    )
    for key, value in session_conf(f"{root}/spark-local").items():
        builder = builder.config(key, value)
    return builder.getOrCreate()


def min_of_k(fn, k: int = K) -> dict:
    """Run ``fn`` k times and report the minimum wall.

    Steal only ever inflates a wall, so the minimum is the figure; every
    attempt's ``(wall, steal)`` is kept so a noisy tier shows in the
    record. ``out`` is the last run's return value."""
    attempts: list[tuple[float, float]] = []
    out = None
    for _ in range(k):
        c0 = cpu_times()
        t0 = monotonic()
        out = fn()
        wall = monotonic() - t0
        attempts.append((wall, steal_fraction(c0, cpu_times())))
    return {
        "wall": min(w for w, _ in attempts),
        "attempts": attempts,
        "out": out,
    }


def _attempts(r: dict) -> list[list[float]]:
    return [[round(w, 3), round(s, 4)] for w, s in r["attempts"]]


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def time_queries(spark) -> tuple[dict[str, float], dict[str, list]]:
    import __spark_entry__ as entry

    qs = entry.queries()
    walls: dict[str, float] = {}
    attempts: dict[str, list] = {}
    for name in HEADLINE:
        fn = qs[name]
        r = min_of_k(lambda: _force(fn(spark, SF_DIR)))
        walls[name] = round(r["wall"], 3)
        attempts[name] = _attempts(r)
    return walls, attempts


def gen_broker(root: str) -> int:
    from kafka2iceberg_spark.gen import GenConfig, write_stream_files

    cfg = GenConfig(**SCALE_GEN)
    write_stream_files(cfg, f"{root}/broker", files=BROKER_FILES)
    return sum(
        1
        for p in os.listdir(f"{root}/broker")
        for _ in open(os.path.join(f"{root}/broker", p))
    )


def ingest_run(
    spark, root: str, tag: str, strategy: str = "cow",
    files_per_trigger: int = FILES_PER_TRIGGER,
) -> None:
    """Gen broker → envelope parse → exactly-once upsert into a fresh
    table. With ``files_per_trigger`` below BROKER_FILES each micro-batch
    commits against the table its predecessors built: CoW re-reads and
    rewrites every affected partition per batch, MOR appends O(batch) and
    defers reconciliation to readers."""
    from kafka2iceberg_spark.pipeline import run_ingest_once
    from kafka2iceberg_spark.schema import transcript_task
    from kafka2iceberg_spark.sink import IcebergLite

    spec = transcript_task()
    table = IcebergLite(f"{root}/tbl-{tag}", pk=spec.primary_keys)
    run_ingest_once(
        spark, f"{root}/broker", spec, table, f"{root}/ckpt-{tag}",
        max_files_per_trigger=files_per_trigger,
        strategy=strategy,
    )


def session_e2e_run(spark, root: str, tag: str):
    """Streaming session-window branch over the broker; returns its
    output table."""
    from kafka2iceberg_spark.pipeline import (
        file_broker_stream,
        parsed_stream,
        start_session_sink,
    )
    from kafka2iceberg_spark.schema import transcript_task
    from kafka2iceberg_spark.sink import IcebergLite

    spec = transcript_task()
    table = IcebergLite(f"{root}/sess-{tag}", pk=[], partition_field=None)
    raw = file_broker_stream(spark, f"{root}/broker", FILES_PER_TRIGGER)
    q = start_session_sink(
        parsed_stream(raw, spec),
        table,
        f"{root}/sess-ck-{tag}",
        gap="30 minutes",
        watermark_delay="10 minutes",
        trigger={"availableNow": True},
    )
    q.awaitTermination()
    return table


def pairs_e2e_run(spark, root: str, tag: str):
    """User↔reply pairs branch (applyInPandasWithState) over the broker;
    returns its output table."""
    from kafka2iceberg_spark.pipeline import (
        file_broker_stream,
        parsed_stream,
        start_pairs_sink,
    )
    from kafka2iceberg_spark.schema import transcript_task
    from kafka2iceberg_spark.sink import IcebergLite

    spec = transcript_task()
    table = IcebergLite(f"{root}/pairs-{tag}", pk=[], partition_field=None)
    raw = file_broker_stream(spark, f"{root}/broker", FILES_PER_TRIGGER)
    q = start_pairs_sink(
        parsed_stream(raw, spec),
        table,
        f"{root}/pairs-ck-{tag}",
        trigger={"availableNow": True},
    )
    q.awaitTermination()
    return table


def cep_job(spark, n_rows: int) -> None:
    """Flagship scaling job: synthesize n_rows transcript turns in-Spark
    (zero input IO — pure engine work) and run gap-closed session windows."""
    from pyspark.sql import functions as F

    from kafka2iceberg_spark import windows as win

    convs = max(n_rows // 50, 1)
    df = spark.range(n_rows).select(
        F.concat(F.lit("c"), (F.col("id") % convs).cast("string")).alias(
            "conv_id"
        ),
        (F.col("id") / convs).cast("int").alias("turn_idx"),
        F.md5(F.col("id").cast("string")).alias("text"),
        F.timestamp_micros(
            F.lit(1_700_000_000_000_000)
            + (F.col("id") % convs) * 1_000_000
            + (F.col("id") / convs).cast("long") * 120_000_000
        ).alias("ts"),
    )
    _force(
        win.sessionize(
            df,
            "10 minutes",
            ["conv_id"],
            [F.count(F.lit(1)).alias("n"), F.max("turn_idx").alias("m")],
        )
    )


def scale_level(cores: int, root: str) -> dict:
    """The CEP job timed on its own local[cores] session."""
    spark = session(cores, root)
    try:
        return min_of_k(lambda: cep_job(spark, SCALE_ROWS))
    finally:
        spark.stop()


def _e2e(r: dict, n_env: int, **extra) -> dict:
    return {
        **extra,
        "wall_sec": round(r["wall"], 2),
        "turns_per_sec": round(n_env / r["wall"], 1),
        "attempts": _attempts(r),
    }


def main() -> None:
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    root = tempfile.mkdtemp(prefix="k2i_bench_")
    try:
        n_env = gen_broker(root)
        spark = session(CPUS, root)
        queries, query_attempts = time_queries(spark)

        # every run needs a fresh table and checkpoint: a reused
        # checkpoint would replay as a no-op
        tags = itertools.count()

        def fresh(run, *args):
            return lambda: run(spark, root, f"t{next(tags)}", *args)

        ing = min_of_k(fresh(ingest_run))
        per_batch = max(BROKER_FILES // 8, 1)
        mb_cow = min_of_k(fresh(ingest_run, "cow", per_batch))
        mb_mor = min_of_k(fresh(ingest_run, "mor", per_batch))
        sess = min_of_k(fresh(session_e2e_run))
        pairs = min_of_k(fresh(pairs_e2e_run))
        n_sessions = sess["out"].read(spark).count()
        n_pairs = pairs["out"].read(spark).count()
        spark.stop()

        result: dict = {
            "metric": (
                "headline query wall-clock + warm streaming-ingest turns/sec"
                " + session-window CEP N→4N scaling efficiency"
            ),
            "value": round(sum(queries.values()), 3),
            "unit": "sec",
            "box": {
                "cores": CPUS,
                "mem_total_mb": round(mem_total_mb()),
                "driver_memory": driver_memory(),
            },
            "k": K,
            "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
            "queries": queries,
            "query_attempts": query_attempts,
            "ingest": _e2e(ing, n_env, envelopes=n_env),
            "ingest_multibatch": {
                "shape": "8 micro-batches against the accumulating table",
                "cow": _e2e(mb_cow, n_env),
                "mor": _e2e(mb_mor, n_env),
                "mor_speedup_vs_cow": round(
                    mb_cow["wall"] / mb_mor["wall"], 2
                ),
            },
            "session_e2e": _e2e(sess, n_env, sessions_emitted=n_sessions),
            "pairs_e2e": _e2e(
                pairs, n_env, impl="applyInPandasWithState",
                pairs_emitted=n_pairs,
            ),
        }

        if RUN_SCALING and CPUS >= 4:
            lo = CPUS // 4
            r_lo = scale_level(lo, root)
            r_hi = scale_level(CPUS, root)
            result["scaling"] = {
                "job": f"session-window CEP over {SCALE_ROWS} synthetic turns",
                "cores_n": lo,
                "cores_4n": CPUS,
                "wall_n_sec": round(r_lo["wall"], 2),
                "wall_4n_sec": round(r_hi["wall"], 2),
                "attempts_n": _attempts(r_lo),
                "attempts_4n": _attempts(r_hi),
                "rows_per_sec_n": round(SCALE_ROWS / r_lo["wall"], 0),
                "rows_per_sec_4n": round(SCALE_ROWS / r_hi["wall"], 0),
                "efficiency_raw": round(
                    (r_lo["wall"] / r_hi["wall"]) / (CPUS / lo), 3
                ),
            }
        print(json.dumps(result))
    finally:
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
