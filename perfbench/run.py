"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload upsert_trickle --seed 1 \\
        --seconds 25 --trace 0

Run from the repository root. ``--seconds`` is the trickle's offer
window; the backfill's work is fixed in size. The last line of standard
output is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (every end-to-end metric of BENCHMARK.json with ``--trace 0``,
every per-layer metric with ``--trace 1``). The lines before it show each
metric with its unit and sample note, the operation counts, the phase
times, the environment stamp and, when traced, the span self times and the
tracing overhead.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

WORKLOADS = ("upsert_trickle", "upsert_backfill_mor")


def stop_jvm(spark) -> None:
    """Stop Spark and the JVM it runs in, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on end of its stdin
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - kill whatever did not exit
            proc.kill()
            proc.wait()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        declared = json.load(fh)
    kind = "per_layer" if args.trace else "end_to_end"
    units = {m["name"]: m["unit"] for m in declared[kind]}

    tmp = os.path.join(root, ".perfbench_tmp",
                       f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(tmp)
    # Spark, its Python workers and the JVM keep every temporary file in
    # the run's directory; the workers import the engine from the root.
    os.environ["TMPDIR"] = tmp
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, root)
    try:
        return run(args, root, tmp, units)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def run(args, root: str, tmp: str, units: dict) -> int:
    from perfbench import helpers as H
    from perfbench.workloads import Bench, event_log_metrics, make_inputs

    b = Bench(tmp, args.seed, bool(args.trace))
    b.inp = make_inputs(args.workload, args.seed, args.seconds, b.dir)
    stat0 = H.cpu_times()
    t = time.perf_counter()
    b.start_session()
    b.warm("cow" if args.workload == "upsert_trickle" else "mor")
    setup_s = time.perf_counter() - t
    try:
        getattr(b, args.workload)()
        phases = {"setup": setup_s, **b.phase_s}
        b.notes["phases"] = ", ".join(
            f"{k} {v:.1f} s" for k, v in phases.items())
        if args.trace:
            metrics = {k: (v, "") for k, v in b.per_layer().items()}
        else:
            metrics = b.end_to_end(setup_s, b.peak_rss_mb())
        env = H.env_stamp(root, args.seed, b.nproc)
        env["spark"] = b.spark.version
        env["java"] = b.spark._jvm.java.lang.System.getProperty(
            "java.version")
    finally:
        stop_jvm(b.spark)
    if args.trace:
        for k, v in event_log_metrics(f"{tmp}/events", b.main,
                                      b.nproc).items():
            metrics[k] = (v, "")
        os.makedirs(os.path.join(root, ".perfbench_out"), exist_ok=True)
        b.tracer.dump(os.path.join(
            root, ".perfbench_out", f"spans-{args.workload}-{args.seed}.json"))
    env["steal_frac"] = round(H.steal_fraction(stat0, H.cpu_times()), 4)

    missing = sorted(set(units) - set(metrics))
    if missing:
        raise RuntimeError(f"metrics not measured: {missing}")
    print(f"workload {args.workload}  seed {args.seed}  "
          f"trace {args.trace}")
    print("env " + json.dumps(env, sort_keys=True))
    for name in sorted(units):
        value, note = metrics[name]
        print(f"  {name:40s} {value:14.4f} {units[name]:8s} {note}")
    for k, v in b.notes.items():
        print(f"{k}: {v}")
    if args.trace:
        print("spans (name, count, p50 ms, p50 self ms):")
        for name, n, ms, own in b.span_table():
            print(f"  {name:24s} {n:6d} {ms:10.2f} {own:10.2f}")
        print(f"tracing overhead: {metrics['trace.overhead_frac'][0]:+.3f} "
              "(traced vs untraced passes of this run)")
    attempted = sum(b.attempted.values())
    failed = sum(b.failed.values())
    print("operations " + json.dumps(
        {"attempted": b.attempted, "failed": b.failed}))
    for p in b.problems:
        print(f"INCORRECT: {p}")
    print(json.dumps({
        "correct": not b.problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            name: {"value": float(metrics[name][0]), "unit": units[name]}
            for name in units
        },
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
