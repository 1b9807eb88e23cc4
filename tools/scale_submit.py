"""North-rule scaling evidence via actual spark-submit --py-files.

Packages the engine, submits the session-window CEP job at two parallelism
levels (N and 4N cores — the sandbox stand-in for N and 4N executors), and
prints the throughput + efficiency JSON. Unlike bench.py's in-process runs,
every measurement here goes through the real spark-submit entry path the
north rule names.

Run: python tools/scale_submit.py [rows] [lo_cores] [hi_cores]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import driver_memory  # noqa: E402

JOB = """
import json, statistics, sys, time
from pyspark.sql import SparkSession, functions as F
from kafka2iceberg_spark import windows as win

def arg(k, d):
    for a in sys.argv[1:]:
        if a.startswith(k + "="):
            return a.split("=", 1)[1]
    return d

cores = arg("cores", "8")
rows = int(arg("rows", "50000000"))
spark = (SparkSession.builder
    .config("spark.sql.shuffle.partitions", "64")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate())

convs = max(rows // 50, 1)

def job():
    df = spark.range(rows).select(
        F.concat(F.lit("c"), (F.col("id") % convs).cast("string")).alias("conv_id"),
        (F.col("id") / convs).cast("int").alias("turn_idx"),
        F.md5(F.col("id").cast("string")).alias("text"),
        F.timestamp_micros(
            F.lit(1700000000000000)
            + (F.col("id") % convs) * 1000000
            + (F.col("id") / convs).cast("long") * 120000000
        ).alias("ts"),
    )
    win.sessionize(
        df, "10 minutes", ["conv_id"],
        [F.count(F.lit(1)).alias("n"), F.max("turn_idx").alias("m")],
    ).write.format("noop").mode("overwrite").save()

job(); job(); job()  # warm JIT/codegen + shuffle paths fully
walls = []
best_age = 0
while len(walls) < 12:
    t0 = time.monotonic(); job(); walls.append(time.monotonic() - t0)
    best_age = 0 if walls[-1] <= min(walls) else best_age + 1
    if len(walls) >= 4 and best_age >= 2:
        w = sorted(walls)
        if (w[1] - w[0]) / w[0] < 0.04:  # best wall reproduced -> converged
            break
print("RESULT " + json.dumps({"cores": cores, "rows": rows,
      "walls": [round(w, 2) for w in walls], "best": round(min(walls), 2)}))
spark.stop()
"""


def submit(zip_path: str, job_path: str, cores: int, rows: int) -> dict:
    cmd = [
        "spark-submit",
        "--master", f"local[{cores}]",
        "--conf", "spark.ui.enabled=false",
        "--conf", f"spark.driver.memory={driver_memory()}",
        "--conf", f"spark.local.dir=/dev/shm/k2i-submit-{cores}",
        "--py-files", zip_path,
        job_path,
        f"cores={cores}",
        f"rows={rows}",
    ]
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
    for line in out.stdout.splitlines():
        if line.startswith("RESULT "):
            return json.loads(line[len("RESULT "):])
    raise RuntimeError(f"no RESULT line; stderr tail: {out.stderr[-800:]}")


def main() -> None:
    rows = int(sys.argv[1]) if len(sys.argv) > 1 else 50_000_000
    hi = int(sys.argv[3]) if len(sys.argv) > 3 else os.cpu_count()
    lo = int(sys.argv[2]) if len(sys.argv) > 2 else max(hi // 4, 1)

    work = tempfile.mkdtemp(prefix="k2i_submit_")
    zip_path = os.path.join(work, "k2i.zip")
    with zipfile.ZipFile(zip_path, "w") as zf:
        pkg = os.path.join(REPO, "kafka2iceberg_spark")
        for root, _, files in os.walk(pkg):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    zf.write(full, os.path.relpath(full, REPO))
    job_path = os.path.join(work, "job.py")
    with open(job_path, "w") as fh:
        fh.write(JOB)

    r_lo = submit(zip_path, job_path, lo, rows)
    r_hi = submit(zip_path, job_path, hi, rows)
    eff = (r_lo["best"] / r_hi["best"]) / (hi / lo)
    print(
        json.dumps(
            {
                "mode": "spark-submit --py-files",
                "job": f"session-window CEP over {rows} synthetic turns",
                "n": r_lo,
                "4n": r_hi,
                "efficiency_raw": round(eff, 3),
            }
        )
    )


if __name__ == "__main__":
    main()
