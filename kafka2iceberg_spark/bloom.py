"""Per-file bloom filters for point-lookup file skipping.

Min/max manifest stats prune RANGE predicates, but a point lookup on a
high-cardinality key (``pk = X``) is hopeless against them once every file's
[min, max] spans most of the key domain — every file stays in the plan.
Iceberg's answer is per-file bloom filters in Puffin sidecar files; this is
the same shape: one bitmap sidecar per (data file, column) under
``metadata/blooms/``, referenced from the manifest entry, consulted by
``plan_scan_eq`` before any data IO.

Bitmap parameters follow the standard formulas (m = -n*ln(p)/ln(2)^2,
k = m/n*ln(2)); membership hashing is double hashing off one md5 digest
(h1 + i*h2 mod m) — deterministic, no engine involved.

Building reads only the target columns of each file (pyarrow column
projection — footer + one column chunk, not the row). Each file is
independent, so the build is distributed over the executors with one task
per data file (``spark.sparkContext.parallelize(paths)``) and only the
finished bitmaps (KB each) return to the driver for the metadata commit.
"""

from __future__ import annotations

import base64
import hashlib
import math
import os
import uuid


def _params(n: int, fpp: float) -> tuple[int, int]:
    """(bits m, hashes k) for n values at target false-positive rate."""
    n = max(n, 1)
    m = max(8, int(math.ceil(-n * math.log(fpp) / (math.log(2) ** 2))))
    k = max(1, int(round(m / n * math.log(2))))
    return m, k


def _hashes(value: str, k: int, m: int) -> list[int]:
    d = hashlib.md5(value.encode("utf-8", "surrogatepass")).digest()
    h1 = int.from_bytes(d[:8], "big")
    h2 = int.from_bytes(d[8:], "big") | 1  # odd -> full cycle
    return [(h1 + i * h2) % m for i in range(k)]


def build_bitmap(values: list[str], fpp: float) -> tuple[bytes, int, int]:
    """Bloom bitmap over string-normalized values -> (bitmap, m, k)."""
    m, k = _params(len(values), fpp)
    bits = bytearray((m + 7) // 8)
    for v in values:
        for h in _hashes(v, k, m):
            bits[h >> 3] |= 1 << (h & 7)
    return bytes(bits), m, k


def might_contain(bitmap: bytes, m: int, k: int, value: str) -> bool:
    return all(
        bitmap[h >> 3] & (1 << (h & 7)) for h in _hashes(value, k, m)
    )


def _norm(v) -> str:
    """Stable string form of a lookup/build value (mirrors how the same
    value prints from parquet and from a literal).

    Datetimes unify to NAIVE-UTC ISO strings, same rule as
    ``IcebergLite._norm_stat_value``: pyarrow hands TIMESTAMP(LTZ) values
    back tz-AWARE at build time while callers probe with naive bounds
    (session TZ pinned UTC) — rendering one with a '+00:00' suffix and the
    other without makes every timestamp probe miss and the file wrongly
    skipped (silent row loss)."""
    import datetime

    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, float) and v.is_integer():
        return str(int(v))
    return str(v)


def file_bloom_entry(path: str, cols: list[str], fpp: float) -> dict:
    """Build {col: {"b64": ..., "m": ..., "k": ...}} for one data file.
    Runs on an executor: reads only ``cols`` (column projection)."""
    import pyarrow.parquet as pq

    tbl = pq.read_table(path, columns=cols)
    out = {}
    for c in cols:
        vals = [_norm(v) for v in tbl.column(c).to_pylist() if v is not None]
        bitmap, m, k = build_bitmap(vals, fpp)
        out[c] = {"b64": base64.b64encode(bitmap).decode(), "m": m, "k": k}
    return out


def build_blooms(table, spark, cols: list[str], fpp: float = 0.01) -> int:
    """Attach bloom sidecars for ``cols`` to every current data file that
    lacks them; commits one metadata-only snapshot. Returns files updated.

    One executor task per file; the driver receives only bitmaps and writes
    the sidecars + new manifests (same single-writer maintenance discipline
    as ``compact``).
    """
    v_new, snap, crefs = table._commit_meta("main")
    by_part = table.resolve_manifests(snap)
    todo: list[tuple[str, str]] = []  # (pval, path)
    for pv, files in by_part.items():
        for f in files:
            have = set((f.get("bloom") or {}).keys())
            if not set(cols) <= have:
                todo.append((pv, f["path"]))
    if not todo:
        return 0
    paths = [p for _, p in todo]
    built = (
        spark.sparkContext.parallelize(paths, max(1, min(len(paths), 64)))
        .map(lambda p: (p, file_bloom_entry(p, cols, fpp)))
        .collectAsMap()
    )
    bloom_dir = os.path.join(table.meta_dir, "blooms")
    os.makedirs(bloom_dir, exist_ok=True)
    manifests = dict(snap["manifests"])
    for pv, files in by_part.items():
        if not any(p == pv for p, _ in todo):
            continue
        new_files = []
        for f in files:
            entry = dict(f)
            if f["path"] in built:
                refs = dict(f.get("bloom") or {})
                for c, spec in built[f["path"]].items():
                    side = os.path.join(
                        bloom_dir, f"{uuid.uuid4().hex[:16]}-{c}.bloom"
                    )
                    with open(side, "wb") as fh:
                        fh.write(base64.b64decode(spec["b64"]))
                    refs[c] = {"ref": side, "m": spec["m"], "k": spec["k"]}
                entry["bloom"] = refs
            new_files.append(entry)
        manifests[pv] = table._write_manifest(new_files)
    # metadata-only, replay guard unaffected
    table._commit(
        v_new, snap, crefs, "build-blooms", ref="main", manifests=manifests
    )
    return len(todo)


def plan_scan_eq(table, col: str, value, version: int | None = None) -> dict:
    """Point-lookup scan plan: min/max stats first, then the bloom sidecar.
    Files without a bloom for ``col`` are conservatively kept. Metadata-only
    (manifest JSON + KB-sized bitmaps); no data IO."""
    snap = (
        table.current_snapshot()
        if version is None
        else table.snapshot_at(version)
    )
    needle = _norm(value)
    stat_needle = table._norm_stat_value(value)
    paths: list[str] = []
    total = skipped_stats = skipped_bloom = 0
    for files in table.resolve_manifests(snap).values():
        for f in files:
            total += 1
            rng = (f.get("stats") or {}).get(col)
            if rng is not None:
                try:
                    if stat_needle < rng[0] or stat_needle > rng[1]:
                        skipped_stats += 1
                        continue
                except TypeError:
                    pass
            spec = (f.get("bloom") or {}).get(col)
            if spec is not None:
                try:
                    with open(spec["ref"], "rb") as fh:
                        bitmap = fh.read()
                    if not might_contain(bitmap, spec["m"], spec["k"], needle):
                        skipped_bloom += 1
                        continue
                except FileNotFoundError:
                    pass  # lost sidecar: keep the file, never wrong results
            paths.append(f["path"])
    return {
        "paths": paths,
        "files_total": total,
        "files_skipped_stats": skipped_stats,
        "files_skipped_bloom": skipped_bloom,
    }


def prune_stats(
    build, probe, m_bits: int = 256, k_hashes: int = 3
):
    """Relational audit of the sidecar bloom math over real keys:
    ``build``/``probe`` are single-LONG-column ("k") DataFrames. Builds the
    m-bit / k-hash membership bitmap as a DISTINCT set of bit positions
    (double hashing h1 + i*h2 off portable md5 prefixes — the same scheme
    ``_hashes`` uses), probes every key, and returns ONE row:
    build/probe/true-hit/bloom-pass/false-positive counts plus the
    measured false-positive rate in ppm of the non-member probes.

    Plan shape at scale: the bit set is ≤ m_bits rows and BROADCASTS; the
    probe side is scanned once — exactly how a runtime filter prunes a
    100 TB fact scan before the real join."""
    from pyspark.sql import functions as F

    from .textops import hash32, hash64

    def positions(df):
        s = F.col("k").cast("string")
        h1 = hash64(s)
        h2 = hash32(s) * 2 + 1  # odd -> full cycle mod 2^j
        return df.select(
            "k",
            F.array_distinct(
                F.array(
                    *[(h1 + F.lit(i) * h2) % m_bits for i in range(k_hashes)]
                )
            ).alias("pos"),
        )

    bits = (
        positions(build)
        .select(F.explode("pos").alias("bit"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    probed = (
        positions(probe)
        .select("k", F.explode("pos").alias("bit"))
        .join(F.broadcast(bits), "bit", "left")
        .groupBy("k")
        .agg(F.min(F.coalesce("hit", F.lit(0))).alias("passed"))
    )
    truth = probed.join(
        F.broadcast(build.withColumn("is_member", F.lit(1)).distinct()),
        "k",
        "left",
    ).withColumn("is_member", F.coalesce("is_member", F.lit(0)))
    agg = truth.agg(
        F.count(F.lit(1)).alias("n_probe"),
        F.sum("is_member").cast("long").alias("n_true"),
        F.sum("passed").cast("long").alias("n_pass"),
        F.sum(
            F.when((F.col("passed") == 1) & (F.col("is_member") == 0), 1)
            .otherwise(0)
        ).cast("long").alias("false_pos"),
    )
    side = build.distinct().agg(F.count(F.lit(1)).alias("n_build")).crossJoin(
        bits.agg(F.count(F.lit(1)).alias("bits_set"))
    )
    return (
        agg.crossJoin(F.broadcast(side))
        .withColumn(
            "fp_ppm",
            F.expr("false_pos * 1000000 div (n_probe - n_true)"),
        )
        .select(
            "n_build", "bits_set", "n_probe", "n_true", "n_pass",
            "false_pos", "fp_ppm",
        )
    )
