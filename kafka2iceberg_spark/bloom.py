"""Relational bloom-filter pruning audit (``prune_stats``).

A bloom filter answers "can this key be in that set?" with no false
negatives and a tunable false-positive rate: m bits, k hash positions per
key from double hashing (h1 + i*h2 mod m). ``prune_stats`` builds one over
a key column and measures its pass and false-positive counts on a probe
set, all in Spark SQL — the runtime-filter shape that prunes a large
probe-side scan before a join.
"""

from __future__ import annotations


def prune_stats(
    build, probe, m_bits: int = 256, k_hashes: int = 3
):
    """Relational audit of bloom-filter math over real keys:
    ``build``/``probe`` are single-LONG-column ("k") DataFrames. Builds the
    m-bit / k-hash membership bitmap as a DISTINCT set of bit positions
    (double hashing h1 + i*h2 off portable md5 prefixes), probes every
    key, and returns ONE row:
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
