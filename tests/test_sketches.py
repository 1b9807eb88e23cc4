"""Sketch invariants: HLL error bound + mergeability, KMV bound, Count-Min
overestimate guarantee. All inputs deterministic."""

import pytest
from pyspark.sql import functions as F

from kafka2iceberg_spark import sketches as sk


def _vals(spark, n, prefix="v"):
    return spark.range(n).select(
        F.concat(F.lit(prefix), F.col("id")).alias("v")
    )


def test_hll_error_within_bound(spark):
    # 4096 registers -> stderr ~1.6%; assert within 5 sigma.
    for true_n in (1000, 20000):
        est = sk.hll_estimate(_vals(spark, true_n), F.col("v")).collect()[0]
        assert abs(est.estimate - true_n) / true_n < 0.08, (true_n, est)


def test_hll_small_range_linear_counting(spark):
    # 100 distinct values: E far below 2.5m -> linear-counting branch; with
    # so few hashes collisions are ~impossible, estimate is near-exact.
    est = sk.hll_estimate(_vals(spark, 100), F.col("v")).collect()[0]
    assert est.empty_registers >= 3996
    assert abs(est.estimate - 100) < 3


def test_hll_registers_merge(spark):
    # Sketch(A) merged with Sketch(B) == Sketch(A u B): union + re-max.
    a, b = _vals(spark, 5000), _vals(spark, 8000)  # overlapping prefixes
    ra = sk.hll_registers(a, F.col("v"))
    rb = sk.hll_registers(b, F.col("v"))
    merged = (
        ra.unionByName(rb)
        .groupBy("register")
        .agg(F.max("max_rank").alias("max_rank"))
    )
    direct = sk.hll_registers(a.unionByName(b), F.col("v"))
    assert merged.exceptAll(direct).count() == 0
    assert direct.exceptAll(merged).count() == 0


def test_hll_grouped(spark):
    df = spark.range(9000).select(
        (F.col("id") % 3).cast("string").alias("g"),
        F.concat(F.lit("x"), (F.col("id") / 3).cast("long")).alias("v"),
    )
    rows = {
        r.g: r.estimate
        for r in sk.hll_estimate(df, F.col("v"), group=["g"]).collect()
    }
    assert set(rows) == {"0", "1", "2"}
    for est in rows.values():
        assert abs(est - 3000) / 3000 < 0.08


def test_kmv_exact_below_k(spark):
    est = sk.kmv_estimate(_vals(spark, 100), F.col("v"), k=256).collect()[0]
    assert est.sketch_size == 100 and est.estimate == 100.0


def test_kmv_error_within_bound(spark):
    # k=256 -> stderr ~1/sqrt(254) ~ 6.3%; assert within ~4 sigma.
    est = sk.kmv_estimate(_vals(spark, 30000), F.col("v"), k=256).collect()[0]
    assert abs(est.estimate - 30000) / 30000 < 0.25


def test_countmin_never_underestimates(spark):
    toks = spark.range(20000).select(
        F.pmod(F.col("id") * 7919, F.lit(500)).cast("string").alias("token")
    )
    cands = toks.distinct().limit(50)
    est = sk.countmin_heavy_hitters(toks, cands)
    exact = toks.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
    joined = est.join(exact, "token").collect()
    assert len(joined) == 50
    for r in joined:
        assert r.est_count >= r.n, r


def test_countmin_heavy_hitter_near_exact(spark):
    # One dominant token among light noise: the min-over-rows estimate for
    # the heavy hitter is within the eps*N additive bound (eps = e/1024).
    heavy = spark.range(5000).select(F.lit("HEAVY").alias("token"))
    noise = spark.range(2000).select(
        F.concat(F.lit("n"), F.col("id")).alias("token")
    )
    toks = heavy.unionByName(noise)
    cand = spark.createDataFrame([("HEAVY",)], ["token"])
    est = sk.countmin_heavy_hitters(toks, cand).collect()[0]
    assert 5000 <= est.est_count <= 5000 + int(2.72 * 7000 / 1024) + 1


def test_hist_quantiles_exact_on_uniform(spark):
    # cents 0..9999 uniform, $1 bins: every bin holds exactly 100 values, so
    # interpolation is exact at every rank: est(p) = ceil(p% of 10000) cents
    df = spark.range(10000).select(F.col("id").cast("long").alias("cents"))
    h = sk.hist_registers(df, F.col("cents"), None, 100)
    got = {
        r.pct: r.est_cents
        for r in sk.hist_quantiles(h, None, 100, [50, 90, 99]).collect()
    }
    assert got == {50: 5000.0, 90: 9000.0, 99: 9900.0}


def test_hist_registers_merge_equals_whole(spark):
    # mergeability: register-wise sum of two disjoint halves == histogram of
    # the union -> identical quantiles. This is the property that lets the
    # sketch run as partial aggregation across files/batches at 100 TB.
    df = spark.range(5000).select(
        (F.pmod(F.col("id") * 7919, F.lit(100000))).cast("long").alias("cents")
    )
    a = df.where(F.col("cents") % 2 == 0)
    b = df.where(F.col("cents") % 2 == 1)
    merged = (
        sk.hist_registers(a, F.col("cents"), None, 100)
        .unionByName(sk.hist_registers(b, F.col("cents"), None, 100))
        .groupBy("bin")
        .agg(F.sum("c").alias("c"))
    )
    whole = sk.hist_registers(df, F.col("cents"), None, 100)
    qm = {
        r.pct: (r.est_cents, r.total)
        for r in sk.hist_quantiles(merged, None, 100, [50, 95]).collect()
    }
    qw = {
        r.pct: (r.est_cents, r.total)
        for r in sk.hist_quantiles(whole, None, 100, [50, 95]).collect()
    }
    assert qm == qw


def test_hist_quantiles_error_within_bin_width(spark):
    # skewed data: estimate must land within one bin width of the exact
    # rank-statistic quantile (the sketch's worst case)
    df = spark.range(20000).select(
        (F.col("id") * F.col("id") % 37777).cast("long").alias("cents")
    )
    h = sk.hist_registers(df, F.col("cents"), None, 100)
    est = {
        r.pct: r.est_cents
        for r in sk.hist_quantiles(h, None, 100, [50, 99]).collect()
    }
    vals = sorted(r.cents for r in df.collect())
    for pct in (50, 99):
        target = -(-len(vals) * pct // 100)  # ceil
        exact = vals[target - 1]
        assert abs(est[pct] - exact) <= 100, (pct, est[pct], exact)


def test_hist_quantiles_grouped(spark):
    df = spark.createDataFrame(
        [("a", i * 10) for i in range(1, 101)]
        + [("b", 100000 + i) for i in range(1, 11)],
        "g string, cents long",
    )
    h = sk.hist_registers(df, F.col("cents"), ["g"], 100)
    out = {
        (r.g, r.pct): r.total
        for r in sk.hist_quantiles(h, ["g"], 100, [50]).collect()
    }
    assert out == {("a", 50): 100, ("b", 50): 10}


class TestKMVSetOps:
    def test_exact_below_k_and_overlap(self, spark):
        from pyspark.sql import functions as F

        from kafka2iceberg_spark import sketches as sk

        a = spark.createDataFrame([(i,) for i in range(50)], "v long")
        b = spark.createDataFrame([(i,) for i in range(25, 75)], "v long")
        out = sk.kmv_set_ops(
            a, b, F.col("v").cast("string"), F.col("v").cast("string"),
            k=256,
        ).collect()[0]
        # fewer than k distinct union values -> sketch is exact
        assert out["union_sketch_size"] == 75
        assert out["est_union"] == 75.0
        assert out["in_both"] == 25
        assert out["est_jaccard"] == round(25 / 75, 6)
        assert out["est_intersection"] == 25.0

    def test_estimate_error_bound_above_k(self, spark):
        from pyspark.sql import functions as F

        from kafka2iceberg_spark import sketches as sk

        a = spark.createDataFrame([(i,) for i in range(4000)], "v long")
        b = spark.createDataFrame(
            [(i,) for i in range(2000, 6000)], "v long"
        )
        out = sk.kmv_set_ops(
            a, b, F.col("v").cast("string"), F.col("v").cast("string"),
            k=256,
        ).collect()[0]
        # |A u B| = 6000, |A n B| = 2000; KMV rse ~ 1/sqrt(k-2) ~ 6%
        assert abs(out["est_union"] - 6000) / 6000 < 0.25
        assert abs(out["est_intersection"] - 2000) / 2000 < 0.35


class TestAMS:
    def test_f2_within_error_bound(self, spark):
        # 50 keys x 100 rows: F2 = 50 * 100^2 = 500k; AMS with 64
        # counters should land within ~50% (median-of-means bound)
        df = spark.createDataFrame([(i % 50,) for i in range(5000)], "k long")
        est = sk.ams_f2_estimate(df, F.col("k")).collect()[0]["est_f2"]
        assert 250_000 <= est <= 750_000

    def test_counters_merge_by_addition(self, spark):
        # sketching two halves and adding counters == sketching the whole
        rows = [(i % 13,) for i in range(400)]
        whole = spark.createDataFrame(rows, "k long")
        h1 = spark.createDataFrame(rows[:200], "k long")
        h2 = spark.createDataFrame(rows[200:], "k long")
        cw = {r["ctr"]: r["c"] for r in sk.ams_counters(whole, F.col("k")).collect()}
        c1 = {r["ctr"]: r["c"] for r in sk.ams_counters(h1, F.col("k")).collect()}
        c2 = {r["ctr"]: r["c"] for r in sk.ams_counters(h2, F.col("k")).collect()}
        merged = {k: c1.get(k, 0) + c2.get(k, 0) for k in set(c1) | set(c2)}
        assert {k: v for k, v in merged.items() if v != 0} == {
            k: v for k, v in cw.items() if v != 0
        }

    def test_uniform_signs_deterministic(self, spark):
        # same input twice -> identical counters (md5 signs, no RNG)
        df = spark.createDataFrame([(i,) for i in range(300)], "k long")
        a = sorted(map(tuple, sk.ams_counters(df, F.col("k")).collect()))
        b = sorted(map(tuple, sk.ams_counters(df, F.col("k")).collect()))
        assert a == b


# ---------------------------------------------------- exact heavy hitters


def _zipf_tokens(spark, reps):
    """Deterministic skewed token bag: token t_i repeated reps[i] times."""
    rows = [(f"t{i}",) for i, r in enumerate(reps) for _ in range(r)]
    return spark.createDataFrame(rows, "token string")


def test_heavy_hitters_exact_matches_groupby(spark):
    reps = [500, 300, 120, 60, 30, 14, 7, 3, 1, 1]
    toks = _zipf_tokens(spark, reps)
    for parts in (1, 3, 11):
        got = {
            (r.token, r.cnt)
            for r in sk.heavy_hitters_exact(
                toks.repartition(parts), threshold=30
            ).collect()
        }
        want = {
            (f"t{i}", r) for i, r in enumerate(reps) if r >= 30
        }
        assert got == want, (parts, got)


def test_heavy_hitters_exact_adversarial_near_threshold(spark):
    # many tokens JUST below the threshold must not appear; the two at the
    # threshold exactly must. MG candidates overestimate but the exact
    # verify pass kills every false positive.
    reps = [40, 40] + [39] * 20
    toks = _zipf_tokens(spark, reps).repartition(7)
    got = sorted(
        (r.token, r.cnt)
        for r in sk.heavy_hitters_exact(toks, threshold=40).collect()
    )
    assert got == [("t0", 40), ("t1", 40)]


def test_heavy_hitters_exact_ignores_nulls_and_caps_capacity(spark):
    toks = spark.createDataFrame(
        [("a",), (None,), ("a",), ("b",)], "token string"
    )
    got = sorted(
        (r.token, r.cnt)
        for r in sk.heavy_hitters_exact(toks, threshold=2).collect()
    )
    assert got == [("a", 2)]
    with pytest.raises(ValueError, match="capacity"):
        sk.heavy_hitters_exact(toks, threshold=1, max_capacity=2)


def test_misra_gries_candidates_superset_guarantee(spark):
    # every token with global count >= threshold must survive the
    # per-partition MG pass for capacity > n/threshold, under any layout.
    reps = [100, 80, 50, 25, 10, 5] + [2] * 50
    toks = _zipf_tokens(spark, reps)
    n = sum(reps)
    threshold = 25
    cap = n // threshold + 1
    for parts in (1, 4, 13):
        survivors = {
            r.token
            for r in sk.misra_gries_candidates(
                toks.repartition(parts), cap
            ).collect()
        }
        heavy = {f"t{i}" for i, r in enumerate(reps) if r >= threshold}
        assert heavy <= survivors, (parts, heavy - survivors)


def test_heavy_hitters_exact_non_string_column(spark):
    # API is generic over the value column type: the candidate set must
    # join back against a BIGINT column without a cast mismatch.
    toks = spark.createDataFrame(
        [(7,)] * 5 + [(8,)] * 2 + [(9,)], "user_id long"
    ).repartition(3)
    got = sorted(
        (r.user_id, r.cnt)
        for r in sk.heavy_hitters_exact(
            toks, threshold=2, value="user_id"
        ).collect()
    )
    assert got == [(7, 5), (8, 2)]


def test_heavy_hitters_exact_randomized_cross_check(spark):
    """Seeded randomized sweep: exact heavy hitters must equal the plain
    groupBy answer for arbitrary Zipf-ish distributions, thresholds, and
    partition layouts."""
    import random

    rng = random.Random(20260821)
    for trial in range(6):
        n_tokens = rng.randrange(20, 120)
        reps = [rng.randrange(1, 120) for _ in range(n_tokens)]
        toks = _zipf_tokens(spark, reps).repartition(rng.randrange(1, 9))
        threshold = rng.randrange(2, 100)
        got = {
            (r.token, r.cnt)
            for r in sk.heavy_hitters_exact(toks, threshold).collect()
        }
        want = {
            (f"t{i}", r) for i, r in enumerate(reps) if r >= threshold
        }
        assert got == want, (trial, threshold, got ^ want)
