"""Approximate-aggregation sketches, engine-portable and deterministic.

At 100 TB you cannot afford exact ``COUNT(DISTINCT ...)`` (a full shuffle of
every distinct key) or exact per-token frequency tables (a shuffle of every
token occurrence).  The standard answers are mergeable sketches:

  * **HyperLogLog** distinct counting — fixed 2^p registers, one partial
    aggregation per partition, a tiny merge; error ~1.04/sqrt(2^p).
  * **KMV (K minimum values)** distinct counting — the K smallest hashes;
    ``orderBy(hash).limit(K)`` with partial top-K per partition.
  * **Count-Min** frequency estimation / heavy hitters — d x w counter
    matrix; per-row updates are partial-aggregated map-side, the sketch
    itself is d*w integers regardless of input size.

Spark ships ``approx_count_distinct`` (HLL++) and ``count_min_sketch``
natively, but their register hashing is engine-internal and cannot be
replayed in an independent oracle.  These implementations rebuild the same
algorithms from *portable* primitives so DuckDB can verify them bit-for-bit:

  * hashes derive from md5 hex prefixes (``textops.h60``), identical in any
    engine;
  * leading-zero ranks use the length of the ``bin()`` string (exact integer,
    both engines) — never floating ``log2``;
  * register sums use exact BIGINT bit-shifts (``2^(W+1-rank)`` fits 2^61);
    the only floating-point op is the final estimate division.

Everything is built-in-function DataFrame code: zero Python UDFs, one
shuffle per sketch (the register/counter groupBy, at most 2^p or d*w rows
after map-side partial aggregation).

Reference scope note: the reference (naive-zhang/kafka2iceberg) has no
aggregation surface at all (SURVEY.md §2.1 — no aggregations anywhere;
Kafka2IcebergApp.java:60-113 is source→sink); sketches belong to the
[NORTH]/training-data surface for corpus analytics at scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .textops import hash64 as h60

# 60-bit md5 hash: top P bits -> register index, low W bits -> rank domain.
HLL_P = 12  # 4096 registers, rel. error ~1.04/64 = 1.6%
HLL_W = 60 - HLL_P  # 48


def _hll_alpha(m: int) -> float:
    """Standard HLL bias constant (Flajolet et al. 2007)."""
    if m == 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return 0.709
    return 0.7213 / (1.0 + 1.079 / m)


def hll_registers(
    df: DataFrame, value: Column, group: list[str] | None = None, p: int = HLL_P
) -> DataFrame:
    """Per-register max-rank table — the HLL sketch itself, exact integers.

    Output: ``group..., register:int, max_rank:int`` with one row per
    *occupied* register.  rank = leading zeros of the (60-p)-bit suffix + 1,
    computed as ``W + 1 - length(bin(suffix))`` (bin() drops leading zeros);
    an all-zero suffix saturates at W + 1.  Mergeable: union two register
    tables and re-take the max.
    """
    w = 60 - p
    h = h60(value)
    reg = F.shiftrightunsigned(h, w).cast("int").alias("register")
    suffix = h.bitwiseAND(F.lit((1 << w) - 1).cast("long"))
    rank = (
        F.when(suffix == 0, F.lit(w + 1))
        .otherwise(F.lit(w + 1) - F.length(F.bin(suffix)))
        .cast("int")
    )
    keys = [F.col(g) for g in (group or [])]
    return df.select(*keys, reg, rank.alias("rank")).groupBy(
        *(group or []), "register"
    ).agg(F.max("rank").alias("max_rank"))


def hll_estimate(
    df: DataFrame, value: Column, group: list[str] | None = None, p: int = HLL_P
) -> DataFrame:
    """HLL distinct-count estimate with the small-range (linear counting)
    correction.  One shuffle (register groupBy), then a per-group fold of at
    most 2^p rows.

    The register sum uses exact integers: ``S = sum(2^(W+1-max_rank))`` over
    occupied registers plus ``2^(W+1)`` per empty register, so
    ``sum(2^-rank) = S / 2^(W+1)`` exactly; the estimate is one double
    division from exact BIGINTs.  Small range (E <= 2.5m, zeros present)
    switches to linear counting ``m * ln(m/V)``.
    """
    regs = hll_registers(df, value, group, p)
    m = 1 << p
    w = 60 - p
    alpha = _hll_alpha(m)
    # SQL-level shiftleft: the Python wrapper only takes a literal shift,
    # but the Catalyst expression accepts a column on either side.
    agg = regs.groupBy(*(group or [])).agg(
        F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {w + 1} - max_rank)")).alias(
            "occupied_sum"
        ),
        F.count(F.lit(1)).alias("occupied")
    )
    zeros = F.lit(m) - F.col("occupied")
    # S/2^(w+1) = sum(2^-rank); empty registers contribute 2^0 = 1 each.
    raw = F.lit(alpha * m * m) / (
        F.col("occupied_sum") / F.lit(float(1 << (w + 1))) + zeros.cast("double")
    )
    corrected = F.when(
        (raw <= F.lit(2.5 * m)) & (zeros > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / zeros.cast("double")),
    ).otherwise(raw)
    return agg.select(
        *(group or []),
        F.col("occupied").cast("int").alias("occupied_registers"),
        zeros.cast("int").alias("empty_registers"),
        F.col("occupied_sum"),
        F.round(corrected, 3).alias("estimate"),
    )


def kmv_estimate(
    df: DataFrame, value: Column, k: int = 256
) -> DataFrame:
    """K-minimum-values distinct estimate: E = (k-1) * 2^60 / h_(k).

    ``orderBy(hash).limit(k)`` — Spark's TakeOrdered does a per-partition
    partial top-K then merges K*parts rows on the driver; no full sort, no
    full shuffle.  Returns one row: kth_hash (exact), estimate (one double
    division).
    """
    hashes = df.select(h60(value).alias("h")).distinct()
    kth = (
        hashes.orderBy("h")
        .limit(k)
        .agg(F.max("h").alias("kth_hash"), F.count(F.lit(1)).alias("n"))
    )
    # Fewer than k distinct values -> the sketch IS the exact set.
    est = F.when(F.col("n") < k, F.col("n").cast("double")).otherwise(
        F.lit(float(k - 1)) * F.lit(float(1 << 60)) / F.col("kth_hash").cast("double")
    )
    return kth.select(
        F.col("kth_hash"),
        F.col("n").cast("int").alias("sketch_size"),
        F.round(est, 3).alias("estimate"),
    )


def countmin_counters(
    tokens: DataFrame, value: str = "token", depth: int = 4, width: int = 1024
) -> DataFrame:
    """Count-Min counter matrix over a token column.

    Each row hashes into one bucket per sketch row; ``d`` independent hashes
    come from salting the md5 (``cm<i>:<token>``).  The groupBy partial-
    aggregates map-side, so the shuffle carries at most ``d*width`` rows per
    partition regardless of corpus size.  Output: ``row:int, bucket:int,
    counter:bigint``.
    """
    rows = F.explode(
        F.sequence(F.lit(0), F.lit(depth - 1))
    ).alias("row")
    exploded = tokens.select(F.col(value).alias("_t")).select("_t", rows)
    bucket = F.pmod(
        h60(F.concat(F.lit("cm"), F.col("row").cast("string"), F.lit(":"), F.col("_t"))),
        F.lit(width),
    ).cast("int")
    return (
        exploded.select("row", bucket.alias("bucket"))
        .groupBy("row", "bucket")
        .agg(F.count(F.lit(1)).alias("counter"))
    )


def countmin_heavy_hitters(
    tokens: DataFrame,
    candidates: DataFrame,
    value: str = "token",
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Estimate candidate-token frequencies from the Count-Min sketch:
    estimate(x) = min_i counter[i][h_i(x)] (classic over-estimate bound).

    The counter matrix (<= d*width rows) is broadcast onto the candidate
    probes — the token corpus is scanned exactly once and never re-shuffled.
    Output: ``token, est_count`` (exact integers, engine-portable).
    """
    counters = countmin_counters(tokens, value, depth, width)
    probe_rows = F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("row")
    probes = candidates.select(F.col(value).alias("token")).distinct().select(
        "token", probe_rows
    )
    probes = probes.select(
        "token",
        "row",
        F.pmod(
            h60(F.concat(F.lit("cm"), F.col("row").cast("string"), F.lit(":"), F.col("token"))),
            F.lit(width),
        ).cast("int").alias("bucket"),
    )
    joined = probes.join(F.broadcast(counters), ["row", "bucket"], "left").fillna(
        {"counter": 0}
    )
    return joined.groupBy("token").agg(F.min("counter").alias("est_count"))


# ------------------------------------------------------- histogram quantiles


def hist_registers(
    df: DataFrame,
    value_cents: Column,
    group_cols: list[str] | None,
    bin_cents: int,
) -> DataFrame:
    """Fixed-width histogram sketch over an exact integer value (cents).

    One hash aggregation with full map-side combine; the shuffle carries at
    most (groups x occupied bins) pre-combined rows, never raw rows. Bin
    boundaries are data-independent (``value // bin_cents``), which is what
    makes the sketch MERGEABLE: histograms from disjoint partitions, files,
    or micro-batches sum register-wise into the histogram of the union —
    the same property HLL gets from max-merge. t-digest/GK give tighter
    tails per byte but are order-sensitive and engine-opaque; fixed bins
    are deterministic, so an independent SQL engine replays them exactly.
    """
    groups = list(group_cols or [])
    return (
        df.select(
            *groups,
            F.floor(value_cents / F.lit(bin_cents)).cast("long").alias("bin"),
        )
        .groupBy(*groups, "bin")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def hist_quantiles(
    hist: DataFrame,
    group_cols: list[str] | None,
    bin_cents: int,
    percents: list[int],
) -> DataFrame:
    """Quantile estimates from a ``hist_registers`` sketch.

    For each integer percent p the target rank is ``ceil(total*p/100)``
    (exact BIGINT arithmetic); the estimate interpolates linearly inside
    the first bin whose cumulative count reaches the target:

        est = bin*W + (target - cum_prev) / c * W        (cents)

    — one ordered window per group over bin summaries (tiny), a broadcast
    of per-group totals, and a rank-1 pick per (group, percent). The only
    floating-point op is the final interpolation division, rounded to 6dp,
    so estimates are bit-identical across engines and partitionings.
    Worst-case error is one bin width; choose ``bin_cents`` accordingly.
    """
    from pyspark.sql.window import Window

    groups = list(group_cols or [])
    tot = hist.groupBy(*groups).agg(F.sum("c").alias("total"))
    w = (
        Window.partitionBy(*groups)
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.withColumn("cum", F.sum("c").over(w))
    j = cum.join(F.broadcast(tot), groups) if groups else cum.crossJoin(
        F.broadcast(tot)
    )
    pcts = F.explode(
        F.array(*[F.lit(int(p)) for p in percents])
    ).alias("pct")
    exploded = j.select("*", pcts).withColumn(
        "target", F.expr("(total * pct + 99) div 100")
    )
    hit = exploded.where(F.col("cum") >= F.col("target"))
    rw = Window.partitionBy(*groups, "pct").orderBy("bin")
    first = hit.withColumn("_rn", F.row_number().over(rw)).where(
        F.col("_rn") == 1
    )
    return first.select(
        *groups,
        "pct",
        "total",
        F.round(
            F.col("bin") * F.lit(bin_cents)
            + (F.col("target") - (F.col("cum") - F.col("c")))
            / F.col("c")
            * F.lit(bin_cents),
            6,
        ).alias("est_cents"),
    )


def kmv_set_ops(
    df_a: DataFrame,
    df_b: DataFrame,
    value_a: Column,
    value_b: Column,
    k: int = 256,
) -> DataFrame:
    """KMV sketch set algebra (Beyer et al., SIGMOD'07): distinct-count
    estimates for the UNION and INTERSECTION of two sets from their
    k-minimum-values sketches alone — the mergeable-summary property that
    lets 1000 executors sketch locally and combine without re-scanning.

        K(A ∪ B)   = k smallest of K(A) ∪ K(B)
        |A ∪ B|    ≈ (k-1) * 2^60 / h_(k)      (exact when < k values)
        ρ (Jaccard) = |K(A∪B) ∩ K(A) ∩ K(B)| / |K(A∪B)|
        |A ∩ B|    ≈ ρ * |A ∪ B|

    Everything derives from the deterministic md5-based ``h60`` hash, so
    the whole pipeline — sketches, merge, estimates — is engine-identical
    and the DuckDB oracle replays it verbatim. Each sketch is a k-row
    TakeOrdered (per-partition partial top-k, no global sort); the merge
    and membership joins touch at most 2k rows.
    """
    ha = df_a.select(h60(value_a).alias("h")).distinct().orderBy("h").limit(k)
    hb = df_b.select(h60(value_b).alias("h")).distinct().orderBy("h").limit(k)
    union_sk = (
        ha.unionByName(hb).distinct().orderBy("h").limit(k)
    )
    flagged = (
        union_sk.join(ha.withColumn("_ia", F.lit(1)), "h", "left")
        .join(hb.withColumn("_ib", F.lit(1)), "h", "left")
        .select(
            "h",
            (
                F.coalesce(F.col("_ia"), F.lit(0))
                * F.coalesce(F.col("_ib"), F.lit(0))
            ).alias("_both"),
        )
    )
    agg = flagged.agg(
        F.max("h").alias("kth_hash"),
        F.count(F.lit(1)).alias("n"),
        F.sum("_both").alias("in_both"),
    )
    est_union = F.when(
        F.col("n") < k, F.col("n").cast("double")
    ).otherwise(
        F.lit(float(k - 1))
        * F.lit(float(1 << 60))
        / F.col("kth_hash").cast("double")
    )
    rho = F.col("in_both") / F.col("n")
    return agg.select(
        F.col("kth_hash"),
        F.col("n").cast("int").alias("union_sketch_size"),
        F.col("in_both").cast("int").alias("in_both"),
        F.round(est_union, 3).alias("est_union"),
        F.round(rho, 6).alias("est_jaccard"),
        F.round(est_union * rho, 3).alias("est_intersection"),
    )


def ams_counters(
    df: DataFrame, value: Column, counters: int = 64
) -> DataFrame:
    """AMS/Tug-of-War sketch counters for the second frequency moment
    F2 = Σ_key count(key)² (Alon-Matias-Szegedy 1996) — the self-join /
    shuffle-output size estimator a planner consults before picking a
    join strategy or a skew mitigation.

    Counter r accumulates a ±1 vote per ROW, with the sign drawn from the
    salted 60-bit md5 hash of the key (``ams<r>:<key>``) — deterministic,
    engine-portable, four-wise-independent-enough for the standard
    E[c_r²] = F2 analysis. The groupBy partial-aggregates map-side, so
    the shuffle carries at most ``counters`` rows per partition
    regardless of input size, and counter tables from disjoint slices
    MERGE by plain addition (signs depend only on the key).

    Output: (ctr:int, c:bigint), exact integers.
    """
    rows = F.explode(F.sequence(F.lit(0), F.lit(counters - 1))).alias("ctr")
    exploded = df.select(value.cast("string").alias("_k")).select("_k", rows)
    sign = (
        F.when(
            h60(
                F.concat(
                    F.lit("ams"), F.col("ctr").cast("string"), F.lit(":"), F.col("_k")
                )
            ).bitwiseAND(F.lit(1).cast("long"))
            == 1,
            F.lit(1),
        )
        .otherwise(F.lit(-1))
        .cast("long")
    )
    return exploded.select("ctr", sign.alias("_s")).groupBy("ctr").agg(
        F.sum("_s").alias("c")
    )


def ams_f2_estimate(
    df: DataFrame, value: Column, counters: int = 64, groups: int = 4
) -> DataFrame:
    """F2 point estimate from the AMS counters: median over ``groups``
    buckets of the per-bucket mean of c², the classic
    median-of-means variance/tail reduction. Everything up to the final
    division is exact BIGINT (c² sums fit: |c| ≤ rows, rows ≤ 3·10⁹ at
    100 TB per counter would overflow — callers shard the input first,
    merge counter tables by addition, then estimate once).

    Output: one row (est_f2:double, n_counters:int).
    """
    per = int(counters) // int(groups)
    cs = ams_counters(df, value, counters).select(
        (F.col("ctr") % groups).alias("grp"), (F.col("c") * F.col("c")).alias("c2")
    )
    means = cs.groupBy("grp").agg(
        (F.sum("c2") / F.lit(per)).alias("mean_c2")
    )
    return means.agg(
        F.expr("percentile(mean_c2, 0.5)").alias("est_f2"),
        F.lit(int(counters)).cast("int").alias("n_counters"),
    )


# ------------------------------------------------------ maintained sample


class StreamingSample:
    """Continuously-maintained uniform k-row sample of an unbounded
    stream — the bottom-k / priority formulation of reservoir sampling
    (Cohen & Kaplan, "Summarizing data using bottom-k sketches"): every
    row draws a deterministic priority ``md5(id)`` and the committed
    table always holds the k rows with the SMALLEST priorities seen so
    far. Bottom-k is mergeable — ``sample(A ∪ B) == bottom-k(sample(A) ∪
    sample(B))`` — so each micro-batch takes a LOCAL TakeOrdered top-k
    (partial per-partition heads, no global sort, no state store) and
    min-merges it with the committed sample. State is at most k rows
    forever; a 10^12-turn stream costs the same k rows as a toy one.

    Uniformity: md5 priorities are i.i.d. uniform over distinct ids, so
    every k-subset of the ids seen is equally likely over the hash's
    randomness — the classic reservoir guarantee, but order-independent
    and engine-exact: the pinned draw makes the maintained table equal
    the one-shot batch bottom-k (and the DuckDB oracle) row for row,
    which is what lets the driver gate grade a *sampling* operator
    exactly.

    Optional ``strata_col`` keeps k rows per stratum instead of k global
    (held-out eval slices per language/split, maintained live); the
    local step becomes one row_number window partitioned by the stratum
    — a shuffle on the bounded stratum key, never on the data.

    Exactly-once: bottom-k min-merge is idempotent (replaying rows can
    never evict a smaller priority), and commits go through
    ``commit_overwrite(batch_id, dynamic=False)`` whose replay guard
    skips re-delivered batch ids before any work — belt and braces.
    """

    def __init__(self, table, k: int = 100, id_col: str = "doc_id",
                 strata_col: str | None = None) -> None:
        self.table = table
        self.k = int(k)
        self.id_col = id_col
        self.strata_col = strata_col

    def _bottom_k(self, df: DataFrame) -> DataFrame:
        """k smallest priorities, globally or per stratum. Global path is
        TakeOrdered (per-partition heads + driver merge of k·P rows);
        stratified path is one window on the bounded stratum key."""
        if self.strata_col is None:
            return df.orderBy("_prio", self.id_col).limit(self.k)
        from pyspark.sql import Window

        w = Window.partitionBy(self.strata_col).orderBy(
            F.asc("_prio"), F.asc(self.id_col)
        )
        return (
            df.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= self.k)
            .drop("_rn")
        )

    def apply_batch(self, df: DataFrame, batch_id: str) -> bool:
        """Min-merge one micro-batch into the maintained sample."""
        if str(batch_id) in self.table.committed_batches():
            return False
        batch = self._bottom_k(
            df.withColumn(
                "_prio", F.md5(F.col(self.id_col).cast("string"))
            )
        )
        try:
            current = self.table.read(df.sparkSession)
        except FileNotFoundError:
            current = None
        if current is not None:
            batch = self._bottom_k(
                batch.unionByName(current).dropDuplicates([self.id_col])
            )
        return self.table.commit_overwrite(
            batch, str(batch_id), dynamic=False
        )

    def start(self, stream: DataFrame, checkpoint: str, **trigger):
        """Maintain the sample from a streaming DataFrame."""
        from .pipeline import _start_foreach_batch

        return _start_foreach_batch(
            stream,
            lambda df, bid: self.apply_batch(df, str(bid)),
            checkpoint,
            "append",
            trigger or {"availableNow": True},
        )

    def sample(self, spark) -> DataFrame:
        """The committed sample (payload columns + the ``_prio`` draw)."""
        return self.table.read(spark)


# ------------------------------------------------------ exact heavy hitters


def misra_gries_candidates(
    tokens: DataFrame, capacity: int, value: str = "token"
) -> DataFrame:
    """Per-partition Misra-Gries summaries (Misra & Gries 1982): each
    partition is scanned once with AT MOST ``capacity`` live counters and
    emits its surviving tokens. Union-of-survivors guarantee: any token
    whose CORPUS-wide count exceeds n/(capacity+1) survives in at least
    one partition (if it survived nowhere, its count in every partition p
    was <= decrements_p <= n_p/(capacity+1), and those sum to at most
    n/(capacity+1)) — so with capacity >= n/threshold the survivor union
    is a superset of every token with count >= threshold.

    Arrow-vectorized (pandas ``value_counts`` per batch — no per-row
    Python); the decrement step is the batched form: subtracting the
    (capacity+1)-th largest counter from all counters removes at least
    ``len - capacity`` of them, and each unit of subtraction hits
    >= capacity+1 counters at once, which is exactly the classic bound.
    Memory is O(capacity + distinct values per Arrow batch) per
    partition — the counter dict is trimmed back to <= capacity between
    batches, but while merging one batch it (and the batch's own
    value_counts) holds that batch's distinct values, bounded by
    spark.sql.execution.arrow.maxRecordsPerBatch, not by capacity.
    NOTHING shuffles — the output is the tiny survivor list per
    partition.
    """
    if capacity < 1:
        raise ValueError("capacity must be >= 1")

    def mg(batches):
        import pandas as pd

        counts: dict = {}
        for pdf in batches:
            vc = pdf[value].dropna().value_counts()
            for tok, c in vc.items():
                counts[tok] = counts.get(tok, 0) + int(c)
            if len(counts) > capacity:
                vals = sorted(counts.values(), reverse=True)
                dec = vals[capacity]  # (capacity+1)-th largest
                counts = {
                    t: c - dec for t, c in counts.items() if c - dec > 0
                }
        if counts:
            yield pd.DataFrame({value: list(counts.keys())})

    proj = tokens.select(value)
    # output schema mirrors the input column's type — the candidate set
    # must join back against the original column without a cast mismatch
    out_schema = T.StructType([proj.schema[value]])
    return proj.mapInPandas(mg, schema=out_schema)


def heavy_hitters_exact(
    tokens: DataFrame,
    threshold: int,
    value: str = "token",
    max_capacity: int = 1 << 18,
    n: int | None = None,
) -> DataFrame:
    """EXACT heavy hitters at unbounded cardinality in two scans and one
    tiny shuffle: every token with count >= threshold, with its exact
    count — no estimates, no sketch error, bounded executor memory.

    The naive exact answer (groupBy(token).count()) shuffles every
    distinct token; at 10^12 tokens that is the dominant exchange. This
    operator never shuffles the corpus at all:

      1. candidate pass — per-partition Misra-Gries with capacity
         floor(n/threshold)+1 (``misra_gries_candidates``): one scan,
         O(n/threshold) memory, survivor union PROVABLY contains every
         true heavy hitter (no false negatives);
      2. exact pass — broadcast the tiny candidate set, hash-semi-join the
         corpus against it (false positives from MG's overestimates are
         eliminated here), and count only the matching rows: the shuffle
         carries at most |candidates| * partitions partially-aggregated
         rows instead of the full distinct-token domain.

    The result is deterministic and partitioning-independent: candidates
    vary with the partition layout, but the exact filter makes the final
    relation exactly {token : count(token) >= threshold}. ``threshold``
    must keep the MG capacity under ``max_capacity`` (i.e. threshold >=
    n/max_capacity) so per-partition memory stays bounded; raise the
    threshold or the cap for extreme ratios.
    """
    toks = tokens.select(F.col(value).alias(value)).where(
        F.col(value).isNotNull()
    )
    if n is None:
        # pass n when the caller already counted (saves a corpus scan)
        n = toks.count()
    if threshold < 1:
        raise ValueError("threshold must be >= 1")
    capacity = int(n // threshold) + 1
    if capacity > max_capacity:
        raise ValueError(
            f"MG capacity {capacity} (n={n}, threshold={threshold}) exceeds "
            f"max_capacity={max_capacity}; raise the threshold"
        )
    cands = misra_gries_candidates(toks, capacity, value).distinct()
    return (
        toks.join(F.broadcast(cands), value)
        .groupBy(value)
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") >= F.lit(threshold))
    )
