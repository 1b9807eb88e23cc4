"""Time-series operators: resample, gap-fill with LOCF, cohort retention.

Spark has windowed aggregation but no native *dense* resampling: a bucketed
groupBy emits only buckets that contain rows, so downstream consumers (rate
dashboards, anomaly scans, training-data curricula binned by time) see gaps
where activity was zero. These operators close that hole Spark-first:

* ``resample``    — event-time bucketing to a fixed step, exact integer
                    aggregation (counts + cent-sums), one hash shuffle.
* ``gap_fill``    — densify each key's bucket range via ``sequence`` +
                    ``explode`` (grid generation is O(span/step) per key and
                    happens executor-side, never on the driver), left-join
                    the observed buckets back, zero-fill counts and
                    forward-fill values with ``last(..., ignorenulls=True)``
                    over a per-key ordered window (LOCF). Exactly one
                    additional shuffle (the window's hash exchange on keys).
* ``cohort_retention`` — classic cohort analysis: users keyed to the bucket
                    of their first event, activity counted at each bucket
                    offset. Two shuffles (per-user first-bucket agg, then the
                    cohort×offset distinct-count) — both on keys that shrink
                    with aggregation, never on raw rows.

Scale notes (100 TB): all grids are bounded by span/step per key, generated
distributed; LOCF is a single running window per key (no self-joins, no
driver collect). Value sums ride as exact BIGINT cents so results are
bit-identical across engines and partitionings.

Reference parity: the reference pipeline (naive-zhang/kafka2iceberg) lands
raw CDC rows only; these are the analytics its Iceberg tables exist to
serve, expressed as engine operators with DuckDB oracle twins.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _bucket_us(ts_col: Column, step_us: int) -> Column:
    """Event-time bucket boundary in epoch micros — exact integer
    remainder math (um - um % step), the repo's engine-parity idiom:
    no double division, and the same truncation-toward-zero semantics as
    SQL integer division for pre-epoch timestamps (F.floor would floor)."""
    um = F.unix_micros(ts_col)
    return (um - um % F.lit(step_us)).cast("long")


def resample(
    df: DataFrame,
    ts_col: str,
    step_us: int,
    keys: list[str],
    value_col: str | None = None,
) -> DataFrame:
    """Bucket rows to ``step_us`` and aggregate per (keys, bucket).

    Emits ``n`` (row count, BIGINT) and — when ``value_col`` is given —
    ``v_cents`` (sum of round(value*100) as BIGINT: exact, order-independent,
    engine-portable). One hash shuffle on (keys, bucket); partial aggregation
    is map-side so the shuffle carries pre-combined rows.
    """
    b = df.withColumn(
        "bucket_us", _bucket_us(F.col(ts_col).cast("timestamp"), step_us)
    )
    aggs = [F.count(F.lit(1)).alias("n")]
    if value_col is not None:
        aggs.append(
            F.sum(
                F.round(F.col(value_col) * 100).cast("long")
            ).alias("v_cents")
        )
    return b.groupBy(*keys, "bucket_us").agg(*aggs)


def gap_fill(
    resampled: DataFrame,
    step_us: int,
    keys: list[str],
    locf_cols: list[str] | None = None,
) -> DataFrame:
    """Densify a ``resample`` output: one row per (keys, bucket) for every
    bucket between each key's first and last observed bucket.

    Missing buckets get ``n = 0``; each column in ``locf_cols`` is
    forward-filled (last observation carried forward) and additionally
    exposed raw as ``<col>_obs`` (NULL on filled gaps) so callers can tell
    real zeros from carried values.

    Plan shape: one groupBy(keys) for the spans, one ``sequence``+``explode``
    to emit the grid (distributed — each key's grid materializes on the
    executor holding its span row), one left join back on (keys, bucket) —
    broadcast when the grid is small, hash otherwise — and one ordered
    window per key for LOCF.
    """
    locf_cols = locf_cols or []
    spans = resampled.groupBy(*keys).agg(
        F.min("bucket_us").alias("_mn"), F.max("bucket_us").alias("_mx")
    )
    grid = spans.select(
        *keys,
        F.explode(
            F.sequence(F.col("_mn"), F.col("_mx"), F.lit(step_us))
        ).alias("bucket_us"),
    )
    joined = grid.join(resampled, [*keys, "bucket_us"], "left")
    out = joined.withColumn("n", F.coalesce(F.col("n"), F.lit(0)))
    w = (
        Window.partitionBy(*keys)
        .orderBy("bucket_us")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    for c in locf_cols:
        out = out.withColumn(f"{c}_obs", F.col(c)).withColumn(
            c, F.last(F.col(c), ignorenulls=True).over(w)
        )
    return out


def cohort_retention(
    df: DataFrame,
    ts_col: str,
    user_col: str,
    step_us: int,
) -> DataFrame:
    """Cohort retention matrix: users are cohorted by the bucket of their
    first event; ``active_users`` counts distinct users from cohort
    ``cohort_us`` seen again ``bucket_offset`` buckets later (offset 0 = the
    cohort size). ``retention_ppm`` is parts-per-million of the cohort still
    active — integer-exact, no float drift.

    Two aggregation shuffles: (user → first bucket) then
    ((cohort, offset) → distinct users). The user→cohort join shuffles on
    ``user_col`` — at 100 TB that's the natural key to pre-bucket tables on.
    """
    b = df.select(
        F.col(user_col).alias("_u"),
        _bucket_us(F.col(ts_col).cast("timestamp"), step_us).alias(
            "bucket_us"
        ),
    )
    first = b.groupBy("_u").agg(F.min("bucket_us").alias("cohort_us"))
    activity = (
        b.join(first, "_u")
        .select(
            "_u",
            "cohort_us",
            ((F.col("bucket_us") - F.col("cohort_us")) / F.lit(step_us))
            .cast("long")
            .alias("bucket_offset"),
        )
        .groupBy("cohort_us", "bucket_offset")
        .agg(F.countDistinct("_u").alias("active_users"))
    )
    sizes = first.groupBy("cohort_us").agg(
        F.countDistinct("_u").alias("cohort_size")
    )
    return activity.join(sizes, "cohort_us").select(
        "cohort_us",
        "bucket_offset",
        "active_users",
        "cohort_size",
        # `div` = exact integer division (no double rounding on any engine)
        F.expr("active_users * 1000000L div cohort_size").alias(
            "retention_ppm"
        ),
    )


def cusum_flags(
    resampled: DataFrame,
    keys: list[str],
    value_col: str,
    target_cents: int,
    slack_cents: int,
    threshold_cents: int,
) -> DataFrame:
    """One-sided CUSUM changepoint detection over bucket summaries (Page
    1954): per key, the running statistic

        s_0 = 0;  s_i = max(0, s_{i-1} + (x_i - target - slack))

    flags bucket i when s_i > threshold — the standard drift detector for
    pipeline monitoring (ingest volume collapse, quality-score drift).

    The recurrence is inherently sequential, which is exactly why it runs
    over RESAMPLED bucket summaries, never raw rows: each key folds
    O(span/step) pre-aggregated values inside one task via a higher-order
    ``aggregate`` over the sorted bucket array (no Python, no cross-task
    dependency), after one collect_list per key. All arithmetic is exact
    BIGINT cents, so flags are engine-identical — the DuckDB oracle
    replays the same recurrence with a recursive CTE.
    """
    rows = F.array_sort(
        F.collect_list(F.struct("bucket_us", F.col(value_col).alias("v")))
    )
    folded = resampled.groupBy(*keys).agg(rows.alias("_rows"))
    # accumulator: array of (bucket_us, cusum); each step appends
    # max(0, last + (v - target - slack))
    step = (
        f"(acc, r) -> array_append(acc, struct(r.bucket_us AS bucket_us,"
        f" greatest(0L, coalesce(try_element_at(acc, -1).cusum, 0L)"
        f" + (r.v - {int(target_cents)}L - {int(slack_cents)}L)) AS cusum))"
    )
    out = folded.select(
        *keys,
        F.explode(
            F.expr(
                f"aggregate(_rows,"
                f" cast(array() as array<struct<bucket_us:bigint,"
                f"cusum:bigint>>), {step})"
            )
        ).alias("_s"),
    )
    return out.select(
        *keys,
        F.col("_s.bucket_us").alias("bucket_us"),
        F.col("_s.cusum").alias("cusum_cents"),
        (F.col("_s.cusum") > F.lit(int(threshold_cents))).alias("drift"),
    )


def trend(
    resampled: DataFrame,
    keys: list[str],
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Per-key least-squares trend line (slope/intercept/R²) from ONE
    aggregation of exact integer moment sums (n, Σx, Σy, Σxx, Σxy, Σyy) —
    the groupwise regression every monitoring/curriculum pipeline wants,
    with map-side combine and no second pass:

        slope     = (nΣxy − ΣxΣy) / (nΣxx − Σx²)
        intercept = (Σy − slope·Σx) / n
        r2        = (nΣxy − ΣxΣy)² / ((nΣxx − Σx²)(nΣyy − Σy²))

    The moment sums and both difference terms stay exact BIGINTs (callers
    keep x small — e.g. a day index, not epoch micros — so nΣxy fits
    comfortably); only the final divisions are floats, in a fixed IEEE op
    order, so results replay bit-identically in SQL."""
    x, y = F.col(x_col), F.col(y_col)
    m = resampled.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"),
        F.sum(x * y).alias("sxy"),
        F.sum(y * y).alias("syy"),
    )
    a = m["n"] * F.col("sxy") - F.col("sx") * F.col("sy")
    bx = m["n"] * F.col("sxx") - F.col("sx") * F.col("sx")
    by = m["n"] * F.col("syy") - F.col("sy") * F.col("sy")
    # try_divide: a zero-variance x (single bucket) or y (flat series) has
    # no defined slope/R² — NULL, matching SQL division-by-zero semantics
    slope = F.try_divide(a, bx)
    return m.select(
        *keys,
        "n",
        F.round(slope, 6).alias("slope"),
        F.round(
            (F.col("sy") - slope * F.col("sx")) / F.col("n"), 6
        ).alias("intercept"),
        F.round(
            F.try_divide(
                a.cast("double") * a.cast("double"),
                bx.cast("double") * by.cast("double"),
            ),
            6,
        ).alias("r2"),
    )


def ewma(
    resampled: DataFrame,
    keys: list[str],
    value_col: str,
) -> DataFrame:
    """Integer EWMA (alpha = 1/2) smoothing over bucket summaries:

        e_1 = v_1;   e_i = (e_{i-1} + v_i) div 2

    The halving recurrence is the classic dyadic smoother (equivalent to
    exponential smoothing with alpha = 0.5) kept entirely in exact BIGINT
    arithmetic so the smoothed series is engine-identical — the same
    fixed-point discipline as ``cusum_flags``. Requires non-negative
    values (cent-sums of a non-negative measure): integer division
    truncates toward zero in Spark but floors in some engines, and the
    two agree only on non-negative operands — documented domain, not a
    silent assumption.

    Like CUSUM, the sequential fold runs over RESAMPLED summaries, never
    raw rows: one collect_list per key, one higher-order ``aggregate``
    fold inside the task (JVM-side, no Python), O(span/step) elements per
    key. Output: one row per input bucket with the smoothed value.
    """
    rows = F.array_sort(
        F.collect_list(F.struct("bucket_us", F.col(value_col).alias("v")))
    )
    folded = resampled.groupBy(*keys).agg(rows.alias("_rows"))
    step = (
        "(acc, r) -> array_append(acc, struct(r.bucket_us AS bucket_us,"
        " r.v AS v,"
        " CASE WHEN size(acc) = 0 THEN r.v"
        "      ELSE (try_element_at(acc, -1).ewma + r.v) div 2 END"
        " AS ewma))"
    )
    out = folded.select(
        *keys,
        F.explode(
            F.expr(
                "aggregate(_rows,"
                " cast(array() as array<struct<bucket_us:bigint,"
                "v:bigint,ewma:bigint>>),"
                f" {step})"
            )
        ).alias("_s"),
    )
    return out.select(
        *keys,
        F.col("_s.bucket_us").alias("bucket_us"),
        F.col("_s.v").alias("v_cents"),
        F.col("_s.ewma").alias("ewma_cents"),
    )


def transition_counts(
    events: DataFrame,
    user_col: str = "user_id",
    order_cols: tuple[str, str] = ("ts", "event_id"),
    type_col: str = "event_type",
) -> DataFrame:
    """First-order Markov transition matrix over per-user event sequences:
    for each user's events in (ts, event_id) order, count every adjacent
    (prev_type -> type) step and emit the row-normalised transition
    probability — the standard session-path / funnel-mining summary.

    Scale shape: ONE window per user partition (lag over a hash-
    partitioned, per-user-sorted window — no global sort), then a
    transition-pair aggregation whose cardinality is |types|², tiny by
    construction. ``prob`` is one exact-BIGINT/exact-BIGINT division per
    output row, rounded to 6 — engine-exact.
    """
    w = Window.partitionBy(user_col).orderBy(*order_cols)
    t = events.select(user_col, *order_cols, type_col).withColumn(
        "prev_type", F.lag(type_col).over(w)
    )
    pairs = (
        t.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", type_col)
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = Window.partitionBy("prev_type")
    return pairs.select(
        "prev_type",
        F.col(type_col),
        "n",
        F.round(F.col("n") / F.sum("n").over(tot), 6).alias("prob"),
    )


def transition_entropy(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    state_col: str,
) -> DataFrame:
    """Conditional entropy of the next-state distribution given each
    previous state, over per-key ordered sequences:

        H(next | prev=r) = ln(N_r) - (1/N_r) * sum_s c_{r,s} * ln(c_{r,s})

    The information-theoretic complement to ``transition_counts``: a
    near-zero entropy row means that state's successor is essentially
    scripted (deterministic dialogue flows, bot loops); high entropy
    means genuine branching. Engine-exactness via the nano-ln idiom
    (textops.source_entropy): each ln(c) is quantized to integer
    nano-nats BEFORE the sum, so the aggregation is order-free exact
    BIGINT math and only the final ln(N)/division is floating (rounded
    to 6).

    Scale shape: one lag window per key partition (hash exchange on
    key_cols, per-key sort — no global sort), one |states|²-cardinality
    pair count (map-side combined), one |states|-row final agg. At
    10^12 turns the only data-sized stage is the window, which any
    per-conversation op already pays.

    Output: (prev_state, n BIGINT, entropy DOUBLE).
    """
    w = Window.partitionBy(*key_cols).orderBy(*order_cols)
    t = df.select(
        F.lag(state_col).over(w).alias("prev_state"),
        F.col(state_col).alias("next_state"),
    ).where(F.col("prev_state").isNotNull())
    c = t.groupBy("prev_state", "next_state").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    nano = F.round(F.log(F.col("c").cast("double")) * 1e9).cast("long")
    a = c.groupBy("prev_state").agg(
        F.sum("c").cast("long").alias("n"),
        F.sum(F.col("c") * nano).cast("long").alias("s"),
    )
    # + 0.0 folds IEEE -0.0 (deterministic successors) to +0.0 so the
    # result is bit-identical across engines.
    return a.select(
        "prev_state",
        "n",
        (
            F.round(
                F.log(F.col("n").cast("double"))
                - (F.col("s") / F.lit(1e9)) / F.col("n"),
                6,
            )
            + F.lit(0.0)
        ).alias("entropy"),
    )


def debounce(
    events: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    id_col: str = "event_id",
    min_gap_us: int = 60_000_000,
) -> DataFrame:
    """Kept-anchor debounce (throttle): per key, keep an event only if at
    least ``min_gap_us`` has passed since the LAST KEPT event — the
    telemetry/clickstream dedup rule ("at most one notification per user
    per minute"). This genuinely differs from a naive lag-diff filter:
    for a steady burst t=0,1,2,3 with gap 2, the kept-anchor rule keeps
    {0, 2} (each survivor measured against the last KEPT event), while
    lag-diff keeps only {0} — every later event is within 1 of its
    (dropped) predecessor. A window function can't express the anchor
    because it depends on the filter's own output.

    The anchor recurrence is sequential, so it uses the repo's fold
    idiom (cusum_flags/ewma): one collect_list per key, one JVM
    higher-order ``aggregate`` whose accumulator carries (rows, last
    kept timestamp) — exact integer micros, engine-identical; the
    DuckDB oracle replays it with a recursive CTE. Per-key sequences
    must fit a task (same contract as every sessionize-style op here).

    Output: one row per input event with a ``kept`` flag (callers
    filter; keeping the flag makes the oracle compare total).
    """
    # UTC-pinned cast: testdata is TIMESTAMP_NTZ; with the session TZ at
    # UTC the cast is value-preserving and unix_micros matches epoch_us
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    rows = F.array_sort(
        F.collect_list(
            F.struct(us.alias("us"), F.col(id_col).alias("eid"))
        )
    )
    folded = events.groupBy(*keys).agg(rows.alias("_rows"))
    step = (
        "(acc, r) -> CASE WHEN acc.last < 0"
        f" OR r.us - acc.last >= {int(min_gap_us)}L"
        " THEN struct("
        "   array_append(acc.out, struct(r.us AS us, r.eid AS eid,"
        "     true AS kept)) AS out, r.us AS last)"
        " ELSE struct("
        "   array_append(acc.out, struct(r.us AS us, r.eid AS eid,"
        "     false AS kept)) AS out, acc.last AS last) END"
    )
    init = (
        "cast(struct(array() , -1L) as"
        " struct<out:array<struct<us:bigint,eid:bigint,kept:boolean>>,"
        "last:bigint>)"
    )
    out = folded.select(
        *keys,
        F.explode(
            F.expr(f"aggregate(_rows, {init}, {step}).out")
        ).alias("_s"),
    )
    return out.select(
        *keys,
        F.col("_s.eid").alias(id_col),
        F.col("_s.us").alias("ts_us"),
        F.col("_s.kept").alias("kept"),
    )


def autocorr(
    resampled: DataFrame,
    keys: list[str],
    value_col: str,
    max_lag: int = 3,
) -> DataFrame:
    """Per-key sample autocorrelation at lags 1..max_lag over bucket
    summaries — the seasonality/persistence probe run before forecasting
    or anomaly thresholds:

        r_L = sum_{t<=n-L} (x_t - mu)(x_{t+L} - mu) / sum (x_t - mu)^2

    Exactness: with C = sum x_t*x_{t+L}, A/B the head/tail partial sums,
    Sx/Q the full-series sum/sum-of-squares, multiply through by n^2:

        r_L = (n^2*C - n*Sx*(A+B) + (n-L)*Sx^2) / (n*(n*Q - Sx^2))

    — every term an exact BIGINT product of cent-scale sums (fits 2^63
    for cent values up to ~10^6 and series up to ~10^4 buckets, the
    resampled regime by construction), one final double division,
    rounded to 6. Engine-identical.

    Shuffle shape: ONE per-key window pass computes all max_lag lag
    columns; one aggregation per key collects the lag moments and the
    full-series moments together. No self-joins.
    """
    w = Window.partitionBy(*keys).orderBy("bucket_us")
    x = F.col(value_col)
    lagged = resampled.select(
        *keys,
        x.alias("_x"),
        *[
            F.lag(x, L).over(w).alias(f"_xl{L}")
            for L in range(1, max_lag + 1)
        ],
    )
    aggs = [
        F.count(F.lit(1)).alias("n"),
        F.sum("_x").alias("sx"),
        F.sum(F.col("_x") * F.col("_x")).alias("q"),
    ]
    for L in range(1, max_lag + 1):
        xl = F.col(f"_xl{L}")
        aggs += [
            F.sum(F.col("_x") * xl).alias(f"c{L}"),
            F.sum(F.when(xl.isNotNull(), F.col("_x"))).alias(f"b{L}"),
            F.sum(xl).alias(f"a{L}"),
        ]
    m = lagged.groupBy(*keys).agg(*aggs)
    n, sx, q = F.col("n"), F.col("sx"), F.col("q")
    den = n * (n * q - sx * sx)
    out_rows = []
    for L in range(1, max_lag + 1):
        num = (
            n * n * F.col(f"c{L}")
            - n * sx * (F.col(f"a{L}") + F.col(f"b{L}"))
            + (n - F.lit(L)) * sx * sx
        )
        out_rows.append(
            m.select(
                *keys,
                F.lit(L).alias("lag"),
                "n",
                F.round(F.try_divide(num, den), 6).alias("acf"),
            ).where(n > F.lit(L))
        )
    out = out_rows[0]
    for df in out_rows[1:]:
        out = out.unionByName(df)
    return out


def dow_profile(
    resampled: DataFrame,
    keys: list[str],
    value_col: str,
) -> DataFrame:
    """Day-of-week seasonality profile per key: bucket count, cent sum,
    exact mean, and each weekday's parts-per-million share of the key's
    total — the load-shape summary behind weekly seasonal adjustment.

    Weekday derives from pure epoch-day arithmetic, (epoch_day + 4) % 7
    with 0 = Sunday (1970-01-01 was a Thursday) — engine-identical by
    construction, unlike dayofweek() whose 0/1-basing differs across SQL
    dialects. One (keys, dow) aggregation + one per-key window total.
    """
    dow = (
        (F.col("bucket_us") / F.lit(86_400_000_000)).cast("long")
        + F.lit(4)
    ) % F.lit(7)
    per = (
        resampled.withColumn("dow", dow)
        .groupBy(*keys, "dow")
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.sum(value_col).alias("v_cents"),
        )
    )
    tot = Window.partitionBy(*keys)
    return per.select(
        *keys,
        "dow",
        "n_buckets",
        "v_cents",
        F.round(F.col("v_cents") / F.col("n_buckets"), 6).alias(
            "mean_cents"
        ),
        F.expr(
            "v_cents * 1000000L div sum(v_cents) over "
            f"(partition by {', '.join(keys)})"
        ).alias("share_ppm"),
    )


def window_funnel(
    events: DataFrame,
    steps: list[str],
    window_us: int,
    key: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """Ordered-funnel depth within a time window (the ClickHouse
    ``windowFunnel`` analogue): per key, the deepest prefix of ``steps``
    for which events occur in order with the whole chain inside
    ``window_us`` of its step-1 anchor — conversion analysis
    (view → click → purchase) where a plain per-step EXISTS join would
    ignore both ordering and the window.

    Recurrence (per key, over (ts, id)-sorted events; state = one
    chain-anchor timestamp per depth, -1 = unreached): a step-1 event
    advances the level-1 anchor to max(anchor, ts) — the LATEST possible
    chain start maximizes remaining window slack, so tracking the max
    anchor per level dominates every other chain choice; a step-k event
    within ``window_us`` of the level-(k-1) anchor promotes that anchor
    to level k (again kept as the max). Anchors are prefix-contiguous by
    construction, so depth = count of reached levels.

    The state depends on the fold's own output (which events anchor a
    chain depends on earlier promotions), so — like ``debounce`` — no
    window function expresses it; it uses the repo's fold idiom: one
    collect_list per key, one JVM higher-order ``aggregate``, exact
    integer microseconds throughout. Engine-identical, so the DuckDB
    oracle replays the identical recurrence with a recursive CTE. Per-key
    event sequences must fit a task (sessionize contract).

    Output: (key, funnel_depth) for every key with ≥1 step event.
    """
    if not steps:
        raise ValueError("steps must be non-empty")
    k_map = F.create_map(
        *[x for i, s in enumerate(steps) for x in (F.lit(s), F.lit(i + 1))]
    )
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    ev = events.where(F.col(type_col).isin(list(steps))).select(
        F.col(key),
        F.struct(
            us.alias("us"),
            F.col(id_col).alias("eid"),
            k_map[F.col(type_col)].alias("k"),
        ).alias("_r"),
    )
    folded = ev.groupBy(key).agg(
        F.array_sort(F.collect_list("_r")).alias("_rows")
    )
    n = len(steps)
    w = int(window_us)
    # acc[i] (0-based lambda index, 1-based element_at) = latest anchor
    # for depth i+1; element_at(acc, i) is the depth-i predecessor.
    step_expr = (
        "(acc, r) -> transform(acc, (s, i) -> CASE"
        " WHEN r.k != i + 1 THEN s"
        " WHEN i = 0 THEN greatest(s, r.us)"
        f" WHEN element_at(acc, i) >= 0 AND r.us - element_at(acc, i) <= {w}L"
        "   THEN greatest(s, element_at(acc, i))"
        " ELSE s END)"
    )
    final = folded.select(
        key,
        F.expr(
            f"aggregate(_rows, array_repeat(-1L, {n}), {step_expr})"
        ).alias("_anchors"),
    )
    return final.select(
        key,
        F.expr("size(filter(_anchors, s -> s >= 0))")
        .cast("int")
        .alias("funnel_depth"),
    )


def holt_linear(
    resampled: DataFrame,
    keys: list[str],
    value_col: str,
) -> DataFrame:
    """Integer Holt double-exponential smoothing (alpha = beta = 1/2) over
    bucket summaries — the trend-aware upgrade of :func:`ewma`:

        l_1 = v_1;  b_1 = 0
        l_i = (l_{i-1} + b_{i-1} + v_i) div 2
        b_i = (b_{i-1} + (l_i - l_{i-1})) div 2

    ``l`` tracks the level, ``b`` the per-bucket trend, and ``l + b`` is
    the one-step-ahead forecast (Holt 1957) — EWMA systematically lags a
    trending series; Holt's trend term removes that lag. The whole
    trajectory stays in exact BIGINT arithmetic: Spark's ``div`` and the
    oracle's ``//`` both truncate toward zero (verified for negative
    operands, which DO occur here — a falling series drives ``b`` below
    zero), so the recurrence is engine-identical with no float drift.

    Same scale shape as :func:`ewma` / :func:`cusum_flags`: the
    sequential fold runs over RESAMPLED summaries, never raw rows — one
    ``collect_list`` per key, one JVM-side higher-order ``aggregate``
    fold, O(span/step) elements per key, no Python.

    Output: one row per input bucket with (v_cents, level_cents,
    trend_cents, forecast_cents = level + trend).
    """
    rows = F.array_sort(
        F.collect_list(F.struct("bucket_us", F.col(value_col).alias("v")))
    )
    folded = resampled.groupBy(*keys).agg(rows.alias("_rows"))
    prev = "try_element_at(acc, -1)"
    lvl = f"({prev}.l + {prev}.b + r.v) div 2"
    step = (
        "(acc, r) -> array_append(acc, struct("
        " r.bucket_us AS bucket_us, r.v AS v,"
        f" CASE WHEN size(acc) = 0 THEN r.v ELSE {lvl} END AS l,"
        " CASE WHEN size(acc) = 0 THEN CAST(0 AS BIGINT)"
        f"      ELSE ({prev}.b + ({lvl} - {prev}.l)) div 2 END AS b))"
    )
    out = folded.select(
        *keys,
        F.explode(
            F.expr(
                "aggregate(_rows,"
                " cast(array() as array<struct<bucket_us:bigint,"
                "v:bigint,l:bigint,b:bigint>>),"
                f" {step})"
            )
        ).alias("_s"),
    )
    return out.select(
        *keys,
        F.col("_s.bucket_us").alias("bucket_us"),
        F.col("_s.v").alias("v_cents"),
        F.col("_s.l").alias("level_cents"),
        F.col("_s.b").alias("trend_cents"),
        (F.col("_s.l") + F.col("_s.b")).alias("forecast_cents"),
    )


def ohlc(
    df: DataFrame,
    ts_col: str,
    order_col: str,
    keys: list[str],
    cents_col: str,
    step_us: int,
) -> DataFrame:
    """OHLC bars — the classic financial resample (open/high/low/close
    per bucket), which Spark has no single aggregate for. Open/close are
    rank-selected values (row_number over the total order (ts,
    order_col) per (keys, bucket), forward and backward), high/low plain
    min/max — ONE window pass + one conditional aggregation, all exact
    BIGINT cents. Same plan shape as :func:`rankstats.winsorize`: hash
    exchange on (keys, bucket), in-partition sort, no global sort.
    """
    # NTZ inputs cast through timestamp (session TZ pinned UTC -> identity)
    tsc = F.col(ts_col).cast("timestamp")
    b = _bucket_us(tsc, step_us).alias("bucket_us")
    eu = F.unix_micros(tsc)
    base = df.select(
        *keys, b, eu.alias("_eu"), F.col(order_col).alias("_o"),
        F.col(cents_col).cast("long").alias("_v"),
    )
    wf = Window.partitionBy(*keys, "bucket_us").orderBy("_eu", "_o")
    wb = Window.partitionBy(*keys, "bucket_us").orderBy(
        F.desc("_eu"), F.desc("_o")
    )
    ranked = base.withColumn("_rf", F.row_number().over(wf)).withColumn(
        "_rb", F.row_number().over(wb)
    )
    return ranked.groupBy(*keys, "bucket_us").agg(
        F.max(F.when(F.col("_rf") == 1, F.col("_v"))).alias("open_cents"),
        F.max("_v").alias("high_cents"),
        F.min("_v").alias("low_cents"),
        F.max(F.when(F.col("_rb") == 1, F.col("_v"))).alias("close_cents"),
        F.count(F.lit(1)).alias("n"),
    )


def twap(
    df: DataFrame,
    ts_col: str,
    order_col: str,
    keys: list[str],
    cents_col: str,
    step_us: int,
) -> DataFrame:
    """Time-weighted average price per bucket: each observation is
    weighted by how long it remained current (lead(ts) within the
    bucket, the bucket end closing the last interval) — the standard
    fix for irregular sampling, where a plain mean over-weights bursts:

        twap = Σ v_i · (t_{i+1} − t_i)  /  (t_last_close − t_first)

    Weights are exact integer micros and v·w products exact BIGINTs;
    one final division (NULL for single-instant buckets via try_divide).
    One window pass per (keys, bucket) partition + one aggregation.
    """
    tsc = F.col(ts_col).cast("timestamp")
    b = _bucket_us(tsc, step_us).alias("bucket_us")
    eu = F.unix_micros(tsc)
    base = df.select(
        *keys, b, eu.alias("_eu"), F.col(order_col).alias("_o"),
        F.col(cents_col).cast("long").alias("_v"),
    )
    w = Window.partitionBy(*keys, "bucket_us").orderBy("_eu", "_o")
    nxt = F.coalesce(
        F.lead("_eu").over(w),
        F.col("bucket_us") + F.lit(step_us),
    )
    weighted = base.withColumn("_w", nxt - F.col("_eu"))
    return (
        weighted.groupBy(*keys, "bucket_us")
        .agg(
            F.sum(F.col("_v") * F.col("_w")).alias("_vw"),
            F.sum("_w").alias("_tw"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            *keys,
            "bucket_us",
            "n",
            F.col("_tw").alias("span_us"),
            F.round(F.try_divide(F.col("_vw"), F.col("_tw")), 6).alias(
                "twap_cents"
            ),
        )
    )


def running_balance(
    resampled: DataFrame,
    keys: list[str],
    delta_col: str,
    floor: int = 0,
) -> DataFrame:
    """Capped running balance — inventory/credit arithmetic where the
    balance cannot go below ``floor`` (returns land, stock is clamped at
    zero, the shortfall is lost):

        bal_i = max(floor, bal_{i-1} + delta_i),  bal_0 = floor

    The clamp makes this a genuine nonlinear recurrence — inexpressible
    as a window sum (a plain cumulative sum lets the balance go
    negative and then over-credits the recovery) — so it uses the same
    JVM higher-order-aggregate fold as :func:`ewma`/:func:`cusum_flags`:
    per-key collect over RESAMPLED bucket summaries, exact BIGINT
    arithmetic, replayed by a recursive-CTE oracle. Emits the clamped
    balance and the cumulative shortfall lost to the clamp.
    """
    rows = F.array_sort(
        F.collect_list(F.struct("bucket_us", F.col(delta_col).alias("d")))
    )
    folded = resampled.groupBy(*keys).agg(rows.alias("_rows"))
    prev = "try_element_at(acc, -1)"
    raw = f"CASE WHEN size(acc) = 0 THEN {floor} + r.d ELSE {prev}.bal + r.d END"
    step = (
        "(acc, r) -> array_append(acc, struct("
        " r.bucket_us AS bucket_us, r.d AS d,"
        f" greatest(cast({floor} as bigint), {raw}) AS bal,"
        f" CASE WHEN size(acc) = 0 THEN cast(0 as bigint) ELSE {prev}.lost END"
        f" + greatest(cast(0 as bigint), cast({floor} as bigint) - ({raw}))"
        " AS lost))"
    )
    out = folded.select(
        *keys,
        F.explode(
            F.expr(
                "aggregate(_rows,"
                " cast(array() as array<struct<bucket_us:bigint,"
                "d:bigint,bal:bigint,lost:bigint>>),"
                f" {step})"
            )
        ).alias("_s"),
    )
    return out.select(
        *keys,
        F.col("_s.bucket_us").alias("bucket_us"),
        F.col("_s.d").alias("delta"),
        F.col("_s.bal").alias("balance"),
        F.col("_s.lost").alias("lost"),
    )


def holt_winters(
    resampled: DataFrame,
    keys: list[str],
    value_col: str,
    period: int = 7,
) -> DataFrame:
    """Integer additive Holt-Winters (alpha = beta = gamma = 1/2,
    season length ``period``) over bucket summaries — the seasonal
    upgrade of :func:`holt_linear` for series with a weekly shape:

        i <= m:  l_i = v_i;  b_i = 0;  s_i = 0          (warm-up)
        i  > m:  l_i = (v_i - s_{i-m} + l_{i-1} + b_{i-1}) div 2
                 b_i = (b_{i-1} + (l_i - l_{i-1})) div 2
                 s_i = (v_i - l_i + s_{i-m}) div 2

    and the one-step forecast at bucket i is l_i + b_i + s_{i-m+1}
    (the season slot the NEXT bucket will reuse, lag m-1).

    Same scale discipline as holt_linear: the sequential fold runs over
    RESAMPLED per-key summaries via one collect_list + one JVM-side
    higher-order ``aggregate`` (the lag-m seasonal is just
    try_element_at(acc, -m) on the accumulated trajectory) — O(span/
    step) elements per key, no Python, exact BIGINT throughout; the
    DuckDB oracle replays the identical recurrence with a recursive CTE
    carrying the seasonal list.

    Output: per (keys, bucket) — (v_cents, level_cents, trend_cents,
    season_cents, forecast_cents).
    """
    m = period
    rows = F.array_sort(
        F.collect_list(F.struct("bucket_us", F.col(value_col).alias("v")))
    )
    folded = resampled.groupBy(*keys).agg(rows.alias("_rows"))
    prev = "try_element_at(acc, -1)"
    lagm = f"try_element_at(acc, -{m})"
    lvl = f"(r.v - {lagm}.s + {prev}.l + {prev}.b) div 2"
    step = (
        "(acc, r) -> array_append(acc, struct("
        " r.bucket_us AS bucket_us, r.v AS v,"
        f" CASE WHEN size(acc) < {m} THEN r.v ELSE {lvl} END AS l,"
        f" CASE WHEN size(acc) < {m} THEN CAST(0 AS BIGINT)"
        f"      ELSE ({prev}.b + ({lvl} - {prev}.l)) div 2 END AS b,"
        f" CASE WHEN size(acc) < {m} THEN CAST(0 AS BIGINT)"
        f"      ELSE (r.v - ({lvl}) + {lagm}.s) div 2 END AS s))"
    )
    out = folded.select(
        *keys,
        F.explode(
            F.expr(
                "aggregate(_rows,"
                " cast(array() as array<struct<bucket_us:bigint,"
                "v:bigint,l:bigint,b:bigint,s:bigint>>),"
                f" {step})"
            )
        ).alias("_s"),
    ).select(
        *keys,
        F.col("_s.bucket_us").alias("bucket_us"),
        F.col("_s.v").alias("v_cents"),
        F.col("_s.l").alias("level_cents"),
        F.col("_s.b").alias("trend_cents"),
        F.col("_s.s").alias("season_cents"),
    )
    w = Window.partitionBy(*keys).orderBy("bucket_us")
    return out.withColumn(
        "forecast_cents",
        (
            F.col("level_cents")
            + F.col("trend_cents")
            + F.coalesce(
                F.lag("season_cents", m - 1).over(w), F.lit(0).cast("long")
            )
        ).cast("long"),
    )


def seasonal_anomalies(
    resampled: DataFrame,
    keys: list[str],
    value_col: str,
    z_threshold: float = 2.0,
) -> DataFrame:
    """Seasonality-adjusted anomaly detection over daily bucket
    summaries: raw z-scores (anomaly_zscore) flag every weekend of a
    weekly-shaped series; this op first removes each key's day-of-week
    mean (dow_profile's seasonal component) and z-scores the RESIDUALS,
    so only departures from the key's own weekly rhythm fire.

        mean_dow = exact integer mean of the key's values on that dow
        r_i      = v_i - mean_dow(i)               (exact BIGINT)
        z_i      = (r_i - mu_r) / sigma_r          (moment idiom)

    Both moment sets come from exact integer sums broadcast back
    (|keys|·7 and |keys| rows) — one scan of bucket summaries, two tiny
    aggs, two broadcast joins, no window. mu/sigma use the repo's
    fixed-parenthesization IEEE idiom (s2 - s1*(s1/n)) so z is
    engine-identical.

    Output: (keys..., bucket_us, v_cents, dow, resid_cents, z) for
    buckets with |z| >= z_threshold.
    """
    day_us = 86_400_000_000
    # epoch day 0 (1970-01-01) was a Thursday = dow 4
    b = resampled.withColumn(
        "dow", F.expr(f"(bucket_us div {day_us} + 4) % 7").cast("int")
    )
    mdow = b.groupBy(*keys, "dow").agg(
        F.count(F.lit(1)).alias("_nd"),
        F.sum(value_col).cast("long").alias("_sd"),
    )
    r = b.join(F.broadcast(mdow), [*keys, "dow"]).withColumn(
        "resid_cents",
        (F.col(value_col) - F.expr("_sd div _nd")).cast("long"),
    )
    st = r.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum("resid_cents").alias("_s1"),
        F.sum(F.col("resid_cents") * F.col("resid_cents")).alias("_s2"),
    )
    z = F.round(
        (F.col("resid_cents") - F.col("_s1") / F.col("_n"))
        / F.sqrt(
            (F.col("_s2") - F.col("_s1") * (F.col("_s1") / F.col("_n")))
            / (F.col("_n") - 1)
        ),
        4,
    )
    return (
        r.join(F.broadcast(st), keys)
        .withColumn("z", z)
        .where(F.abs(F.col("z")) >= z_threshold)
        .select(
            *keys,
            "bucket_us",
            F.col(value_col).alias("v_cents"),
            "dow",
            "resid_cents",
            "z",
        )
    )


def lag_features(
    resampled: DataFrame,
    keys: list[str],
    value_col: str,
    lags: tuple[int, ...] = (1, 7),
    ma_window: int = 7,
) -> DataFrame:
    """Supervised feature assembly over bucket summaries — the table a
    forecasting/anomaly model actually trains on: per (key, bucket),
    lagged values, a trailing moving-average, and the next bucket's
    value as the label. This is the feature-engineering step every
    production time-series pipeline runs after ``resample``; emitting
    it as an engine op keeps the label/feature alignment (and its
    off-by-one traps) in ONE audited place.

    All features come from a single per-key ordered window (hash
    exchange on keys, in-partition sort — the same pass any per-key op
    pays); the moving average is exact: a rolling BIGINT sum divided by
    the actual window row count (integer div), so early buckets use the
    shorter true window rather than a NULL-padded lie.

    Output: (keys..., bucket_us, v, lag_<n>..., ma_<w>, target).
    Rows without a next bucket (the series tail) keep target NULL so
    callers can split train/score sets without recomputing.
    """
    w = Window.partitionBy(*keys).orderBy("bucket_us")
    out = resampled.select(*keys, "bucket_us", F.col(value_col).alias("v"))
    for n in lags:
        out = out.withColumn(
            f"lag_{n}", F.lag("v", n).over(w).cast("long")
        )
    wm = w.rowsBetween(-(ma_window - 1), 0)
    out = out.withColumn(
        "_ms", F.sum("v").over(wm).cast("long")
    ).withColumn("_mn", F.count(F.lit(1)).over(wm).cast("long"))
    out = out.withColumn(
        f"ma_{ma_window}", F.expr("_ms div _mn").cast("long")
    ).drop("_ms", "_mn")
    return out.withColumn("target", F.lead("v", 1).over(w).cast("long"))


def burstiness(
    resampled: DataFrame,
    step_us: int,
    keys: list[str],
) -> DataFrame:
    """Index of dispersion (Fano factor) of per-bucket event counts:
    var(n)/mean(n) over each key's DENSIFIED bucket grid — ~1 for a
    Poisson arrival process, >>1 for bursty traffic (bot storms, retry
    loops), <1 for throttled/regular traffic. The standard first look a
    stream operator takes at arrival shape before sizing state stores
    and watermarks.

    Densification matters: silent buckets are real zeros, and skipping
    them (as a plain groupBy would) deflates variance exactly where
    burstiness lives. Reuses :func:`gap_fill` (distributed grid, one
    left join), then one tiny per-key moment agg; the final division is
    the repo's fixed-parenthesization IEEE idiom over exact BIGINTs.

    Output: (keys..., n_buckets, total, fano) — fano NULL for keys with
    a single bucket or zero mean.
    """
    dense = gap_fill(resampled, step_us, keys)
    st = dense.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.sum("n").cast("long").alias("total"),
        F.sum(F.col("n") * F.col("n")).cast("long").alias("_s2"),
    )
    var = (
        F.col("_s2") - F.col("total") * (F.col("total") / F.col("n_buckets"))
    ) / (F.col("n_buckets") - 1)
    mean = F.col("total") / F.col("n_buckets")
    return st.select(
        *keys,
        "n_buckets",
        "total",
        F.when(
            (F.col("n_buckets") > 1) & (F.col("total") > 0),
            F.round(var / mean, 4),
        ).alias("fano"),
    )


class RollupLadder:
    """Hypertable-style continuous-aggregate ladder: one committed table
    per resolution tier (e.g. hour → day → week), the finest tier merged
    from each micro-batch and every coarser tier folded ONLY from closed
    buckets of the tier beneath it — the TimescaleDB/Druid rollup shape
    re-expressed over exactly-once IcebergLite tables.

    Why a ladder instead of one windowed aggregate: at 10^12 rows a
    dashboard's month-long range scan must not touch raw data, and a
    coarse tier folded from the finer tier costs O(buckets), not O(rows)
    — each row is aggregated exactly once at the finest resolution, and
    every higher tier is built from ~step-ratio× fewer rows.

    Late data: rather than dropping rows whose coarse buckets already
    folded (the lossy fold-once policy), late rows merge into the finest
    tier normally and mark their coarse buckets DIRTY; the batch re-folds
    dirty buckets from the (staged) finer tier and PK-upserts them — the
    invalidation-log design of continuous aggregates. All tiers therefore
    stay exact for ALL arrived data at every commit; nothing is lost.

    Exactly-once: every tier plus the per-tier fold watermark advance in
    ONE MultiTableTransaction per batch (replayed batch ids are committed
    no-ops). Sums ride as exact BIGINTs (quantize upstream), so ladder
    contents are bit-identical to a from-scratch aggregation regardless
    of batching/arrival order — which is exactly what the oracle checks.

    At 100 TB: the finest-tier merge shuffles per-batch rows once on
    bucket ids; fold inputs are bucket-range scans of the tier below
    (partition-prunable); the only driver-side values are bucket
    boundaries and the small distinct dirty-bucket list (commit
    coordination, not data).
    """

    def __init__(
        self,
        catalog,
        tiers: list[tuple[str, int]],
        meta: str = "rollup_meta",
    ) -> None:
        if sorted(tiers, key=lambda t: t[1]) != tiers:
            raise ValueError("tiers must be ascending by step_us")
        for (_, a), (_, b) in zip(tiers, tiers[1:]):
            if b % a:
                raise ValueError("each tier step must divide the next")
        self.catalog = catalog
        self.tiers = tiers
        self.meta = meta

    # -- committed state ------------------------------------------------------

    def fold_his(self, spark) -> dict[str, int]:
        """Per-tier fold watermark (buckets strictly below are folded)."""
        try:
            rows = self.catalog.read(spark, self.meta).collect()
        except FileNotFoundError:
            return {}
        return {r["tier"]: r["fold_hi_us"] for r in rows}

    # -- merge ----------------------------------------------------------------

    def apply_batch(
        self, df: DataFrame, batch_id: str, wm_us: int
    ) -> bool:
        """Fold one micro-batch (columns ``ts_us`` BIGINT, ``v`` BIGINT)
        into every tier. Idempotent per batch_id."""
        spark = df.sparkSession
        txn_id = f"rollup:{self.meta}:{batch_id}"
        if txn_id in self.catalog.committed_txns():
            return False
        prev = self.fold_his(spark)
        txn = self.catalog.transaction(txn_id)

        name0, step0 = self.tiers[0]
        b0 = (F.col("ts_us") - F.col("ts_us") % F.lit(step0)).alias(
            "bucket_us"
        )
        batch0 = df.groupBy(b0).agg(
            F.count(F.lit(1)).alias("n"), F.sum("v").alias("s")
        )
        try:
            cur = self.catalog.read(spark, name0).select(
                "bucket_us",
                F.col("n").alias("_n0"),
                F.col("s").alias("_s0"),
            )
        except FileNotFoundError:
            cur = None
        if cur is not None:
            batch0 = (
                batch0.join(cur, "bucket_us", "left")
                .select(
                    "bucket_us",
                    (F.col("n") + F.coalesce(F.col("_n0"), F.lit(0)))
                    .alias("n"),
                    (F.col("s") + F.coalesce(F.col("_s0"), F.lit(0)))
                    .alias("s"),
                )
            )
        txn.upsert(name0, batch0)

        # the batch's distinct buckets per coarser tier — the dirty set
        # candidates (small: bounded by the batch's time spread, not rows)
        meta_rows = []
        for k in range(1, len(self.tiers)):
            name, step = self.tiers[k]
            fname, _ = self.tiers[k - 1]
            prev_hi = prev.get(name)
            new_hi = max(
                wm_us - wm_us % step,
                prev_hi if prev_hi is not None else -(1 << 62),
            )
            dirty = [
                r["b"]
                for r in df.select(
                    (F.col("ts_us") - F.col("ts_us") % F.lit(step))
                    .alias("b")
                )
                .where(
                    F.col("b") < F.lit(prev_hi if prev_hi is not None
                                       else -(1 << 62))
                )
                .distinct()
                .collect()
            ]
            lo = prev_hi if prev_hi is not None else -(1 << 62)
            fine = txn.read(spark, fname).withColumn(
                "bucket_k",
                F.col("bucket_us") - F.col("bucket_us") % F.lit(step),
            )
            cond = (F.col("bucket_k") >= F.lit(lo)) & (
                F.col("bucket_k") < F.lit(new_hi)
            )
            if dirty:
                cond = cond | F.col("bucket_k").isin(dirty)
            folded = (
                fine.where(cond)
                .groupBy(F.col("bucket_k").alias("bucket_us"))
                .agg(F.sum("n").alias("n"), F.sum("s").alias("s"))
            )
            txn.upsert(name, folded)
            meta_rows.append((name, new_hi))
        if meta_rows:
            txn.upsert(
                self.meta,
                spark.createDataFrame(
                    meta_rows, "tier string, fold_hi_us long"
                ),
            )
        return txn.commit()

    # -- reads ----------------------------------------------------------------

    def read(self, spark, tier: str) -> DataFrame:
        return self.catalog.read(spark, tier)
