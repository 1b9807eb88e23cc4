"""Text-analysis operators for the training-data pipeline surface.

Beyond the reference's ingest semantics (it has no text functions at all —
its only 'functions' are scalar casts, DeserializedSchema.java:157-171), a
100 TB transcript/document engine needs language-ID, quality scoring, token
counting and fingerprinting. Everything here is a pure ``pyspark.sql.functions``
column expression — JVM-side, whole-stage-codegen'd, zero Python in the hot
path — and each has a DuckDB-runnable ANSI-SQL mirror in ``__spark_entry__``
so the driver's oracle gate can verify it value-for-value.

Determinism notes (parity-critical):
  * normalization uses explicit char classes ``[^a-z0-9 ]`` / ``" +"`` — no
    \\s shorthand, so Java-regex (Spark) and RE2 (DuckDB) agree byte-for-byte;
  * hashes derive from md5 hex prefixes (identical in every engine) rather
    than engine-native hash();
  * ratios are rounded to fixed decimals before they leave the operator.

At scale: all ops are embarrassingly parallel (no shuffle); the only scan
cost is the text column itself, so column pruning keeps everything else out
of the read path.
"""

from __future__ import annotations

from pyspark.sql import Column, Window
from pyspark.sql import functions as F

# Marker stopwords per language for the n-gram/marker heuristic language ID.
# Tie-break order is the list order (first wins).
LANG_MARKERS: list[tuple[str, list[str]]] = [
    ("en", ["the", "a", "of", "to", "and", "is", "in", "that"]),
    ("de", ["der", "die", "das", "und", "ist", "nicht", "ein", "zu"]),
    ("fr", ["le", "la", "les", "et", "est", "un", "une", "que"]),
    ("es", ["el", "los", "las", "es", "un", "una", "que", "y"]),
    ("zh", ["de", "shi", "le", "wo", "ni", "ta", "zai", "bu"]),
]

STOPWORDS = ["the", "a", "of", "to", "and", "is", "in", "on", "for", "with"]

# BPE-ish pre-tokenizer: letter runs | digit runs | single non-alnum-non-space
TOKEN_PATTERN = "[a-z]+|[0-9]+|[^a-z0-9 ]"


def norm_text(c: Column) -> Column:
    """Lowercase, strip non-alphanumerics, collapse runs of spaces, trim."""
    return F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(c), "[^a-z0-9 ]", " "), " +", " "
        )
    )


def hash64(c: Column) -> Column:
    """Engine-portable 60-bit hash: int(md5(s)[0:15], 16). Matches
    DuckDB ``CAST(concat('0x', substr(md5(s),1,15)) AS BIGINT)``."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def hash32(c: Column) -> Column:
    """Engine-portable 32-bit hash: int(md5(s)[0:8], 16)."""
    return F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long")


def tokens(c: Column) -> Column:
    """Whitespace tokens of the normalized text (array<string>)."""
    n = norm_text(c)
    return F.when(n == "", F.array().cast("array<string>")).otherwise(
        F.split(n, " ")
    )


def n_tokens(c: Column) -> Column:
    return F.size(tokens(c)).cast("long")


def bpe_token_count(c: Column) -> Column:
    """BPE-ish subword count: regex pre-tokenization over the lowered text."""
    return F.size(
        F.regexp_extract_all(F.lower(c), F.lit(TOKEN_PATTERN), 0)
    ).cast("long")


def _idiv(a: Column, b: Column) -> Column:
    """Exact integer division on longs without F.expr: (a - a mod b) / b.

    The subtraction makes the numerator an exact multiple, so the double
    division is exact (results stay far below 2^53). Returns 0 when b <= 0.
    Engine-portable equivalent of DuckDB's ``//`` for non-negative inputs.
    """
    return (
        F.when(b > 0, (a - F.pmod(a, b)) / b).otherwise(F.lit(0)).cast("long")
    )


def stopword_ppm(c: Column) -> Column:
    """Stopword ratio in exact parts-per-million (integer, portable)."""
    t = tokens(c)
    sw = F.size(F.filter(t, lambda x: x.isin(*STOPWORDS))).cast("long")
    return _idiv(sw * 1_000_000, F.size(t).cast("long"))


def alpha_ppm(c: Column) -> Column:
    letters = (
        F.length(c) - F.length(F.regexp_replace(c, "[a-zA-Z]", ""))
    ).cast("long")
    return _idiv(letters * 1_000_000, F.length(c).cast("long"))


def avg_word_len_ppm(c: Column) -> Column:
    n = norm_text(c)
    k = F.size(tokens(c)).cast("long")
    return _idiv((F.length(n) - (k - F.lit(1))) * 1_000_000, k)


def quality_ppm(c: Column) -> Column:
    """Composite quality in ppm: 0.4·len-score + 0.3·stopword + 0.3·alpha,
    all in exact integer arithmetic (mirrors the oracle bit-for-bit)."""
    t = tokens(c)
    sw = F.size(F.filter(t, lambda x: x.isin(*STOPWORDS))).cast("long")
    letters = (
        F.length(c) - F.length(F.regexp_replace(c, "[a-zA-Z]", ""))
    ).cast("long")
    len_part = F.lit(800) * F.least(F.length(c).cast("long"), F.lit(500))
    return (
        len_part
        + _idiv(sw * 300_000, F.size(t).cast("long"))
        + _idiv(letters * 300_000, F.length(c).cast("long"))
    ).cast("long")


def lang_scores(c: Column) -> list[Column]:
    """Marker-hit count per language, in LANG_MARKERS order."""
    t = tokens(c)
    return [
        F.size(F.filter(t, lambda x: x.isin(*markers))).alias(f"s_{lang}")
        for lang, markers in LANG_MARKERS
    ]


def lang_id(c: Column) -> Column:
    """Predicted language = argmax marker count, first-listed wins ties."""
    scores = lang_scores(c)
    best = F.greatest(*scores)
    out: Column = F.lit("und")
    # build the CASE from last to first so earlier languages win ties
    for (lang, _), s in reversed(list(zip(LANG_MARKERS, scores))):
        out = F.when((best > 0) & (s == best), F.lit(lang)).otherwise(out)
    return out


def repetition_token_ppm(c: Column) -> Column:
    """Duplicate-token fraction in ppm: (k − distinct)·10^6 div k.

    High values flag boilerplate/spam (Gopher-style repetition rule)."""
    t = tokens(c)
    k = F.size(t).cast("long")
    d = F.size(F.array_distinct(t)).cast("long")
    return _idiv((k - d) * 1_000_000, k)


def bigrams(c: Column) -> Column:
    """Adjacent-token bigram array of the normalized text (column-generic:
    zip of the token array with its own tail, no per-row SQL strings)."""
    t = tokens(c)
    k = F.size(t)
    return F.when(k < 2, F.array().cast("array<string>")).otherwise(
        F.zip_with(
            F.slice(t, 1, k - 1),
            F.slice(t, 2, k - 1),
            lambda a, b: F.concat_ws(" ", a, b),
        )
    )


def top_bigram_ppm(c: Column) -> Column:
    """Most-frequent-bigram share in ppm: max bigram count ·10^6 div (k−1).

    Declarative max-count: sort the bigram array, then the longest equal run
    via aggregate — stays in codegen, no explode/shuffle per doc.
    """
    bg = F.array_sort(bigrams(c))
    n = F.size(bg).cast("long")
    # fold: acc = (prev, run, best); arrays sorted so equal values adjacent
    best = F.aggregate(
        bg,
        F.struct(
            F.lit("").alias("prev"),
            F.lit(0).cast("long").alias("run"),
            F.lit(0).cast("long").alias("best"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1)
            .otherwise(F.lit(1).cast("long"))
            .alias("run"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(
                    F.lit(1).cast("long")
                ),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    return _idiv(best * 1_000_000, n)


def gopher_flags(c: Column) -> list[Column]:
    """Gopher-style corpus-quality rule flags (per Rae et al. 2021-style
    heuristics, public): each is an independent boolean column; the
    composite keep/drop decision is their conjunction.

    All exact integer/boolean arithmetic — oracle-portable.
    """
    t = tokens(c)
    k = F.size(t).cast("long")
    n = norm_text(c)
    # mean word length in deci-chars (exact): (len(n)-(k-1))*10 div k
    awl10 = _idiv((F.length(n) - (k - F.lit(1))) * 10, k)
    letters = (
        F.length(c) - F.length(F.regexp_replace(c, "[a-zA-Z]", ""))
    ).cast("long")
    alpha_pm = _idiv(letters * 1000, F.length(c).cast("long"))
    sw = F.size(F.filter(t, lambda x: x.isin(*STOPWORDS))).cast("long")
    return [
        (k >= 5).alias("ok_min_words"),
        (k <= 100_000).alias("ok_max_words"),
        ((awl10 >= 30) & (awl10 <= 100)).alias("ok_word_len"),
        (alpha_pm >= 600).alias("ok_alpha_ratio"),
        (sw >= 1).alias("ok_has_stopword"),
    ]


def gopher_keep(c: Column) -> Column:
    """Composite Gopher-rules keep decision (AND of all flags)."""
    flags = gopher_flags(c)
    out = flags[0]
    for f in flags[1:]:
        out = out & f
    return out.alias("keep")


def hash_bucket(c: Column, buckets: int = 1000) -> Column:
    """Deterministic, engine-portable bucket in [0, buckets) from the md5 of
    a key — the primitive under reproducible sampling and dataset splits
    (same row always lands in the same bucket, on any engine, any run)."""
    return hash32(c) % buckets


def deterministic_sample(c: Column, keep_per_mille: int) -> Column:
    """Keep-predicate for a reproducible ~keep_per_mille/1000 sample."""
    return hash_bucket(c, 1000) < keep_per_mille


def dataset_split(c: Column, val_per_mille: int = 100, test_per_mille: int = 100) -> Column:
    """train/val/test assignment by hash range (default 80/10/10)."""
    b = hash_bucket(c, 1000)
    return (
        F.when(b < val_per_mille, F.lit("val"))
        .when(b < val_per_mille + test_per_mille, F.lit("test"))
        .otherwise(F.lit("train"))
    )


def mixture_sample(
    df,
    source_col: str,
    parts: dict[str, int],
    id_col: str = "doc_id",
):
    """Weighted source mixing for training-corpus assembly.

    Given per-source target proportions as integer PARTS (e.g. 8:4:2:2),
    take the LARGEST corpus whose composition matches them exactly
    without replacement: M = min_s floor(n_s / parts_s) and each source
    contributes k_s = parts_s * M rows, chosen by deterministic md5 rank
    (reproducible on any engine, any run — the curriculum-mixing
    analogue of dataset_split). Integer parts keep the quota arithmetic
    exact — no float-boundary floor() ambiguity between engines.

    Scale shape: one tiny per-source count aggregate (|sources| rows —
    broadcast back), then a rank window partitioned by source ordered by
    the md5 of the id. No global sort; the window shuffle is keyed on
    source, and since every row already carries a uniform hash the skew
    of a dominant source is bounded by that source's own size (at 100 TB
    swap the exact rank for a hash-threshold filter at per-source rate
    k_s/n_s ± one count pass — same plan minus the window).

    Sources absent from `parts` are dropped. Returns the input rows
    (filtered) plus `mix_rank` for audit.
    """
    w = F.create_map(
        *[F.lit(x) for kv in parts.items() for x in kv]
    )
    counts = (
        df.where(F.col(source_col).isin(list(parts)))
        .groupBy(source_col)
        .agg(F.count(F.lit(1)).alias("n_s"))
        .withColumn("w_s", w[F.col(source_col)].cast("long"))
    )
    # M = min over sources of floor(n_s / parts_s) — all-BIGINT math;
    # a 1-row aggregate cross-joined back onto the tiny counts relation
    # (both sides are |sources| rows or less — broadcast, no exchange).
    m = counts.agg(
        F.min(F.floor(F.col("n_s") / F.col("w_s"))).alias("m")
    )
    quota = counts.crossJoin(F.broadcast(m)).select(
        source_col, (F.col("w_s") * F.col("m")).alias("k_s")
    )
    ranked = df.withColumn(
        "mix_rank",
        F.row_number().over(
            Window.partitionBy(source_col).orderBy(
                F.md5(F.col(id_col).cast("string")), F.col(id_col)
            )
        ),
    )
    return ranked.join(F.broadcast(quota), source_col).where(
        F.col("mix_rank") <= F.col("k_s")
    ).drop("k_s")


def fingerprint(c: Column) -> Column:
    """64-bit content fingerprint: md5 prefix of the normalized text.

    Exact-dedup key: two documents with the same normalized content collide
    with ~2^-64 false-positive probability; grouping on it is one shuffle.
    """
    return F.substring(F.md5(norm_text(c)), 1, 16)


# --------------------------------------------------------------- PII scrub

# Pattern order matters: emails first (their local/domain parts contain
# digit runs a later pattern could half-match), then IPv4, then phones.
# Only syntax shared verbatim by Java regex (Spark) and RE2 (DuckDB) —
# explicit classes and bounded repetition, no lookaround.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}", "<EMAIL>"),
    (
        "ip",
        "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b",
        "<IP>",
    ),
    ("phone", "\\b[0-9]{3}-[0-9]{3,4}-[0-9]{4}\\b", "<PHONE>"),
]


def pii_counts(c: Column) -> list[Column]:
    """Per-kind PII match counts (computed on the RAW text, pre-redaction).

    JVM regexp_count — codegen'd, zero Python. DuckDB mirror:
    ``len(regexp_extract_all(text, pattern))``.
    """
    return [
        F.regexp_count(c, F.lit(pat)).cast("long").alias(f"n_{name}")
        for name, pat, _ in PII_PATTERNS
    ]


def redact_pii(c: Column) -> Column:
    """Replace every PII match with its typed placeholder, in PII_PATTERNS
    order. A training-corpus scrub this shape runs as a single codegen'd
    projection — no shuffle, no Python; the only cost is the text scan."""
    out = c
    for _, pat, repl in PII_PATTERNS:
        out = F.regexp_replace(out, pat, repl)
    return out


# ------------------------------------------------------------- chunking


def chunk_documents(
    docs,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 64,
    overlap: int = 16,
):
    """Split each document into overlapping token-window chunks for
    context-window-bounded training: starts at 0, step (chunk_tokens -
    overlap), one output row per chunk with a portable content hash.

    Embarrassingly parallel — sequence() + explode inside one codegen'd
    stage, no shuffle; output rows carry a 64-bit hash instead of the
    chunk text so downstream exact-dedup of chunks shuffles short keys.
    Empty documents produce zero chunks.
    """
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be < chunk_tokens")
    step = chunk_tokens - overlap
    d = docs.withColumn("_n", norm_text(F.col(text_col))).withColumn(
        "_toks",
        F.when(F.col("_n") == "", F.array().cast("array<string>")).otherwise(
            F.split(F.col("_n"), " ")
        ),
    )
    k = F.size(F.col("_toks"))
    starts = F.when(
        k > 0, F.sequence(F.lit(0), k - 1, F.lit(step))
    ).otherwise(F.array().cast("array<int>"))
    return (
        d.select(
            F.col(id_col),
            F.col("_toks"),
            k.alias("_k"),
            F.explode(starts).alias("chunk_start"),
        )
        .select(
            F.col(id_col),
            (F.col("chunk_start") / step).cast("long").alias("chunk_idx"),
            F.col("chunk_start").cast("long").alias("chunk_start"),
            F.least(F.lit(chunk_tokens), F.col("_k") - F.col("chunk_start"))
            .cast("long")
            .alias("chunk_len"),
            F.substring(
                F.md5(
                    F.array_join(
                        F.slice(
                            F.col("_toks"),
                            F.col("chunk_start") + 1,
                            F.lit(chunk_tokens),
                        ),
                        " ",
                    )
                ),
                1,
                16,
            ).alias("chunk_hash"),
        )
    )


def bpe_pair_counts(
    docs: DataFrame,
    text_col: str = "text",
    top_k: int = 50,
) -> DataFrame:
    """One BPE merge-round statistic: corpus-weighted adjacent character
    pair counts over the word-frequency dictionary (the quantity a BPE
    trainer maximizes each merge — Sennrich et al. 2016, "Neural Machine
    Translation of Rare Words with Subword Units").

    Exactly how real BPE trainers scale: counts run over the DISTINCT-word
    frequency table, not raw text — the first aggregation collapses the
    corpus to its vocabulary (map-side combined; the shuffle carries one
    row per distinct word per partition at most), and the pair explosion
    touches each vocabulary entry once regardless of corpus size. The
    second aggregation lands on ≤ |alphabet|² keys. Top-k is
    orderBy+limit = per-partition TakeOrdered, no global sort.
    """
    words = docs.select(
        F.explode(
            F.split(F.lower(F.col(text_col)), "[^a-z]+")
        ).alias("w")
    ).where(F.length("w") >= 2)
    wf = words.groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
    pairs = wf.select(
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1),"
                   " i -> substring(w, i, 2))")
        ).alias("pair"),
        "cnt",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("cnt").alias("pair_count"))
        .orderBy(F.desc("pair_count"), "pair")
        .limit(top_k)
    )


def bigram_lm_scores(
    docs: DataFrame,
    text_col: str = "text",
    doc_id_col: str = "doc_id",
) -> DataFrame:
    """Per-document add-one-smoothed bigram language-model score — the
    classic cheap perplexity filter for training-data quality (docs whose
    token transitions are improbable under the corpus's own bigram model
    are boilerplate/garbled/not-prose candidates).

    score(d) = mean over adjacent token pairs of
               ln((c(w1,w2) + 1) / (c(w1) + V))

    Engine-exactness: each log-prob is rounded to integer NANO-lns
    (round(ln(p)*1e9) as BIGINT) before the per-doc sum, so aggregation is
    order-free exact integer math; the mean is the single final float op.

    Shuffle shape: bigrams come from array positions (transform over the
    token array — no per-doc window, no per-doc shuffle); two count
    aggregations (unigram, bigram — both map-side combined, keyed on the
    vocabulary not the corpus); one join of bigram occurrences to counts.
    At 100 TB the count tables are vocabulary-sized — broadcast candidates;
    the occurrence join is the only corpus-sized exchange.
    """
    arr = F.filter(
        F.split(F.lower(F.col(text_col)), "[^a-z]+"), lambda x: x != ""
    )
    d = docs.select(F.col(doc_id_col).alias("doc_id"), arr.alias("_t"))
    uni = (
        d.select(F.explode("_t").alias("w1"))
        .groupBy("w1")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    vocab = uni.agg(F.count(F.lit(1)).alias("v"))
    # size >= 2 guard: Spark's sequence(1, 0) DESCENDS ([1, 0]), which
    # would index _t[-1] on single-token docs; docs without a bigram
    # simply emit no row (callers left-join if they need every doc)
    pairs = (
        d.where(F.size("_t") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(_t) - 1),"
                    " i -> struct(_t[i-1] AS w1, _t[i] AS w2))"
                )
            ).alias("p"),
        )
        .select("doc_id", "p.w1", "p.w2")
    )
    big = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    scored = (
        pairs.join(big, ["w1", "w2"])
        .join(uni, ["w1"])
        .crossJoin(F.broadcast(vocab))
        .withColumn(
            "lp_nano",
            F.round(
                F.log(
                    (F.col("c2") + 1).cast("double")
                    / (F.col("c1") + F.col("v")).cast("double")
                )
                * 1e9
            ).cast("long"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(
            (F.sum("lp_nano") / 1e9) / F.count(F.lit(1)), 6
        ).alias("lm_score"),
    )


def seq_poisson_sample(
    df: "DataFrame",
    weight_col: str,
    k: int,
    id_col: str = "doc_id",
) -> "DataFrame":
    """Weighted sampling without replacement via sequential Poisson
    sampling (Ohlsson 1998): each row gets priority u_i / w_i where u_i is
    a per-row uniform and w_i its weight; the k smallest priorities form a
    (approximately) probability-proportional-to-size sample — the standard
    one-pass weighted sampler for corpus subsetting.

    Determinism (parity-critical): u_i comes from a Lehmer/Park-Miller
    step on the row id — ((id * 2654435761 + 12345) mod 2147483647 + 1)
    / 2^31 — pure 64-bit integer arithmetic plus ONE exact dyadic
    division, identical in every engine; no engine-native rand()/hash().

    Scale shape: the priority is a row-local expression (no shuffle); the
    global top-k is Spark's per-partition TakeOrdered + driver merge of k
    candidates per partition — no global sort materialisation. O(rows)
    scan, O(k) result.
    """
    idc = F.col(id_col).cast("long")
    u_num = (idc * F.lit(2654435761) + F.lit(12345)) % F.lit(
        2147483647
    ) + F.lit(1)
    # exact dyadic: numerator < 2^31 over 2^31 — representable, no rounding
    u = u_num.cast("double") / F.lit(2147483648.0)
    pri = u / F.col(weight_col).cast("double")
    return (
        df.select(
            F.col(id_col),
            F.col(weight_col),
            pri.alias("priority"),
        )
        .orderBy("priority", id_col)
        .limit(int(k))
    )


def source_entropy(
    docs: "DataFrame",
    group_col: str = "source",
    text_col: str = "text",
) -> "DataFrame":
    """Per-group Shannon token entropy — the corpus-diversity metric
    (low-entropy sources are template/boilerplate farms; entropy drops
    are the first symptom of a scraper stuck in a loop):

        H = ln(N) - (1/N) * sum_w c_w * ln(c_w)     (nats)

    Engine-exactness via the bigram_lm nano-ln idiom: each ln(c) is
    rounded to integer nano-nats BEFORE the sum, so the aggregation is
    order-free exact BIGINT math; ln(N) and one division are the only
    final floats.

    Shuffle shape: one (group, token) count aggregation (map-side
    combined, vocabulary-sized keys), one per-group rollup. No windows,
    no joins.
    """
    arr = F.filter(
        F.split(F.lower(F.col(text_col)), "[^a-z]+"), lambda x: x != ""
    )
    toks = docs.select(
        F.col(group_col), F.explode(arr).alias("w")
    )
    counts = toks.groupBy(group_col, "w").agg(
        F.count(F.lit(1)).alias("c")
    )
    cln = (
        F.col("c")
        * F.round(F.log(F.col("c")) * 1e9).cast("long")
    )
    agg = counts.groupBy(group_col).agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("distinct_tokens"),
        F.sum(cln).alias("_s_nano"),
    )
    return agg.select(
        group_col,
        "n_tokens",
        "distinct_tokens",
        F.round(
            F.log(F.col("n_tokens"))
            - (F.col("_s_nano") / 1e9) / F.col("n_tokens"),
            6,
        ).alias("entropy"),
    )


def zipf_fit(docs: DataFrame, top_n: int = 100, text_col: str = "text") -> DataFrame:
    """Zipf's-law fit over corpus token frequencies: least-squares slope of
    ln(freq) on ln(rank) for the ``top_n`` most frequent tokens (a healthy
    natural-language corpus fits slope ≈ −1; boilerplate/spam corpora bend
    it — a standard corpus-health diagnostic next to token_entropy).

    Numeric parity: ln(rank)/ln(freq) are quantized to micro-units
    (round(ln·1e6) BIGINT) and the regression is computed from EXACT
    integer moment sums (Σx, Σy, Σxy, Σxx fit comfortably in BIGINT at
    top_n ≤ 1e4) — one double expression at the end, identical on both
    engines; slope/intercept rounded to 6 dp.

    Scale shape: token counting is one hash aggregation (map-side partial);
    top-n is TakeOrderedAndProject (no global sort); the regression runs
    over top_n rows. Output: single row (n_fit, slope, intercept).
    """
    toks = docs.select(F.explode(tokens(F.col(text_col))).alias("token")).where(
        F.col("token") != ""
    )
    counts = toks.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
    ranked = (
        counts.orderBy(F.col("n").desc(), F.col("token"))
        .limit(int(top_n))
        .select(
            F.row_number()
            .over(Window.orderBy(F.col("n").desc(), F.col("token")))
            .alias("rank"),
            "n",
        )
    )
    x = F.round(F.log(F.col("rank").cast("double")) * 1e6).cast("long")
    y = F.round(F.log(F.col("n").cast("double")) * 1e6).cast("long")
    m = ranked.agg(
        F.count(F.lit(1)).alias("n_fit"),
        F.sum(x).alias("_sx"),
        F.sum(y).alias("_sy"),
        F.sum(x * y).alias("_sxy"),
        F.sum(x * x).alias("_sxx"),
    )
    n = F.col("n_fit").cast("double")
    sx = F.col("_sx") / 1e6
    sy = F.col("_sy") / 1e6
    sxy = F.col("_sxy") / 1e12
    sxx = F.col("_sxx") / 1e12
    slope = (sxy - sx * sy / n) / (sxx - sx * sx / n)
    return m.select(
        "n_fit",
        F.round(slope, 6).alias("slope"),
        F.round((sy - slope * sx) / n, 6).alias("intercept"),
    )


def ngram_novelty(
    docs: DataFrame,
    n: int = 3,
    text_col: str = "text",
    by: str = "source",
) -> DataFrame:
    """Per-``by``-group n-gram novelty: of each group's distinct
    (doc, word-n-gram) incidences, the fraction whose n-gram appears in
    exactly ONE document corpus-wide. High novelty = genuinely fresh
    text; low novelty = boilerplate / template / near-dup mass that
    exact-dedup missed (the gram-level cousin of dedup_rate_by_source,
    and the curation dashboard's "how templated is this domain" row).

    Shape (100 TB): explode per-doc DISTINCT n-grams (dedup inside the
    doc first — one (doc, gram) distinct, map-side combinable), then a
    count window partitioned by gram (hash exchange on the gram key —
    never a join, so no sort-merge risk), then a group-sized final agg.
    Gram keys are md5-free raw strings; at 10^12 docs you'd substitute
    hash64(gram) to shrink the exchange — semantics identical.

    Output: (source, n_incidences, n_unique, novelty_ppm) — exact
    BIGINTs, one integer div.
    """
    t = tokens(F.col(text_col))
    gram_expr = (
        f"CASE WHEN size(t) < {n} THEN cast(array() AS array<string>) "
        f"ELSE transform(sequence(1, size(t) - {n - 1}), "
        f"i -> array_join(slice(t, i, {n}), ' ')) END"
    )
    pairs = (
        docs.select(F.col("doc_id"), F.col(by), t.alias("t"))
        .select("doc_id", by, F.explode(F.expr(gram_expr)).alias("gram"))
        .distinct()
    )
    dfreq = F.count(F.lit(1)).over(Window.partitionBy("gram"))
    flagged = pairs.select(by, (dfreq == 1).alias("uniq"))
    return (
        flagged.groupBy(by)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_incidences"),
            F.sum(F.col("uniq").cast("long")).cast("long").alias("n_unique"),
        )
        .select(
            by,
            "n_incidences",
            "n_unique",
            F.expr("n_unique * 1000000 div n_incidences")
            .cast("long")
            .alias("novelty_ppm"),
        )
    )


def source_vocab_overlap(docs: DataFrame) -> DataFrame:
    """Pairwise vocabulary Jaccard between sources: how much two slices of
    a corpus share their token vocabulary — the standard first look at
    domain overlap before choosing mixture weights (near-1 pairs are
    near-duplicate feeds; near-0 pairs are genuinely distinct domains).

    Exact integer counts + one final double division — no float sums, so
    the DuckDB oracle matches bit-for-bit.

    Scale shape: one distinct (source, token) shuffle (the corpus scan);
    the token self-join fans out at most |sources|² rows PER TOKEN (a
    universal stopword costs C(20,2)=190 rows, not |corpus|²), and the
    per-source vocabulary sizes broadcast. Output: one row per source
    pair (source_a < source_b) with intersection, union, jaccard.
    """
    v = (
        docs.select("source", F.explode(tokens(F.col("text"))).alias("token"))
        .where(F.col("token") != "")
        .distinct()
    )
    sizes = v.groupBy("source").agg(F.count(F.lit(1)).alias("n_vocab"))
    a, b = v.alias("a"), v.hint("shuffle_hash").alias("b")
    inter = (
        a.join(b, F.col("a.token") == F.col("b.token"))
        .where(F.col("a.source") < F.col("b.source"))
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = F.broadcast(sizes.select(F.col("source").alias("source_a"), F.col("n_vocab").alias("_na")))
    sb = F.broadcast(sizes.select(F.col("source").alias("source_b"), F.col("n_vocab").alias("_nb")))
    return (
        inter.join(sa, "source_a")
        .join(sb, "source_b")
        .select(
            "source_a",
            "source_b",
            "n_inter",
            (F.col("_na") + F.col("_nb") - F.col("n_inter")).alias("n_union"),
            F.round(
                F.col("n_inter")
                / (F.col("_na") + F.col("_nb") - F.col("n_inter")),
                6,
            ).alias("jaccard"),
        )
    )


def source_js_divergence(docs: "DataFrame") -> "DataFrame":
    """Pairwise Jensen-Shannon divergence between source token
    DISTRIBUTIONS — the mixture-weighting complement to
    :func:`source_vocab_overlap`: vocabulary Jaccard sees only supports,
    JS sees how differently two sources USE a shared vocabulary
    (0 = identical usage, ln 2 = disjoint). The standard similarity
    input for corpus mixing and duplicated-feed detection.

    Decomposition that keeps the big relation small: with per-source
    token counts a_w (total N_a) and b_w (total N_b),

        KL(P‖M) = (1/N_a)·[ Σ_{w∈A∩B} a_w·ln(2·a_w·N_b /
                            (a_w·N_b + b_w·N_a))  +  ln2·(N_a − Σ_{A∩B} a_w) ]

    — tokens private to one source contribute exactly ln2·mass, so ONLY
    the intersection join is materialized (same |sources|²-per-token
    bound as vocab_overlap); JS = (KL(P‖M) + KL(Q‖M))/2.

    Engine-exactness: each per-token ln is quantized to integer
    nano-nats BEFORE the weighted sum (the bigram_lm/source_entropy
    idiom), totals are exact BIGINTs, and the only floats are the final
    two divisions — the DuckDB oracle replays the identical quantized
    arithmetic. Scale shape: one (source, token) count shuffle, one
    token-keyed pair join, per-source totals broadcast.

    Output: (source_a, source_b, js_nats) with source_a < source_b.
    """
    c = (
        docs.select("source", F.explode(tokens(F.col("text"))).alias("w"))
        .where(F.col("w") != "")
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    totals = c.groupBy("source").agg(F.sum("c").alias("n"))
    a, b = c.alias("a"), c.hint("shuffle_hash").alias("b")
    pairs = (
        a.join(b, F.col("a.w") == F.col("b.w"))
        .where(F.col("a.source") < F.col("b.source"))
        .select(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
            F.col("a.c").alias("ca"),
            F.col("b.c").alias("cb"),
        )
    )
    ta = F.broadcast(
        totals.select(F.col("source").alias("source_a"), F.col("n").alias("na"))
    )
    tb = F.broadcast(
        totals.select(F.col("source").alias("source_b"), F.col("n").alias("nb"))
    )
    j = pairs.join(ta, "source_a").join(tb, "source_b")
    # nano-nat quantized per-token logs, weighted by exact counts
    ln_a = F.round(
        F.log(
            (F.lit(2) * F.col("ca") * F.col("nb"))
            / (F.col("ca") * F.col("nb") + F.col("cb") * F.col("na"))
        )
        * 1e9
    ).cast("long")
    ln_b = F.round(
        F.log(
            (F.lit(2) * F.col("cb") * F.col("na"))
            / (F.col("ca") * F.col("nb") + F.col("cb") * F.col("na"))
        )
        * 1e9
    ).cast("long")
    agg = j.groupBy("source_a", "source_b").agg(
        F.sum(F.col("ca") * ln_a).alias("sa_nano"),
        F.sum(F.col("cb") * ln_b).alias("sb_nano"),
        F.sum("ca").alias("inter_a"),
        F.sum("cb").alias("inter_b"),
    )
    # vocabulary-disjoint pairs never reach the intersection join but have
    # JS exactly ln2 — enumerate every pair from the (tiny) totals relation
    # and left-join the intersection stats, zero-defaulted
    all_pairs = (
        ta.crossJoin(tb)
        .where(F.col("source_a") < F.col("source_b"))
        .join(F.broadcast(agg), ["source_a", "source_b"], "left")
        .fillna(0, ["sa_nano", "sb_nano", "inter_a", "inter_b"])
    )
    ln2_nano = 693147181  # round(ln(2)*1e9), pinned so both engines agree
    kl_a = (
        F.col("sa_nano") + F.lit(ln2_nano) * (F.col("na") - F.col("inter_a"))
    ) / 1e9 / F.col("na")
    kl_b = (
        F.col("sb_nano") + F.lit(ln2_nano) * (F.col("nb") - F.col("inter_b"))
    ) / 1e9 / F.col("nb")
    return all_pairs.select(
        "source_a",
        "source_b",
        F.round((kl_a + kl_b) / 2, 6).alias("js_nats"),
    )


def cross_lm_scores(
    docs: "DataFrame",
    train_docs: "DataFrame",
    text_col: str = "text",
    doc_id_col: str = "doc_id",
) -> "DataFrame":
    """Cross-domain language-model scoring: score every document under an
    add-one-smoothed bigram LM fitted on a SEPARATE reference corpus —
    the CCNet-style domain filter (Wenzek et al. 2020): rank crawl text
    by its likelihood under a trusted-domain model, instead of the
    in-corpus self-score of :func:`bigram_lm_scores`.

        score(d) = mean over d's bigrams of
                   ln((c_train(w1,w2) + 1) / (c_train(w1) + V_train))

    Unseen words/bigrams degrade smoothly via the add-one floor
    (c2=0, c1=0 → ln(1/V)). Same engine-exactness contract as the
    in-corpus scorer: per-bigram log-probs quantized to integer nano-lns
    before the order-free sum; one final division.

    Scale shape: the TRAIN corpus contributes only vocabulary-sized
    count relations (broadcast candidates); the scored corpus pays one
    bigram-keyed join — identical to bigram_lm_scores, so switching the
    filter from self- to cross-scoring is plan-neutral.

    Output: (doc_id, n_bigrams, lm_score) for docs with ≥2 tokens.
    """
    arr = F.filter(
        F.split(F.lower(F.col(text_col)), "[^a-z]+"), lambda x: x != ""
    )

    def _pairs(rel, with_id):
        d = rel.select(
            *( [F.col(doc_id_col).alias("doc_id")] if with_id else [] ),
            arr.alias("_t"),
        )
        return (
            d.where(F.size("_t") >= 2)
            .select(
                *( ["doc_id"] if with_id else [] ),
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(_t) - 1),"
                        " i -> struct(_t[i-1] AS w1, _t[i] AS w2))"
                    )
                ).alias("p"),
            )
            .select(*( ["doc_id"] if with_id else [] ), "p.w1", "p.w2")
        )

    uni = (
        train_docs.select(arr.alias("_t"))
        .select(F.explode("_t").alias("w1"))
        .groupBy("w1")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    vocab = uni.agg(F.count(F.lit(1)).alias("v"))
    big = _pairs(train_docs, with_id=False).groupBy("w1", "w2").agg(
        F.count(F.lit(1)).alias("c2")
    )
    scored = (
        _pairs(docs, with_id=True)
        .join(big.hint("shuffle_hash"), ["w1", "w2"], "left")
        .join(uni.hint("shuffle_hash"), ["w1"], "left")
        .crossJoin(F.broadcast(vocab))
        .withColumn(
            # greatest(..., 1): same degenerate-model guard as
            # nb_predict — an empty reference vocabulary (v = 0, every
            # c1 null) scores bigrams at log(1/1) = 0 instead of
            # casting log(1/0) = +Inf to a garbage Long-scale value
            "lp_nano",
            F.round(
                F.log(
                    (F.coalesce(F.col("c2"), F.lit(0)) + 1).cast("double")
                    / F.greatest(
                        F.coalesce(F.col("c1"), F.lit(0)) + F.col("v"),
                        F.lit(1),
                    ).cast("double")
                )
                * 1e9
            ).cast("long"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(
            (F.sum("lp_nano") / 1e9) / F.count(F.lit(1)), 6
        ).alias("lm_score"),
    )


def nb_train(
    train_docs: "DataFrame",
    text_col: str = "text",
    label_col: str = "source",
) -> tuple["DataFrame", "DataFrame"]:
    """Train the multinomial NB model of :func:`nb_classify` and return
    it as two relations — the materialization seam for pipelines that
    score many batches against one model (commit both to tables once;
    every predict run then reads the model instead of re-deriving it
    from the full training corpus):

      * ``model_cls`` — |classes| rows ``(_cls, _prior_nano, _n_c, _v)``
        (broadcast side),
      * ``ctc`` — vocabulary×classes rows ``(_cls, _t, _c)`` (token-
        keyed join side).

    The training corpus is tokenized ONCE: per-class token totals
    (``_n_c``) and vocabulary size (``_v``) are derived from ``ctc``
    rather than re-scanning the token stream, so training costs one
    row-level agg over ``train_docs`` plus one token-exploded agg, not
    three token-exploded passes.
    """
    tok = tokens(F.col(text_col))

    cls = (
        train_docs.groupBy(F.col(label_col).alias("_cls"))
        .agg(F.count(F.lit(1)).alias("_docs"))
    )
    total = train_docs.agg(F.count(F.lit(1)).alias("_total"))
    ctc = (
        train_docs.select(
            F.col(label_col).alias("_cls"), F.explode(tok).alias("_t")
        )
        .groupBy("_cls", "_t")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    per_cls = ctc.groupBy("_cls").agg(F.sum("_c").alias("_n_c"))
    vocab = ctc.select("_t").distinct().agg(F.count(F.lit(1)).alias("_v"))
    model_cls = (
        cls.join(per_cls, "_cls", "left")
        .crossJoin(total)
        .crossJoin(vocab)
        .select(
            "_cls",
            F.round(
                F.log(F.col("_docs").cast("double") / F.col("_total"))
                * 1e9
            )
            .cast("long")
            .alias("_prior_nano"),
            F.coalesce(F.col("_n_c"), F.lit(0)).cast("long").alias("_n_c"),
            F.col("_v").cast("long").alias("_v"),
        )
    )
    return model_cls, ctc


def nb_predict(
    test_docs: "DataFrame",
    model_cls: "DataFrame",
    ctc: "DataFrame",
    text_col: str = "text",
    label_col: str = "source",
    id_col: str = "doc_id",
) -> "DataFrame":
    """Score documents against a trained NB model (see :func:`nb_train`
    for the model relations' contract). Same output as
    :func:`nb_classify`: (id, true label, predicted label, score in
    nano-lns), ties on smallest label."""
    tok = tokens(F.col(text_col))
    test_cnt = (
        test_docs.select(F.col(id_col).alias("_id"), F.explode(tok).alias("_t"))
        .groupBy("_id", "_t")
        .agg(F.count(F.lit(1)).alias("_cnt"))
    )
    contrib = (
        test_cnt.crossJoin(F.broadcast(model_cls.select("_cls", "_n_c", "_v")))
        .join(ctc.hint("shuffle_hash"), ["_cls", "_t"], "left")
        .withColumn(
            # greatest(..., 1): a degenerate model (empty training
            # vocabulary, _n_c = _v = 0) scores every token at
            # log(1/1) = 0 — prior-only ranking — instead of casting
            # log(1/0) = +Inf to a garbage Long.MAX-scale score
            "_lp_nano",
            F.round(
                F.log(
                    (F.coalesce(F.col("_c"), F.lit(0)) + 1).cast("double")
                    / F.greatest(
                        F.col("_n_c") + F.col("_v"), F.lit(1)
                    ).cast("double")
                )
                * 1e9
            ).cast("long"),
        )
        .groupBy("_id", "_cls")
        .agg(F.sum(F.col("_cnt") * F.col("_lp_nano")).alias("_tok_nano"))
    )
    scores = (
        test_docs.select(
            F.col(id_col).alias("_id"), F.col(label_col).alias("_true")
        )
        .crossJoin(F.broadcast(model_cls.select("_cls", "_prior_nano")))
        .join(contrib.hint("shuffle_hash"), ["_id", "_cls"], "left")
        .withColumn(
            "_score",
            F.col("_prior_nano") + F.coalesce(F.col("_tok_nano"), F.lit(0)),
        )
    )
    w = Window.partitionBy("_id").orderBy(F.desc("_score"), F.asc("_cls"))
    return (
        scores.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") == 1)
        .select(
            F.col("_id").alias(id_col),
            F.col("_true").alias("true_" + label_col),
            F.col("_cls").alias("pred_" + label_col),
            F.col("_score").alias("score_nano"),
        )
    )


def nb_classify(
    train_docs: "DataFrame",
    test_docs: "DataFrame",
    text_col: str = "text",
    label_col: str = "source",
    id_col: str = "doc_id",
) -> "DataFrame":
    """Multinomial Naive Bayes document classification — the classic
    supervised baseline for source/domain/quality routing in training-data
    pipelines (fastText's ancestor), expressed as pure aggregation + joins:

        score(d, c) = ln prior(c)
                      + sum over tokens t of cnt_d(t) * ln P(t | c)
        P(t | c)    = (count(t in c) + 1) / (tokens_in_c + V)

    (add-one smoothing; V = train vocabulary size, so out-of-vocabulary
    tokens degrade smoothly via the 1/(n_c + V) floor — same discipline as
    :func:`cross_lm_scores`). Per-token log-likelihoods quantize to
    integer nano-lns BEFORE the per-document sum, so scores are exact
    BIGINTs: order-free, partition-invariant, engine-identical.

    Scale shape (100 TB): the model is two count relations — per-class
    priors/totals (|classes| rows, broadcast) and per-(token, class)
    counts (vocabulary-sized, shuffle-hash-joined on token). The scored
    corpus pays ONE token-keyed join and one (doc, class) aggregation;
    the |classes| fan-out is a constant factor, never a data-sized blowup.
    Zero-token documents still classify (prior-only argmax).

    Output: one row per test document — (id, true label, predicted label,
    winning score in nano-lns). Prediction ties break on smallest label.
    """
    model_cls, ctc = nb_train(train_docs, text_col, label_col)
    return nb_predict(test_docs, model_cls, ctc, text_col, label_col, id_col)


def readability(
    docs: "DataFrame",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> "DataFrame":
    """Flesch reading-ease scoring — the classic readability feature for
    corpus quality filtering and curriculum binning:

        FRE = 206.835 - 1.015*(words/sentences) - 84.6*(syllables/words)

    Counts are exact integers computed entirely JVM-side: words from the
    normalized token array, syllables as per-word vowel-group counts
    (``[aeiouy]+`` runs, floored at 1 per word — the standard syllable
    proxy) summed with a higher-order aggregate over the token array (no
    explode, no shuffle), sentences as ``[.!?]+`` runs over the RAW text
    floored at 1. The final score is one fixed-parenthesization double
    expression over those integers, rounded to 4 — engine-identical.

    One scan, zero joins, zero shuffles: a pure projection, so at 100 TB
    it rides whatever scan already reads the text column. Zero-word
    documents are dropped (score undefined).

    Output: (id, n_words, n_sentences, n_syllables, fre).
    """
    n = norm_text(F.col(text_col))
    words = n_tokens(F.col(text_col))
    syl = F.expr(
        "aggregate(split({n}, ' '),"
        " cast(0 as bigint),"
        " (a, w) -> a + cast(greatest(regexp_count(w, '[aeiouy]+'), 1)"
        " as bigint))".format(
            n=(
                "trim(regexp_replace(regexp_replace(lower("
                + text_col
                + "), '[^a-z0-9 ]', ' '), ' +', ' '))"
            )
        )
    )
    sents = F.greatest(
        F.expr(f"cast(regexp_count({text_col}, '[.!?]+') as bigint)"),
        F.lit(1).cast("long"),
    )
    return (
        docs.select(
            F.col(id_col),
            words.alias("n_words"),
            sents.alias("n_sentences"),
            syl.alias("n_syllables"),
        )
        .where(F.col("n_words") >= 1)
        .withColumn(
            "fre",
            F.round(
                F.lit(206.835)
                - F.lit(1.015)
                * (F.col("n_words") / F.col("n_sentences"))
                - F.lit(84.6)
                * (F.col("n_syllables") / F.col("n_words")),
                4,
            ),
        )
    )


def mix_allocation(
    df: DataFrame,
    bin_col: str,
    budget_num: int,
    budget_den: int,
    text_col: str = "text",
) -> DataFrame:
    """Token-budget mixture allocation — the data-mixing step of a training
    pipeline: given per-bin available whitespace tokens and a total budget
    of ``total·budget_num div budget_den``, waterfill the budget across
    bins. Bins smaller than the water level keep everything; larger bins
    are capped at a common level; the integer remainder goes one token
    each to the smallest capped bins (deterministic order: avail, then
    bin name).

    Exact-BIGINT closed form, no iteration: sort bins ascending, let
    pfx_i = Σ avail of smaller bins and cand_i = (B - pfx_i) div (k-i+1);
    the pivot is the first bin whose cand < avail — every earlier bin is
    fully satisfiable, every later bin gets the pivot's level (+1 for the
    first ``rem`` bins). Σ alloc = B exactly whenever B ≤ Σ avail.

    Scale: ONE data-sized aggregate (map-side combinable token sum), then
    rank/prefix windows over the |bins| domain only — never over rows."""
    toks = F.size(tokens(F.col(text_col))).cast("long")
    bins = df.groupBy(F.col(bin_col).alias("bin")).agg(
        F.sum(toks).alias("avail")
    )
    total = bins.agg(F.sum("avail").alias("total"))
    w = Window.orderBy("avail", "bin")
    wall = Window.partitionBy(F.lit(1))
    staged = (
        bins.crossJoin(F.broadcast(total))
        .withColumn(
            "budget",
            F.expr(f"total * {int(budget_num)} div {int(budget_den)}"),
        )
        .withColumn("i", F.row_number().over(w))
        .withColumn("kbins", F.count(F.lit(1)).over(wall))
        .withColumn(
            "pfx",
            F.coalesce(
                F.sum("avail").over(
                    w.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .withColumn("cand", F.expr("(budget - pfx) div (kbins - i + 1)"))
        .withColumn("is_capped", F.col("cand") < F.col("avail"))
    )
    staged = (
        staged.withColumn(
            "pivot",
            F.min(F.when(F.col("is_capped"), F.col("i"))).over(wall),
        )
        .withColumn(
            "level",
            F.max(
                F.when(F.col("i") == F.col("pivot"), F.col("cand"))
            ).over(wall),
        )
        .withColumn(
            "rem",
            F.max(
                F.when(
                    F.col("i") == F.col("pivot"),
                    F.expr("(budget - pfx) % (kbins - i + 1)"),
                )
            ).over(wall),
        )
    )
    return staged.select(
        "bin",
        F.col("avail").alias("avail_tokens"),
        F.when(
            F.col("pivot").isNull() | (F.col("i") < F.col("pivot")),
            F.col("avail"),
        )
        .otherwise(
            F.col("level")
            + F.when(F.col("i") - F.col("pivot") < F.col("rem"), 1)
            .otherwise(0)
        )
        .cast("long")
        .alias("alloc_tokens"),
    )


def interleaved_shards(
    df: DataFrame,
    group_col: str,
    id_col: str,
    n_shards: int = 8,
) -> DataFrame:
    """Deterministic source-interleaved shard assignment for training data
    loaders: round-robin the groups (sources/domains) so every shard — and
    every consecutive window WITHIN a shard — sees the mixture, not a
    source-sorted run (a loader reading source-clustered shards replays
    the curriculum-drift bug mixture weights were supposed to fix).

    Recipe, pure arithmetic so no global sort ever happens:

        r     = in-group rank of the row (by id — stable under replay)
        pos   = (r − 1) · |groups| + group_index
        shard = pos mod n_shards,  seq = pos div n_shards

    pos is a total order that cycles through the groups once per rank
    step; with unequal group sizes the exhausted groups leave gaps, which
    skew shard sizes by at most |groups| rows per rank cycle — documented
    trade for never sorting globally. group_index is the dense rank of
    the group name over the DISTINCT group relation (bounded domain, the
    gini()/quantile_normalize() trick) broadcast back to the rows; the
    only data-volume operation is the one per-group rank window.

    Output: (group, id, r, pos, shard, seq_in_shard).
    """
    groups = (
        df.select(F.col(group_col).alias("_g")).distinct()
        .withColumn(
            "_gi",
            F.row_number().over(Window.orderBy("_g")).cast("long") - 1,
        )
        .withColumn(
            "_ng", F.count(F.lit(1)).over(Window.partitionBy()).cast("long")
        )
    )
    wr = Window.partitionBy(group_col).orderBy(id_col)
    ranked = df.select(group_col, id_col).withColumn(
        "r", F.row_number().over(wr).cast("long")
    )
    j = ranked.join(
        F.broadcast(groups), F.col(group_col) == F.col("_g")
    )
    pos = (F.col("r") - 1) * F.col("_ng") + F.col("_gi")
    return j.select(
        group_col,
        id_col,
        "r",
        pos.cast("long").alias("pos"),
        (pos % F.lit(n_shards)).cast("long").alias("shard"),
        F.expr(f"(((r - 1) * _ng + _gi)) div {n_shards}")
        .cast("long")
        .alias("seq_in_shard"),
    )


def bpe_train(
    docs: DataFrame,
    text_col: str = "text",
    n_merges: int = 3,
) -> DataFrame:
    """Distributed BPE tokenizer induction (Sennrich et al. 2016): run
    ``n_merges`` greedy merge rounds and return the learned merge table —
    the training step bpe_pair_counts only takes the round-1 statistic of.

    How real BPE trainers scale, made explicit as relations: the corpus
    collapses ONCE to the word-frequency vocabulary (the only data-volume
    aggregation, map-side combined); every merge round then runs over the
    |vocab| relation only — count-weighted adjacent symbol pairs, one
    tiny argmax (count desc, pair asc tiebreak — deterministic), and a
    greedy left-to-right merge applied as a codegen'd aggregate() fold
    over each word's short symbol array. The per-round argmax is ONE row
    collected to the driver (the same coordination kmeans_lloyd uses for
    centroids); localCheckpoint truncates the loop's lineage exactly as
    neardup_components does.

    Fold semantics = canonical BPE: merging never cascades within a round
    (the merged symbol can't immediately re-merge), matches consume left
    to right — the DuckDB oracle replays each round with a non-overlapping
    string replace() over a bracket-delimited symbol string, which is the
    same greedy scan.

    Output: one row per round — (round, sym_a, sym_b, merged, pair_count).
    """
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    words = docs.select(
        F.explode(
            F.split(F.lower(F.col(text_col)), "[^a-z]+")
        ).alias("w")
    ).where(F.length("w") >= 2)
    vocab = (
        words.groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .withColumn(
            "syms",
            F.expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))"),
        )
        .localCheckpoint(eager=True)
    )
    merges: list[tuple] = []
    for r in range(1, n_merges + 1):
        # CASE guard: sequence(1, 0) DESCENDS in Spark (the word_shingles
        # hazard) — a word already collapsed to one symbol must yield an
        # empty pair array, not element_at(syms, 2) on a 1-element array
        pairs = vocab.select(
            F.explode(
                F.expr(
                    "CASE WHEN size(syms) < 2"
                    " THEN cast(array() as array<struct<a:string,b:string>>)"
                    " ELSE transform(sequence(1, size(syms) - 1),"
                    " i -> struct(element_at(syms, i) AS a,"
                    " element_at(syms, i + 1) AS b)) END"
                )
            ).alias("p"),
            "cnt",
        ).groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b")).agg(
            F.sum("cnt").cast("long").alias("c")
        )
        best = pairs.orderBy(F.desc("c"), "a", "b").limit(1).collect()
        if not best:
            break
        a, b, c = best[0]["a"], best[0]["b"], best[0]["c"]
        merges.append((r, a, b, a + b, c))
        # symbols are [a-z]+ only (the word regex) — safe to inline
        fold = (
            "aggregate(syms, cast(array() as array<string>), (acc, s) ->"
            f" CASE WHEN size(acc) > 0 AND element_at(acc, -1) = '{a}'"
            f" AND s = '{b}'"
            f" THEN array_append(slice(acc, 1, size(acc) - 1), '{a + b}')"
            " ELSE array_append(acc, s) END)"
        )
        vocab = vocab.withColumn("syms", F.expr(fold)).localCheckpoint(
            eager=True
        )
    return spark.createDataFrame(
        merges,
        "round long, sym_a string, sym_b string, merged string, pair_count long",
    )


def bpe_round_plan(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """One un-executed BPE merge round for plan auditing (the
    pagerank_round_plan pattern): bpe_train materializes each round behind
    an eager localCheckpoint, so explaining its RESULT shows only a local
    scan — this returns the lazy vocab → weighted-pair aggregation every
    round repeats, which is the dataflow that matters at scale."""
    words = docs.select(
        F.explode(
            F.split(F.lower(F.col(text_col)), "[^a-z]+")
        ).alias("w")
    ).where(F.length("w") >= 2)
    vocab = (
        words.groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .withColumn(
            "syms",
            F.expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))"),
        )
    )
    return vocab.select(
        F.explode(
            F.expr(
                "CASE WHEN size(syms) < 2"
                " THEN cast(array() as array<struct<a:string,b:string>>)"
                " ELSE transform(sequence(1, size(syms) - 1),"
                " i -> struct(element_at(syms, i) AS a,"
                " element_at(syms, i + 1) AS b)) END"
            )
        ).alias("p"),
        "cnt",
    ).groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b")).agg(
        F.sum("cnt").cast("long").alias("c")
    )


def bpe_encode_stats(
    docs: DataFrame,
    n_merges: int = 3,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Tokenizer fertility by group: train BPE (bpe_train), apply the
    learned merges, and report subwords-per-word — the metric that decides
    whether a tokenizer is usable for a domain (high fertility = the
    vocabulary fragments that source's words; the standard multilingual-
    tokenizer eval, cf. the fertility analyses of mBERT/XLM-R).

    Scale shape: the encode runs over the per-(group, word) frequency
    relation, NOT raw text — the one corpus-volume aggregation collapses
    to vocabulary entries, each merge is a codegen'd greedy fold chained
    lazily (no per-round materialization needed here: the merge LIST is
    already known, so rounds compose into one expression tree), and the
    final rollup is a tiny per-group agg. The learned merge table is k
    driver-side rows (bpe_train's argmax collects).

    Output: one row per group — (n_words, n_chars, n_subwords,
    fertility_ppm = n_subwords·1e6 div n_words, compression_ppm =
    n_subwords·1e6 div n_chars).
    """
    merges = bpe_train(docs, n_merges=n_merges).collect()
    words = docs.select(
        F.col(group_col),
        F.explode(
            F.split(F.lower(F.col(text_col)), "[^a-z]+")
        ).alias("w"),
    ).where(F.length("w") >= 2)
    vocab = (
        words.groupBy(group_col, "w")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .withColumn(
            "syms",
            F.expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))"),
        )
    )
    for m in merges:
        a, b = m["sym_a"], m["sym_b"]
        fold = (
            "aggregate(syms, cast(array() as array<string>), (acc, s) ->"
            f" CASE WHEN size(acc) > 0 AND element_at(acc, -1) = '{a}'"
            f" AND s = '{b}'"
            f" THEN array_append(slice(acc, 1, size(acc) - 1), '{a + b}')"
            " ELSE array_append(acc, s) END)"
        )
        vocab = vocab.withColumn("syms", F.expr(fold))
    return vocab.groupBy(group_col).agg(
        F.sum("cnt").cast("long").alias("n_words"),
        F.sum(F.col("cnt") * F.length("w")).cast("long").alias("n_chars"),
        F.sum(F.col("cnt") * F.size("syms")).cast("long").alias("n_subwords"),
        _idiv(
            F.sum(F.col("cnt") * F.size("syms")) * 1_000_000,
            F.sum("cnt"),
        ).alias("fertility_ppm"),
        _idiv(
            F.sum(F.col("cnt") * F.size("syms")) * 1_000_000,
            F.sum(F.col("cnt") * F.length("w")),
        ).alias("compression_ppm"),
    )


def bigram_pmi_topk(
    docs: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    top_k: int = 50,
) -> DataFrame:
    """Collocation extraction: top-k adjacent-token bigrams by pointwise
    mutual information — the word2vec-era phrase-mining step ("new_york"
    style merges, Mikolov et al. 2013) and the classic collocation
    statistic (Church & Hanks 1990):

        pmi = ln( p(ab) / (p(a)·p(b)) )
            = ln c_ab + 2·ln N_tok − ln N_pairs − ln c_a − ln c_b

    Engine-exactness via the nano-ln idiom (bigram_lm/source_entropy):
    every ln of an integer count is rounded to integer nano-nats BEFORE
    the additions, so the combined score is exact BIGINT arithmetic and
    the (pmi desc, pair asc) top-k is engine-identical. ``min_count``
    suppresses the PMI singleton bias (rare pairs trivially maximize PMI).

    Shuffle shape: one positional-bigram count agg + one unigram count
    agg (both map-side combined, vocabulary-sized keys), two hash joins
    of the bigram relation against the unigram relation, two 1-row count
    broadcasts; top-k is orderBy+limit = TakeOrdered, no global sort.

    Output: (w1, w2, c_ab, c_a, c_b, pmi_nano BIGINT, pmi double).
    """
    arr = F.filter(
        F.split(F.lower(F.col(text_col)), "[^a-z]+"), lambda x: x != ""
    )
    base = docs.select(arr.alias("t")).where(F.size("t") > 0)
    uni = base.select(F.explode("t").alias("w")).groupBy("w").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    pair_expr = (
        "CASE WHEN size(t) < 2 THEN cast(array() as array<struct<a:string,b:string>>)"
        " ELSE transform(sequence(1, size(t) - 1),"
        " i -> struct(element_at(t, i) AS a, element_at(t, i + 1) AS b)) END"
    )
    bi = (
        base.select(F.explode(F.expr(pair_expr)).alias("p"))
        .groupBy(F.col("p.a").alias("w1"), F.col("p.b").alias("w2"))
        .agg(F.count(F.lit(1)).cast("long").alias("c_ab"))
        .where(F.col("c_ab") >= min_count)
    )
    n_tok = uni.agg(F.sum("c").cast("long").alias("_nt"))
    # N_pairs counts ALL positional bigrams, not just the frequent ones
    n_pair = (
        base.select(
            (F.size("t") - 1).cast("long").alias("k")
        )
        .where(F.col("k") > 0)
        .agg(F.sum("k").cast("long").alias("_np"))
    )
    nano = lambda c: F.round(F.log(c.cast("double")) * 1e9).cast("long")  # noqa: E731
    ca = uni.select(F.col("w").alias("w1"), F.col("c").alias("c_a"))
    cb = uni.select(F.col("w").alias("w2"), F.col("c").alias("c_b"))
    j = (
        bi.join(ca, "w1")
        .join(cb, "w2")
        .crossJoin(F.broadcast(n_tok))
        .crossJoin(F.broadcast(n_pair))
    )
    pmi_nano = (
        nano(F.col("c_ab"))
        + F.lit(2) * nano(F.col("_nt"))
        - nano(F.col("_np"))
        - nano(F.col("c_a"))
        - nano(F.col("c_b"))
    )
    return (
        j.select(
            "w1",
            "w2",
            "c_ab",
            "c_a",
            "c_b",
            pmi_nano.alias("pmi_nano"),
            F.round(pmi_nano / 1e9, 6).alias("pmi"),
        )
        .orderBy(F.desc("pmi_nano"), "w1", "w2")
        .limit(top_k)
    )


def distinctive_terms(
    docs: DataFrame,
    text_col: str = "text",
    by: str = "source",
    top_k: int = 10,
) -> DataFrame:
    """Per-group distinctive vocabulary via the log-odds ratio with an
    informative Dirichlet prior (Monroe, Colaresi & Quinn 2008,
    "Fightin' Words") — THE standard comparative-corpus statistic:
    unlike raw TF-IDF it corrects for both group size and word
    frequency, so it surfaces what a source over-uses relative to the
    rest of the corpus, z-scored by sampling variance:

        d_w  = ln((y_iw+1)/(n_i+V-y_iw-1)) - ln((y_jw+1)/(n_j+V-y_jw-1))
        z_w  = d_w / sqrt(1/(y_iw+1) + 1/(y_jw+1))

    (i = the group, j = rest of corpus, add-one prior, a0 = V).

    Engine-exactness: every ln is a nano-ln of an integer count, so d_w
    is exact BIGINT; the final z is ONE fixed-parenthesization double
    expression over exact integers, rounded to 6, and the per-group
    top-k orders by (rounded z, word) — engine-identical.

    Shape: one (group, word) count agg + one word-total agg (both
    map-side combined, vocabulary-sized), one hash join on word, group
    totals and V broadcast, one per-group rank window over vocabulary
    rows. No data-sized join anywhere.

    Output: (source, word, y_i, y_rest, z) — top_k rows per group.
    """
    flat = docs.select(
        F.col(by), F.explode(tokens(F.col(text_col))).alias("w")
    ).where(F.col("w") != "")
    cnt = flat.groupBy(by, "w").agg(
        F.count(F.lit(1)).cast("long").alias("y_i")
    )
    grp = cnt.groupBy(by).agg(F.sum("y_i").cast("long").alias("n_i"))
    tot_w = cnt.groupBy("w").agg(F.sum("y_i").cast("long").alias("y_w"))
    glob = cnt.agg(
        F.sum("y_i").cast("long").alias("n_all"),
        F.count_distinct("w").cast("long").alias("v"),
    )
    j = (
        cnt.join(tot_w.hint("shuffle_hash"), "w")
        .join(F.broadcast(grp), by)
        .crossJoin(F.broadcast(glob))
        .withColumn("y_j", F.col("y_w") - F.col("y_i"))
        .withColumn("n_j", F.col("n_all") - F.col("n_i"))
    )
    nano = lambda c: F.round(F.log(c.cast("double")) * 1e9).cast("long")  # noqa: E731
    d = (
        nano(F.col("y_i") + 1)
        - nano(F.col("n_i") + F.col("v") - F.col("y_i") - 1)
        - nano(F.col("y_j") + 1)
        + nano(F.col("n_j") + F.col("v") - F.col("y_j") - 1)
    )
    z = F.round(
        (d.cast("double") / F.lit(1e9))
        / F.sqrt(
            F.lit(1.0) / (F.col("y_i") + 1).cast("double")
            + F.lit(1.0) / (F.col("y_j") + 1).cast("double")
        ),
        6,
    )
    scored = j.select(by, "w", "y_i", F.col("y_j").alias("y_rest"), z.alias("z"))
    from pyspark.sql.window import Window

    wr = Window.partitionBy(by).orderBy(F.desc("z"), F.asc("w"))
    return (
        scored.withColumn("_rk", F.row_number().over(wr))
        .where(F.col("_rk") <= top_k)
        .select(by, F.col("w").alias("word"), "y_i", "y_rest", "z")
    )
