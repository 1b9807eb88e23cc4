"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash,
embedding-cosine near-dup.

The reference deduplicates only on (kafka partition, offset) + PK upsert
(task.json:71-82; SURVEY.md §2.1 K3 — handled in sink.py). A training-data
pipeline additionally needs *content* dedup at corpus scale; these operators
provide it Spark-first:

  * exact        — fingerprint (md5 of normalized text) → hash groupBy; one
                   shuffle on a 16-char key, min(doc_id) keeper per group.
  * ngram Jaccard— char-3-gram shingle sets, exact pairwise Jaccard via a
                   shingle-inverted-index self-join. Exact but quadratic in
                   colliding docs — the small-scale oracle baseline.
  * MinHash+LSH  — 16 permutations min-hash signature, 4 bands × 4 rows;
                   candidate pairs share ≥1 band bucket. The 100 TB path:
                   cost is O(docs × shingles) + a band-bucket shuffle; no
                   quadratic blowup. Estimated Jaccard = matching-signature
                   fraction.
  * SimHash      — 60-bit sign-of-weighted-bit-sums over tokens; hamming
                   proximity ⇒ near-dup. Signature computation here; banding
                   for pair search mirrors the MinHash approach.
  * embedding    — cosine near-dup blocked by a coarse key (label bucket =
                   IVF-cell analogue) so the pairwise join never goes global.

Parity: every hash derives from md5 hex prefixes (portable), all modular
arithmetic stays below 2^63, and each operator has a line-for-line ANSI-SQL
mirror in ``__spark_entry__.oracle_sql`` verified by the driver at sf0.01.

Scale notes: all joins here key on short digests; the LSH band join
broadcasts nothing and relies on AQE to coalesce skewed buckets (a stopword
shingle bucket can be huge — the band hash of 4 minhashes spreads it).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .textops import fingerprint, hash32, hash64, norm_text

# fixed MinHash permutations (seeded once, inlined for engine portability)
MINHASH_P = 2147483647
MINHASH_PERMS: list[tuple[int, int]] = [
    (695425565, 2035525362), (323946140, 847876999),
    (1397871145, 103694312), (155555738, 1763673106),
    (1150797846, 202142728), (785310973, 1251527726),
    (124551739, 1953574602), (1089709947, 461060838),
    (80521325, 184570285), (931247022, 898017869),
    (150013384, 516819858), (194804717, 1183364967),
    (911648020, 126938843), (1775651416, 1214302567),
    (265862674, 2034632750), (479402029, 1354258844),
]
N_PERMS = len(MINHASH_PERMS)
N_BANDS = 4
ROWS_PER_BAND = N_PERMS // N_BANDS
SIMHASH_BITS = 60


def exact_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact content dedup: (doc_id, fingerprint, keeper_id, group_size).

    keeper_id = min doc_id sharing the fingerprint. One hash shuffle on the
    digest; map-side combine makes the agg cheap even with 10^12 rows.
    """
    fp = docs.select(F.col(id_col), fingerprint(F.col(text_col)).alias("fp"))
    groups = fp.groupBy("fp").agg(
        F.min(id_col).alias("keeper_id"),
        F.count(F.lit(1)).alias("group_size"),
    )
    return (
        fp.join(groups, "fp")
        .select(id_col, "fp", "keeper_id", "group_size")
    )


def shingles(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3) -> DataFrame:
    """Distinct char-n-gram shingles of the normalized text, exploded.

    Stays declarative: sequence+transform+explode inside codegen; the
    array_distinct bounds the per-doc row count by unique shingles.
    """
    return docs.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(
                F.expr(
                    f"transform(sequence(1, greatest(length(_norm) - {n - 1}, 0)),"
                    f" i -> substring(_norm, i, {n}))"
                )
            )
        ).alias("g"),
    ).where(F.length("g") == n)


def word_shingles(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Distinct word-n-gram shingles of the normalized text, exploded
    (grams joined by single spaces). Word grams give prefix-style
    algorithms the token diversity char-grams lack on small-alphabet
    corpora: the gram universe is |vocab|^n, so "rare" actually means
    rare. Same codegen shape as ``shingles``."""
    # CASE guard: Spark's sequence(1, 0) DESCENDS ([1, 0]) and slice()
    # rejects start 0, so short docs must short-circuit to an empty array
    # (same hazard bigram_lm_scores documents for its position transform)
    grams = (
        f"CASE WHEN size(split(_norm, ' ')) >= {n}"
        f" THEN transform(sequence(1, size(split(_norm, ' ')) - {n - 1}),"
        f"   i -> concat_ws(' ', slice(split(_norm, ' '), i, {n})))"
        " ELSE cast(array() as array<string>) END"
    )
    return docs.select(
        F.col(id_col),
        F.explode(F.array_distinct(F.expr(grams))).alias("g"),
    ).where(F.col("g") != "")


def _with_norm(docs: DataFrame, text_col: str) -> DataFrame:
    return docs.withColumn("_norm", norm_text(F.col(text_col)))


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs (doc_a, doc_b, jaccard).

    Inverted-index self-join on shingles; |A∩B| from the join, sizes from a
    pre-agg. Quadratic in docs per shared shingle — use MinHash at scale.
    """
    sh = shingles(_with_norm(docs, text_col), id_col=id_col)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, F.col("a.g") == F.col("b.g"))
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .groupBy(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("sz").alias("sz_b"))
    jac = F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def containment_pairs(
    docs: DataFrame,
    threshold_ppm: int = 800_000,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Asymmetric shingle-containment near-dup pairs.

    containment(A in B) = |shingles(A) ∩ shingles(B)| / |shingles(A)| — the
    signal Jaccard dilutes when one document embeds another (quoted replies,
    boilerplate wrappers, page-in-page scrapes): a short doc fully quoted
    inside a long one has Jaccard ≈ |A|/|B| but containment 1.0. Broder's
    original resemblance/containment pairing (Broder 1997, "On the
    resemblance and containment of documents"). Same inverted-index blocking
    as ngram_jaccard_pairs — candidates only from shared shingles, never
    all-pairs; at 100 TB swap the exact index for the MinHash banding in
    minhash_lsh_pairs and verify containment only on candidates. Both
    directions are emitted per unordered pair as exact BIGINT ppm
    (inter*1e6 div size) so the oracle hash-matches without double
    formatting drift; a pair is kept when either direction clears the
    threshold. WORD-3-gram sets (not char grams): the synthetic corpus's
    character-gram universe is tiny, so char shingles make nearly every
    pair a candidate — the same measurement that drove dedup_prefix_join
    to word grams.
    """
    sh = word_shingles(_with_norm(docs, text_col), id_col=id_col)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, F.col("a.g") == F.col("b.g"))
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .groupBy(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("sz").alias("sz_b"))
    out = (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.expr("CAST(inter * 1000000 AS BIGINT) div sz_a").alias(
                "cont_a_ppm"
            ),
            F.expr("CAST(inter * 1000000 AS BIGINT) div sz_b").alias(
                "cont_b_ppm"
            ),
        )
    )
    return out.where(
        (F.col("cont_a_ppm") >= threshold_ppm)
        | (F.col("cont_b_ppm") >= threshold_ppm)
    )


def _shingle_base_hash() -> Column:
    return hash32(F.col("g")) % MINHASH_P


def minhash_signatures(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-doc MinHash signature: one column ``mh{i}`` per permutation.

    groupBy(doc) with N_PERMS min() aggregates — a single shuffle with full
    map-side partial aggregation (each mapper emits one row per doc).

    Measured alternative (rejected): a shuffle-free per-row
    ``array_min(transform(...))`` over the shingle array computes identical
    signatures, but md5 inside higher-order-function lambdas runs in the
    interpreted expression evaluator (no whole-stage codegen), measured
    ~50x slower at sf0.1 (v1 warm 0.8-1.2 s vs v2 ~50 s, bit-identical
    output). The shuffle here is cheap: map-side combine collapses each
    doc to one row before exchange.
    """
    sh = shingles(_with_norm(docs, text_col), id_col=id_col).withColumn(
        "h", _shingle_base_hash()
    )
    aggs = [
        F.min((F.lit(a) * F.col("h") + F.lit(b)) % MINHASH_P).alias(f"mh{i}")
        for i, (a, b) in enumerate(MINHASH_PERMS)
    ]
    return sh.groupBy(id_col).agg(*aggs)


def minhash_lsh_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """MinHash+LSH near-dup pairs (doc_a, doc_b, est_jaccard).

    Bands of ROWS_PER_BAND signature rows are digested; docs sharing any
    band digest become candidates; est_jaccard = fraction of matching
    signature components. The band join keys on (band_idx, digest) — short
    keys, shuffle-balanced, no cartesian anywhere.
    """
    sig = minhash_signatures(docs, id_col=id_col, text_col=text_col)
    # Candidate generation is id-only: band rows carry just (id, band,
    # digest) so the self-join shuffles 3 short columns per (doc, band)
    # instead of the full N_PERMS signature ×N_BANDS — at corpus scale the
    # signature matrix never rides the candidate shuffle.
    bands = sig_bands(sig, id_col=id_col)
    a = bands.alias("a")
    b = bands.alias("b")
    cand_ids = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    return _score_pairs(cand_ids, sig, id_col, threshold)


def sig_bands(sig: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, band, bh) banded digests of a MinHash signature matrix —
    id-only rows, shared by the batch self-join and the maintained
    streaming index."""
    return sig.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        F.md5(
                            F.concat_ws(
                                ",",
                                *[
                                    F.col(
                                        f"mh{bi * ROWS_PER_BAND + r}"
                                    ).cast("string")
                                    for r in range(ROWS_PER_BAND)
                                ],
                            )
                        ).alias("bh"),
                    )
                    for bi in range(N_BANDS)
                ]
            )
        ).alias("bb"),
    ).select(F.col(id_col), "bb.band", "bb.bh")


def _score_pairs(
    cand_ids: DataFrame, sig: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """est_jaccard for candidate (doc_a, doc_b) pairs: rejoin the
    signature matrix once per side, keyed on id — two hash joins over the
    surviving candidates only."""
    mh_cols = [f"mh{i}" for i in range(N_PERMS)]
    sa = sig.select(F.col(id_col).alias("doc_a"), *[F.col(c).alias(f"a_{c}") for c in mh_cols])
    sb = sig.select(F.col(id_col).alias("doc_b"), *[F.col(c).alias(f"b_{c}") for c in mh_cols])
    cand = cand_ids.join(sa, "doc_a").join(sb, "doc_b")
    est = sum(
        (F.col(f"a_mh{i}") == F.col(f"b_mh{i}")).cast("int")
        for i in range(N_PERMS)
    ) / F.lit(float(N_PERMS))
    return cand.select(
        "doc_a", "doc_b", F.round(est, 4).alias("est_jaccard")
    ).where(F.col("est_jaccard") >= threshold)


def simhash(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """60-bit SimHash per doc over distinct normalized tokens.

    explode(tokens) × explode(bit index) → two-level hash-agg; both aggs get
    map-side combine, so the shuffled volume is docs × 60 rows max.
    """
    toks = (
        _with_norm(docs, text_col)
        .select(
            F.col(id_col),
            F.explode(F.array_distinct(F.split(F.col("_norm"), " "))).alias("t"),
        )
        .where(F.col("t") != "")
        .withColumn("h", hash64(F.col("t")))
    )
    bits = toks.select(
        F.col(id_col),
        F.explode(F.sequence(F.lit(0), F.lit(SIMHASH_BITS - 1))).alias("j"),
        F.col("h"),
    ).withColumn(
        "w",
        F.when(
            F.expr("shiftright(h, CAST(j AS INT))").bitwiseAND(F.lit(1)) == 1,
            F.lit(1),
        ).otherwise(F.lit(-1)),
    )
    per_bit = bits.groupBy(id_col, "j").agg(F.sum("w").alias("s"))
    return per_bit.groupBy(id_col).agg(
        F.sum(
            F.when(
                F.col("s") > 0,
                F.expr("shiftleft(CAST(1 AS BIGINT), CAST(j AS INT))"),
            ).otherwise(F.lit(0))
        ).alias("simhash")
    )


def embedding_neardup_pairs(
    emb: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str = "label",
) -> DataFrame:
    """Embedding-cosine near-dup pairs, blocked by a coarse bucket.

    The block key (cluster label / IVF cell) keeps the pairwise join within
    buckets — at 10^9 vectors the cross product never goes global. Dot
    products are ordered left-fold double sums (engine-portable bit-exact).
    """
    d = emb.select(
        F.col(id_col),
        F.col(block_col).alias("blk"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("e"),
    )

    def dot(x: Column, y: Column) -> Column:
        return F.aggregate(
            F.zip_with(x, y, lambda p, q: p * q),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    a, b = d.alias("a"), d.alias("b")
    cos = dot(F.col("a.e"), F.col("b.e")) / (
        F.sqrt(dot(F.col("a.e"), F.col("a.e")))
        * F.sqrt(dot(F.col("b.e"), F.col("b.e")))
    )
    return (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("vec_a"),
            F.col(f"b.{id_col}").alias("vec_b"),
            F.round(cos, 6).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )


def neardup_components(
    docs: DataFrame,
    threshold: float = 0.875,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_iters: int = 20,
) -> DataFrame:
    """Transitive near-dup clusters: connected components over the
    MinHash-LSH pair graph, by iterative min-label propagation.

    One-hop pair suppression under-deduplicates chains (A~B~C where A and C
    are not directly similar); corpus-level dedup wants the CLUSTER. This
    is the Pregel recipe without a graph library: every doc starts labeled
    with its own id; each round every doc takes the min label among itself
    and its LSH-pair neighbors; convergence ≤ the cluster-graph diameter
    (near-dup clusters are shallow — a handful of rounds in practice,
    bounded by ``max_iters``).

    Scale shape: each round is one hash-partitioned join + partial-agg
    min on the edge list — no driver-side data, no global structure; the
    driver loop only reads a convergence COUNT. ``localCheckpoint``
    truncates the iterative lineage so plans stay flat. Output:
    (doc_id, component), component = min doc_id reachable; docs with no
    near-dup form singleton components.
    """
    pairs = minhash_lsh_pairs(docs, threshold, id_col, text_col)
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionByName(
        pairs.select(
            F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")
        )
    ).localCheckpoint(eager=True)
    labels = (
        docs.select(F.col(id_col).alias("doc_id"))
        .distinct()
        .select("doc_id", F.col("doc_id").alias("component"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iters):
        merged = _propagation_round(edges, labels).localCheckpoint(
            eager=True
        )
        changed = merged.filter(F.col("_changed")).limit(1).count()
        labels = merged.drop("_changed")
        if changed == 0:
            return labels
    raise RuntimeError(
        f"neardup_components did not converge in {max_iters} rounds — a "
        "cluster chain is longer than max_iters; raise max_iters (silently "
        "returning partially-merged components would split real clusters)"
    )


def _propagation_round(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """One min-label propagation round: the SINGLE definition shared by
    the executed ``neardup_components`` loop and the plan-audit proxy
    ``neardup_propagation_round`` — so the audited plan is provably the
    executed plan. Shuffle-hash hints: every round repeats these
    large-large joins on doc_id; hash build beats sorting both sides."""
    neigh = (
        edges.join(
            labels.hint("shuffle_hash"), edges["src"] == labels["doc_id"]
        )
        .groupBy(F.col("dst").alias("doc_id"))
        .agg(F.min("component").alias("n_comp"))
    )
    return labels.join(neigh.hint("shuffle_hash"), "doc_id", "left").select(
        "doc_id",
        F.least(
            F.col("component"),
            F.coalesce(F.col("n_comp"), F.col("component")),
        ).alias("component"),
        (
            F.coalesce(F.col("n_comp"), F.col("component"))
            < F.col("component")
        ).alias("_changed"),
    )


def neardup_propagation_round(
    docs: DataFrame,
    threshold: float = 0.875,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """One un-executed min-label-propagation round, for plan auditing.

    ``neardup_components`` materializes every round behind an eager
    ``localCheckpoint`` (lineage truncation), so explaining its RESULT
    shows a bare checkpoint scan — the per-round join the 100 TB design
    cares about is invisible. This builds the identical round dataflow
    (LSH edge list ⋈ labels → partial-agg min → merge) as one lazy plan
    so tools/explain_audit.py can audit exchanges/join strategies/UDF
    placement for the iterative op.
    """
    pairs = minhash_lsh_pairs(docs, threshold, id_col, text_col)
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionByName(
        pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )
    labels = (
        docs.select(F.col(id_col).alias("doc_id"))
        .distinct()
        .select("doc_id", F.col("doc_id").alias("component"))
    )
    return _propagation_round(edges, labels).drop("_changed")


def contamination_flags(
    train: DataFrame,
    benchmark: DataFrame,
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination: flag training docs that share any word
    n-gram with the (held-out) benchmark set.

    The standard pre-training hygiene pass: evaluation examples leaking
    into the corpus inflate benchmark scores, so matching docs are dropped
    or masked before training. Dataflow: distinct word n-grams per side
    (codegen'd transform+explode), benchmark grams broadcast (the
    benchmark is small by contract), one hash join, one count per doc —
    the train corpus is scanned once and never shuffled on text. Output:
    (doc_id, n_shared_ngrams, contaminated).
    """
    # tokenize ONCE into a bound column — referencing split(...) inside the
    # transform() lambda would re-split the whole text per gram position
    # (higher-order-function lambdas defeat common-subexpression
    # elimination), turning a linear scan into O(words²) per doc
    gram_expr = (
        f"CASE WHEN size(_toks) < {n} THEN array()"
        f" ELSE transform(sequence(1, size(_toks) - {n - 1}),"
        f" i -> concat_ws(' ', slice(_toks, i, {n}))) END"
    )

    def grams(df: DataFrame) -> DataFrame:
        return (
            _with_norm(df, text_col)
            .withColumn("_toks", F.split(F.col("_norm"), " "))
            .select(
                F.col(id_col).alias("doc_id"),
                F.explode(F.array_distinct(F.expr(gram_expr))).alias("g"),
            )
        )

    bg = grams(benchmark).select("g").distinct()
    hits = (
        grams(train)
        .join(F.broadcast(bg), "g")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return (
        train.select(F.col(id_col).alias("doc_id"))
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_shared"), F.lit(0))
            .cast("long")
            .alias("n_shared_ngrams"),
            (F.coalesce(F.col("n_shared"), F.lit(0)) > 0).alias(
                "contaminated"
            ),
        )
    )


def jaccard_prefix_pairs(
    docs: DataFrame,
    threshold_num: int = 4,
    threshold_den: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    unit: str = "char",
) -> DataFrame:
    """Exact Jaccard threshold join with prefix filtering — the AllPairs
    recipe (Bayardo, Ma, Srikant, WWW'07): the SCALE path for an *exact*
    similarity join, sitting between the quadratic ``ngram_jaccard_pairs``
    baseline and the approximate ``minhash_lsh_pairs``.

    For J(A,B) >= t the overlap is at least ceil(t*max(|A|,|B|)), so if
    every doc keeps only its (|X| - ceil(t*|X|) + 1) rarest shingles
    (global document-frequency order, ties by shingle), any qualifying
    pair MUST collide on a prefix shingle — candidates come from a
    self-join on the rare prefix, never on "the" (the frequent tail never
    joins). Candidates are then verified with the exact intersection
    count, so the output equals the all-pairs result, row for row (pytest
    asserts this equivalence; the DuckDB oracle is the independent
    quadratic formulation).

    The threshold rides as a rational (num/den) because the prefix length
    needs an EXACT integer ceil: float 0.8*5 = 4.0000000000000002 would
    ceil to 5 and silently shrink the prefix below the correctness bound.

    Scale shape: one shuffle on shingle for df-counts, one per-doc window
    (hash-partitioned by doc), a self-join on rare-prefix shingles only,
    then verification joins on candidate ids — each candidate touched
    once. No all-pairs anywhere.
    """
    from pyspark.sql import Window

    t = threshold_num / threshold_den
    mk = shingles if unit == "char" else word_shingles
    sh = mk(_with_norm(docs, text_col), id_col=id_col, n=n)
    df_g = sh.groupBy("g").agg(F.count(F.lit(1)).alias("_df"))
    ranked = sh.join(df_g, "g")
    wdoc = Window.partitionBy(id_col).orderBy("_df", "g")
    wsz = Window.partitionBy(id_col)
    sz = F.count(F.lit(1)).over(wsz)
    # alpha = ceil(num*sz/den) in exact integers; prefix = sz - alpha + 1
    alpha = F.expr(
        f"({threshold_num} * _sz + {threshold_den} - 1) div {threshold_den}"
    )
    pref = (
        ranked.withColumn("_rn", F.row_number().over(wdoc))
        .withColumn("_sz", sz)
        .filter(F.col("_rn") <= F.col("_sz") - alpha + 1)
        .select(id_col, "g")
    )
    a, b = pref.alias("a"), pref.alias("b")
    cand = (
        a.join(b, F.col("a.g") == F.col("b.g"))
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
        )
        .distinct()
    )
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    ta = sh.select(F.col(id_col).alias("doc_a"), "g")
    tb = sh.select(F.col(id_col).alias("doc_b"), "g")
    inter = (
        cand.join(ta, "doc_a")
        .join(tb, ["doc_b", "g"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("sz").alias("sz_b"))
    jac = F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
        .where(F.col("jaccard") >= F.lit(t))
    )


def edit_distance_pairs(
    docs: DataFrame,
    max_dist: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact Levenshtein near-dup join with length banding.

    A pair within edit distance k differs in length by at most k, so docs
    are bucketed by ``len div k`` and each doc is emitted into its own
    bucket AND the next one — any qualifying pair then shares a bucket
    (lengths within k span at most two adjacent buckets), which makes the
    banding lossless: the output equals the all-pairs formulation row for
    row (the DuckDB oracle IS that quadratic formulation, with the same
    length filter as a sanity predicate).

    Levenshtein runs on the NORMALIZED text (textops.norm_text) via the
    JVM built-in — codegen'd, no Python — and only on banded candidates.
    Scale shape: one shuffle on the (bucket) key; per-bucket work is
    |bucket|² on a short-window population, the same df-cap discipline as
    sparse_cosine_pairs — at corpus scale pick k ≪ typical length so
    buckets stay narrow, or pre-block on a fingerprint prefix.

    Output: (doc_a, doc_b, dist) with doc_a < doc_b, dist <= max_dist.
    """
    d = _with_norm(docs, text_col).select(
        F.col(id_col).alias("_id"),
        F.col("_norm"),
        F.length("_norm").alias("_len"),
    )
    bucket = F.expr(f"_len div {max_dist}")
    banded = d.select(
        "_id", "_norm", "_len", bucket.alias("_bkt")
    ).unionByName(
        d.select("_id", "_norm", "_len", (bucket + 1).alias("_bkt"))
    )
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(b.hint("shuffle_hash"), F.col("a._bkt") == F.col("b._bkt"))
        .where(
            (F.col("a._id") < F.col("b._id"))
            & (
                F.abs(F.col("a._len") - F.col("b._len"))
                <= F.lit(max_dist)
            )
        )
        .select(
            F.col("a._id").alias("doc_a"),
            F.col("b._id").alias("doc_b"),
            F.col("a._norm").alias("_na"),
            F.col("b._norm").alias("_nb"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    return (
        cand.withColumn("dist", F.levenshtein(F.col("_na"), F.col("_nb")))
        .where(F.col("dist") <= F.lit(max_dist))
        .select("doc_a", "doc_b", "dist")
    )


def dup_span_stats(
    docs: DataFrame,
    n: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Substring-level duplication statistics (Lee et al. 2021,
    "Deduplicating Training Data Makes Language Models Better"): for every
    doc, how much of it is covered by word n-grams that occur >= 2 times
    ANYWHERE in the corpus (other docs or elsewhere in the same doc).

    Document-level dedup (exact/MinHash) misses boilerplate: a unique page
    wrapping a duplicated license header stays in the corpus and the model
    memorizes the header. This operator measures that: positional n-grams
    (NOT distinct — position matters), a corpus-wide occurrence count, and
    per-doc interval union of the duplicated spans [pos, pos+n-1] so
    overlapping grams are not double-counted.

    Dataflow: one gram scan (codegen'd transform over a bound token
    array), one agg keyed on the gram text for corpus counts, one join
    back (grams never leave their hash partition twice), then a per-doc
    ordered window doing the classic merge-intervals sweep:
    covered += max(0, end - max(prev_max_end, pos-1)) with
    prev_max_end = running max of span ends over earlier starts. No
    collect, no quadratic step; the gram-count agg is the only wide
    exchange over data volume.

    Output: (doc_id, n_tokens, n_grams, n_dup_grams, dup_tokens, dup_ppm)
    with dup_ppm = dup_tokens*1e6 div n_tokens (integer-exact).
    """
    gram_expr = (
        f"CASE WHEN size(_toks) < {n} THEN array()"
        f" ELSE transform(sequence(1, size(_toks) - {n - 1}),"
        f" i -> struct(i AS pos, concat_ws(' ', slice(_toks, i, {n})) AS g))"
        f" END"
    )
    base = (
        _with_norm(docs, text_col)
        .withColumn("_toks", F.split(F.col("_norm"), " "))
        .select(
            F.col(id_col).alias("doc_id"),
            F.size("_toks").alias("n_tokens"),
            F.col("_toks"),
        )
    )
    grams = base.select(
        "doc_id",
        F.explode(F.expr(gram_expr)).alias("pg"),
    ).select("doc_id", F.col("pg.pos").alias("pos"), F.col("pg.g").alias("g"))
    counts = grams.groupBy("g").agg(F.count(F.lit(1)).alias("_c"))
    dup = grams.join(counts.where(F.col("_c") >= 2), "g").select(
        "doc_id", "pos"
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    swept = dup.select(
        "doc_id",
        "pos",
        (F.col("pos") + F.lit(n - 1)).alias("_end"),
        F.max(F.col("pos") + F.lit(n - 1)).over(w).alias("_prev_end"),
    ).select(
        "doc_id",
        F.greatest(
            F.lit(0),
            F.col("_end")
            - F.greatest(
                F.coalesce(F.col("_prev_end"), F.lit(0)),
                F.col("pos") - F.lit(1),
            ),
        ).alias("_covered"),
    )
    per_doc = swept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_dup_grams"),
        F.sum("_covered").alias("dup_tokens"),
    )
    return (
        base.select(
            "doc_id",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.greatest(
                F.lit(0), F.col("n_tokens") - F.lit(n - 1)
            )
            .cast("long")
            .alias("n_grams"),
        )
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            "n_grams",
            F.coalesce("n_dup_grams", F.lit(0)).cast("long").alias(
                "n_dup_grams"
            ),
            F.coalesce("dup_tokens", F.lit(0)).cast("long").alias(
                "dup_tokens"
            ),
            F.expr(
                "CASE WHEN n_tokens = 0 THEN 0 ELSE"
                " coalesce(dup_tokens, 0) * 1000000 div n_tokens END"
            )
            .cast("long")
            .alias("dup_ppm"),
        )
    )


def semdedup_flags(
    emb: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str = "label",
) -> DataFrame:
    """SemDeDup keep/drop flags (Abbas et al. 2023, arXiv:2303.09540):
    semantic deduplication by embedding cosine WITHIN coarse clusters —
    a vector is dropped when some LOWER-id vector in its cluster is
    within ``threshold`` cosine, so exactly one deterministic
    representative (the min id) survives each duplicate chain link.

    Pairs come from ``embedding_neardup_pairs`` (cluster-blocked — the
    pairwise join never goes global; at 10^9 vectors the block key is the
    k-means/IVF cell, here the provided label). The keep rule is one
    aggregation over the pair list keyed on the higher id — no windows,
    no second scan of the vectors.

    Output: (vec_id, label, n_lower_dups, keep).
    """
    pairs = embedding_neardup_pairs(
        emb, threshold, id_col, vec_col, block_col
    )
    dups = pairs.groupBy(F.col("vec_b").alias(id_col)).agg(
        F.count(F.lit(1)).alias("_n")
    )
    # the aggregated dup side is at most one row per vector and usually far
    # smaller — hash it rather than sort-merging both sides
    return (
        emb.select(F.col(id_col), F.col(block_col))
        .join(dups.hint("shuffle_hash"), id_col, "left")
        .select(
            id_col,
            block_col,
            F.coalesce("_n", F.lit(0)).cast("long").alias("n_lower_dups"),
            (F.coalesce("_n", F.lit(0)) == 0).alias("keep"),
        )
    )


def dup_span_remove(
    docs: DataFrame,
    n: int = 4,
    min_count: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact substring dedup with REMOVAL (Lee et al. 2021 §4 "ExactSubstr":
    delete the duplicated span, keep the rest of the document) — the
    actionable twin of dup_span_stats, which only measures coverage.
    Document-level dedup can't touch boilerplate inside otherwise-unique
    pages; this cuts it out.

    Same positional word-n-gram machinery as dup_span_stats (their suffix
    array re-expressed as Spark relations): a token at position t is
    removed iff some n-gram occurring >= min_count times corpus-wide covers
    t. The cleaned text is the surviving tokens of the NORMALIZED form,
    space-joined in order (exact-substring dedup is defined over the
    canonical token stream, not raw bytes).

    Scale shape — everything stays keyed, nothing quadratic:
      1. gram scan (codegen'd transform over the bound token array),
      2. corpus counts: ONE wide agg keyed on gram text,
      3. join back -> duplicated (doc_id, pos) spans,
      4. covered token indices: explode each span to its n indices and
         distinct on (doc_id, idx) — x n amplification of DUP spans only,
      5. per-token left-anti join (doc_id, idx) against covered — both
         sides co-partitioned on the same key, then one per-doc ordered
         reassembly (sort inside the doc_id hash partition, no global
         sort).
    The corpus-count agg of step 2 is the only exchange over full data
    volume; steps 4-5 scale with the duplicated fraction.

    Output: (doc_id, n_tokens, kept_tokens, removed_tokens, clean_text).
    """
    gram_expr = (
        f"CASE WHEN size(_toks) < {n} THEN array()"
        f" ELSE transform(sequence(1, size(_toks) - {n - 1}),"
        f" i -> struct(i AS pos, concat_ws(' ', slice(_toks, i, {n})) AS g))"
        f" END"
    )
    base = (
        _with_norm(docs, text_col)
        .withColumn("_toks", F.split(F.col("_norm"), " "))
        .select(
            F.col(id_col).alias("doc_id"),
            F.col("_toks"),
        )
    )
    grams = base.select(
        "doc_id",
        F.explode(F.expr(gram_expr)).alias("pg"),
    ).select("doc_id", F.col("pg.pos").alias("pos"), F.col("pg.g").alias("g"))
    counts = grams.groupBy("g").agg(F.count(F.lit(1)).alias("_c"))
    dup = grams.join(
        counts.where(F.col("_c") >= min_count), "g"
    ).select("doc_id", "pos")
    covered = dup.select(
        "doc_id",
        F.explode(
            F.sequence(F.col("pos"), F.col("pos") + F.lit(n - 1))
        ).alias("idx"),
    ).distinct()
    toks = base.select(
        "doc_id", F.posexplode("_toks").alias("idx0", "tok")
    ).select("doc_id", (F.col("idx0") + 1).alias("idx"), "tok")
    kept = toks.join(covered, ["doc_id", "idx"], "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("kept_tokens"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("idx", "tok"))),
                lambda s: s["tok"],
            ),
        ).alias("clean_text"),
    )
    return (
        base.select("doc_id", F.size("_toks").cast("long").alias("n_tokens"))
        .join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("kept_tokens", F.lit(0)).cast("long").alias(
                "kept_tokens"
            ),
            (
                F.col("n_tokens")
                - F.coalesce("kept_tokens", F.lit(0))
            ).cast("long").alias("removed_tokens"),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        )
    )


def minhash_calibration(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bucket_ppm: int = 100_000,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """MinHash estimator calibration: for every LSH candidate pair,
    compare the signature-based Jaccard ESTIMATE against the exact
    shingle Jaccard, bucketed by true similarity — the report that tells
    you whether N_PERMS/N_BANDS are adequate before trusting the
    estimator at 100 TB (a mis-calibrated band threshold silently turns
    near-dup removal into random deletion).

    Scale shape: the estimate side is the banded LSH join (never
    all-pairs); the exact side is computed ONLY over documents that
    appear in some candidate pair (left-semi pushdown) — calibration is
    an eval op you run on a corpus slice, and the restriction keeps the
    quadratic inverted-index join bounded by the candidate set. One
    broadcast-or-hash join keyed on the pair, one decile agg.

    Engine-exactness: est_ppm/true_ppm are round(round(x, 4)·1e6) of
    IEEE doubles built from identical integer inputs in both engines;
    all downstream aggregation is BIGINT.

    Output: (bucket, n_pairs, mae_ppm, mean_est_ppm, mean_true_ppm),
    bucket = true_ppm div bucket_ppm.

    ``candidates`` is the materialization seam: pass a pre-computed (and
    ideally table-committed) LSH candidate relation ``(doc_a, doc_b,
    est_ppm)`` and the calibration plan references it three times (ids,
    exact-side restriction, final join) WITHOUT re-running the LSH
    pipeline per reference — at 100× the candidate stage runs once, not
    three times. Default (None) derives it inline.
    """
    if candidates is None:
        est = minhash_lsh_pairs(
            docs, threshold=0.0, id_col=id_col, text_col=text_col
        ).select(
            "doc_a",
            "doc_b",
            F.round(F.col("est_jaccard") * 1e6).cast("long").alias("est_ppm"),
        )
    else:
        est = candidates.select("doc_a", "doc_b", "est_ppm")
    ids = est.select(
        F.explode(F.array("doc_a", "doc_b")).alias(id_col)
    ).distinct()
    # shuffle_hash hints: every relation here is aggregation-shrunk, but
    # Catalyst has no size estimate for them, so without the hint the
    # pair-keyed joins default to sort-merge (the suite bans SMJ).
    sub = docs.join(ids.hint("shuffle_hash"), id_col, "left_semi")
    exact = ngram_jaccard_pairs(
        sub, threshold=0.0, id_col=id_col, text_col=text_col
    ).select(
        "doc_a",
        "doc_b",
        F.round(F.col("jaccard") * 1e6).cast("long").alias("true_ppm"),
    )
    j = est.join(exact.hint("shuffle_hash"), ["doc_a", "doc_b"], "left").select(
        "est_ppm",
        F.coalesce("true_ppm", F.lit(0)).cast("long").alias("true_ppm"),
    )
    return (
        j.groupBy(
            F.expr(f"true_ppm div {bucket_ppm}").cast("long").alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum(F.abs(F.col("est_ppm") - F.col("true_ppm")))
            .cast("long")
            .alias("_ae"),
            F.sum("est_ppm").cast("long").alias("_se"),
            F.sum("true_ppm").cast("long").alias("_st"),
        )
        .select(
            "bucket",
            "n_pairs",
            F.expr("_ae div n_pairs").cast("long").alias("mae_ppm"),
            F.expr("_se div n_pairs").cast("long").alias("mean_est_ppm"),
            F.expr("_st div n_pairs").cast("long").alias("mean_true_ppm"),
        )
    )


def simhash_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """SimHash near-dup pairs via banded Hamming join — the web-scale
    SimHash dedup recipe (Manku, Jain & Das Sarma, WWW'07): split the
    60-bit signature into ``max_hamming + 1`` bands; by pigeonhole, any
    pair within ``max_hamming`` bit flips agrees EXACTLY on at least
    one band, so candidates come from equality joins on (band, band
    value) — never an all-pairs scan — and the final Hamming distance
    is one xor + bit_count per surviving candidate. Recall is exact
    (guaranteed 100% for distance <= max_hamming), unlike MinHash's
    probabilistic bands.

    Shape: one signature pass (dedup.simhash: two map-side-combined
    aggs), a (doc, band)-exploded self-join keyed on short band values
    (shuffle-balanced, id-only rows), one id-keyed rejoin of the 8-byte
    signatures, one distinct. At 10^12 docs the band join is the same
    shape Google ran this at.

    Output: (doc_a, doc_b, hamming) for pairs with hamming <= max_hamming.
    """
    n_bands = max_hamming + 1
    band_bits = SIMHASH_BITS // n_bands
    sig = simhash(docs, id_col=id_col, text_col=text_col)
    bands = sig.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.expr(
                            f"(simhash >> {b * band_bits})"
                            f" & {(1 << band_bits) - 1}"
                        ).alias("bv"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bb"),
    ).select(F.col(id_col), "bb.band", "bb.bv")
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    sa = sig.select(F.col(id_col).alias("doc_a"), F.col("simhash").alias("_ha"))
    sb = sig.select(F.col(id_col).alias("doc_b"), F.col("simhash").alias("_hb"))
    return (
        cand.join(sa.hint("shuffle_hash"), "doc_a")
        .join(sb.hint("shuffle_hash"), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.expr("bit_count(_ha ^ _hb)").cast("long").alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
    )


def split_leakage(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    val_per_mille: int = 100,
    test_per_mille: int = 100,
) -> DataFrame:
    """Train/val/test leakage audit — the hygiene check run right after
    ``textops.dataset_split``: exact duplicates (same content
    fingerprint) whose copies land in *different* splits silently leak
    eval data into training. Reports, per split pair, how many distinct
    fingerprints span both, plus an ``any`` rollup (fingerprints in ≥2
    splits) — nonzero means dedup must run BEFORE the split, or the
    split key must be the fingerprint itself.

    Shape: one scan → one partial-aggregated groupBy(fingerprint)
    carrying three booleans (map-side combine shrinks the shuffle to
    |distinct docs|) → one scalar aggregate → a 4-row unpivot. No joins;
    the same single-shuffle silhouette as ``exact_dedup`` at 100 TB.

    Output: (leak_pair ∈ {train|val, train|test, val|test, any},
    n_fingerprints) — deterministic 4-row table, exact integers.
    """
    from kafka2iceberg_spark import textops as tx

    per_fp = (
        docs.select(
            tx.fingerprint(F.col(text_col)).alias("fp"),
            tx.dataset_split(
                F.col(id_col).cast("string"), val_per_mille, test_per_mille
            ).alias("split"),
        )
        .groupBy("fp")
        .agg(
            F.max((F.col("split") == "train").cast("int")).alias("_tr"),
            F.max((F.col("split") == "val").cast("int")).alias("_va"),
            F.max((F.col("split") == "test").cast("int")).alias("_te"),
        )
    )
    sums = per_fp.agg(
        F.sum(((F.col("_tr") == 1) & (F.col("_va") == 1)).cast("long"))
        .cast("long")
        .alias("tv"),
        F.sum(((F.col("_tr") == 1) & (F.col("_te") == 1)).cast("long"))
        .cast("long")
        .alias("tt"),
        F.sum(((F.col("_va") == 1) & (F.col("_te") == 1)).cast("long"))
        .cast("long")
        .alias("vt"),
        F.sum(
            ((F.col("_tr") + F.col("_va") + F.col("_te")) >= 2).cast("long")
        )
        .cast("long")
        .alias("anyp"),
    )
    return sums.selectExpr(
        """stack(4,
             'train|val',  tv,
             'train|test', tt,
             'val|test',   vt,
             'any',        anyp
           ) AS (leak_pair, n_fingerprints)"""
    )


def structure_groups(
    df: DataFrame,
    key: str = "conv_id",
    order_col: str = "turn_idx",
    signal_col: str = "signal",
    prefix_len: int = 3,
    min_group: int = 2,
) -> DataFrame:
    """Conversation-STRUCTURE dedup: group conversations whose first
    ``prefix_len`` turns follow the identical (ordered) signal sequence —
    scripted openings, templated bot flows, replayed scenarios. Document
    dedup sees none of this (every turn's text differs); the *sequence*
    is the duplicated artifact, which makes this the conversation-level
    complement of exact_dedup.

    Same fold as cep.role_sequence: collect_list(struct(order, signal))
    → array_sort → slice → join — ONE hash shuffle on the conversation
    key, the prefix costs O(prefix_len) bytes per conv, then one
    partial-aggregated groupBy on the folded signature. No joins; at
    10^12 turns this is the standard conv_id exchange plus a
    |signatures|-sized agg.

    Output: (struct_sig, n_convs, canonical_conv — smallest member key)
    for every signature shared by ≥ ``min_group`` conversations.
    """
    pair = F.struct(F.col(order_col).alias("i"), F.col(signal_col).alias("s"))
    folded = (
        df.groupBy(key)
        .agg(F.array_sort(F.collect_list(pair)).alias("seq"))
        .select(
            key,
            F.array_join(
                F.slice(
                    F.transform("seq", lambda x: x["s"]), 1, prefix_len
                ),
                ">",
            ).alias("struct_sig"),
        )
    )
    return (
        folded.groupBy("struct_sig")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_convs"),
            F.min(key).alias("canonical_conv"),
        )
        .where(F.col("n_convs") >= min_group)
    )


def neardup_batch_pairs(
    sig_b: DataFrame,
    index_sigs: DataFrame | None,
    id_col: str = "doc_id",
    threshold: float = 0.5,
) -> DataFrame:
    """The lazy per-batch dataflow of :class:`NearDupIndex`: banded
    candidates (batch-internal ``a < b`` plus batch-vs-index, normalized
    ``doc_a < doc_b``) rescored exactly against the union signature
    matrix. Module-level and un-executed so ``tools/explain_audit.py``
    can audit the plan every ingestion micro-batch repeats —
    ``apply_batch`` hides it behind eager table commits."""
    bands_b = sig_bands(sig_b, id_col=id_col).alias("b")
    bands_a = sig_bands(sig_b, id_col=id_col).alias("a")
    cond = (
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.bh") == F.col("b.bh"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
    )
    cand = bands_a.join(bands_b, cond).select(
        F.col(f"a.{id_col}").alias("doc_a"),
        F.col(f"b.{id_col}").alias("doc_b"),
    )
    union_sig = sig_b
    if index_sigs is not None:
        # ... plus batch-vs-index candidates, normalized doc_a < doc_b
        bands_i = sig_bands(index_sigs, id_col=id_col).alias("a")
        cross = (
            bands_i.join(
                bands_b,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.bh") == F.col("b.bh"))
                & (F.col(f"a.{id_col}") != F.col(f"b.{id_col}")),
            )
            .select(
                F.least(
                    F.col(f"a.{id_col}"), F.col(f"b.{id_col}")
                ).alias("doc_a"),
                F.greatest(
                    F.col(f"a.{id_col}"), F.col(f"b.{id_col}")
                ).alias("doc_b"),
            )
        )
        cand = cand.unionByName(cross)
        # on doc_id collision the BATCH signature wins (a re-ingested
        # doc's new text), matching the index upsert that follows —
        # deterministic, unlike dropDuplicates
        union_sig = index_sigs.join(
            sig_b.select(id_col), id_col, "left_anti"
        ).unionByName(sig_b)
    return _score_pairs(
        cand.dropDuplicates(["doc_a", "doc_b"]), union_sig, id_col, threshold
    )


class NearDupIndex:
    """Incrementally-maintained MinHash-LSH near-dup index: ingestion-time
    dedup the way a production corpus actually runs it at 100 TB — the
    corpus is NEVER re-deduped; each micro-batch of new documents is
    checked against the committed signature index and then added to it.

    Two IcebergLite tables:

      * ``index``  (pk=[doc_id])        — the signature matrix, one row per
        ever-ingested doc (N_PERMS bigint columns); grows with the corpus,
        upsert-idempotent.
      * ``pairs``  (pk=[doc_a, doc_b])  — every near-dup pair discovered,
        ``doc_a < doc_b``, with ``est_jaccard``.

    Per batch: signatures of the incoming docs (one shuffle, map-side
    combined) → banded digests of batch and index → candidate ids from the
    (band, bh) join — the batch side is small, so the index scan dominates;
    a production layout buckets the index table by band digest so the join
    is storage-partitioned and only matching buckets are read → exact
    est_jaccard rescoring from the union signature matrix → threshold →
    commit. Pair set after any prefix of batches == the batch
    ``minhash_lsh_pairs`` over the union of those batches
    (tests/test_streaming_neardup.py pins it), because band digests are
    deterministic functions of the text alone.

    Exactly-once without a cross-table transaction: the PAIRS commit runs
    first, computed against the PRE-batch index, then the INDEX commit —
    both guarded by batch id. Replay after a crash between the two skips
    the pairs commit (guard) and re-lands only the signatures, whose
    content depends on the batch alone; and even a double-computed pair is
    absorbed by PK upsert. The one order that would be wrong — signatures
    first, pairs second — would re-discover the batch against itself after
    a partial replay, which the (doc_a != doc_b) guard and PK dedup still
    absorb; the chosen order never even computes it.
    """

    def __init__(
        self,
        index,
        pairs,
        threshold: float = 0.5,
        id_col: str = "doc_id",
        text_col: str = "text",
    ) -> None:
        if sorted(index.pk) != [id_col]:
            raise ValueError(f"index table pk must be ['{id_col}']")
        if sorted(pairs.pk) != ["doc_a", "doc_b"]:
            raise ValueError("pairs table pk must be ['doc_a', 'doc_b']")
        self.index = index
        self.pairs = pairs
        self.threshold = float(threshold)
        self.id_col = id_col
        self.text_col = text_col

    def _index_sigs(self, spark) -> DataFrame | None:
        try:
            return self.index.read(spark).select(
                self.id_col, *[f"mh{i}" for i in range(N_PERMS)]
            )
        except FileNotFoundError:
            return None

    def apply_batch(self, docs: DataFrame, batch_id: str) -> bool:
        bid = str(batch_id)
        spark = docs.sparkSession
        pairs_done = bid in self.pairs.committed_batches()
        index_done = bid in self.index.committed_batches()
        if pairs_done and index_done:
            return False
        sig_b = minhash_signatures(
            docs, id_col=self.id_col, text_col=self.text_col
        ).localCheckpoint(eager=True)  # reused by both the band join and
        # the rescoring join; checkpoint stops double computation
        did = False
        if not pairs_done:
            new_pairs = neardup_batch_pairs(
                sig_b,
                self._index_sigs(spark),
                id_col=self.id_col,
                threshold=self.threshold,
            )
            did |= self.pairs.commit_upsert(new_pairs, bid)
        if not index_done:
            did |= self.index.commit_upsert(sig_b, bid)
        return did

    def start(self, stream: DataFrame, checkpoint: str, **trigger):
        """Maintain the index from a streaming DataFrame of documents."""
        from .pipeline import _start_foreach_batch

        return _start_foreach_batch(
            stream,
            lambda df, bid: self.apply_batch(df, str(bid)),
            checkpoint,
            "append",
            trigger or {"availableNow": True},
        )

    def all_pairs(self, spark) -> DataFrame:
        """Every near-dup pair discovered so far, from the committed table."""
        return self.pairs.read(spark).select("doc_a", "doc_b", "est_jaccard")
