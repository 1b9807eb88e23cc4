"""Similarity search over embedding columns (array<float>).

Two strategies, same output contract (query_id, neighbor_id, rank, cosine):

  * ``brute_topk``   — exact: broadcast the (small) query set against the
                       corpus, ordered-fold dot products in codegen, window
                       rank per query. The correctness baseline; cost is
                       O(|queries| × |corpus|) but fully scan-parallel —
                       viable whenever |queries| is broadcast-sized.
  * ``lsh_topk``     — approximate scale path: sign-of-projection bucketing
                       on fixed hyperplanes (random-hyperplane LSH). Corpus
                       and queries hash to buckets; candidates share a
                       bucket in any of several hash tables; exact rerank
                       only within candidates. At 10^9 vectors the pairwise
                       work drops by the bucket selectivity (~2^-bits per
                       table) while recall stays high for near neighbors.

Hyperplanes are seeded literals (no RNG at plan time) derived from md5 of
(table, plane, dim) — deterministic across runs/engines, no stored model.

Dot products cast float→double then left-fold — bit-exact against the
DuckDB oracle (verified empirically; see __spark_entry__).
"""

import hashlib

import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _dot(x: Column, y: Column) -> Column:
    return F.aggregate(
        F.zip_with(x, y, lambda p, q: p * q), F.lit(0.0), lambda a, v: a + v
    )


def _as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def _cosine_topk(
    c: DataFrame, q: DataFrame, k: int, carry: list[str], cond
) -> DataFrame:
    """Shared exact-cosine top-k core (brute_topk / hard_negatives).

    ``c``: (neighbor_id, <carry...>, ce, cn); ``q``: (query_id,
    [predicate cols], qe, qn); ``cond`` is the full join predicate. The
    query side is broadcast — no shuffle of the corpus; ranking is one
    window per query id. Ties break on neighbor_id (deterministic).
    """
    scored = c.join(F.broadcast(q), cond).select(
        "query_id",
        "neighbor_id",
        *carry,
        F.round(
            _dot(F.col("qe"), F.col("ce")) / (F.col("qn") * F.col("cn")), 6
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", *carry, "rank", "cosine")
    )


def brute_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k: (query_id, neighbor_id, rank, cosine)."""
    # norms are per-ROW, not per-pair: folding dot(x,x) inside the pair
    # loop would triple the interpreted-lambda work (ArrayAggregate has no
    # codegen); precomputing them keeps the identical doubles (same fold
    # order) so oracle parity is unaffected
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("ce")
    ).withColumn("cn", F.sqrt(_dot(F.col("ce"), F.col("ce"))))
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qe")
    ).withColumn("qn", F.sqrt(_dot(F.col("qe"), F.col("qe"))))
    return _cosine_topk(
        c, q, k, [], F.col("query_id") != F.col("neighbor_id")
    )


def quantize(vec: Column) -> Column:
    """float vector → exact integer micro-units (×10^6, half-away rounding).

    All downstream IVF arithmetic stays in int64 — bit-exact across engines
    and immune to float-summation-order nondeterminism.
    """
    return F.transform(
        vec, lambda x: F.round(x.cast("double") * 1_000_000, 0).cast("long")
    )


def ivf_centroids(
    emb: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Per-cell centroid in micro-units: elementwise integer mean.

    posexplode → (label, pos) integer-sum agg (map-side combined, exact in
    any order) → repack ordered array. This is the codebook-build step of an
    IVF index; at 10^9 vectors it is one shuffle of |cells|·dim rows.
    """
    q = emb.select(
        F.col(label_col).alias("label"),
        F.posexplode(quantize(F.col(vec_col))).alias("pos", "v"),
    )
    per_dim = q.groupBy("label", "pos").agg(
        F.sum("v").alias("_s"), F.count(F.lit(1)).alias("_c")
    )
    # truncated integer mean (matches DuckDB // and Spark div semantics)
    mean = per_dim.withColumn("c", F.expr("_s div _c"))
    return (
        mean.groupBy("label")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("pos", "c"))
            ).alias("_pc")
        )
        .select(
            "label",
            F.transform(F.col("_pc"), lambda s: s["c"]).alias("centroid_q"),
        )
    )


def ivf_assign(
    emb: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign each vector to its nearest centroid by exact integer L2².

    Broadcast the (small) codebook; distance is an ordered integer fold —
    deterministic. Output: (vec_id, label, assigned_label, dist_q); ties
    break on the smaller centroid label.
    """
    v = emb.select(
        F.col(id_col).alias("vec_id"),
        F.col("label"),
        quantize(F.col(vec_col)).alias("q"),
    )
    c = centroids.select(
        F.col("label").alias("c_label"), F.col("centroid_q")
    )
    diff = F.zip_with(F.col("q"), F.col("centroid_q"), lambda a, b: a - b)
    dist = F.aggregate(
        diff, F.lit(0).cast("long"), lambda acc, d: acc + d * d
    )
    scored = v.crossJoin(F.broadcast(c)).select(
        "vec_id", "label", "c_label", dist.alias("dist_q")
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("dist_q"), F.col("c_label")
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(
            "vec_id",
            "label",
            F.col("c_label").alias("assigned_label"),
            "dist_q",
        )
    )


def _hyperplane(table: int, plane: int, dim: int) -> list[float]:
    """Deterministic pseudo-random unit-free hyperplane from md5 bytes."""
    out: list[float] = []
    for d in range(dim):
        h = hashlib.md5(f"lsh:{table}:{plane}:{d}".encode()).digest()
        v = int.from_bytes(h[:4], "big")
        out.append((v / 2**31) - 1.0)  # [-1, 1)
    return out


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF search: probe the ``n_probe`` nearest cells, rerank exactly.

    The third ANN strategy (after brute force and LSH) and the classic
    100 TB shape: the codebook is tiny and broadcast; each query touches
    only its probed cells' inverted lists, so the scanned fraction is
    ≈ n_probe / |cells| of the corpus. Same shuffle discipline as
    ``lsh_topk`` — the candidate join carries only (cell, id) pairs and
    embeddings are rejoined once for the exact cosine rerank. Recall is
    governed by n_probe (cells here are the deterministic label partitions;
    a production index would k-means the codebook — same dataflow).
    Output contract: (query_id, neighbor_id, rank, cosine).
    """
    cents = ivf_centroids(corpus, vec_col=vec_col)
    assigned = ivf_assign(corpus, cents, id_col=id_col, vec_col=vec_col).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("assigned_label").alias("cell"),
    )
    qv = queries.select(
        F.col(id_col).alias("query_id"), quantize(F.col(vec_col)).alias("q")
    )
    c = cents.select(F.col("label").alias("cell"), "centroid_q")
    diff = F.zip_with(F.col("q"), F.col("centroid_q"), lambda a, b: a - b)
    dist = F.aggregate(
        diff, F.lit(0).cast("long"), lambda acc, d: acc + d * d
    )
    w = Window.partitionBy("query_id").orderBy(F.col("dq"), F.col("cell"))
    probes = (
        qv.crossJoin(F.broadcast(c))
        .select("query_id", "cell", dist.alias("dq"))
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= n_probe)
        .select("query_id", "cell")
    )
    cand = (
        assigned.join(F.broadcast(probes), "cell")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    corpus_vecs = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        _as_double(F.col(vec_col)).alias("neighbor_e"),
    ).withColumn("_nn", F.sqrt(_dot(F.col("neighbor_e"), F.col("neighbor_e"))))
    query_vecs = queries.select(
        F.col(id_col).alias("query_id"),
        _as_double(F.col(vec_col)).alias("query_e"),
    ).withColumn("_qn", F.sqrt(_dot(F.col("query_e"), F.col("query_e"))))
    scored = (
        corpus_vecs.join(F.broadcast(cand), "neighbor_id")
        .join(F.broadcast(query_vecs), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                _dot(F.col("query_e"), F.col("neighbor_e"))
                / (F.col("_qn") * F.col("_nn")),
                6,
            ).alias("cosine"),
        )
    )
    wr = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(wr))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def lsh_buckets_udf(dim: int, n_tables: int, n_planes: int):
    """pandas UDF: embedding → array of n_tables bucket-id strings.

    All hyperplanes stack into one (dim, n_tables·n_planes) matrix; per Arrow
    batch the projections are a single matmul; a bucket id is the sign-bit
    string of a table's n_planes projections."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    planes = np.array(
        [
            _hyperplane(t, p, dim)
            for t in range(n_tables)
            for p in range(n_planes)
        ],
        dtype=np.float64,
    ).T  # (dim, n_tables*n_planes)

    @pandas_udf("array<string>")
    def buckets(emb: pd.Series) -> pd.Series:  # noqa: F821 (module-level pd)
        if not len(emb):
            return pd.Series([], dtype=object)
        mat = np.stack(emb.to_numpy()).astype(np.float64)  # (n, dim)
        bits = (mat @ planes >= 0).astype(np.uint8)  # (n, T*P)
        out = []
        for row in bits:
            out.append(
                [
                    "".join("1" if b else "0" for b in row[t * n_planes:(t + 1) * n_planes])
                    for t in range(n_tables)
                ]
            )
        return pd.Series(out)

    return buckets


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    dim: int = 64,
    n_tables: int = 8,
    n_planes: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate cosine top-k via random-hyperplane LSH + exact rerank.

    Each side is hashed into n_tables buckets; the candidate join keys on
    (table, bucket) — a normal hash shuffle whose fan-in AQE balances. The
    rerank is exact cosine over candidates only.

    Tuning: candidate fraction ≈ n_tables · 2^-n_planes; recall rises with
    n_tables and falls with n_planes. Defaults (8×4 bits) give ~0.7+ recall
    even on near-uniform random vectors (the hardest case — no locality to
    exploit); clustered real-world embeddings both prune harder and recall
    higher, so raise n_planes there.

    Shuffle design: only (id, table, bucket) triples flow through the
    posexplode and the candidate join — embedding payloads are NOT
    amplified ×n_tables. The deduped candidate id-pairs (bounded by
    |queries| × candidate fraction × |corpus|, broadcast-sized whenever the
    query set is) are then broadcast back against the corpus, so each
    side's vectors are read exactly once and never shuffled.

    Buckets come from ``lsh_buckets_udf``: one numpy GEMM per Arrow
    batch, which amortizes the Arrow round-trip within a ~10k-row batch.

    When LSH pays off: per corpus row, bucketing costs n_tables·n_planes
    plane-dots while brute (norms precomputed per row) costs ≈|queries|
    dots — LSH can only win once |queries| ≳ n_tables·n_planes AND the
    bucket fraction (≈ n_tables·2^-n_planes) prunes most of the rerank.
    BENCH_r05.json records this crossover (``ann_crossover``: LSH 0.78×
    brute at 5k corpus vectors, 3.07× at 40k, 6.92× at 160k).
    """
    corpus_vecs = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        _as_double(F.col(vec_col)).alias("neighbor_e"),
    )
    query_vecs = queries.select(
        F.col(id_col).alias("query_id"),
        _as_double(F.col(vec_col)).alias("query_e"),
    )

    buckets = lsh_buckets_udf(dim, n_tables, n_planes)

    def bucket_ids(vecs: DataFrame, role: str) -> DataFrame:
        return vecs.select(
            f"{role}_id",
            F.posexplode(buckets(F.col(f"{role}_e"))).alias("t", "b"),
        )

    return _topk_from_buckets(
        corpus_vecs,
        bucket_ids(corpus_vecs, "neighbor"),
        query_vecs,
        bucket_ids(query_vecs, "query"),
        k,
    )


def _topk_from_buckets(
    corpus_vecs: DataFrame,
    corpus_buckets: DataFrame,
    query_vecs: DataFrame,
    query_buckets: DataFrame,
    k: int,
) -> DataFrame:
    """Candidate join + exact rerank over precomputed (id, t, b) bucket
    rows — shared by lsh_topk (buckets computed inline) and AnnIndex
    (corpus buckets read back from the committed index table)."""
    cand = (
        corpus_buckets
        .join(F.broadcast(query_buckets), ["t", "b"])
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    # per-row norms precomputed before the pair join (see brute_topk)
    scored = (
        corpus_vecs.withColumn(
            "_nn", F.sqrt(_dot(F.col("neighbor_e"), F.col("neighbor_e")))
        )
        .join(F.broadcast(cand), "neighbor_id")
        .join(
            F.broadcast(
                query_vecs.withColumn(
                    "_qn",
                    F.sqrt(_dot(F.col("query_e"), F.col("query_e"))),
                )
            ),
            "query_id",
        )
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                _dot(F.col("query_e"), F.col("neighbor_e"))
                / (F.col("_qn") * F.col("_nn")),
                6,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


class AnnIndex:
    """Incrementally-maintained LSH ANN index: the hashing cost is paid
    ONCE per vector at ingestion time, not once per query — the batch
    ``lsh_topk`` re-buckets the whole corpus on every call, which at
    100 TB means a full-corpus Arrow pass per query set, while a serving
    index buckets each micro-batch as it arrives and commits
    (vec_id, embedding, buckets) rows to an IcebergLite table keyed on
    vec_id (upsert-idempotent, batch-id replay-guarded).

    Query path (``topk``): bucket only the query side (tiny), explode the
    STORED corpus buckets, candidate-join on (table, bucket), exact
    cosine rerank — identical maths to ``lsh_topk`` via the shared
    ``_topk_from_buckets``, so index answers == batch answers for the
    same corpus (tests/test_ann_index.py pins it, and the driver gate
    runs the incremental path against the batch SQL oracle).

    At scale, bucket the index table (IcebergLite partition/bucket
    transforms) on a bucket-key digest so the candidate join is
    storage-partitioned and only matching buckets are scanned.
    """

    def __init__(
        self,
        table,
        dim: int = 64,
        n_tables: int = 8,
        n_planes: int = 4,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> None:
        if sorted(table.pk) != [id_col]:
            raise ValueError(f"index table pk must be ['{id_col}']")
        self.table = table
        self.dim = int(dim)
        self.n_tables = int(n_tables)
        self.n_planes = int(n_planes)
        self.id_col = id_col
        self.vec_col = vec_col

    def apply_batch(self, vecs: DataFrame, batch_id: str) -> bool:
        """Bucket one micro-batch of vectors and upsert into the index."""
        bid = str(batch_id)
        if bid in self.table.committed_batches():
            return False
        buckets = lsh_buckets_udf(self.dim, self.n_tables, self.n_planes)
        rows = vecs.select(
            self.id_col,
            _as_double(F.col(self.vec_col)).alias(self.vec_col),
            buckets(_as_double(F.col(self.vec_col))).alias("buckets"),
        )
        return self.table.commit_upsert(rows, bid)

    def start(self, stream: DataFrame, checkpoint: str, **trigger):
        """Maintain the index from a streaming DataFrame of vectors."""
        from .pipeline import _start_foreach_batch

        return _start_foreach_batch(
            stream,
            lambda df, bid: self.apply_batch(df, str(bid)),
            checkpoint,
            "append",
            trigger or {"availableNow": True},
        )

    def topk(self, spark, queries: DataFrame, k: int = 5) -> DataFrame:
        """Exact-reranked approximate top-k against the committed index."""
        idx = self.table.read(spark)
        corpus_vecs = idx.select(
            F.col(self.id_col).alias("neighbor_id"),
            F.col(self.vec_col).alias("neighbor_e"),
        )
        corpus_buckets = idx.select(
            F.col(self.id_col).alias("neighbor_id"),
            F.posexplode("buckets").alias("t", "b"),
        )
        query_vecs = queries.select(
            F.col(self.id_col).alias("query_id"),
            _as_double(F.col(self.vec_col)).alias("query_e"),
        )
        qbuckets = lsh_buckets_udf(self.dim, self.n_tables, self.n_planes)
        query_buckets = query_vecs.select(
            "query_id",
            F.posexplode(qbuckets(F.col("query_e"))).alias("t", "b"),
        )
        return _topk_from_buckets(
            corpus_vecs, corpus_buckets, query_vecs, query_buckets, k
        )


# ---------------------------------------------------------------- product
# quantization (the fourth ANN strategy: compressed-domain search)

PQ_M = 16  # subspaces (64-dim vectors -> 4 dims per subspace)
PQ_KS = 64  # codes per subspace -> 16 * 6 bits = 12 bytes/vector (21x)


def pq_codebook(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = PQ_M,
    ks: int = PQ_KS,
) -> DataFrame:
    """Per-subspace codebook components: (s, code, pos, c) in micro-units.

    Real PQ k-means each subspace; for engine-portable determinism the
    codewords are integer means of md5-hash-partitioned training buckets
    (one assignment step from hashed init — same dataflow, replayable in
    SQL). One shuffle of |corpus|*dim component rows with map-side combine;
    the codebook itself is m*ks*subdim integers — broadcast material.
    """
    bucket = F.pmod(
        F.conv(
            F.substring(F.md5(F.concat(F.lit("pq:"), F.col(id_col).cast("string"))), 1, 8),
            16, 10,
        ).cast("long"),
        F.lit(ks),
    ).cast("int")
    ex = corpus.select(
        bucket.alias("code"),
        F.posexplode(quantize(F.col(vec_col))).alias("pos", "v"),
    )
    per = ex.groupBy("code", "pos").agg(
        F.sum("v").alias("_s"), F.count(F.lit(1)).alias("_c")
    )
    return per.select(
        (F.col("pos") / F.lit(64 // m)).cast("int").alias("s"),
        "code",
        "pos",
        F.expr("_s div _c").alias("c"),
    )


# sentinel codeword component for (code, pos) slots absent from the codebook
# (an empty hash bucket). Real components are ~±5e6 micro-units, so the
# sentinel's per-subspace distance is ~4e18 — always loses, never overflows
# int64 (4·(1.005e9)² < 2^63).
_PQ_SENTINEL = 1_000_000_000


def _pq_dense_codebook(codebook: DataFrame, ks: int) -> DataFrame:
    """Collapse the (s, code, pos, c) codebook relation into ONE row holding
    a dense array indexed by code*64 + pos (1-based via element_at) — the
    broadcast-a-single-row idiom that turns every downstream codeword
    lookup into O(1) element_at instead of a join or an array_position
    scan. Missing (code, pos) slots get the losing sentinel."""
    entries = codebook.select(
        (F.col("code") * 64 + F.col("pos")).cast("int").alias("k"),
        F.col("c"),
    )
    # dense fill via grid join (O(n)) — NOT an array_position probe per
    # slot, which would be O(n²) interpreted ops on a single task
    grid = (
        codebook.groupBy()
        .agg(F.count(F.lit(1)).alias("_n"))
        .select(
            F.explode(F.sequence(F.lit(0), F.lit(ks * 64 - 1))).alias("k")
        )
    )
    dense = grid.join(F.broadcast(entries), "k", "left").select(
        "k",
        F.coalesce(F.col("c"), F.lit(_PQ_SENTINEL).cast("long")).alias("c"),
    )
    return (
        dense.groupBy()
        .agg(F.array_sort(F.collect_list(F.struct("k", "c"))).alias("_l"))
        .select(F.transform(F.col("_l"), lambda st: st["c"]).alias("_cb"))
    )


def _pq_subspace_dist(s, code, vec_col: str, m: int):
    """Exact integer L2² between subspace s of the row's quantized vector
    and codeword `code` — pure in-row element_at arithmetic against the
    dense codebook array (no join, no shuffle)."""
    subdim = 64 // m
    return F.aggregate(
        F.sequence(F.lit(0), F.lit(subdim - 1)),
        F.lit(0).cast("long"),
        lambda a, j: a
        + (
            F.element_at(F.col(vec_col), (s * subdim + j + 1).cast("int"))
            - F.element_at(
                F.col("_cb"), (code * 64 + s * subdim + j + 1).cast("int")
            )
        )
        * (
            F.element_at(F.col(vec_col), (s * subdim + j + 1).cast("int"))
            - F.element_at(
                F.col("_cb"), (code * 64 + s * subdim + j + 1).cast("int")
            )
        ),
    )


def pq_encode(
    corpus: DataFrame,
    codebook: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = PQ_M,
    ks: int = PQ_KS,
) -> DataFrame:
    """Encode each vector as m small codes: per subspace, the codeword
    minimizing exact integer L2² (ties to the smaller code — array_min +
    first array_position). The codebook rides as ONE broadcast dense-array
    row, so encoding is a single map over the corpus with m·ks·subdim
    in-row integer ops per vector — no explode, no shuffle, no window.
    (The previous formulation exploded every vector into dim·ks joined
    component rows and re-aggregated them; same values, ~64× the rows.)
    Output: (vec_id, codes array<int>)."""
    cb_row = _pq_dense_codebook(codebook, ks)
    q = corpus.select(
        F.col(id_col).alias("vec_id"), quantize(F.col(vec_col)).alias("_v")
    ).crossJoin(F.broadcast(cb_row))
    # nested per-subspace distance arrays, materialized once per vector;
    # the argmin then runs over the BOUND lambda element (no re-evaluation)
    dists_all = q.select(
        "vec_id",
        F.transform(
            F.sequence(F.lit(0), F.lit(m - 1)),
            lambda s: F.transform(
                F.sequence(F.lit(0), F.lit(ks - 1)),
                lambda code: _pq_subspace_dist(s, code, "_v", m),
            ),
        ).alias("_d"),
    )
    return dists_all.select(
        "vec_id",
        F.transform(
            F.col("_d"),
            lambda arr: (F.array_position(arr, F.array_min(arr)) - 1).cast(
                "int"
            ),
        ).alias("codes"),
    )


def pq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = PQ_M,
    ks: int = PQ_KS,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes — compressed-domain
    search: corpus vectors are m small codes (12 bytes here vs 256 bytes of
    floats), queries build an m*ks lookup table of exact integer distances
    to every codeword, and the scan is one broadcast of the per-query LUTs
    over the codes table with O(m) in-row adds — no float math, no vector
    shuffle, ~21x less scan IO than brute force at 100 TB corpus scale.

    This is the candidate-generation stage of IVFADC; compose with an
    exact rerank (``pq_topk``) for neighbor-quality results. Output
    contract (query_id, neighbor_id, rank, adc_dist_q) with integer
    distances, ties to the smaller neighbor_id — fully deterministic.
    """
    cb = pq_codebook(corpus, id_col, vec_col, m, ks)
    codes = pq_encode(corpus, cb, id_col, vec_col, m, ks).select(
        F.col("vec_id").alias("neighbor_id"), "codes"
    )
    cb_row = _pq_dense_codebook(cb, ks)
    # DENSE per-query LUT: one flat m*ks array indexed s*ks + code (1-based
    # via element_at), built with the same in-row integer arithmetic as
    # encoding — absent codebook slots carry sentinel distances that can
    # never be referenced (pq_encode can't emit an absent code). The scan
    # side then pays m O(1) lookups per row instead of m O(m·ks)
    # array_position scans.
    lut = (
        queries.select(
            F.col(id_col).alias("query_id"),
            quantize(F.col(vec_col)).alias("_v"),
        )
        .crossJoin(F.broadcast(cb_row))
        .select(
            "query_id",
            F.transform(
                F.sequence(F.lit(0), F.lit(m * ks - 1)),
                lambda i: _pq_subspace_dist(
                    F.floor(i / ks).cast("int"), i % ks, "_v", m
                ),
            ).alias("lut"),
        )
    )
    scored = codes.crossJoin(F.broadcast(lut)).where(
        F.col("query_id") != F.col("neighbor_id")
    ).select(
        "query_id",
        "neighbor_id",
        F.aggregate(
            F.sequence(F.lit(0), F.lit(m - 1)),
            F.lit(0).cast("long"),
            lambda acc, s: acc
            + F.element_at(
                F.col("lut"),
                (s * ks + F.element_at(F.col("codes"), s + 1) + 1).cast(
                    "int"
                ),
            ),
        ).alias("adc_dist_q"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist_q"), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "adc_dist_q")
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    rerank: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = PQ_M,
    ks: int = PQ_KS,
) -> DataFrame:
    """PQ-ADC candidates + exact cosine rerank (the IVFADC+rerank shape).

    Stage 1 scans only the 12-byte code table (pq_adc_topk) to pick
    ``rerank`` (default 8k) candidates per query; stage 2 rejoins the
    candidates' full vectors ONCE for an exact cosine ordering — identical
    output contract to brute/LSH/IVF: (query_id, neighbor_id, rank,
    cosine). At 100 TB the full-precision vectors are touched only for
    |queries|·rerank rows; everything else reads the compressed codes.

    Recall is quantizer-limited: on noise-dominated synthetic vectors
    (this repo's testdata — the hardest case, neighbor structure lives in
    the noise the quantizer rounds away) candidate recall@8k ~0.8; on
    clustered real-world embeddings the same budget recalls near 1.
    """
    rerank = rerank or 8 * k
    cand = pq_adc_topk(
        corpus, queries, k=rerank, id_col=id_col, vec_col=vec_col, m=m, ks=ks
    ).select("query_id", "neighbor_id")
    corpus_vecs = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        _as_double(F.col(vec_col)).alias("neighbor_e"),
    )
    query_vecs = queries.select(
        F.col(id_col).alias("query_id"),
        _as_double(F.col(vec_col)).alias("query_e"),
    )
    scored = (
        corpus_vecs.withColumn(
            "_nn", F.sqrt(_dot(F.col("neighbor_e"), F.col("neighbor_e")))
        )
        .join(F.broadcast(cand), "neighbor_id")
        .join(
            F.broadcast(
                query_vecs.withColumn(
                    "_qn", F.sqrt(_dot(F.col("query_e"), F.col("query_e")))
                )
            ),
            "query_id",
        )
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                _dot(F.col("query_e"), F.col("neighbor_e"))
                / (F.col("_qn") * F.col("_nn")),
                6,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def kmeans_lloyd(
    emb: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Lloyd k-means over quantized vectors: ``iters`` rounds of
    assign-to-nearest / recompute-centroid, integer-exact end to end.

    Seeding is deterministic — the ``k`` vectors with the smallest ids —
    so every engine replays the identical trajectory (no random init, no
    kmeans++ sampling nondeterminism). Distances are integer L2² in
    micro-units; new centroids are per-dimension TRUNCATED means
    (``s div c``, matching SQL ``//``); a cluster that loses all members
    keeps its previous centroid.

    Scale shape (the MLlib discipline): centroids are k·dim scalars —
    driver-held literals, broadcast into each assignment pass; the data
    never shuffles. Per round: one broadcast cross-score + per-vector
    argmin (partial-aggregated min, no window over data), one
    (cluster, dim) sum/count agg of |k·dim| output rows collected to the
    driver. At 10^9 vectors each round is two scans, zero wide exchanges
    over the data.

    Output: (vec_id, cluster, dist_q) — final-round assignment.
    """
    v = emb.select(
        F.col(id_col).alias("vec_id"), quantize(F.col(vec_col)).alias("q")
    )
    seeds = v.orderBy("vec_id").limit(k).collect()
    cents: list[tuple[int, list[int]]] = [
        (i, list(r["q"])) for i, r in enumerate(seeds)
    ]
    dim = len(cents[0][1])

    def assign(cent_rows):
        c = F.array(
            *[
                F.struct(
                    F.lit(ci).alias("c"),
                    F.array(*[F.lit(x) for x in cq]).alias("cq"),
                )
                for ci, cq in cent_rows
            ]
        )
        # per-vector argmin folded JVM-side: array_min over (dist, c)
        # structs — struct ordering gives min-distance with smaller-index
        # tie-break; no per-vector window, no shuffle
        scored = v.select(
            "vec_id",
            "q",
            F.array_min(
                F.transform(
                    c,
                    lambda s: F.struct(
                        _l2q(F.col("q"), s["cq"]).alias("d"),
                        s["c"].alias("c"),
                    ),
                )
            ).alias("best"),
        )
        return scored.select(
            "vec_id",
            "q",
            F.col("best.c").alias("cluster"),
            F.col("best.d").alias("dist_q"),
        )

    for _ in range(iters):
        assigned = assign(cents)
        per_dim = (
            assigned.select(
                "cluster", F.posexplode("q").alias("pos", "x")
            )
            .groupBy("cluster", "pos")
            .agg(F.sum("x").alias("s"), F.count(F.lit(1)).alias("c"))
            .withColumn("m", F.expr("s div c"))
        )
        new = (
            per_dim.groupBy("cluster")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("pos", "m"))
                ).alias("_pm")
            )
            .select(
                "cluster",
                F.transform(F.col("_pm"), lambda s: s["m"]).alias("cq"),
            )
            .collect()
        )
        got = {r["cluster"]: list(r["cq"]) for r in new}
        cents = [(ci, got.get(ci, cq)) for ci, cq in cents]

    return assign(cents).select("vec_id", "cluster", "dist_q")


def _l2q(q: Column, cq: Column) -> Column:
    """Integer L2² between two quantized vectors (ordered fold, exact)."""
    return F.aggregate(
        F.zip_with(q, cq, lambda a, b: a - b),
        F.lit(0).cast("long"),
        lambda acc, d: acc + d * d,
    )


def label_centroid_dists(
    emb: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k_far: int = 5,
) -> DataFrame:
    """Prototype-distance scoring: integer L2² of every vector to its OWN
    label centroid, with the k farthest per label flagged — the data-pruning
    primitive of Sorscher et al. 2022 ("Beyond neural scaling laws"):
    prototypical examples are cheap to drop, far-from-centroid examples
    carry the information. Distinct from ivf_assign (nearest-of-all
    centroids): this scores within-class typicality.

    Exactness: vectors are micro-quantized (quantize()), centroids are
    per-dimension truncated integer means (``s div c``, mirroring
    kmeans_lloyd/DuckDB ``//``), distances are exact BIGINT folds (_l2q),
    and the far-rank tiebreak is (dist desc, id asc) — every row
    engine-identical.

    Scale shape: one posexplode×d pass that immediately hash-aggregates
    (map-side partial combine sums int64s, so the ×d amplification never
    shuffles raw rows), a |labels|·d centroid relation broadcast back, one
    whole-stage-codegen'd fold per row, one per-label window for the rank.
    No pandas anywhere; at 100 TB this is a single data scan.
    """
    d = emb.select(
        F.col(id_col).alias("vec_id"),
        F.col(label_col).alias("label"),
        quantize(F.col(vec_col)).alias("q"),
    )
    per_dim = (
        d.select("label", F.posexplode("q").alias("pos", "x"))
        .groupBy("label", "pos")
        .agg(F.sum("x").alias("s"), F.count(F.lit(1)).alias("c"))
        .withColumn("m", F.expr("s div c"))
    )
    cents = (
        per_dim.groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("_pm"))
        .select(
            "label",
            F.transform(F.col("_pm"), lambda s: s["m"]).alias("cq"),
        )
    )
    j = d.join(F.broadcast(cents), "label")
    scored = j.select(
        "vec_id",
        "label",
        _l2q(F.col("q"), F.col("cq")).alias("dist_q"),
    )
    w = Window.partitionBy("label").orderBy(
        F.desc("dist_q"), F.asc("vec_id")
    )
    return scored.withColumn(
        "far_rank", F.row_number().over(w).cast("long")
    ).withColumn("is_far", F.col("far_rank") <= F.lit(k_far))


def gram_matrix(
    emb: DataFrame,
    vec_col: str = "embedding",
    scale: int = 1000,
) -> DataFrame:
    """Exact integer second-moment (gram) matrix Σ x xᵀ of the corpus
    embeddings — the one aggregation PCA / whitening / covariance
    estimation needs, computed in a SINGLE pass with per-partition d×d
    partials (the classic "gramian trick": raw vectors are never shuffled,
    each Arrow batch reduces to d² int64 cells before anything moves).

    Vectors are quantized to ``scale`` units with half-away-from-zero
    rounding (matching quantize()/DuckDB round — NOT numpy's default
    banker's rounding), so every cell is an exact BIGINT on any engine.
    Overflow bound: n · (scale·|x|max)² must stay < 2^63 — the default
    milli-scale allows ~9·10^12 unit-norm rows; raise/lower ``scale`` to
    trade precision for headroom and document the choice at the call site.

    Output: one row per (i, j) cell, 1-based — (i, j, n, sum_xy).
    """
    import numpy as np

    def fn(it):
        for pdf in it:
            if not len(pdf):
                continue
            m = np.stack(
                [
                    np.asarray(v, dtype=np.float64)
                    for v in pdf[vec_col]
                ]
            )
            # half-away-from-zero, like F.round / DuckDB round
            q = (
                np.sign(m) * np.floor(np.abs(m) * scale + 0.5)
            ).astype(np.int64)
            g = q.T @ q
            d = g.shape[0]
            ii, jj = np.meshgrid(
                np.arange(1, d + 1), np.arange(1, d + 1), indexing="ij"
            )
            yield pd.DataFrame(
                {
                    "i": ii.ravel(),
                    "j": jj.ravel(),
                    "n_part": np.int64(len(pdf)),
                    "s_part": g.ravel(),
                }
            )

    partials = emb.select(vec_col).mapInPandas(
        fn, "i long, j long, n_part long, s_part long"
    )
    return partials.groupBy("i", "j").agg(
        F.sum("n_part").cast("long").alias("n"),
        F.sum("s_part").cast("long").alias("sum_xy"),
    )


def recall_at_k(approx: DataFrame, exact: DataFrame) -> DataFrame:
    """ANN quality eval: per-query recall of an approximate top-k result
    against the exact (brute-force) top-k ground truth — the number every
    index deployment reports before trading exactness for speed. Both
    inputs are (query_id, neighbor_id, ...) top-k relations.

    Shape: the exact side is |queries|·k rows and the approximate side
    the same order — both tiny relative to the corpus regardless of SF,
    so this is a broadcast left join + one |queries|-sized agg; the
    corpus itself is never touched here (the two ANN ops already paid
    their scans). recall_ppm is exact integer arithmetic.

    Output: (query_id, n_exact, n_hit, recall_ppm).
    """
    marked = F.broadcast(
        approx.select("query_id", "neighbor_id").withColumn(
            "hit", F.lit(1)
        )
    )
    j = exact.select("query_id", "neighbor_id").join(
        marked, ["query_id", "neighbor_id"], "left"
    )
    return (
        j.groupBy("query_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_exact"),
            F.coalesce(F.sum("hit"), F.lit(0)).cast("long").alias("n_hit"),
        )
        .select(
            "query_id",
            "n_exact",
            "n_hit",
            F.expr("n_hit * 1000000 div n_exact")
            .cast("long")
            .alias("recall_ppm"),
        )
    )


#: NDCG position weights w_i = round(1e6 / log2(i+1)) for ranks 1..10,
#: pinned as integer micro literals so Spark and the DuckDB oracle share
#: the exact discount curve (no engine-side logs in the metric).
NDCG_W_MICRO = (
    1000000, 630930, 500000, 430677, 386853,
    356207, 333333, 315465, 301030, 289065,
)


def ndcg_at_k(approx: DataFrame, exact: DataFrame, k: int = 10) -> DataFrame:
    """NDCG@k of an approximate ranking against exact top-k ground truth
    with binary relevance — the position-aware complement of
    ``recall_at_k``: recall only asks "did the true neighbors appear",
    NDCG asks "did they appear EARLY". Inputs are (query_id, neighbor_id,
    rank) relations; a ground-truth member found at approx rank i earns
    the pinned discount weight ``NDCG_W_MICRO[i-1]``; the ideal DCG is
    the prefix sum over min(|truth|, k) positions.

    Shape: both sides are |queries|·k rows — broadcast join + one
    |queries|-sized agg; the corpus is untouched. All arithmetic is
    exact BIGINT micro units; one integer div for the ratio.

    Output: (query_id, dcg_micro, idcg_micro, ndcg_ppm).
    """
    if k > len(NDCG_W_MICRO):
        raise ValueError(f"k > {len(NDCG_W_MICRO)} needs more pinned weights")
    w_sql = "array(" + ",".join(f"{w}L" for w in NDCG_W_MICRO[:k]) + ")"
    cum = []
    t = 0
    for w in NDCG_W_MICRO[:k]:
        t += w
        cum.append(t)
    cum_sql = "array(" + ",".join(f"{c}L" for c in cum) + ")"
    rel = F.broadcast(
        exact.select("query_id", "neighbor_id").withColumn("_rel", F.lit(1))
    )
    dcg = (
        approx.where(F.col("rank") <= k)
        .join(rel, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.sum(
                F.when(
                    F.col("_rel") == 1,
                    F.expr(f"element_at({w_sql}, cast(rank as int))"),
                ).otherwise(F.lit(0).cast("long"))
            )
            .cast("long")
            .alias("dcg_micro")
        )
    )
    idcg = exact.groupBy("query_id").agg(
        F.expr(
            f"element_at({cum_sql}, cast(least(count(1), {k}) as int))"
        )
        .cast("long")
        .alias("idcg_micro")
    )
    return (
        idcg.join(F.broadcast(dcg), "query_id", "left")
        .select(
            "query_id",
            F.coalesce("dcg_micro", F.lit(0)).cast("long").alias("dcg_micro"),
            "idcg_micro",
            F.expr("coalesce(dcg_micro, 0L) * 1000000 div idcg_micro")
            .cast("long")
            .alias("ndcg_ppm"),
        )
    )


def sq8_error(
    emb: DataFrame,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Scalar int8 quantization (SQ8) quality report: quantize every
    embedding dimension to 8 bits against the corpus-wide per-dimension
    [min, max] range and report the exact reconstruction error per
    label — the storage-compression sibling of PQ (ann_pq_topk): SQ8 is
    what FAISS/production vector stores use for a flat 4× memory cut
    before any coarse index.

    Engine-exactness: values ride a fixed 1e-6 grid (round(x·1e6) as
    BIGINT) so quantize ((v-mn)·255 div (mx-mn)), reconstruct
    (mn + q·(mx-mn) div 255) and squared error are all exact BIGINT
    arithmetic — no float in the whole path.

    Shape (100 TB): pass 1 computes per-dimension min/max via posexplode
    + map-side-combined agg (``dim`` output rows); the driver collects
    those ``dim`` rows — constant-size coordination, the kmeans-idiom —
    and re-broadcasts them as literal arrays, so pass 2 is a single
    whole-stage-codegen projection over the corpus with one final
    |labels|-sized agg. No joins, no window over data.

    Output: (label, n_vecs, sq_err_sum BIGINT, mse_per_dim BIGINT).
    """
    v_int = F.transform(
        F.col(vec_col), lambda x: F.round(x.cast("double") * 1e6).cast("long")
    )
    d = emb.select(F.col(id_col), F.col(label_col).alias("label"), v_int.alias("v"))
    rng = (
        d.select(F.posexplode("v").alias("i", "x"))
        .groupBy("i")
        .agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
        .collect()
    )
    mn = [0] * dim
    sc = [0] * dim
    for r in rng:
        mn[r["i"]] = r["mn"]
        sc[r["i"]] = r["mx"] - r["mn"]
    mn_sql = "array(" + ",".join(f"{x}L" for x in mn) + ")"
    sc_sql = "array(" + ",".join(f"{x}L" for x in sc) + ")"
    # reconstruction r_i = mn_i + (((x - mn_i)·255) div sc_i)·sc_i div 255;
    # constant-range dimensions reconstruct exactly (err 0)
    recon = (
        f"transform(v, (x, i) -> CASE WHEN element_at({sc_sql}, i + 1) > 0"
        f" THEN element_at({mn_sql}, i + 1)"
        f" + (((x - element_at({mn_sql}, i + 1)) * 255)"
        f" div element_at({sc_sql}, i + 1))"
        f" * element_at({sc_sql}, i + 1) div 255"
        " ELSE x END)"
    )
    err = (
        f"aggregate(zip_with(v, {recon}, (x, r) -> (x - r) * (x - r)),"
        " 0L, (acc, e) -> acc + e)"
    )
    per_vec = d.select("label", F.expr(err).alias("sq"))
    return (
        per_vec.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            F.sum("sq").cast("long").alias("sq_err_sum"),
        )
        .select(
            "label",
            "n_vecs",
            "sq_err_sum",
            F.expr(f"sq_err_sum div (n_vecs * {dim})")
            .cast("long")
            .alias("mse_per_dim"),
        )
    )


def pca_power_scores(
    emb: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    iters: int = 3,
    scale: int = 1000,
) -> DataFrame:
    """First-principal-component scores via INTEGER power iteration — the
    distributed-PCA primitive (embedding drift directions, whitening prep,
    top-variance axis) with every step engine-exact:

      1. gram_matrix() reduces the corpus to d² int64 cells in one pass
         (the only data-volume work; raw vectors never shuffle);
      2. the d²-cell relation collects to the driver (the kmeans-centroid
         coordination pattern) and ``iters`` matvec rounds run in exact
         integer arithmetic, max-normalized to 1e6 fixed point each round
         (graph.hits' determinism trick — the integer analogue of L2
         normalization) with TRUNCATING division (sign·(|w|·1e6 div max))
         so DuckDB's ``//``-toward-zero replays it bit-for-bit;
      3. the sign is canonicalized (largest-|component|, ties → smallest
         index, made positive — power iteration's sign is otherwise
         arbitrary), the 64-int vector inlines as a literal (the LSH-plane
         trick), and one codegen'd fold projects every row.

    Overflow bound: d · max|gram| · 1e6 < 2^63, i.e. n·(scale·|x|max)²
    < 1.4e11 at d=64 — milli-scale unit-norm embeddings allow ~10^11 rows;
    retune ``scale`` beyond that.

    Output: (vec_id, score) — exact BIGINT projection onto the estimated
    top component.
    """
    gram = gram_matrix(emb, vec_col=vec_col, scale=scale)
    cells = gram.select("i", "j", "sum_xy").collect()
    d = max(r["i"] for r in cells)
    g = {(r["i"], r["j"]): r["sum_xy"] for r in cells}
    v = [10**6] * d
    for _ in range(iters):
        w = [
            sum(g.get((i + 1, j + 1), 0) * v[j] for j in range(d))
            for i in range(d)
        ]
        mx = max(abs(x) for x in w) or 1
        v = [
            (abs(x) * 10**6) // mx * (1 if x >= 0 else -1) for x in w
        ]
    k = max(range(d), key=lambda i: (abs(v[i]), -i))
    if v[k] < 0:
        v = [-x for x in v]
    vec_lit = "array({})".format(
        ", ".join(f"CAST({x} AS BIGINT)" for x in v)
    )
    q = F.transform(
        F.col(vec_col),
        lambda x: F.round(x.cast("double") * scale, 0).cast("long"),
    )
    score = F.aggregate(
        F.zip_with(q, F.expr(vec_lit), lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return emb.select(F.col(id_col).alias("vec_id"), score.alias("score"))


def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining for contrastive / embedding-model training:
    for each query vector, the ``k`` most-cosine-similar vectors with a
    DIFFERENT label — the near-miss impostors whose gradients train the
    margin, versus random negatives that are already trivially far
    (Schroff et al. 2015 semi-hard mining; DPR's hard negatives).

    Same 100 TB shape as :func:`brute_topk` (shared ``_cosine_topk``
    core): the (small) query side is broadcast so the corpus never
    shuffles; the label inequality rides the join condition so
    same-label rows are dropped at the probe, not post-ranked; ranking
    is one per-query window. For web-scale corpora swap the probe side
    through :func:`ivf_topk`'s cell routing and rerank the union — the
    mining semantics stay identical.

    Rows with a NULL label are EXCLUDED explicitly, on both sides:
    "unlabeled" is not a label, and leaving it to the join predicate's
    three-valued logic would drop them silently instead of by policy.

    Output: (query_id, neighbor_id, neg_label, rank, cosine).
    """
    c = (
        corpus.where(F.col(label_col).isNotNull())
        .select(
            F.col(id_col).alias("neighbor_id"),
            F.col(label_col).alias("neg_label"),
            _as_double(F.col(vec_col)).alias("ce"),
        )
        .withColumn("cn", F.sqrt(_dot(F.col("ce"), F.col("ce"))))
    )
    q = (
        queries.where(F.col(label_col).isNotNull())
        .select(
            F.col(id_col).alias("query_id"),
            F.col(label_col).alias("_q_label"),
            _as_double(F.col(vec_col)).alias("qe"),
        )
        .withColumn("qn", F.sqrt(_dot(F.col("qe"), F.col("qe"))))
    )
    return _cosine_topk(
        c,
        q,
        k,
        ["neg_label"],
        (F.col("query_id") != F.col("neighbor_id"))
        & (F.col("_q_label") != F.col("neg_label")),
    )
