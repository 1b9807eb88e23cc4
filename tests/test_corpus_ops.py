"""Tests for the training-data corpus operators (textops / dedup /
similarity / multimodal) — semantics the oracle gate can't cover: recall of
the approximate paths vs the exact baselines, stub gating, entropy features.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from kafka2iceberg_spark import dedup as dd
from kafka2iceberg_spark import multimodal as mm
from kafka2iceberg_spark import similarity as sim
from kafka2iceberg_spark import textops as tx


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (3, "the quick brown fox leaps over the lazy dog"),  # near dup of 1
        (4, "completely different content about spark engines and shuffles"),
        (5, "Der Hund ist nicht der gleiche wie die Katze und das Pferd"),
        (6, ""),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


# ----------------------------------------------------------------- textops


def test_norm_and_tokens(spark, docs):
    out = docs.select(
        "doc_id", tx.n_tokens(F.col("text")).alias("k")
    ).collect()
    k = {r["doc_id"]: r["k"] for r in out}
    assert k[1] == 9
    assert k[6] == 0  # empty text → zero tokens, no crash


def test_quality_ppm_bounds(spark, docs):
    out = docs.select(tx.quality_ppm(F.col("text")).alias("q")).collect()
    for r in out:
        assert 0 <= r["q"] <= 1_000_000


def test_lang_id_markers(spark, docs):
    out = {
        r["doc_id"]: r["lang"]
        for r in docs.select(
            "doc_id", tx.lang_id(F.col("text")).alias("lang")
        ).collect()
    }
    assert out[1] == "en"
    assert out[5] == "de"
    assert out[6] == "und"  # no markers at all


def test_fingerprint_ignores_case_and_punct(spark):
    df = spark.createDataFrame(
        [(1, "Hello, World!"), (2, "hello world"), (3, "other")],
        ["doc_id", "text"],
    )
    fps = {
        r["doc_id"]: r["fp"]
        for r in df.select(
            "doc_id", tx.fingerprint(F.col("text")).alias("fp")
        ).collect()
    }
    assert fps[1] == fps[2] != fps[3]


# ------------------------------------------------------------------- dedup


def test_exact_dedup_groups(spark, docs):
    out = dd.exact_dedup(docs).collect()
    by_id = {r["doc_id"]: r for r in out}
    assert by_id[1]["keeper_id"] == 1 and by_id[2]["keeper_id"] == 1
    assert by_id[1]["group_size"] == 2
    assert by_id[3]["group_size"] == 1  # near-dup is NOT an exact dup


def test_ngram_jaccard_finds_near_dup(spark, docs):
    pairs = dd.ngram_jaccard_pairs(docs.where("doc_id < 5"), threshold=0.5)
    got = {(r["doc_a"], r["doc_b"]) for r in pairs.collect()}
    assert (1, 2) in got  # exact dup → jaccard 1.0
    assert (1, 3) in got  # near dup
    assert (1, 4) not in got


def test_minhash_est_tracks_true_jaccard(spark, docs):
    d = docs.where("doc_id IN (1, 2, 3, 4)")
    est = {
        (r["doc_a"], r["doc_b"]): r["est_jaccard"]
        for r in dd.minhash_lsh_pairs(d, threshold=0.0).collect()
    }
    assert est[(1, 2)] == 1.0  # identical signatures
    if (1, 3) in est:
        assert est[(1, 3)] > 0.5
    assert (1, 4) not in est or est[(1, 4)] < 0.5


def test_simhash_near_dup_close_hamming(spark, docs):
    sh = {
        r["doc_id"]: r["simhash"]
        for r in dd.simhash(docs.where("doc_id IN (1, 3, 4)")).collect()
    }
    ham_near = bin(sh[1] ^ sh[3]).count("1")
    ham_far = bin(sh[1] ^ sh[4]).count("1")
    assert ham_near < ham_far


def test_embedding_neardup_blocked_by_label(spark, emb):
    pairs = dd.embedding_neardup_pairs(emb, threshold=-1.0)
    labels = emb.select("vec_id", "label").collect()
    lab = {r["vec_id"]: r["label"] for r in labels}
    for r in pairs.limit(50).collect():
        assert lab[r["vec_a"]] == lab[r["vec_b"]]


# -------------------------------------------------------------- similarity


def test_lsh_recall_vs_brute(spark, emb):
    """The approximate path must recover most exact top-5 neighbors."""
    q = emb.where(F.col("vec_id") < 8)
    exact = sim.brute_topk(emb, q, k=5)
    approx = sim.lsh_topk(emb, q, k=5, dim=64)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.5, f"LSH recall too low: {recall}"


def test_brute_topk_rank_contract(spark, emb):
    q = emb.where(F.col("vec_id") < 3)
    out = sim.brute_topk(emb, q, k=5).collect()
    by_q: dict[int, list] = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    for qid, rows in by_q.items():
        rows.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rows] == [1, 2, 3, 4, 5]
        cos = [r["cosine"] for r in rows]
        assert cos == sorted(cos, reverse=True)
        assert all(r["neighbor_id"] != qid for r in rows)


# -------------------------------------------------------------- multimodal


def test_blob_roundtrip_meta(spark, docs):
    blobs = mm.as_blobs(docs.where("doc_id = 1"))
    r = blobs.collect()[0]
    assert bytes(r["payload"]).decode() == (
        "the quick brown fox jumps over the lazy dog"
    )
    assert r["n_bytes"] == 43
    assert len(r["sha"]) == 64


def test_extract_features_deterministic(spark, docs):
    blobs = mm.as_blobs(docs)
    a = sorted(map(tuple, mm.extract_features(blobs).collect()))
    b = sorted(map(tuple, mm.extract_features(blobs).collect()))
    assert a == b
    row = dict(
        zip(
            [f.name for f in mm.FEATURE_SCHEMA.fields],
            [t for t in a if t[0] == 1][0],
        )
    )
    assert row["n_bytes"] == 43
    assert row["head_hex"] == "the quic".encode().hex()
    assert row["byte_entropy_q"] > 0


def test_ivf_recall_vs_brute(spark, emb):
    """IVF with 2 probed cells must recover a solid share of exact top-5;
    with ALL cells probed it must equal brute force exactly."""
    q = emb.where(F.col("vec_id") < 8)
    exact = sim.brute_topk(emb, q, k=5)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}

    approx = sim.ivf_topk(emb, q, k=5, n_probe=2)
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.3, f"IVF recall too low: {recall}"

    n_cells = emb.select("label").distinct().count()
    full = sim.ivf_topk(emb, q, k=5, n_probe=n_cells)
    f = {(r["query_id"], r["neighbor_id"]) for r in full.collect()}
    assert f == e, "probing every cell must equal brute force"


def test_pq_recall_and_compression_contract(spark, emb):
    """PQ-ADC + exact rerank: a solid share of exact top-5 recovered from
    the compressed scan; codes really are m small ints; self excluded;
    every returned neighbor's cosine matches the exact computation."""
    q = emb.where(F.col("vec_id") < 8)
    exact = sim.brute_topk(emb, q, k=5)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    approx = sim.pq_topk(emb, q, k=5)
    rows = approx.collect()
    a = {(r["query_id"], r["neighbor_id"]) for r in rows}
    recall = len(e & a) / len(e)
    assert recall >= 0.5, f"PQ recall too low: {recall}"
    assert all(r["query_id"] != r["neighbor_id"] for r in rows)
    # rerank stage is exact: any pair PQ and brute share agrees on cosine
    ecos = {(r["query_id"], r["neighbor_id"]): r["cosine"] for r in exact.collect()}
    for r in rows:
        key = (r["query_id"], r["neighbor_id"])
        if key in ecos:
            assert abs(r["cosine"] - ecos[key]) < 1e-9
    # the code table: m codes in [0, ks) per vector
    cb = sim.pq_codebook(emb)
    codes = sim.pq_encode(emb, cb).collect()
    assert all(len(r["codes"]) == sim.PQ_M for r in codes)
    assert all(0 <= c < sim.PQ_KS for r in codes for c in r["codes"])


def test_neardup_components_transitive_chain(spark):
    """A~B and B~C must land in ONE component even when A and C are not
    directly similar — the property one-hop pair suppression misses."""
    base = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lamda mu nu xi omicron pi rho sigma tau upsilon"
    )
    words = base.split()
    # B drops the first word, C drops the first two: A~B and B~C overlap
    # heavily, A~C less so; D is unrelated
    rows = [
        (1, " ".join(words)),
        (2, " ".join(words[1:])),
        (3, " ".join(words[2:])),
        (4, "totally different content with no shared shingles at all here"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    comp = {
        r["doc_id"]: r["component"]
        for r in dd.neardup_components(docs, threshold=0.3).collect()
    }
    assert comp[1] == comp[2] == comp[3] == 1
    assert comp[4] == 4


def test_contamination_verbatim_and_disjoint(spark):
    """A training doc containing a benchmark doc verbatim must be flagged;
    a doc with fully disjoint vocabulary must not; short docs (< n words)
    can never be flagged."""
    bench = spark.createDataFrame(
        [(100, "the secret benchmark question about spark shuffles here")],
        ["doc_id", "text"],
    )
    train = spark.createDataFrame(
        [
            (1, "prefix words the secret benchmark question about spark "
                "shuffles here suffix words"),          # verbatim superset
            (2, "entirely different vocabulary with zero overlap tokens"),
            (3, "tiny doc"),                            # < 5 words
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: (r["contaminated"], r["n_shared_ngrams"])
        for r in dd.contamination_flags(train, bench, n=5).collect()
    }
    assert out[1][0] is True and out[1][1] >= 4  # sliding 5-grams overlap
    assert out[2] == (False, 0)
    assert out[3] == (False, 0)


def test_pii_redaction_and_counts(spark):
    rows = [
        (1, "mail me at alice.b+x@mail.example.org or bob@ex.io today"),
        (2, "server 192.168.1.250 then call 555-123-4567 ok"),
        (3, "no pii here at all"),
        (4, ""),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            *tx.pii_counts(F.col("text")),
            tx.redact_pii(F.col("text")).alias("clean"),
        ).collect()
    }
    assert out[1]["n_email"] == 2 and out[1]["n_ip"] == 0
    assert out[1]["clean"] == "mail me at <EMAIL> or <EMAIL> today"
    assert out[2]["n_ip"] == 1 and out[2]["n_phone"] == 1
    assert out[2]["clean"] == "server <IP> then call <PHONE> ok"
    assert out[3]["clean"] == "no pii here at all"
    assert out[4]["n_email"] == out[4]["n_ip"] == out[4]["n_phone"] == 0
    # idempotent: placeholders contain no redactable spans
    again = df.select(
        tx.redact_pii(tx.redact_pii(F.col("text"))).alias("c2"),
        tx.redact_pii(F.col("text")).alias("c1"),
    ).collect()
    assert all(r["c1"] == r["c2"] for r in again)


def test_chunk_documents_overlap_invariants(spark):
    words = " ".join(f"w{i}" for i in range(50))
    rows = [(1, words), (2, "a b c"), (3, "")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = tx.chunk_documents(df, chunk_tokens=16, overlap=4).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # empty doc -> no chunks; short doc -> one chunk of its own length
    assert 3 not in by_doc
    assert len(by_doc[2]) == 1 and by_doc[2][0]["chunk_len"] == 3
    # 50 tokens, step 12: starts 0,12,24,36,48
    c1 = sorted(by_doc[1], key=lambda r: r["chunk_idx"])
    assert [r["chunk_start"] for r in c1] == [0, 12, 24, 36, 48]
    assert [r["chunk_len"] for r in c1] == [16, 16, 16, 14, 2]
    # consecutive full chunks overlap by `overlap` tokens
    assert c1[1]["chunk_start"] == c1[0]["chunk_start"] + (16 - 4)
    # every token is covered: union of [start, start+len) == [0, 50)
    covered = set()
    for r in c1:
        covered.update(range(r["chunk_start"], r["chunk_start"] + r["chunk_len"]))
    assert covered == set(range(50))
    with pytest.raises(ValueError):
        tx.chunk_documents(df, chunk_tokens=8, overlap=8)


def test_bpe_pair_counts_weighted_by_word_frequency(spark):
    # "aba" x3 and "ab" x1: pair "ab" = 3*1 + 1 = 4, "ba" = 3
    docs = spark.createDataFrame(
        [(1, "aba aba"), (2, "aba! AB?"), (3, "x")],  # "x" too short, dropped
        ["doc_id", "text"],
    )
    got = {
        r.pair: r.pair_count
        for r in tx.bpe_pair_counts(docs, "text").collect()
    }
    assert got == {"ab": 4, "ba": 3}


def test_bigram_lm_scores_hand_computed(spark):
    import math

    # corpus: doc1 "a b a b", doc2 "a b". V=2; c(a)=3, c(b)=3;
    # bigrams: "a b" x3, "b a" x1
    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b")], ["doc_id", "text"]
    )
    got = {
        r.doc_id: (r.n_bigrams, r.lm_score)
        for r in tx.bigram_lm_scores(docs).collect()
    }
    V = 2
    lp_ab = round(math.log((3 + 1) / (3 + V)) * 1e9)
    lp_ba = round(math.log((1 + 1) / (3 + V)) * 1e9)
    d1 = round(((2 * lp_ab + lp_ba) / 1e9) / 3, 6)
    d2 = round((lp_ab / 1e9) / 1, 6)
    assert got[1] == (3, d1)
    assert got[2] == (1, d2)


def test_bigram_lm_scores_single_token_doc_has_no_bigrams(spark):
    docs = spark.createDataFrame([(1, "hello"), (2, "a b")], ["doc_id", "text"])
    got = {r.doc_id for r in tx.bigram_lm_scores(docs).collect()}
    assert got == {2}  # no bigram -> no row (callers left-join if needed)


def test_edit_distance_pairs_banding_is_lossless(spark, docs):
    """Banded result == brute-force levenshtein over all pairs, and the
    boundary cases behave: exact dup at dist 0, one-substitution near-dup
    at its true distance, unrelated pair excluded."""
    pairs = {
        (r["doc_a"], r["doc_b"]): r["dist"]
        for r in dd.edit_distance_pairs(docs, max_dist=10).collect()
    }
    assert pairs[(1, 2)] == 0  # exact dup
    assert (1, 3) in pairs and 0 < pairs[(1, 3)] <= 5  # one-word near dup
    assert (1, 4) not in pairs
    # brute-force reference over the same normalized texts
    rows = docs.select(
        "doc_id", tx.norm_text(F.col("text")).alias("n")
    ).collect()
    brute = {}
    for a in rows:
        for b in rows:
            if a["doc_id"] < b["doc_id"]:
                la, lb = a["n"], b["n"]
                # exact DP (small strings) — no external libs
                m, n = len(la), len(lb)
                prev = list(range(n + 1))
                for i in range(1, m + 1):
                    cur = [i] + [0] * n
                    for j in range(1, n + 1):
                        cur[j] = min(
                            prev[j] + 1,
                            cur[j - 1] + 1,
                            prev[j - 1] + (la[i - 1] != lb[j - 1]),
                        )
                    prev = cur
                if prev[n] <= 10:
                    brute[(a["doc_id"], b["doc_id"])] = prev[n]
    assert pairs == brute


def test_edit_distance_pairs_adjacent_length_buckets(spark):
    """A pair whose lengths straddle a bucket boundary is still found."""
    rows = [(1, "a" * 19), (2, "a" * 21)]  # div 10 -> buckets 1 and 2
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = dd.edit_distance_pairs(df, max_dist=10).collect()
    assert len(got) == 1 and got[0]["dist"] == 2


# ---------------------------------------------------------------- dup spans


def _span_docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_dup_spans_shared_gram_both_docs_flagged(spark):
    # docs share exactly one 4-gram ("a b c d"); each doc: 1 dup gram,
    # 4 covered tokens
    out = {
        r["doc_id"]: r
        for r in dd.dup_span_stats(
            _span_docs(
                spark,
                [(1, "a b c d x y z w"), (2, "p q r s a b c d")],
            ),
            n=4,
        ).collect()
    }
    assert out[1]["n_dup_grams"] == 1 and out[1]["dup_tokens"] == 4
    assert out[2]["n_dup_grams"] == 1 and out[2]["dup_tokens"] == 4
    assert out[1]["n_tokens"] == 8 and out[1]["n_grams"] == 5
    assert out[1]["dup_ppm"] == 4 * 1_000_000 // 8


def test_dup_spans_overlapping_grams_union_not_sum(spark):
    # "a b c d e" duplicated verbatim: doc 1 has 2 dup grams at pos 1,2
    # overlapping on [2,4] -> union covers 5 tokens, not 8
    out = {
        r["doc_id"]: r
        for r in dd.dup_span_stats(
            _span_docs(
                spark,
                [(1, "a b c d e x x y y z"), (2, "a b c d e q q w w v")],
            ),
            n=4,
        ).collect()
    }
    assert out[1]["n_dup_grams"] == 2
    assert out[1]["dup_tokens"] == 5  # union of [1,4] and [2,5]


def test_dup_spans_within_doc_repeat_counts(spark):
    # the same 4-gram twice INSIDE one doc is duplication too (Lee et al.
    # count any repeat); disjoint spans -> 8 covered tokens
    out = dd.dup_span_stats(
        _span_docs(spark, [(1, "a b c d z z a b c d")]), n=4
    ).collect()[0]
    assert out["n_dup_grams"] == 2
    assert out["dup_tokens"] == 8


def test_dup_spans_clean_doc_zero(spark):
    out = {
        r["doc_id"]: r
        for r in dd.dup_span_stats(
            _span_docs(spark, [(1, "a b c d e"), (2, "f g h i j")]), n=4
        ).collect()
    }
    assert all(
        o["n_dup_grams"] == 0 and o["dup_tokens"] == 0 and o["dup_ppm"] == 0
        for o in out.values()
    )
    # short doc: fewer tokens than n -> zero grams
    short = dd.dup_span_stats(
        _span_docs(spark, [(9, "a b c")]), n=4
    ).collect()[0]
    assert short["n_grams"] == 0 and short["dup_ppm"] == 0


# ---------------------------------------------------------------- k-means


def _vecs(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_kmeans_two_obvious_groups(spark):
    pts = [
        (0, [0.0, 0.0]),
        (1, [10.0, 10.0]),
        (2, [0.1, 0.0]),
        (3, [9.9, 10.0]),
        (4, [0.0, 0.2]),
        (5, [10.0, 9.8]),
    ]
    got = {
        r["vec_id"]: r["cluster"]
        for r in sim.kmeans_lloyd(_vecs(spark, pts), k=2, iters=2).collect()
    }
    assert got[0] == got[2] == got[4] == 0  # seeded from vec 0
    assert got[1] == got[3] == got[5] == 1


def test_kmeans_tie_breaks_to_smaller_cluster(spark):
    # point 2 exactly equidistant from both seeds -> cluster 0
    pts = [(0, [0.0, 0.0]), (1, [2.0, 0.0]), (2, [1.0, 0.0])]
    got = {
        r["vec_id"]: r["cluster"]
        for r in sim.kmeans_lloyd(_vecs(spark, pts), k=2, iters=1).collect()
    }
    assert got[2] == 0


def test_kmeans_deterministic_across_partitionings(spark):
    pts = [(i, [float(i % 7), float((i * 3) % 5)]) for i in range(40)]
    a = sorted(
        map(
            tuple,
            sim.kmeans_lloyd(
                _vecs(spark, pts).repartition(1), k=3, iters=2
            ).collect(),
        )
    )
    b = sorted(
        map(
            tuple,
            sim.kmeans_lloyd(
                _vecs(spark, pts).repartition(8), k=3, iters=2
            ).collect(),
        )
    )
    assert a == b


def test_semdedup_min_id_survives_duplicate_chain(spark):
    # ids 1,2,3 share a block and are pairwise near-identical: only the
    # min id keeps; 9 sits in another block and is untouched
    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0], "a"),
            (2, [0.999, 0.01], "a"),
            (3, [0.998, 0.02], "a"),
            (9, [1.0, 0.0], "b"),
        ],
        "vec_id long, embedding array<float>, label string",
    )
    got = {
        r["vec_id"]: (r["keep"], r["n_lower_dups"])
        for r in dd.semdedup_flags(emb, threshold=0.99).collect()
    }
    assert got == {1: (True, 0), 2: (False, 1), 3: (False, 2), 9: (True, 0)}


def test_semdedup_blocks_isolate_identical_vectors(spark):
    # identical vectors in DIFFERENT blocks never pair — both keep
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0], "a"), (2, [1.0, 0.0], "b")],
        "vec_id long, embedding array<float>, label string",
    )
    got = {r["vec_id"]: r["keep"] for r in dd.semdedup_flags(emb, 0.99).collect()}
    assert got == {1: True, 2: True}


def test_cross_lm_in_domain_scores_higher(spark):
    train = spark.createDataFrame(
        [(1, "the cat sat on the mat"), (2, "the dog sat on the rug")],
        "doc_id long, text string",
    )
    score = spark.createDataFrame(
        [(10, "the cat sat"), (11, "zork blag frop")],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["lm_score"]
        for r in tx.cross_lm_scores(score, train).collect()
    }
    assert got[10] > got[11]


def test_cross_lm_empty_reference_vocab_scores_zero(spark):
    """Reference docs that normalize to zero tokens (v = 0, every c1
    null): the greatest(denominator, 1) guard scores every bigram at
    ln(1/1) = 0 — finite, never an Inf->long overflow (same degenerate-
    model contract as nb_predict)."""
    train = spark.createDataFrame(
        [(1, "??? !!!"), (2, "...")], "doc_id long, text string"
    )
    score = spark.createDataFrame(
        [(10, "qq rr ss")], "doc_id long, text string"
    )
    got = tx.cross_lm_scores(score, train).collect()[0]
    assert got["lm_score"] == 0.0
    assert got["n_bigrams"] == 2


def test_cross_lm_oov_gets_floor_probability(spark):
    import math

    train = spark.createDataFrame(
        [(1, "aa bb aa bb")], "doc_id long, text string"
    )
    score = spark.createDataFrame(
        [(10, "qq rr")], "doc_id long, text string"
    )
    # fully OOV bigram: ln(1 / V) with V = 2
    got = tx.cross_lm_scores(score, train).collect()[0]
    assert abs(got["lm_score"] - math.log(1 / 2)) < 1e-6


class TestNBClassify:
    def _fit(self, spark, train_rows, test_rows):
        train = spark.createDataFrame(
            train_rows, "doc_id long, text string, source string"
        )
        test = spark.createDataFrame(
            test_rows, "doc_id long, text string, source string"
        )
        return {
            r["doc_id"]: (r["pred_source"], r["score_nano"])
            for r in tx.nb_classify(train, test).collect()
        }

    def test_distinctive_vocab_classified_correctly(self, spark):
        got = self._fit(
            spark,
            [
                (1, "spark shuffle executor partition", "tech"),
                (2, "executor shuffle codegen partition", "tech"),
                (3, "violin sonata allegro tempo", "music"),
                (4, "tempo adagio sonata orchestra", "music"),
            ],
            [
                (10, "shuffle partition codegen", "tech"),
                (11, "sonata tempo orchestra", "music"),
            ],
        )
        assert got[10][0] == "tech"
        assert got[11][0] == "music"

    def test_zero_token_doc_gets_prior_argmax(self, spark):
        import math

        got = self._fit(
            spark,
            [
                (1, "aa bb", "big"),
                (2, "aa cc", "big"),
                (3, "zz yy", "small"),
            ],
            [(10, "!!! ???", "big")],  # normalizes to zero tokens
        )
        # no token evidence -> argmax over priors alone: "big" (2/3 docs)
        assert got[10][0] == "big"
        assert got[10][1] == round(math.log(2 / 3) * 1e9)

    def test_all_oov_doc_still_scores_and_breaks_ties_deterministically(
        self, spark
    ):
        import math

        # symmetric classes: identical token counts, identical priors ->
        # every class scores the same on an OOV-only doc; smallest label
        # must win deterministically.
        got = self._fit(
            spark,
            [(1, "aa aa", "c1"), (2, "bb bb", "c2")],
            [(10, "qq", "c1")],
        )
        assert got[10][0] == "c1"
        # prior ln(1/2) + 1 token * floor ln(1/(2 + V)) with V = 2
        exp = round(math.log(1 / 2) * 1e9) + round(math.log(1 / 4) * 1e9)
        assert got[10][1] == exp

    def test_empty_training_vocabulary_scores_prior_only(self, spark):
        import math

        # training docs normalize to zero tokens (_v = _n_c = 0); test
        # docs DO have tokens. The greatest(denominator, 1) guard pins
        # every token contribution to ln(1/1) = 0 — prior-only argmax,
        # finite scores, never an Inf->long overflow.
        got = self._fit(
            spark,
            [(1, "???", "big"), (2, "!!!", "big"), (3, "...", "small")],
            [(10, "qq rr qq", "big")],
        )
        assert got[10][0] == "big"
        assert got[10][1] == round(math.log(2 / 3) * 1e9)


def test_containment_asymmetric_subset(spark):
    docs = spark.createDataFrame(
        [
            (1, "The quick brown fox jumps over the lazy dog"),
            (2, "Quick brown fox jumps over!"),
            (3, "completely different words here avoiding any overlap"),
        ],
        "doc_id long, text string",
    )
    rows = dd.containment_pairs(docs, threshold_ppm=800_000).collect()
    # doc2's 3 word-3-grams are all inside doc1's 7; doc3 shares none
    assert len(rows) == 1
    r = rows[0]
    assert (r["doc_a"], r["doc_b"]) == (1, 2)
    assert r["cont_a_ppm"] == 3 * 1_000_000 // 7
    assert r["cont_b_ppm"] == 1_000_000


class TestLabelCentroidDists:
    def _df(self, spark, rows):
        return spark.createDataFrame(
            rows, "vec_id long, label int, embedding array<float>"
        )

    def test_hand_computed_distances_and_far_flag(self, spark):
        # label 0 points along y: 0, 2, 4 -> centroid y = 2 (exactly);
        # dists (micro^2): 4e12, 0, 4e12; k_far=1 flags vec 0 (tie on
        # dist broken by vec_id asc)
        df = self._df(
            spark,
            [
                (0, 0, [0.0, 0.0]),
                (1, 0, [0.0, 2.0]),
                (2, 0, [0.0, 4.0]),
            ],
        )
        out = {
            r["vec_id"]: r
            for r in sim.label_centroid_dists(df, k_far=1).collect()
        }
        assert out[0]["dist_q"] == 4_000_000_000_000
        assert out[1]["dist_q"] == 0
        assert out[0]["is_far"] and not out[2]["is_far"]
        assert out[0]["far_rank"] == 1 and out[2]["far_rank"] == 2

    def test_truncated_integer_mean_matches_duckdb_div(self, spark):
        # y values 0, 1, 1: mean micro = 2e6 div 3 = 666666 (truncated) --
        # the engine-exactness contract with the oracle's `//`
        df = self._df(
            spark,
            [(0, 0, [0.0]), (1, 0, [1.0]), (2, 0, [1.0])],
        )
        out = {
            r["vec_id"]: r["dist_q"]
            for r in sim.label_centroid_dists(df).collect()
        }
        assert out[0] == 666_666 ** 2
        assert out[1] == (1_000_000 - 666_666) ** 2

    def test_labels_score_independently(self, spark):
        df = self._df(
            spark,
            [
                (0, 0, [0.0]),
                (1, 0, [2.0]),
                (2, 1, [100.0]),
            ],
        )
        out = {
            r["vec_id"]: r
            for r in sim.label_centroid_dists(df).collect()
        }
        # singleton label: centroid is itself, distance 0, rank 1
        assert out[2]["dist_q"] == 0 and out[2]["far_rank"] == 1
        assert out[0]["dist_q"] == out[1]["dist_q"] == 1_000_000_000_000


class TestDupSpanRemove:
    def _df(self, spark, rows):
        return spark.createDataFrame(rows, ["doc_id", "text"])

    def test_boilerplate_header_removed_unique_tail_kept(self, spark):
        # 4-gram "copyright acme corp inc" duplicated across both docs;
        # the unique tails survive
        df = self._df(
            spark,
            [
                (1, "copyright acme corp inc alpha beta gamma delta"),
                (2, "copyright acme corp inc epsilon zeta eta theta"),
            ],
        )
        out = {
            r["doc_id"]: r
            for r in dd.dup_span_remove(df, n=4).collect()
        }
        assert out[1]["clean_text"] == "alpha beta gamma delta"
        assert out[2]["clean_text"] == "epsilon zeta eta theta"
        assert out[1]["removed_tokens"] == 4 and out[1]["kept_tokens"] == 4

    def test_no_duplication_keeps_everything(self, spark):
        df = self._df(
            spark,
            [(1, "one two three four five"), (2, "six seven eight nine ten")],
        )
        out = dd.dup_span_remove(df, n=4).collect()
        for r in out:
            assert r["removed_tokens"] == 0
            assert r["kept_tokens"] == r["n_tokens"]

    def test_overlapping_spans_remove_union(self, spark):
        # doc 1 repeats its own 4-gram at positions 1 and 5 with overlap
        # via doc 2; a fully duplicated doc loses every token
        df = self._df(
            spark,
            [
                (1, "a b c d e"),
                (2, "a b c d e"),
            ],
        )
        out = {
            r["doc_id"]: r for r in dd.dup_span_remove(df, n=4).collect()
        }
        # grams "a b c d" and "b c d e" both occur twice -> cover 1..5
        assert out[1]["kept_tokens"] == 0
        assert out[1]["clean_text"] == ""

    def test_within_doc_repetition_counts(self, spark):
        # the duplicated gram occurs twice INSIDE one doc -> both spans cut
        df = self._df(
            spark,
            [(1, "x y z w junk1 junk2 x y z w tail9 tailb tailc")],
        )
        out = dd.dup_span_remove(df, n=4).collect()[0]
        assert "x" not in out["clean_text"].split()
        assert out["clean_text"] == "junk1 junk2 tail9 tailb tailc"

    def test_short_doc_no_grams_untouched(self, spark):
        df = self._df(spark, [(1, "too short"), (2, "too short")])
        out = {r["doc_id"]: r for r in dd.dup_span_remove(df, n=4).collect()}
        # 2 tokens < n=4: no grams exist, nothing can be removed
        assert out[1]["clean_text"] == "too short"
        assert out[1]["removed_tokens"] == 0


class TestBpeTrain:
    def test_hand_computed_merges(self, spark):
        # corpus: "aab aab ab" -> vocab {aab:2, ab:1}
        # round 1 pairs: (a,a):2, (a,b):3 -> merge (a,b)->ab count 3
        # after: aab -> [a, ab] x2; ab -> [ab]
        # round 2 pairs: (a,ab):2 -> merge (a,ab)->aab count 2
        df = spark.createDataFrame(
            [(1, "aab aab ab")], ["doc_id", "text"]
        )
        out = tx.bpe_train(df, n_merges=2).collect()
        r = {x["round"]: x for x in out}
        assert (r[1]["sym_a"], r[1]["sym_b"], r[1]["pair_count"]) == ("a", "b", 3)
        assert (r[2]["sym_a"], r[2]["sym_b"], r[2]["pair_count"]) == ("a", "ab", 2)
        assert r[2]["merged"] == "aab"

    def test_no_cascade_within_round(self, spark):
        # "bbb": merging (b,b) greedily gives [bb, b] -- pair count for
        # round 1 is 2 (positions 1-2 and 2-3), and round 2's top pair is
        # (bb, b) with count 1
        df = spark.createDataFrame([(1, "bbb bbb")], ["doc_id", "text"])
        out = tx.bpe_train(df, n_merges=2).collect()
        r = {x["round"]: x for x in out}
        assert (r[1]["sym_a"], r[1]["sym_b"]) == ("b", "b")
        assert r[1]["pair_count"] == 4  # 2 per word x 2 words
        assert (r[2]["sym_a"], r[2]["sym_b"]) == ("b", "bb") or (
            r[2]["sym_a"], r[2]["sym_b"]) == ("bb", "b")

    def test_tiebreak_is_lexicographic(self, spark):
        # "xy" and "ab" each appear once: counts tie at 1 -> (a,b) wins
        df = spark.createDataFrame([(1, "xy ab")], ["doc_id", "text"])
        out = tx.bpe_train(df, n_merges=1).collect()
        assert (out[0]["sym_a"], out[0]["sym_b"]) == ("a", "b")

    def test_deterministic_under_partitioning(self, spark):
        rows = [(i, f"token{i % 5} alpha beta gamma") for i in range(40)]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        a = sorted(map(tuple, tx.bpe_train(df.repartition(1), n_merges=3).collect()))
        b = sorted(map(tuple, tx.bpe_train(df.repartition(9), n_merges=3).collect()))
        assert a == b


class TestBpeFertility:
    def test_merges_reduce_subwords(self, spark):
        # corpus heavy in "ab": after one merge (a,b)->ab, every "abab"
        # word drops from 4 symbols to 2
        df = spark.createDataFrame(
            [(1, "s1", "abab abab abab"), (2, "s1", "abab xq")],
            ["doc_id", "source", "text"],
        )
        out0 = tx.bpe_encode_stats(df, n_merges=0).collect()[0]
        out1 = tx.bpe_encode_stats(df, n_merges=1).collect()[0]
        assert out0["n_subwords"] == 4 * 4 + 2  # chars
        assert out1["n_subwords"] == 4 * 2 + 2  # "abab"->[ab,ab], "xq" untouched
        assert out1["fertility_ppm"] < out0["fertility_ppm"]

    def test_groups_share_one_tokenizer(self, spark):
        # training is GLOBAL: source s2's words merge with s1-learned pairs
        df = spark.createDataFrame(
            [(1, "s1", "ab ab ab"), (2, "s2", "ab")],
            ["doc_id", "source", "text"],
        )
        out = {
            r["source"]: r
            for r in tx.bpe_encode_stats(df, n_merges=1).collect()
        }
        assert out["s2"]["n_subwords"] == 1  # merged by the global (a,b)
        assert out["s1"]["fertility_ppm"] == 1_000_000


class TestGramMatrix:
    def test_hand_computed_2d(self, spark):
        df = spark.createDataFrame(
            [(0, [1.0, 2.0]), (1, [3.0, -1.0])],
            "vec_id long, embedding array<float>",
        )
        out = {
            (r["i"], r["j"]): r
            for r in sim.gram_matrix(df, scale=1).collect()
        }
        # gram = [[1+9, 2-3], [2-3, 4+1]]
        assert out[(1, 1)]["sum_xy"] == 10
        assert out[(1, 2)]["sum_xy"] == -1
        assert out[(2, 1)]["sum_xy"] == -1
        assert out[(2, 2)]["sum_xy"] == 5
        assert all(r["n"] == 2 for r in out.values())

    def test_partitioning_invariant(self, spark):
        rows = [(i, [float((i * 3) % 7) - 3, float(i % 5), float(i % 2)])
                for i in range(50)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        a = sorted(map(tuple, sim.gram_matrix(df.repartition(1)).collect()))
        b = sorted(map(tuple, sim.gram_matrix(df.repartition(11)).collect()))
        assert a == b

    def test_half_away_rounding_matches_engine(self, spark):
        # 0.0005 * 1000 = 0.5 -> half-away gives 1 (banker's would give 0)
        df = spark.createDataFrame(
            [(0, [0.0005]), (1, [-0.0005])],
            "vec_id long, embedding array<float>",
        )
        out = sim.gram_matrix(df).collect()
        # q = [1, -1]; gram cell (1,1) = 1 + 1 = 2
        assert out[0]["sum_xy"] == 2


class TestPcaPowerScores:
    def test_recovers_dominant_axis(self, spark):
        # variance lives on dim 0; scores must order by |x0| and the
        # canonical sign makes the top component positive on dim 0
        rows = [(i, [float(i - 10), 0.01 * (i % 3 - 1)]) for i in range(21)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        out = {r["vec_id"]: r["score"] for r in
               sim.pca_power_scores(df, iters=4).collect()}
        # projection is monotone in x0
        scores = [out[i] for i in range(21)]
        assert scores == sorted(scores)
        assert out[20] > 0 > out[0]

    def test_deterministic_under_partitioning(self, spark):
        rows = [(i, [float((i * 7) % 13) / 13, float((i * 5) % 11) / 11,
                     float(i % 4) / 4]) for i in range(60)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        a = sorted(map(tuple, sim.pca_power_scores(df.repartition(1)).collect()))
        b = sorted(map(tuple, sim.pca_power_scores(df.repartition(13)).collect()))
        assert a == b


class TestNgramNovelty:
    def test_hand_computed(self, spark):
        from kafka2iceberg_spark import textops as tx

        rows = [
            # doc 1/2 share the gram "a b c"; doc 1 also has unique "b c d"
            (1, "a b c d", "s1"),
            (2, "a b c", "s1"),
            # doc 3: both grams unique; repeated gram inside the doc
            # counts once (per-doc distinct)
            (3, "x y z x y z", "s2"),
            # doc 4: too short for a 3-gram -> contributes nothing
            (4, "p q", "s2"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string, source string")
        out = {r["source"]: (r["n_incidences"], r["n_unique"], r["novelty_ppm"])
               for r in tx.ngram_novelty(df, n=3).collect()}
        # s1: incidences = {(1,'a b c'), (1,'b c d'), (2,'a b c')} = 3;
        #     unique = {'b c d'} = 1
        assert out["s1"] == (3, 1, 333333)
        # s2 doc3 distinct grams: 'x y z', 'y z x', 'z x y' — all unique
        assert out["s2"] == (3, 3, 1000000)


class TestRecallAtK:
    def test_hand_computed(self, spark):
        exact = spark.createDataFrame(
            [(1, 10), (1, 11), (2, 20), (2, 21)],
            "query_id long, neighbor_id long",
        )
        approx = spark.createDataFrame(
            [(1, 10), (1, 99), (2, 20), (2, 21)],
            "query_id long, neighbor_id long",
        )
        out = {r["query_id"]: (r["n_exact"], r["n_hit"], r["recall_ppm"])
               for r in sim.recall_at_k(approx, exact).collect()}
        assert out[1] == (2, 1, 500000)
        assert out[2] == (2, 2, 1000000)

    def test_zero_overlap_query_still_reported(self, spark):
        exact = spark.createDataFrame([(7, 1), (7, 2)],
                                      "query_id long, neighbor_id long")
        approx = spark.createDataFrame([(7, 9)],
                                       "query_id long, neighbor_id long")
        [r] = sim.recall_at_k(approx, exact).collect()
        assert (r["n_exact"], r["n_hit"], r["recall_ppm"]) == (2, 0, 0)


class TestSq8Error:
    def test_endpoints_exact_and_error_bounded(self, spark):
        # dim-0 spans [0, 1]: endpoints quantize exactly (codes 0/255);
        # dim-1 is constant: reconstructs exactly by the scale-0 branch
        rows = [(i, [i / 4.0, 0.5], i % 2) for i in range(5)]
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<float>, label int"
        )
        out = sim.sq8_error(df, dim=2).collect()
        total = {r["label"]: r["sq_err_sum"] for r in out}
        # max per-dim error is one quantization step = range/255 micro
        step = 1_000_000 // 255 + 1
        assert all(v <= 5 * step * step for v in total.values())
        # exact reconstruction rows (0.0 and 1.0 endpoints, constant dim)
        one = spark.createDataFrame(
            [(0, [0.0, 0.5], 0), (1, [1.0, 0.5], 0)],
            "vec_id long, embedding array<float>, label int",
        )
        [r] = sim.sq8_error(one, dim=2).collect()
        assert (r["n_vecs"], r["sq_err_sum"], r["mse_per_dim"]) == (2, 0, 0)

    def test_partitioning_invariant(self, spark):
        rows = [(i, [((i * 13) % 7) / 7.0, ((i * 5) % 3) / 3.0], i % 3)
                for i in range(30)]
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<float>, label int"
        )
        a = sorted(map(tuple, sim.sq8_error(df.repartition(1), dim=2).collect()))
        b = sorted(map(tuple, sim.sq8_error(df.repartition(7), dim=2).collect()))
        assert a == b


class TestNdcgAtK:
    def test_perfect_and_displaced_rankings(self, spark):
        from kafka2iceberg_spark.similarity import NDCG_W_MICRO, ndcg_at_k

        exact = spark.createDataFrame(
            [(1, 10, 1), (1, 11, 2), (2, 20, 1), (2, 21, 2)],
            "query_id long, neighbor_id long, rank long",
        )
        # query 1: perfect order; query 2: one truth at rank 3, one miss
        approx = spark.createDataFrame(
            [(1, 10, 1), (1, 11, 2), (2, 99, 1), (2, 98, 2), (2, 20, 3)],
            "query_id long, neighbor_id long, rank long",
        )
        out = {r["query_id"]: r for r in ndcg_at_k(approx, exact, k=10).collect()}
        ideal2 = NDCG_W_MICRO[0] + NDCG_W_MICRO[1]
        assert out[1]["dcg_micro"] == ideal2
        assert out[1]["ndcg_ppm"] == 1000000
        assert out[2]["dcg_micro"] == NDCG_W_MICRO[2]
        assert out[2]["idcg_micro"] == ideal2
        assert out[2]["ndcg_ppm"] == NDCG_W_MICRO[2] * 1000000 // ideal2

    def test_query_with_no_hits_scores_zero(self, spark):
        from kafka2iceberg_spark.similarity import ndcg_at_k

        exact = spark.createDataFrame([(5, 1, 1)],
                                      "query_id long, neighbor_id long, rank long")
        approx = spark.createDataFrame([(5, 9, 1)],
                                       "query_id long, neighbor_id long, rank long")
        [r] = ndcg_at_k(approx, exact, k=10).collect()
        assert (r["dcg_micro"], r["ndcg_ppm"]) == (0, 0)


class TestMinhashCalibration:
    def test_identical_docs_land_in_top_bucket(self, spark):
        # two identical docs: est = true = 1.0 -> bucket 10, zero error;
        # an unrelated doc may or may not collide into candidates
        rows = [
            (1, "the quick brown fox jumps over the lazy dog " * 3),
            (2, "the quick brown fox jumps over the lazy dog " * 3),
            (3, "completely different text about spark shuffles " * 3),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {r["bucket"]: r for r in dd.minhash_calibration(df).collect()}
        top = out[10]
        assert top["n_pairs"] >= 1
        assert top["mae_ppm"] == 0
        assert top["mean_est_ppm"] == 1000000
        assert top["mean_true_ppm"] == 1000000


class TestDistinctiveTerms:
    def test_overused_word_surfaces_with_positive_z(self, spark):
        rows = (
            [(i, "zebra zebra zebra common", "s1") for i in range(5)]
            + [(100 + i, "common filler words here", "s2") for i in range(5)]
        )
        df = spark.createDataFrame(rows, "doc_id long, text string, source string")
        out = tx.distinctive_terms(df, top_k=3).collect()
        s1 = {r["word"]: r for r in out if r["source"] == "s1"}
        # 'zebra' is exclusively s1 and frequent -> its top distinctive term
        top_s1 = max(s1.values(), key=lambda r: r["z"])
        assert top_s1["word"] == "zebra"
        assert top_s1["z"] > 0
        assert top_s1["y_i"] == 15 and top_s1["y_rest"] == 0
        # per-group rows = min(top_k, group's distinct vocabulary):
        # only words the group actually uses are scored (s1 has 2)
        assert sum(1 for r in out if r["source"] == "s1") == 2
        assert sum(1 for r in out if r["source"] == "s2") == 3


class TestSampleFrames:
    def test_slicing_and_schedule(self, spark):
        # 200 ascii bytes -> 4 frames of 64/64/64/8; every_n=2 samples 0, 2
        text = "ab" * 100
        df = spark.createDataFrame([(1, text)], "doc_id long, text string")
        blobs = mm.as_blobs(df)
        out = {r["frame_idx"]: r for r in
               mm.sample_frames(blobs, frame_bytes=64, every_n=2).collect()}
        assert set(out) == {0, 2}
        assert out[0]["frame_bytes"] == 64
        # frame 2 covers bytes 128..191 (full), frame 3 (the 8-byte tail)
        # is unsampled at every_n=2
        assert out[2]["frame_bytes"] == 64
        # 'a'=97, 'b'=98 alternating -> mean = 97.5 -> 97500000 ppm
        assert out[0]["mean_ppm"] == 97_500_000
        assert out[0]["head_hex"] == "61626162"

    def test_short_tail_frame(self, spark):
        df = spark.createDataFrame([(1, "x" * 70)], "doc_id long, text string")
        out = {r["frame_idx"]: r for r in
               mm.sample_frames(mm.as_blobs(df), frame_bytes=64,
                                every_n=1).collect()}
        assert out[1]["frame_bytes"] == 6
        assert out[1]["mean_ppm"] == 120_000_000  # 'x' = 120


class TestSimhashPairs:
    def test_exact_recall_within_hamming(self, spark, docs):
        d = docs.where("doc_id IN (1, 2, 3, 4)")
        pairs = {(r["doc_a"], r["doc_b"]): r["hamming"]
                 for r in dd.simhash_pairs(d, max_hamming=10).collect()}
        # identical docs: hamming 0 — pigeonhole guarantees the pair
        assert pairs[(1, 2)] == 0
        # near dup found with small distance, far doc at most absent or far
        if (1, 3) in pairs:
            assert pairs[(1, 3)] <= 10
        assert (1, 4) not in pairs or pairs[(1, 4)] > 0

    def test_bound_respected(self, spark, docs):
        d = docs.where("doc_id IN (1, 2, 3, 4)")
        out = dd.simhash_pairs(d, max_hamming=0).collect()
        assert all(r["hamming"] == 0 for r in out)
        assert {(r["doc_a"], r["doc_b"]) for r in out} == {(1, 2)}


class TestDistanceHistogram:
    def test_buckets_partition_all_blocked_pairs(self, spark):
        rows = [
            (1, [1.0, 0.0], 0), (2, [1.0, 0.0], 0), (3, [0.0, 1.0], 0),
            (4, [1.0, 0.0], 1), (5, [-1.0, 0.0], 1),
        ]
        emb = spark.createDataFrame(
            rows, "vec_id long, embedding array<float>, label int")
        pairs = dd.embedding_neardup_pairs(emb, threshold=-1.0)
        lab = emb.select(F.col("vec_id").alias("vec_a"), "label")
        hist = (pairs.join(lab, "vec_a")
                .groupBy("label",
                         F.floor(F.col("cosine") * 10).cast("long")
                          .alias("bucket"))
                .agg(F.count(F.lit(1)).alias("n_pairs"))).collect()
        got = {(r["label"], r["bucket"]): r["n_pairs"] for r in hist}
        # label 0: (1,2) cos 1.0 -> bucket 10; (1,3) and (2,3) cos 0 -> 0
        assert got[(0, 10)] == 1 and got[(0, 0)] == 2
        # label 1: (4,5) cos -1 -> bucket -10; no cross-label pairs anywhere
        assert got[(1, -10)] == 1
        assert sum(got.values()) == 4
