"""NearDupIndex: ingestion-time MinHash-LSH dedup — accumulated pair set
equals the batch operator over the union after every prefix of batches;
replay and crash-between-commits cannot duplicate or lose pairs."""

import os
import time

import pytest
from pyspark.sql import functions as F

from kafka2iceberg_spark import dedup
from kafka2iceberg_spark.sink import IcebergLite


BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill and the rain falls on the quiet street"
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


# wave 1: 0 and 1 near-dup; 2 distinct. wave 2: 10 dups 0 (cross-batch),
# 11 near-dups 1 (cross-batch), 12 distinct. wave 3: 20 dups 12
# (cross-batch to wave 2) and 21 near-dups 20 (in-batch).
W1 = [
    (0, BASE),
    (1, BASE.replace("rain", "snow")),
    (2, "completely different text about spark shuffles and parquet row groups"),
]
W2 = [
    (10, BASE),
    (11, BASE.replace("fox", "wolf")),
    (12, "iceberg snapshots carry manifest lists with per file column stats"),
]
W3 = [
    (20, "iceberg snapshots carry manifest lists with per file column stats"),
    (21, "iceberg snapshots carry manifest lists with per file row stats"),
]


def _pairs_set(df):
    return sorted(
        (r.doc_a, r.doc_b, r.est_jaccard) for r in df.collect()
    )


def _mk(tmp_path, tag=""):
    index = IcebergLite(
        str(tmp_path / f"idx{tag}"), pk=["doc_id"], partition_field=None
    )
    pairs = IcebergLite(
        str(tmp_path / f"prs{tag}"),
        pk=["doc_a", "doc_b"],
        partition_field=None,
    )
    return dedup.NearDupIndex(index, pairs, threshold=0.5)


def test_neardup_index_equals_batch_after_every_prefix(spark, tmp_path):
    nd = _mk(tmp_path)
    waves = [W1, W2, W3]
    for i, wave in enumerate(waves):
        assert nd.apply_batch(_docs(spark, wave), str(i))
        union = _docs(spark, [r for w in waves[: i + 1] for r in w])
        want = _pairs_set(dedup.minhash_lsh_pairs(union, threshold=0.5))
        got = _pairs_set(nd.all_pairs(spark))
        assert got == want, f"prefix {i}"
    # the final state must include in-batch, cross-batch, and exact pairs
    final = {(a, b) for a, b, _ in _pairs_set(nd.all_pairs(spark))}
    assert (0, 10) in final  # exact dup across batches
    assert (12, 20) in final  # exact dup across batches
    assert (20, 21) in final  # near dup inside one batch


def test_neardup_index_streaming_and_replay(spark, tmp_path):
    src = str(tmp_path / "src")
    os.makedirs(src)
    t0 = time.time() - 100
    for i, wave in enumerate([W1, W2, W3]):
        part = os.path.join(src, f"wave-{i}")
        _docs(spark, wave).coalesce(1).write.parquet(part)
        for root, _, files in os.walk(part):
            for f in files:
                os.utime(os.path.join(root, f), (t0 + i, t0 + i))

    nd = _mk(tmp_path)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/*")
    )
    q = nd.start(stream, str(tmp_path / "ck"))
    q.awaitTermination()

    union = _docs(spark, W1 + W2 + W3)
    want = _pairs_set(dedup.minhash_lsh_pairs(union, threshold=0.5))
    assert _pairs_set(nd.all_pairs(spark)) == want
    assert nd.index.read(spark).count() == 8  # one signature row per doc

    # replay with a fresh checkpoint: batch-id guards skip everything
    q = nd.start(stream, str(tmp_path / "ck2"))
    q.awaitTermination()
    assert _pairs_set(nd.all_pairs(spark)) == want
    assert nd.index.read(spark).count() == 8


def test_neardup_index_crash_between_commits(spark, tmp_path):
    nd = _mk(tmp_path)
    assert nd.apply_batch(_docs(spark, W1), "0")

    # crash AFTER the pairs commit, BEFORE the index commit of batch 1
    real = nd.index.commit_upsert

    def boom(df, bid):
        raise RuntimeError("crash before index commit")

    nd.index.commit_upsert = boom
    with pytest.raises(RuntimeError):
        nd.apply_batch(_docs(spark, W2), "1")
    nd.index.commit_upsert = real

    # replay of batch 1: pairs guard skips (already committed), index
    # commit lands; final state == a straight-through run
    assert nd.apply_batch(_docs(spark, W2), "1")
    union = _docs(spark, W1 + W2)
    want = _pairs_set(dedup.minhash_lsh_pairs(union, threshold=0.5))
    assert _pairs_set(nd.all_pairs(spark)) == want
    assert nd.index.read(spark).count() == 6

    # full replay of both batches: no-ops
    assert not nd.apply_batch(_docs(spark, W1), "0")
    assert not nd.apply_batch(_docs(spark, W2), "1")
    assert _pairs_set(nd.all_pairs(spark)) == want


def test_neardup_index_empty_pairs_batch_still_guarded(spark, tmp_path):
    # a batch with no near-dups commits an EMPTY pairs snapshot; the
    # batch id must still register so replay skips cleanly
    nd = _mk(tmp_path)
    only_distinct = [
        (0, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (1, "completely different text about spark shuffles and row groups"),
    ]
    assert nd.apply_batch(_docs(spark, only_distinct), "0")
    assert nd.all_pairs(spark).count() == 0
    assert not nd.apply_batch(_docs(spark, only_distinct), "0")
    assert nd.all_pairs(spark).count() == 0
    assert nd.index.read(spark).count() == 2


def test_neardup_index_validates_pks(tmp_path):
    good_idx = IcebergLite(str(tmp_path / "i"), pk=["doc_id"])
    good_prs = IcebergLite(str(tmp_path / "p"), pk=["doc_a", "doc_b"])
    with pytest.raises(ValueError):
        dedup.NearDupIndex(IcebergLite(str(tmp_path / "x"), pk=["id"]), good_prs)
    with pytest.raises(ValueError):
        dedup.NearDupIndex(good_idx, IcebergLite(str(tmp_path / "y"), pk=["doc_a"]))
