"""AnnIndex: incremental LSH vector index — index answers equal the batch
lsh_topk over the same corpus; replay guarded; streaming maintenance."""

import os
import time

import pytest
from pyspark.sql import functions as F

from kafka2iceberg_spark import similarity as sim
from kafka2iceberg_spark.sink import IcebergLite

DIM, N_TABLES, N_PLANES, K = 8, 4, 3, 3


def _vec(i):
    # deterministic, sign-varied, no exact-zero projections in practice
    return [((i * 7 + j * 13) % 17 - 8) / 4.0 + 0.01 for j in range(DIM)]


def _vecs(spark, ids):
    return spark.createDataFrame(
        [(i, _vec(i)) for i in ids], "vec_id long, embedding array<double>"
    )


def _rows(df):
    return sorted(
        (r.query_id, r.neighbor_id, r.rank, r.cosine) for r in df.collect()
    )


def _mk(tmp_path, tag=""):
    t = IcebergLite(
        str(tmp_path / f"ann{tag}"), pk=["vec_id"], partition_field=None
    )
    return sim.AnnIndex(
        t, dim=DIM, n_tables=N_TABLES, n_planes=N_PLANES
    )


def test_ann_index_equals_batch_lsh(spark, tmp_path):
    all_ids = list(range(40))
    idx = _mk(tmp_path)
    assert idx.apply_batch(_vecs(spark, all_ids[:20]), "0")
    assert idx.apply_batch(_vecs(spark, all_ids[20:]), "1")

    queries = _vecs(spark, [1, 5, 9])
    got = _rows(idx.topk(spark, queries, k=K))
    want = _rows(
        sim.lsh_topk(
            _vecs(spark, all_ids),
            queries,
            k=K,
            dim=DIM,
            n_tables=N_TABLES,
            n_planes=N_PLANES,
        )
    )
    assert got == want and len(got) > 0

    # replay of a committed batch: guard skips, answers unchanged
    assert not idx.apply_batch(_vecs(spark, all_ids[:20]), "0")
    assert _rows(idx.topk(spark, queries, k=K)) == want

    # re-ingesting a vector under the same id upserts, not duplicates
    assert idx.apply_batch(_vecs(spark, [3, 4]), "2")
    assert idx.table.read(spark).count() == 40


def test_ann_index_streaming(spark, tmp_path):
    src = str(tmp_path / "src")
    os.makedirs(src)
    t0 = time.time() - 100
    for i, ids in enumerate([range(0, 20), range(20, 40)]):
        part = os.path.join(src, f"wave-{i}")
        _vecs(spark, list(ids)).coalesce(1).write.parquet(part)
        for root, _, files in os.walk(part):
            for f in files:
                os.utime(os.path.join(root, f), (t0 + i, t0 + i))

    idx = _mk(tmp_path)
    stream = (
        spark.readStream.schema("vec_id long, embedding array<double>")
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/*")
    )
    q = idx.start(stream, str(tmp_path / "ck"))
    q.awaitTermination()

    queries = _vecs(spark, [2, 30])
    want = _rows(
        sim.lsh_topk(
            _vecs(spark, list(range(40))),
            queries,
            k=K,
            dim=DIM,
            n_tables=N_TABLES,
            n_planes=N_PLANES,
        )
    )
    assert _rows(idx.topk(spark, queries, k=K)) == want


def test_ann_index_validates_pk(tmp_path):
    with pytest.raises(ValueError):
        sim.AnnIndex(IcebergLite(str(tmp_path / "x"), pk=["id"]))
