"""StreamingSample: the maintained bottom-k table equals the one-shot
batch bottom-k over everything seen; state stays at k rows; replay of a
committed batch changes nothing (idempotent min-merge AND the batch-id
guard); the stratified variant keeps k per stratum."""

import os
import time

from pyspark.sql import functions as F

from kafka2iceberg_spark import sketches as sk
from kafka2iceberg_spark.sink import IcebergLite


def _wave(spark, src_dir, ids, mtime, tag):
    df = spark.createDataFrame(
        [(i, f"doc-{i}", ["en", "fr", "de"][i % 3]) for i in ids],
        ["doc_id", "text", "lang"],
    )
    part = os.path.join(src_dir, f"wave-{tag}")
    df.coalesce(1).write.parquet(part)
    for root, _, files in os.walk(part):
        for f in files:
            os.utime(os.path.join(root, f), (mtime, mtime))


def _batch_bottom_k(spark, src, k):
    return (
        spark.read.parquet(src + "/*")
        .withColumn("_prio", F.md5(F.col("doc_id").cast("string")))
        .orderBy("_prio", "doc_id")
        .limit(k)
    )


def test_stream_sample_equals_batch_and_bounded(spark, tmp_path):
    src = str(tmp_path / "src")
    os.makedirs(src)
    t0 = time.time() - 100
    _wave(spark, src, range(0, 200), t0, "a")
    _wave(spark, src, range(200, 450), t0 + 1, "b")
    _wave(spark, src, range(450, 600), t0 + 2, "c")

    table = IcebergLite(
        str(tmp_path / "sample"), pk=["doc_id"], partition_field=None
    )
    ss = sk.StreamingSample(table, k=25, id_col="doc_id")
    stream = (
        spark.readStream.schema("doc_id long, text string, lang string")
        .option("maxFilesPerTrigger", "1")  # one wave per micro-batch
        .parquet(src + "/*")
    )
    q = ss.start(stream, str(tmp_path / "ck"))
    q.awaitTermination()

    got = sorted(
        (r.doc_id, r.text, r._prio) for r in ss.sample(spark).collect()
    )
    want = sorted(
        (r.doc_id, r.text, r._prio)
        for r in _batch_bottom_k(spark, src, 25).collect()
    )
    assert got == want  # maintained == one-shot batch bottom-k, row for row
    assert len(got) == 25  # bounded state: exactly k rows forever

    # rows from every wave can win (uniform over ids, not recency-biased)
    ids = {g[0] for g in got}
    assert ids & set(range(0, 200)) and ids & set(range(200, 600))


def test_stream_sample_replay_is_noop(spark, tmp_path):
    table = IcebergLite(
        str(tmp_path / "sample"), pk=["doc_id"], partition_field=None
    )
    ss = sk.StreamingSample(table, k=10, id_col="doc_id")
    df1 = spark.createDataFrame(
        [(i, f"d{i}") for i in range(50)], ["doc_id", "text"]
    )
    df2 = spark.createDataFrame(
        [(i, f"d{i}") for i in range(50, 90)], ["doc_id", "text"]
    )
    assert ss.apply_batch(df1, "0")
    assert ss.apply_batch(df2, "1")
    before = sorted(map(tuple, ss.sample(spark).collect()))

    # batch-id guard: a re-delivered batch id is skipped before any work
    assert ss.apply_batch(df1, "0") is False
    # and even WITHOUT the guard the merge is idempotent: re-merging the
    # same rows under a fresh id cannot evict a smaller priority
    assert ss.apply_batch(df1, "2")
    after = sorted(map(tuple, ss.sample(spark).collect()))
    assert before == after


def test_stream_sample_stratified_k_per_stratum(spark, tmp_path):
    src = str(tmp_path / "src")
    os.makedirs(src)
    t0 = time.time() - 100
    _wave(spark, src, range(0, 300), t0, "a")
    _wave(spark, src, range(300, 600), t0 + 1, "b")

    table = IcebergLite(
        str(tmp_path / "sample"), pk=["doc_id"], partition_field=None
    )
    ss = sk.StreamingSample(table, k=7, id_col="doc_id", strata_col="lang")
    stream = (
        spark.readStream.schema("doc_id long, text string, lang string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/*")
    )
    ss.start(stream, str(tmp_path / "ck")).awaitTermination()

    got = ss.sample(spark)
    per = {r.lang: r.n for r in got.groupBy("lang").agg(
        F.count("*").alias("n")).collect()}
    assert per == {"en": 7, "fr": 7, "de": 7}

    # parity with the batch window twin
    from pyspark.sql import Window

    w = Window.partitionBy("lang").orderBy(F.asc("_prio"), F.asc("doc_id"))
    want = (
        spark.read.parquet(src + "/*")
        .withColumn("_prio", F.md5(F.col("doc_id").cast("string")))
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= 7)
        .drop("_rn")
    )
    assert sorted((r.doc_id, r.lang) for r in got.collect()) == sorted(
        (r.doc_id, r.lang) for r in want.collect()
    )
