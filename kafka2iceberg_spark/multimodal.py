"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Image/audio/video content rides through the engine as ``binary`` columns with
a typed metadata struct — Spark's schema, partitioning and Arrow batching all
work unchanged on bytes. This module makes the *plumbing* real (schemas, blob
derivation, metadata extraction, batched feature UDFs) while the actual
codec step is a deterministic byte-level stand-in (``extract_features``,
``sample_frames``), so the Spark-side dataflow (mapInPandas over Arrow
batches, partition-preserving) is fully testable without image/audio
libraries.

At 100 TB: blobs dominate bytes, so (a) keep them OUT of shuffles — derive
features first, shuffle features; (b) read with large
``spark.sql.files.maxPartitionBytes`` so a task amortizes decode setup;
(c) mapInPandas streams Arrow record batches — bounded memory per task even
with multi-MB payloads.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

BLOB_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("mime", T.StringType(), True),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("sha", T.StringType(), True),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("byte_mean_ppm", T.LongType(), True),
        T.StructField("byte_entropy_q", T.LongType(), True),
        T.StructField("head_hex", T.StringType(), True),
    ]
)


def as_blobs(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Turn a text table into a blob table (payload = utf-8 bytes).

    Stand-in for reading real media files; metadata extraction (size, digest,
    mime) is exactly what a binaryFile-source ingest would do, all JVM-side.
    """
    payload = F.encode(F.col(text_col), "UTF-8")
    return docs.select(
        F.col(id_col).alias("doc_id"),
        payload.alias("payload"),
        F.lit("text/plain").alias("mime"),
        F.octet_length(payload).cast("long").alias("n_bytes"),
        F.sha2(payload, 256).alias("sha"),
    )


def extract_features(blobs: DataFrame, batch_hint: int | None = None) -> DataFrame:
    """Deterministic byte-level features via mapInPandas (Arrow batches).

    The stand-in for decode→featurize: per Arrow batch, vectorized numpy over
    the raw bytes — byte mean, a quantized entropy proxy, and a head hex
    fingerprint. Shape/partitioning/batching identical to a real codec UDF.
    """
    import numpy as np

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf["payload"]
            n = payloads.map(lambda b: len(b) if b is not None else 0)
            means, entq, heads = [], [], []
            for b in payloads:
                if b is None or len(b) == 0:
                    means.append(0)
                    entq.append(0)
                    heads.append("")
                    continue
                arr = np.frombuffer(b, dtype=np.uint8)
                # ppm-scaled integer mean: exact, engine-portable (no float
                # rounding-at-half ambiguity across oracle engines)
                means.append(int(arr.sum()) * 1_000_000 // arr.size)
                counts = np.bincount(arr, minlength=256)
                p = counts[counts > 0] / arr.size
                ent = float(-(p * np.log2(p)).sum())
                entq.append(int(ent * 1000))
                heads.append(bytes(arr[:8]).hex())
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": n.astype("int64"),
                    "byte_mean_ppm": pd.Series(means, dtype="int64"),
                    "byte_entropy_q": entq,
                    "head_hex": heads,
                }
            )

    return blobs.mapInPandas(fn, schema=FEATURE_SCHEMA)


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("frame_idx", T.LongType(), False),
        T.StructField("frame_bytes", T.LongType(), True),
        T.StructField("mean_ppm", T.LongType(), True),
        T.StructField("head_hex", T.StringType(), True),
    ]
)


def sample_frames(
    blobs: DataFrame, frame_bytes: int = 64, every_n: int = 4
) -> DataFrame:
    """Video frame sampling with a deterministic stand-in codec: the
    payload is treated as a stream of fixed-size ``frame_bytes`` frames;
    every ``every_n``-th frame is extracted and summarized (length,
    integer mean byte value, head bytes). The frames are SLICED from
    the payload inside a mapInPandas over Arrow batches, which is
    byte-for-byte the dataflow a real decoder plugs into (swap the
    slicing loop for cv2/av frame extraction; the schema, batching, and
    partition behavior do not change).

    Per-blob Python work is the codec stand-in (real decoders are also
    per-payload C calls); everything around it is Arrow-batched, and
    frames never ride a shuffle — only their summaries do.

    Output: (doc_id, frame_idx, frame_bytes, mean_ppm, head_hex).
    """

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {
                "doc_id": [], "frame_idx": [], "frame_bytes": [],
                "mean_ppm": [], "head_hex": [],
            }
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                if payload is None:
                    continue
                b = bytes(payload)
                n_frames = (len(b) + frame_bytes - 1) // frame_bytes
                for k in range(0, n_frames, every_n):
                    fr = b[k * frame_bytes : (k + 1) * frame_bytes]
                    out["doc_id"].append(doc_id)
                    out["frame_idx"].append(k)
                    out["frame_bytes"].append(len(fr))
                    out["mean_ppm"].append(sum(fr) * 1_000_000 // len(fr))
                    out["head_hex"].append(fr[:4].hex())
            yield pd.DataFrame(out)

    return blobs.select("doc_id", "payload").mapInPandas(fn, FRAME_SCHEMA)
