"""Multimodal columns: image/audio/video as opaque ``binary`` + typed
metadata. The Spark-side plumbing (schemas, Arrow batch shape,
partition sizing) is real and tested; the actual codec work is stubbed
behind deterministic fakes because no image/audio libraries ship in
this container (clearly marked below).

Pattern: mapInPandas over (id, media_type, payload, meta) with
Arrow-batched binary columns; batch size bounded via
``spark.sql.execution.arrow.maxRecordsPerBatch`` so a partition of
large blobs cannot blow executor memory.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), False),  # image|audio|video
        T.StructField("payload", T.BinaryType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.LongType(), True),
    ]
)

FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), False),
        T.StructField("payload_sha256", T.StringType(), False),
        T.StructField("n_bytes", T.LongType(), False),
        T.StructField("feature", T.ArrayType(T.FloatType()), False),
    ]
)


def _fake_decode_features(payload: bytes, media_type: str, dim: int) -> np.ndarray:
    """STUB: deterministic fake feature vector derived from the payload
    digest. A real deployment replaces this with Pillow/librosa/ffmpeg
    decode + model inference; the Spark plumbing stays identical."""
    h = hashlib.sha256(media_type.encode() + payload).digest()
    rng = np.random.Generator(np.random.PCG64(list(h[:8])))
    return rng.standard_normal(dim).astype(np.float32)


def decode_and_featurize(media: DataFrame, dim: int = 16) -> DataFrame:
    """mapInPandas featurizer: Arrow-batched binary in, fixed-dim float
    features out. Resize/frame-sample would slot into the same UDF."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [
                _fake_decode_features(bytes(p), mt, dim)
                for p, mt in zip(pdf["payload"], pdf["media_type"])
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "media_type": pdf["media_type"],
                    "payload_sha256": [
                        hashlib.sha256(bytes(p)).hexdigest() for p in pdf["payload"]
                    ],
                    "n_bytes": [len(bytes(p)) for p in pdf["payload"]],
                    "feature": [f.tolist() for f in feats],
                }
            )

    return media.mapInPandas(run, schema=FEATURES_SCHEMA)


def synth_media(spark, n: int = 64, seed: int = 5) -> DataFrame:
    """Deterministic fake media table for tests (binary payloads)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                rng = np.random.Generator(np.random.PCG64([seed, int(i)]))
                mt = ["image", "audio", "video"][int(i) % 3]
                payload = rng.bytes(128 + int(i) % 256)
                rows.append(
                    (
                        int(i), mt, payload,
                        64 if mt == "image" else None,
                        48 if mt == "image" else None,
                        1000 + int(i) if mt != "image" else None,
                    )
                )
            yield pd.DataFrame(
                rows, columns=[f.name for f in MEDIA_SCHEMA.fields]
            )

    return spark.range(n).mapInPandas(gen, schema=MEDIA_SCHEMA)
