"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

The Spark-side plumbing (schemas, partition-preserving mapInPandas,
Arrow batch shapes) is real and tested; the actual codec step is STUBBED
— no image/audio libraries are available — by deterministic
bytes-derived features (production would call PIL.Image.open /
soundfile.read / av.open in its place).

At scale: binaries stay columnar in parquet; decode runs as
``mapInPandas`` so each Arrow batch is processed vectorized and the
operation is embarrassingly parallel (no shuffle at all).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType(), False),
        T.StructField("kind", T.StringType(), False),  # image | audio | video
        T.StructField("payload", T.BinaryType(), True),  # opaque encoded bytes
        T.StructField("mime", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.IntegerType(), True),
    ]
)

FEATURE_DIM = 16

_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("n_bytes", T.IntegerType(), True),
        T.StructField("features", T.ArrayType(T.FloatType()), True),
    ]
)


def _fake_decode_features(payload: bytes | None) -> list[float] | None:
    """Deterministic stand-in for decode + feature-extract: features are a
    byte-histogram projection of the payload. Same bytes -> same features
    on every executor, so tests are exact."""
    if payload is None:
        return None
    arr = np.frombuffer(payload, dtype=np.uint8)
    if arr.size == 0:
        return [0.0] * FEATURE_DIM
    hist = np.bincount(arr % FEATURE_DIM, minlength=FEATURE_DIM).astype(np.float64)
    return (hist / arr.size).astype(np.float32).tolist()


def extract_features(df: DataFrame) -> DataFrame:
    """Decode + feature-extract media payloads via mapInPandas
    (Arrow-batched, partition-preserving, no shuffle)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = pdf["payload"].map(_fake_decode_features)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": pdf["payload"].map(lambda b: None if b is None else len(b)).astype("Int32"),
                    "features": feats,
                }
            )

    return df.mapInPandas(run, schema=_FEATURES_SCHEMA)


def synthetic_media_oracle(spark, n: int = 128) -> DataFrame:
    """Deterministic media table whose payloads an ANSI-SQL oracle can
    reproduce: payload = the 32 ASCII bytes of md5(media index).  The
    binary column and typed metadata follow MEDIA_SCHEMA."""
    kinds = F.array(F.lit("image"), F.lit("audio"), F.lit("video"))
    mimes = F.array(F.lit("image/png"), F.lit("audio/wav"), F.lit("video/mp4"))
    i = F.col("id")
    k = (i % 3).cast("int") + 1  # element_at is 1-based
    is_image = i % 3 == 0
    return spark.range(n).select(
        F.concat(F.lit("m-"), i.cast("string")).alias("media_id"),
        F.element_at(kinds, k).alias("kind"),
        F.encode(F.md5(i.cast("string")), "utf-8").alias("payload"),
        F.element_at(mimes, k).alias("mime"),
        F.when(is_image, F.lit(64)).cast("int").alias("width"),
        F.when(is_image, F.lit(48)).cast("int").alias("height"),
        F.when(~is_image, (1000 + i * 7).cast("int")).alias("duration_ms"),
    )
