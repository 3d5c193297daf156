"""Multimodal columns: opaque ``binary`` media + typed metadata, decoded /
feature-extracted via Arrow-batched ``mapInPandas`` (SURVEY.md training-data
extensions).

The Spark-side plumbing is real and tested — schema, partition-preserving
mapInPandas, Arrow batch shapes, deterministic outputs. The *codec* layer is
a stand-in: real image/audio decoding needs PIL/ffmpeg, which are not
installed, so ``fake_dims`` derives dimensions from byte length by pure
arithmetic (features come from byte slices) — deterministic, and re-derived
by the DuckDB oracle.

Scale notes: media bytes never leave the executor — mapInPandas streams
Arrow batches through Python without a shuffle; per-batch memory is bounded
by spark.sql.execution.arrow.maxRecordsPerBatch; downstream joins/aggs use
only the extracted scalar/vector features.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_channels", T.IntegerType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("feature", T.ArrayType(T.DoubleType())),
    ]
)


def media_from_documents(docs: DataFrame) -> DataFrame:
    """Deterministic media table: utf-8 text bytes as the opaque payload
    (the engine treats media as bytes regardless of codec)."""
    return docs.select(
        "doc_id",
        F.lit("image").alias("kind"),
        F.encode("text", "utf-8").alias("media"),
        F.create_map(F.lit("src"), F.col("source")).alias("meta"),
    )


def fake_dims(n_bytes: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Deterministic stand-in dims from byte length (pure arithmetic so the
    SQL oracle re-derives them)."""
    w = (n_bytes % 640 + 1).astype(np.int32)
    h = ((n_bytes // 7) % 480 + 1).astype(np.int32)
    return w, h


def decode_media(df: DataFrame, n_features: int = 4) -> DataFrame:
    """media → per-item features via mapInPandas (no shuffle; Arrow batch
    in, Arrow batch out)."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            raw = pdf["media"]
            nb = raw.map(len).to_numpy(dtype=np.int64)
            w, h = fake_dims(nb)
            # features: mean byte value of k equal slices, scaled to [0,1]
            feats = []
            for b in raw:
                arr = np.frombuffer(b, dtype=np.uint8)
                if len(arr) == 0:
                    feats.append([0.0] * n_features)
                    continue
                chunks = np.array_split(arr, n_features)
                # exact double means (ints < 2^53 sum exactly) — no rounding
                # here so downstream parity doesn't depend on np rounding mode
                feats.append([float(c.mean()) / 255.0 if len(c) else 0.0 for c in chunks])
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "kind": pdf["kind"],
                    "width": w,
                    "height": h,
                    "n_channels": np.full(len(pdf), 3, dtype=np.int32),
                    "n_bytes": nb,
                    "feature": feats,
                }
            )

    return df.mapInPandas(fn, schema=FEATURE_SCHEMA)
