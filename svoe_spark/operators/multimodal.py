"""Multimodal columns: opaque binary payloads + typed metadata, with
decode / feature-extraction / frame-sampling as Arrow-batched
mapInPandas operators.

The Spark-side plumbing is real and tested: binary columns, metadata
structs, Arrow batch transfer, partition-parallel numpy work, explode of
frame chunks. The image/audio DECODE itself is stubbed (this container
ships no codec libs): `decode_image` tries PIL and otherwise raises or
falls back to a clearly-marked deterministic fake, so swapping in a real
codec is a one-function change.

At 100 TB: payloads stay columnar in parquet (never hit the driver),
features compute next to the scan, and only compact feature vectors
shuffle.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

HIST_BINS = 8


def attach_payload(df: DataFrame, text: str = "text", fmt: str = "utf8") -> DataFrame:
    """Text -> (payload BINARY, meta STRUCT<format,n_bytes>) — the
    fixture stand-in for image/audio bytes; real pipelines read the
    bytes column straight from parquet."""
    payload = F.encode(F.col(text), "utf-8")
    return df.withColumn("payload", payload).withColumn(
        "meta",
        F.struct(
            F.lit(fmt).alias("format"),
            F.octet_length(payload).alias("n_bytes"),
        ),
    )


_FEATURE_SCHEMA_FIELDS = [
    StructField("n_bytes", LongType()),
    StructField("first_byte", IntegerType()),
    StructField("checksum", LongType()),
    StructField("byte_hist", ArrayType(LongType())),
]


def byte_features(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Arrow-batched feature extraction over the payload column:
    byte count, first byte, additive checksum, coarse byte histogram.
    Deterministic pure-byte math (the oracle-checkable core every real
    extractor would replace)."""
    schema = StructType(
        [StructField(id_col, LongType()), *_FEATURE_SCHEMA_FIELDS]
    )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i, payload in zip(pdf[id_col], pdf["payload"]):
                arr = np.frombuffer(payload, dtype=np.uint8)
                hist = np.bincount(arr // (256 // HIST_BINS), minlength=HIST_BINS)
                rows.append(
                    {
                        id_col: i,
                        "n_bytes": int(arr.size),
                        "first_byte": int(arr[0]) if arr.size else -1,
                        "checksum": int(arr.astype(np.int64).sum()),
                        "byte_hist": hist.astype(np.int64).tolist(),
                    }
                )
            yield pd.DataFrame(rows)

    return df.select(id_col, "payload").mapInPandas(fn, schema=schema)


IMAGE_SCHEMA = StructType(
    [
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("channels", IntegerType()),
        StructField("mode", StringType()),
    ]
)


def decode_image(
    df: DataFrame, id_col: str = "doc_id", allow_fake: bool = False
) -> DataFrame:
    """Decode the payload as an image -> (width,height,channels,mode).

    STUB: PIL/codec libs are absent in this environment. With
    allow_fake=True the deterministic fake decoder is FORCED (even when
    pillow is importable — the repo's payloads are text bytes, not real
    images, so the stub is the only path that works on them); with
    allow_fake=False and pillow present, the real decoder runs;
    otherwise raises NotImplementedError naming the dependency."""
    try:
        from PIL import Image  # noqa: F401

        have_pil = True
    except ImportError:
        have_pil = False
    have_pil = have_pil and not allow_fake

    if not have_pil and not allow_fake:
        raise NotImplementedError(
            "image decode needs pillow (not installed here); pass "
            "allow_fake=True for the deterministic stub decoder"
        )

    schema = StructType(
        [StructField(id_col, LongType()), *IMAGE_SCHEMA.fields]
    )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io

        for pdf in batches:
            rows = []
            for i, payload in zip(pdf[id_col], pdf["payload"]):
                if have_pil:
                    from PIL import Image

                    img = Image.open(io.BytesIO(payload))
                    rows.append(
                        {id_col: i, "width": img.width, "height": img.height,
                         "channels": len(img.getbands()), "mode": img.mode}
                    )
                else:
                    n = len(payload)
                    side = max(1, int(n ** 0.5))
                    rows.append(
                        {id_col: i, "width": side, "height": (n + side - 1) // side,
                         "channels": 1, "mode": "FAKE-L"}
                    )
            yield pd.DataFrame(rows)

    return df.select(id_col, "payload").mapInPandas(fn, schema=schema)


def frame_sample(
    df: DataFrame,
    id_col: str = "doc_id",
    frame_bytes: int = 64,
    every_nth: int = 2,
) -> DataFrame:
    """'Video' frame sampling over a binary payload: chunk into frames,
    keep every n-th — pure Spark expressions (no Python loop), the
    chunking pattern any real frame extractor plugs into."""
    n_frames = F.ceil(F.octet_length("payload") / frame_bytes).cast("int")
    # guard: sequence(0, -1) is a DESCENDING [0, -1], not empty — an
    # empty payload must yield zero frame rows, not phantom frames
    frame_ids = F.when(
        n_frames > 0, F.sequence(F.lit(0), n_frames - 1)
    ).otherwise(F.array().cast("array<int>"))
    idx = F.explode(frame_ids).alias("frame_idx")
    framed = df.select(id_col, "payload", n_frames.alias("n_frames"), idx)
    return framed.filter(F.col("frame_idx") % every_nth == 0).select(
        id_col,
        "frame_idx",
        "n_frames",
        F.substring(
            F.col("payload"), F.col("frame_idx") * frame_bytes + 1, frame_bytes
        ).alias("frame"),
    )
