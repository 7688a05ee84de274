"""Multimodal (image/audio/video) column handling.

Media payloads are opaque ``binary`` columns with a typed metadata
struct — the engine never parses media JVM-side, mirroring the
reference's store-the-path-not-the-image discipline (reference
src/managers/HistoryManager.cpp:284-293) and this repo's
media_ref-in-spans model.

The decode step itself is STUBBED (the container ships no image/audio
codecs): ``decode_image`` raises NotImplementedError unless
``fake=True``, in which case a deterministic fake decoder (seeded by the
payload hash) produces stable (width, height, mode) + a tiny feature
vector. Everything around it — schema, Arrow batch shape, mapInPandas
partitioning, error-row isolation — is real and tested, so swapping a
real codec in is a one-function change.

Reference analogue: RGB32 normalize (CustomAdapter.cpp:99-114) -> the
normalize flag of ``decode_batch``.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("media_type", T.StringType(), False),  # image|audio|video
        T.StructField("payload", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("declared_w", T.IntegerType(), True),
                    T.StructField("declared_h", T.IntegerType(), True),
                    T.StructField("codec", T.StringType(), True),
                ]
            ),
            True,
        ),
    ]
)

DECODED_DDL = (
    "media_ref string, media_type string, ok boolean, error string, "
    "width int, height int, mode string, n_frames int, "
    "features array<float>"
)

FEATURE_DIM = 8


def decode_image(payload: bytes, fake: bool = False) -> dict:
    """STUB: real decoding needs an image codec not present in this
    container. fake=True -> deterministic pseudo-decode from the
    payload's sha256 (stable across runs/partitions)."""
    if not fake:
        raise NotImplementedError(
            "image codecs unavailable in this environment; pass fake=True "
            "or swap in a real decoder (PIL/libvips) on a full cluster"
        )
    h = hashlib.sha256(payload or b"").digest()
    rng = np.frombuffer(h, dtype=np.uint8).astype(np.float32)
    return {
        "width": 64 + int(h[0]) * 8,
        "height": 64 + int(h[1]) * 8,
        "mode": "RGB" if h[2] % 2 == 0 else "RGBA",
        "n_frames": 1,
        "features": [float(x) for x in (rng[:FEATURE_DIM] / 255.0)],
    }


def decode_media_batch(media: DataFrame, fake: bool = True) -> DataFrame:
    """mapInPandas decode stage with per-row error isolation — the same
    batch/error discipline as the text extraction stage."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for ref, mtype, payload in zip(
                pdf["media_ref"], pdf["media_type"], pdf["payload"]
            ):
                try:
                    d = decode_image(bytes(payload) if payload is not None else b"", fake=fake)
                    rows.append((ref, mtype, True, "", d["width"], d["height"],
                                 d["mode"], d["n_frames"], d["features"]))
                except Exception as exc:
                    rows.append((ref, mtype, False, f"{type(exc).__name__}: {exc}"[:200],
                                 None, None, None, None, None))
            yield pd.DataFrame(
                rows,
                columns=["media_ref", "media_type", "ok", "error", "width",
                         "height", "mode", "n_frames", "features"],
            )

    return media.select("media_ref", "media_type", "payload").mapInPandas(
        run, schema=DECODED_DDL
    )
