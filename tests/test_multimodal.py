"""Multimodal plumbing: schema, batch shape and error isolation."""

import pytest

from xs_vlm_ocr_spark.operators.multimodal import (
    MEDIA_SCHEMA,
    decode_image,
    decode_media_batch,
)


@pytest.fixture(scope="module")
def media_df(spark):
    rows = [
        (f"img://m/{i}", "image", bytes([i % 251]) * (10 + i), (100, 100, "png"))
        for i in range(20)
    ]
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def test_decode_stub_raises_without_fake():
    with pytest.raises(NotImplementedError):
        decode_image(b"abc")


def test_decode_batch_deterministic(spark, media_df):
    a = sorted(map(tuple, decode_media_batch(media_df).collect()))
    b = sorted(map(tuple, decode_media_batch(media_df.repartition(5)).collect()))
    assert a == b
    assert len(a) == 20
    assert all(r[2] for r in a)  # ok=True
    # features have the declared dim and stable values per payload
    row = next(r for r in a if r[0] == "img://m/0")
    assert len(row[8]) == 8


def test_decode_matches_local_oracle(spark, media_df):
    rows = {r["media_ref"]: r for r in decode_media_batch(media_df).collect()}
    payload = bytes([3]) * 13
    exp = decode_image(payload, fake=True)
    got = rows["img://m/3"]
    assert (got["width"], got["height"], got["mode"]) == (
        exp["width"], exp["height"], exp["mode"]
    )
