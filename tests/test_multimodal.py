"""The public blob kernels of ``functions/multimodal.py`` on Spark: each
runs one per-blob row function through the module's single
``mapInPandas`` runner, so a decodable row yields its fields, an
undecodable one yields NULLs, and a NULL blob cell yields an all-NULL
row instead of failing the task."""

from __future__ import annotations

import numpy as np
import pytest

import smartdatapipeline_spark.functions.multimodal as MM
from tests.test_extensions import _make_bmp_3x2


def test_decode_image_pixels_bmp(spark):
    """BMP rows decode, non-image rows yield NULLs."""
    df = spark.createDataFrame(
        [(1, bytearray(_make_bmp_3x2())), (2, bytearray(b"not an image"))],
        "doc_id long, blob binary",
    )
    out = {r["doc_id"]: r for r in MM.decode_image_pixels(df).collect()}
    assert (out[1]["width"], out[1]["height"], out[1]["n_channels"]) == (3, 2, 3)
    assert bytes(out[1]["pixels"])[:9] == bytes([255, 0, 0, 0, 255, 0, 0, 0, 255])
    assert out[2]["width"] is None and out[2]["pixels"] is None


def test_decode_image_pixels_png_string_ids(spark):
    """PNG rows decode, a JPEG-looking but undecodable row goes NULL
    (mixed-corpus fail-soft), id column name/type preserved."""
    px = bytes((i * 3) % 256 for i in range(4 * 2 * 3))
    rows = [
        ("a", bytearray(MM.encode_png(4, 2, 3, px))),
        ("b", bytearray(b"\xff\xd8\xff\xe0 jpeg-ish")),
    ]
    df = spark.createDataFrame(rows, "name string, blob binary")
    out = MM.decode_image_pixels(df, id_col="name")
    assert out.schema["name"].dataType.simpleString() == "string"
    got = {r["name"]: r for r in out.collect()}
    assert got["a"]["format"] == "png"
    assert (got["a"]["width"], got["a"]["height"], got["a"]["n_channels"]) == (
        4,
        2,
        3,
    )
    assert bytes(got["a"]["pixels"]) == px
    assert got["b"]["width"] is None and got["b"]["pixels"] is None


def test_decode_image_pixels_gif_null_blob(spark):
    df = spark.createDataFrame(
        [(1, bytearray(MM.encode_gif(2, 2, bytes(12)))), (2, None)],
        "doc_id long, blob binary",
    )
    rows = {r["doc_id"]: r for r in MM.decode_image_pixels(df).collect()}
    assert rows[1]["format"] == "gif"
    assert rows[1]["width"] == 2 and rows[1]["pixels"] is not None
    assert rows[2]["pixels"] is None


_PNG = MM.encode_png(3, 2, 1, bytes(range(6)))
_WAV = MM.encode_wav(np.linspace(-0.5, 0.5, 16), 8000, 16, 1)


@pytest.mark.parametrize(
    "kernel, blob",
    [
        pytest.param(kernel, blob, id=kernel.__name__)
        for kernel, blob in (
            (MM.decode_image_features, _PNG),
            (MM.decode_audio_features, _WAV),
            (MM.decode_image_pixels, _PNG),
            (MM.extract_features, _PNG),
            (MM.decode_audio_samples, _WAV),
        )
    ],
)
def test_null_blob_rows_fail_soft(spark, kernel, blob):
    """A NULL binary cell must not reach ``bytes(None)``, which raises
    and fails the whole task. Every public blob kernel yields an
    all-NULL row for it, and the decodable row beside it keeps every
    field."""
    df = spark.createDataFrame(
        [(1, bytearray(blob)), (2, None)], "doc_id long, blob binary"
    )
    out = kernel(df)
    rows = {r["doc_id"]: r for r in out.collect()}
    assert len(rows) == 2  # no task failure, no dropped row
    fields = [c for c in out.columns if c != "doc_id"]
    assert all(rows[1][c] is not None for c in fields), rows[1]
    assert all(rows[2][c] is None for c in fields), rows[2]
