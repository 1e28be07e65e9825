"""Truncated media payloads fail cleanly: every prefix of a valid PNG,
GIF or AVI either decodes to exactly the pixels of the whole file (a
cut that only drops trailing chunks) or raises ValueError — never
struct.error, zlib.error or IndexError from an unbounded read."""

from __future__ import annotations

import numpy as np
import pytest

from big_data_analytics_final_project_spark.operators.multimodal import (
    decode_avi_dib,
    decode_gif_frame,
    decode_png_gray8,
    encode_gif,
    encode_png_gray8,
)

from .test_avi_decode import write_avi


def _png() -> bytes:
    return encode_png_gray8((np.arange(30).reshape(6, 5) * 37) % 256)


def _gif() -> bytes:
    palette = np.arange(24, dtype=np.uint8).reshape(8, 3) * 10
    return encode_gif((np.arange(42).reshape(6, 7) * 5) % 8, palette, min_code_size=3)


def _avi() -> bytes:
    rng = np.random.default_rng(7)
    return write_avi(
        [rng.integers(0, 256, size=(3, 5, 3), dtype=np.uint8) for _ in range(2)]
    )


CASES = {
    "png": (_png, decode_png_gray8),
    "gif": (_gif, decode_gif_frame),
    "avi": (_avi, decode_avi_dib),
}


def _canon(decoded) -> list:
    return [np.asarray(part).tolist() for part in decoded]


@pytest.mark.parametrize("fmt", sorted(CASES))
def test_every_truncation_decodes_same_or_raises_valueerror(fmt):
    make, decode = CASES[fmt]
    payload = make()
    want = _canon(decode(payload))
    for cut in range(len(payload)):
        try:
            got = decode(payload[:cut])
        except ValueError:
            continue
        assert _canon(got) == want, f"{fmt} cut at {cut} decoded different pixels"
