"""Truncated payloads fail loudly: every prefix of a seeded stream from
each in-repo codec either decodes or raises ValueError /
NotImplementedError — never IndexError or struct.error from a container
walk or a bit reader running off the end."""

from __future__ import annotations

import numpy as np
import pytest

from geo_db_spark.operators.ccitt import (
    decode_g3,
    decode_g4,
    decode_mh,
    encode_g3,
    encode_g4,
    encode_mh,
)
from geo_db_spark.operators.flac import decode_flac, make_flac
from geo_db_spark.operators.jpeg import (
    decode_jpeg,
    make_jpeg,
    make_jpeg_gray_from_blocks,
    make_jpeg_gray_progressive_from_blocks,
)
from geo_db_spark.operators.multimodal import _decode_gif, make_gif
from geo_db_spark.operators.tiff import decode_tiff, make_tiff
from geo_db_spark.operators.vp8l import decode_vp8l, make_webp


def _cases() -> dict:
    rng = np.random.RandomState(5)
    rgb = rng.randint(0, 256, (16, 16, 3)).astype(np.uint8).tobytes()
    zz = np.zeros((4, 64), np.int64)
    zz[:, :6] = rng.randint(-20, 21, (4, 6))
    bil = (rng.rand(12 * 40) < 0.3).astype(np.uint8).tobytes()
    pcm = rng.randint(-500, 500, 200).astype("<i2").tobytes()
    pal = bytes(range(256)) * 3
    return {
        "jpeg": (make_jpeg(16, 16, rgb, subsample=True), decode_jpeg),
        "jpeg_prog": (
            make_jpeg_gray_progressive_from_blocks(zz, 2, 2, restart_interval=1),
            decode_jpeg,
        ),
        "jpeg12": (make_jpeg_gray_from_blocks(zz, 2, 2, precision=12), decode_jpeg),
        "flac": (make_flac(8000, 2, pcm, block_size=32), decode_flac),
        "webp": (make_webp(8, 8, rgb[:192], use_lz77=True, cache_bits=3), decode_vp8l),
        "tiff_lzw": (make_tiff(16, 16, rgb, compression="lzw"), decode_tiff),
        "g4": (encode_g4(bil, 40, 12), lambda d: decode_g4(d, 40, 12)),
        "g3_2d": (
            encode_g3(bil, 40, 12, two_d=True),
            lambda d: decode_g3(d, 40, 12, two_d=True),
        ),
        "mh": (encode_mh(bil, 40, 12), lambda d: decode_mh(d, 40, 12)),
        "gif": (make_gif(16, 16, rgb[:256], pal, comment=b"hi"), _decode_gif),
    }


_CASES = _cases()


@pytest.mark.parametrize("name", list(_CASES))
def test_every_truncation_fails_loudly(name):
    data, decode = _CASES[name]
    decode(data)  # the whole stream decodes
    for cut in range(len(data)):
        try:
            decode(data[:cut])
        except (ValueError, NotImplementedError):
            pass
