"""Multimodal plumbing: binary columns + mapInPandas batch shapes."""

from __future__ import annotations

import pytest

from geo_db_spark.io import load
from geo_db_spark.operators.multimodal import (
    N_FEATURES,
    decode_image,
    extract_features,
    fake_decode_meta,
    frame_sample,
    with_binary_payload,
)
from tests.conftest import SF_SMOKE


def test_binary_payload_schema(spark):
    docs = load(spark, SF_SMOKE, "documents").limit(20)
    media = with_binary_payload(docs)
    assert [f.name for f in media.schema.fields] == ["doc_id", "payload", "meta"]
    row = media.first()
    assert isinstance(row["payload"], (bytes, bytearray))
    assert row["meta"]["n_bytes"] == len(row["payload"])


def test_extract_features_batched(spark):
    docs = load(spark, SF_SMOKE, "documents").limit(50)
    feats = extract_features(with_binary_payload(docs)).collect()
    assert len(feats) == 50
    for r in feats:
        assert len(r["features"]) == N_FEATURES
        assert r["batch_rows"] >= 1
    # deterministic across runs
    again = extract_features(with_binary_payload(docs)).collect()
    assert sorted((r["doc_id"], tuple(r["features"])) for r in feats) == sorted(
        (r["doc_id"], tuple(r["features"])) for r in again
    )


def test_frame_sample_explodes_rows(spark):
    docs = load(spark, SF_SMOKE, "documents").limit(5)
    media = with_binary_payload(docs)
    frames = frame_sample(media, every_n_bytes=64)
    got = frames.groupBy("doc_id").count().collect()
    sizes = {r["doc_id"]: r["meta"]["n_bytes"] for r in media.collect()}
    for r in got:
        expected = (sizes[r["doc_id"]] + 63) // 64
        assert r["count"] == expected


def test_feature_values_match_numpy(spark):
    """Pin the feature math to numpy ground truth — the workload query
    only exposes scalar digests (ADVICE r2), so the element-level check
    lives here."""
    import numpy as np

    docs = load(spark, SF_SMOKE, "documents").limit(20)
    media = with_binary_payload(docs)
    payloads = {r["doc_id"]: bytes(r["payload"]) for r in media.collect()}
    feats = {r["doc_id"]: r["features"] for r in extract_features(media).collect()}
    assert set(feats) == set(payloads)
    for doc_id, payload in payloads.items():
        arr = np.frombuffer(payload, dtype=np.uint8).astype(np.float32)
        expected = [float(c.mean()) for c in np.array_split(arr, N_FEATURES)]
        got = feats[doc_id]
        assert got == pytest.approx(expected, rel=1e-6)


def test_mm_feature_extract_digest_is_canonical(spark):
    """The registered query must return only hashable scalar columns
    (pandas sort/factorize chokes on ndarray cells — CORRECTNESS_r02)."""
    from geo_db_spark.workload.multimodal import mm_feature_extract

    out = mm_feature_extract(spark, SF_SMOKE)
    kinds = dict(out.dtypes)
    assert kinds == {
        "doc_id": "bigint",
        "n_features": "int",
        "feat_total": "bigint",
        "feat_first": "bigint",
        "feats_md5": "string",
    }
    rows = out.limit(10).collect()
    assert all(r["n_features"] == N_FEATURES for r in rows)
    assert all(isinstance(r["feat_total"], int) for r in rows)
    assert all(len(r["feats_md5"]) == 32 for r in rows)


def test_decode_compressed_formats_still_stubbed():
    """Only the codec-library boundary remains stubbed: lossy-VP8 WebP
    and unknown bytes raise NotImplementedError; a JPEG-magic payload
    with garbage after SOI is MALFORMED now that baseline JPEG decodes
    (ValueError, not a stub); a RIFF/WEBP container routes to the VP8L
    decoder since r9 (a chunkless one is malformed, not a stub)."""
    import struct

    with pytest.raises(ValueError):
        decode_image(b"\xff\xd8\xff\xe0 jpeg")
    with pytest.raises(ValueError, match="no VP8L chunk"):
        decode_image(b"RIFF" + b"\x04\x00\x00\x00" + b"WEBP")
    lossy = (
        b"RIFF" + struct.pack("<I", 16) + b"WEBP"
        + b"VP8 " + struct.pack("<I", 4) + b"\x00" * 4
    )
    with pytest.raises(NotImplementedError, match="lossy VP8"):
        decode_image(lossy)
    with pytest.raises(NotImplementedError):
        decode_image(b"abc")
    assert fake_decode_meta(b"abc") == (4, 4, "fake")


def test_decode_ppm_golden():
    import numpy as np

    from geo_db_spark.operators.multimodal import make_ppm

    rgb = bytes(range(2 * 3 * 3))  # 2x3 image, distinct byte per sample
    arr = decode_image(make_ppm(3, 2, rgb))
    assert arr.shape == (2, 3, 3) and arr.dtype == np.uint8
    assert arr.tobytes() == rgb
    assert tuple(arr[1, 2]) == (15, 16, 17)  # bottom-right pixel
    # whitespace/comment-tolerant header, exactly as the spec allows
    commented = b"P6\n# a comment\n 3 2\n# more\n255\n" + rgb
    assert decode_image(commented).tobytes() == rgb
    # 16-bit maxval DECODES since r8 (big-endian high byte)
    arr16 = decode_image(b"P6\n1 1\n65535\n\x12\x34\x56\x78\x9a\xbc")
    assert arr16.tolist() == [[[0x12, 0x56, 0x9A]]]
    with pytest.raises(ValueError):  # truncated raster
        decode_image(b"P6\n3 2\n255\n\x01\x02")
    with pytest.raises(ValueError):  # maxval 0 is malformed
        decode_image(b"P6\n1 1\n0\n\x00\x00\x00")


def test_decode_bmp_24bit_bottom_up():
    import struct

    import numpy as np

    # 3x2 24-bit BMP: stride = 12 bytes (3*3=9 padded to 12), bottom-up,
    # BGR order. Build the file by hand: 14-byte file header + 40-byte
    # BITMAPINFOHEADER + 2 rows.
    w, h = 3, 2
    stride = 12
    top = [(255, 0, 0), (0, 255, 0), (0, 0, 255)]  # wanted RGB top row
    bottom = [(1, 2, 3), (4, 5, 6), (7, 8, 9)]
    def row(px):
        raw = b"".join(bytes((b, g, r)) for (r, g, b) in px)  # BGR on disk
        return raw + b"\x00" * (stride - len(raw))
    pixel_data = row(bottom) + row(top)  # bottom-up: last row first
    offset = 14 + 40
    header = struct.pack("<2sIHHI", b"BM", offset + len(pixel_data), 0, 0, offset)
    dib = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pixel_data), 0, 0, 0, 0)
    arr = decode_image(header + dib + pixel_data)
    assert arr.shape == (2, 3, 3) and arr.dtype == np.uint8
    assert [tuple(p) for p in arr[0]] == top
    assert [tuple(p) for p in arr[1]] == bottom
    # compressed BMP refuses
    dib_rle = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 1, 0, 0, 0, 0, 0)
    with pytest.raises(NotImplementedError):
        decode_image(header + dib_rle + pixel_data)


def test_downsample_payload_halves_bytes(spark):
    from pyspark.sql import functions as F

    from geo_db_spark.io import load
    from geo_db_spark.operators.multimodal import downsample_payload, with_binary_payload
    from tests.conftest import SF_SMOKE

    media = with_binary_payload(load(spark, SF_SMOKE, "documents")).limit(20)
    out = downsample_payload(media, factor=2)
    rows = out.join(
        media.select("doc_id", F.length("payload").alias("n_in")), "doc_id"
    ).collect()
    assert len(rows) == 20
    for r in rows:
        assert r["n_bytes_out"] == (r["n_in"] + 1) // 2
        assert len(r["resized"]) == r["n_bytes_out"]


def test_decode_png_golden_and_refusals():
    """PNG: golden decode through the dispatcher, plus the documented
    refusals (16-bit, interlaced, PLTE-less palette, truncated scanlines)."""
    import struct
    import zlib

    import numpy as np

    from geo_db_spark.operators.multimodal import PNG_MAGIC, decode_image, make_png

    rgb = bytes(range(2 * 3 * 3))
    arr = decode_image(make_png(3, 2, rgb, color_type=2, row_filters=[0, 4]))
    assert arr.shape == (2, 3, 3) and arr.dtype == np.uint8
    assert arr.tobytes() == rgb

    def chunk(typ, payload):
        return (
            struct.pack(">I", len(payload)) + typ + payload
            + struct.pack(">I", zlib.crc32(typ + payload) & 0xFFFFFFFF)
        )

    def png_with_ihdr(depth=8, color=2, interlace=0):
        ihdr = struct.pack(">IIBBBBB", 1, 1, depth, color, 0, 0, interlace)
        idat = zlib.compress(b"\x00\x01\x02\x03")
        return PNG_MAGIC + chunk(b"IHDR", ihdr) + chunk(b"IDAT", idat) + chunk(b"IEND", b"")

    # 16-bit DECODES since r8; this fixture's 4-byte scanline data is
    # TRUNCATED for a 16-bit 1x1 RGB (needs 7) — malformed, not a stub
    with pytest.raises(ValueError, match="truncated"):
        decode_image(png_with_ihdr(depth=16))
    with pytest.raises(NotImplementedError):  # 4-bit stays a boundary
        decode_image(png_with_ihdr(depth=4))
    # Adam7 DECODES since r8 (1x1: only pass 1 is non-empty — one
    # filter byte + 3 channel bytes, exactly the sequential stream)
    assert decode_image(png_with_ihdr(interlace=1)).tolist() == [[[1, 2, 3]]]
    with pytest.raises(ValueError):  # interlace method 2 does not exist
        decode_image(png_with_ihdr(interlace=2))
    # palette is IMPLEMENTED since r7b — but a type-3 stream without a
    # PLTE chunk is malformed, not unsupported
    with pytest.raises(ValueError):
        decode_image(png_with_ihdr(color=3))
    bad = PNG_MAGIC + chunk(
        b"IHDR", struct.pack(">IIBBBBB", 3, 2, 8, 2, 0, 0, 0)
    ) + chunk(b"IDAT", zlib.compress(b"\x00\x01")) + chunk(b"IEND", b"")
    with pytest.raises(ValueError):  # truncated scanlines
        decode_image(bad)


def test_mm_image_decode_png_matches_oracle(spark):
    """The PNG workload query under its DuckDB oracle at smoke SF — the
    encode(filters cycling)->decode->md5 loop must reproduce the raw
    text-byte raster exactly."""
    import duckdb

    from geo_db_spark.verify import _norm_rows, duckdb_con
    from geo_db_spark.workload.multimodal import (
        ORACLE_MM_IMAGE_DECODE_PNG,
        mm_image_decode_png,
    )
    from tests.conftest import SF_SMOKE

    sdf = mm_image_decode_png(spark, SF_SMOKE)
    s_rows = [tuple(r) for r in sdf.collect()]
    assert len(s_rows) > 0
    con = duckdb_con(SF_SMOKE)  # keep the connection alive past .sql()
    rel = con.sql(ORACLE_MM_IMAGE_DECODE_PNG)
    o_rows = rel.fetchall()
    assert _norm_rows(s_rows, sdf.columns) == _norm_rows(o_rows, rel.columns)


@pytest.mark.parametrize("build", ["with_ppm_payload", "mm_image_decode_jpeg"])
def test_ascii_guard_raises_on_non_ascii_corpus(spark, monkeypatch, build):
    """ADVICE r6: a non-ASCII corpus must fail LOUDLY in the payload
    builders, not silently desynchronize the byte/char oracles — both
    in the PPM payload builder and in a text-derived decode that runs
    through the `_map_docs` harness (the documents scan is swapped for
    the two-row frame)."""
    from geo_db_spark.workload import multimodal as mm

    docs = spark.createDataFrame(
        [(1, "plain ascii text here xx"), (2, "café au lait non-ascii")],
        "doc_id long, text string",
    )
    if build == "with_ppm_payload":
        out = mm.with_ppm_payload(docs)
    else:
        monkeypatch.setattr(mm, "load", lambda spark, sf_dir, table: docs)
        out = mm.mm_image_decode_jpeg(spark, "unused")
    with pytest.raises(Exception, match="non-ASCII|USER_RAISED"):
        out.collect()


def test_jpeg12_decode_rejects_non_12bit_raster(monkeypatch):
    """The 12-bit decode hashes uint16 sample values; a decoder that
    hands back another dtype must raise (an explicit check, so it also
    holds under ``python -O``)."""
    import numpy as np

    from geo_db_spark.workload import multimodal as mm

    assert mm._jpeg12_doc(1, b"abcd")[:2] == (32, 8)
    monkeypatch.setattr(mm, "decode_jpeg", lambda payload: np.zeros((8, 32, 3), np.uint8))
    with pytest.raises(ValueError, match="uint16"):
        mm._jpeg12_doc(1, b"abcd")


def test_decode_png_roundtrip_fuzz():
    """r6 verdict #9: randomized encode->decode roundtrips — per-row
    filter types drawn independently (all five, mixed within one image),
    every color type, odd widths including 1-px and stride-unaligned
    shapes — must reproduce the input pixels exactly (the PPM/BMP
    hypothesis suites' analog for PNG). Pure-Python harness (no Spark)."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from geo_db_spark.operators.multimodal import _PNG_CHANNELS, _decode_png, make_png

    @settings(max_examples=40, deadline=None)
    @given(
        w=st.sampled_from([1, 2, 3, 5, 7, 16, 31]),
        h=st.sampled_from([1, 2, 3, 8, 13]),
        color_type=st.sampled_from(sorted(_PNG_CHANNELS)),
        data=st.data(),
    )
    def roundtrip(w, h, color_type, data):
        ch = _PNG_CHANNELS[color_type]
        filters = data.draw(
            st.lists(st.integers(0, 4), min_size=h, max_size=h), label="row_filters"
        )
        px = np.array(
            data.draw(
                st.lists(st.integers(0, 255), min_size=w * h * ch, max_size=w * h * ch),
                label="pixels",
            ),
            dtype=np.uint8,
        )
        png = make_png(w, h, px.tobytes(), color_type=color_type, row_filters=filters)
        got = _decode_png(png)
        assert got.shape == (h, w, 3)
        src = px.reshape(h, w, ch)
        if ch == 1:
            want = np.repeat(src, 3, axis=2)
        elif ch == 2:
            want = np.repeat(src[:, :, :1], 3, axis=2)
        else:
            want = src[:, :, :3]
        assert (got == want).all(), (w, h, color_type, filters)

    roundtrip()


def test_decode_wav_golden_and_refusals():
    """RIFF/WAVE PCM16 decode: golden stereo roundtrip (with the
    odd-sized junk LIST chunk forcing the word-aligned chunk walk),
    trailing-partial-frame drop, and the honest codec boundaries
    (non-PCM format tag, 8-bit samples, missing chunks, non-RIFF)."""
    import struct

    import numpy as np
    import pytest

    from geo_db_spark.operators.multimodal import _decode_wav, decode_audio, make_wav

    src = np.array([[100, -200], [3000, -32768], [32767, 0]], dtype="<i2")
    wav = make_wav(44100, 2, src.tobytes(), junk_chunk=True)
    arr, rate = decode_audio(wav)
    assert rate == 44100 and arr.shape == (3, 2)
    assert (arr == src).all()

    # trailing partial frame (1 stray byte) is dropped, not an error
    arr2, _ = _decode_wav(make_wav(8000, 1, b"\x01\x00\x02\x00") [:-1] 
                          .replace(b"data\x04", b"data\x03", 1))
    assert arr2.shape == (1, 1)

    with pytest.raises(NotImplementedError):
        decode_audio(b"ID3\x03" + b"\x00" * 64)  # MP3
    # float PCM (format tag 3) refused
    f32 = make_wav(8000, 1, b"\x00\x00\x00\x00")
    f32 = f32.replace(struct.pack("<HH", 1, 1), struct.pack("<HH", 3, 1), 1)
    with pytest.raises(NotImplementedError):
        _decode_wav(f32)
    with pytest.raises(ValueError):
        _decode_wav(b"RIFF\x04\x00\x00\x00WAVE")  # no fmt/data


def test_decode_wav_roundtrip_fuzz():
    """Randomized encode->decode roundtrips: channel counts 1-4, odd and
    even junk-chunk placement, sample values over the full int16 range —
    decode must reproduce the input exactly (the PNG fuzz analog)."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from geo_db_spark.operators.multimodal import decode_audio, make_wav

    @settings(max_examples=40, deadline=None)
    @given(
        n_ch=st.integers(1, 4),
        n_frames=st.integers(0, 17),
        rate=st.sampled_from([8000, 16000, 44100]),
        junk=st.booleans(),
        data=st.data(),
    )
    def roundtrip(n_ch, n_frames, rate, junk, data):
        vals = data.draw(
            st.lists(
                st.integers(-32768, 32767),
                min_size=n_frames * n_ch,
                max_size=n_frames * n_ch,
            ),
            label="samples",
        )
        src = np.array(vals, dtype="<i2").reshape(n_frames, n_ch)
        arr, got_rate = decode_audio(make_wav(rate, n_ch, src.tobytes(), junk_chunk=junk))
        assert got_rate == rate and arr.shape == (n_frames, n_ch)
        assert (arr == src).all()

    roundtrip()


def test_decode_gif_golden_and_refusals():
    """GIF87a/89a LZW decode: palette indirection, extension-block skip,
    KwKwK case exercised by a repeating raster; flipping the interlace
    bit on the same stream re-scatters rows in spec pass order."""
    import numpy as np

    from geo_db_spark.operators.multimodal import _decode_gif, decode_image, make_gif

    pal = bytes(bytearray(v for i in range(256) for v in ((i * 3) % 256, i, 255 - i)))
    idx = bytes([5, 5, 5, 5, 9, 9, 5, 5, 5])  # runs force KwKwK codes
    g = make_gif(3, 3, idx, pal, comment=b"x" * 40)
    arr = decode_image(g)
    assert arr.shape == (3, 3, 3)
    want = np.frombuffer(pal, np.uint8).reshape(256, 3)[np.frombuffer(idx, np.uint8)]
    assert (arr.reshape(9, 3) == want).all()

    interlaced = bytearray(g)
    # image descriptor comes after header+GCT(768)+comment ext; the
    # palette itself contains 0x2C bytes, so search past it
    ipos = g.index(b"\x2c", 13 + 768)
    interlaced[ipos + 9] |= 0x40
    # interlaced DECODES since r8: flipping the bit on the same stream
    # re-reads stored rows as pass order — for h=3 the row order is
    # pass1 -> 0, pass3 -> 2, pass4 -> 1 (pass2 starts at 4, empty)
    got = _decode_gif(bytes(interlaced))
    want33 = want.reshape(3, 3, 3)
    assert (got[[0, 2, 1]] == want33).all()


def test_decode_gif_roundtrip_fuzz():
    """Randomized LZW roundtrips: dimensions incl. 1px, index streams
    with heavy repetition (dictionary growth + KwKwK) and full-range
    values; long streams cross the 9->10 bit code-width boundary."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from geo_db_spark.operators.multimodal import _decode_gif, make_gif

    pal = bytes(bytearray(v for i in range(256) for v in (i, i ^ 0xFF, (i * 7) % 256)))

    @settings(max_examples=30, deadline=None)
    @given(
        w=st.sampled_from([1, 2, 3, 7, 16]),
        h=st.sampled_from([1, 2, 5, 40]),
        data=st.data(),
    )
    def roundtrip(w, h, data):
        idx = bytes(
            data.draw(
                st.lists(
                    # small alphabet -> deep dictionary chains
                    st.integers(0, 255) if w * h < 64 else st.integers(0, 7),
                    min_size=w * h,
                    max_size=w * h,
                ),
                label="indices",
            )
        )
        arr = _decode_gif(make_gif(w, h, idx, pal))
        want = np.frombuffer(pal, np.uint8).reshape(256, 3)[np.frombuffer(idx, np.uint8)].reshape(h, w, 3)
        assert (arr == want).all()

    roundtrip()


def test_gif_lzw_code_width_growth_and_reset():
    """A large high-entropy raster pushes the LZW table past successive
    code-width boundaries (and with >4096 entries, through a mid-stream
    clear-code reset); the roundtrip must stay exact."""
    import numpy as np

    from geo_db_spark.operators.multimodal import _decode_gif, make_gif

    rng = np.random.RandomState(7)
    idx = rng.randint(0, 256, size=120 * 120, dtype=np.uint8).tobytes()
    pal = bytes(bytearray(v for i in range(256) for v in (i, i, i)))
    arr = _decode_gif(make_gif(120, 120, idx, pal))
    assert (arr[:, :, 0].tobytes() == idx)


def test_bmp_rle8_roundtrip_hypothesis():
    """make_bmp_rle8 -> decode_image roundtrips arbitrary index rasters
    and palettes (runs-heavy and alternating alike), matching the
    PPM/BMP/PNG fuzz suites. Pure Python, no Spark."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from geo_db_spark.operators.multimodal import decode_image, make_bmp_rle8

    @settings(max_examples=40, deadline=None)
    @given(
        w=st.integers(1, 9),
        h=st.integers(1, 7),
        data=st.data(),
    )
    def run(w, h, data):
        idx = bytes(
            data.draw(
                st.lists(st.integers(0, 255), min_size=w * h, max_size=w * h)
            )
        )
        pal = bytes(
            data.draw(
                st.lists(st.integers(0, 255), min_size=768, max_size=768)
            )
        )
        arr = decode_image(make_bmp_rle8(w, h, idx, pal))
        want = np.array(
            [
                [list(pal[3 * i : 3 * i + 3]) for i in idx[r * w : (r + 1) * w]]
                for r in range(h)
            ],
            dtype=np.uint8,
        ).reshape(h, w, 3)
        assert (arr == want).all()

    run()


def test_bmp_rle8_absolute_and_delta_escapes():
    """Hand-built payload exercising the opcodes make_bmp_rle8 never
    emits: absolute literal mode (word-aligned), the (0,2,dx,dy) cursor
    delta (skipped pixels stay index 0 per spec), EOL, EOB."""
    import struct

    from geo_db_spark.operators.multimodal import decode_image

    quads = b"".join(bytes((c, c, c, 0)) for c in range(256))
    # 4x2, stored bottom-up:
    #  stored row 0 (image bottom): absolute [7,8,9] + pad, run (1,6)
    #  stored row 1 (image top):    delta skip 2, run (2,5)
    enc = bytes(
        [0, 3, 7, 8, 9, 0, 1, 6, 0, 0,  # abs(3) pad, run, EOL
         0, 2, 2, 0, 2, 5, 0, 0,        # delta(+2,0), run, EOL
         0, 1]                          # EOB
    )
    off = 14 + 40 + len(quads)
    payload = (
        b"BM"
        + struct.pack("<IHHI", off + len(enc), 0, 0, off)
        + struct.pack("<IiiHHIIiiII", 40, 4, 2, 1, 8, 1, len(enc), 0, 0, 256, 0)
        + quads
        + enc
    )
    arr = decode_image(payload)
    assert arr.shape == (2, 4, 3)
    assert arr[:, :, 0].tolist() == [[0, 0, 5, 5], [7, 8, 9, 6]]


def test_bmp_rle8_topdown_refused():
    import struct

    import pytest

    from geo_db_spark.operators.multimodal import decode_image

    quads = b"\x00" * 1024
    off = 14 + 40 + len(quads)
    payload = (
        b"BM"
        + struct.pack("<IHHI", off + 2, 0, 0, off)
        + struct.pack("<IiiHHIIiiII", 40, 4, -2, 1, 8, 1, 2, 0, 0, 256, 0)
        + quads
        + b"\x00\x01"
    )
    with pytest.raises(ValueError):
        decode_image(payload)


def test_png_palette_roundtrip_hypothesis():
    """Palette (color type 3) PNG: encode->decode roundtrips arbitrary
    index rasters x palettes x per-row filters — the PLTE path joins
    the fuzzed-decoder family."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from geo_db_spark.operators.multimodal import decode_image, make_png

    @settings(max_examples=30, deadline=None)
    @given(w=st.integers(1, 8), h=st.integers(1, 6), data=st.data())
    def run(w, h, data):
        n_pal = data.draw(st.integers(1, 256))
        idx = bytes(
            data.draw(st.lists(st.integers(0, n_pal - 1), min_size=w * h, max_size=w * h))
        )
        pal = bytes(
            data.draw(st.lists(st.integers(0, 255), min_size=3 * n_pal, max_size=3 * n_pal))
        )
        filters = data.draw(
            st.lists(st.integers(0, 4), min_size=h, max_size=h)
        )
        arr = decode_image(
            make_png(w, h, idx, color_type=3, row_filters=filters, palette=pal)
        )
        want = np.array(
            [[list(pal[3 * i : 3 * i + 3]) for i in idx[r * w : (r + 1) * w]] for r in range(h)],
            np.uint8,
        ).reshape(h, w, 3)
        assert (arr == want).all()

    run()


def test_png_palette_guards():
    import pytest

    from geo_db_spark.operators.multimodal import decode_image, make_png

    with pytest.raises(ValueError):
        make_png(2, 1, b"\x00\x01", color_type=3)  # no palette
    # out-of-range index: valid encode with a 2-entry palette but index 5
    png = make_png(1, 1, b"\x05", color_type=3, palette=bytes(6))
    with pytest.raises(ValueError):
        decode_image(png)


def test_bmp_rle8_absolute_past_row_width_no_crash():
    """Malformed stream: an encoded run pushes the cursor past the row
    width, then absolute mode fires with x > w. Before the guard,
    end - x went negative and a non-empty literal assigned into an
    empty slice raised a numpy broadcast ValueError; the decoder must
    instead clamp (matching the encoded-run branch's tolerance)."""
    import struct

    from geo_db_spark.operators.multimodal import decode_image

    quads = b"".join(bytes((c, c, c, 0)) for c in range(256))
    # 4x1: run (5,1) overruns to x=5, then absolute [7,8,9] at x=5
    enc = bytes([5, 1, 0, 3, 7, 8, 9, 0, 0, 0, 0, 1])
    off = 14 + 40 + len(quads)
    payload = (
        b"BM"
        + struct.pack("<IHHI", off + len(enc), 0, 0, off)
        + struct.pack("<IiiHHIIiiII", 40, 4, 1, 1, 8, 1, len(enc), 0, 0, 256, 0)
        + quads
        + enc
    )
    arr = decode_image(payload)
    assert arr.shape == (1, 4, 3)
    assert arr[0, :, 0].tolist() == [1, 1, 1, 1]  # run clamped, literal skipped


def test_png_adam7_pass_geometry_pinned_to_spec():
    """Pin the Adam7 pass layout against the PNG spec §8.2 by hand, not
    against the decoder (encoder and decoder share the pass table, so a
    roundtrip alone cannot catch a wrong table). An 8x8 grayscale image
    with pixel = y*8+x, filter None everywhere: the inflated IDAT must
    be exactly the spec's pass order with per-row filter bytes."""
    import struct
    import zlib

    from geo_db_spark.operators.multimodal import make_png

    px = bytes(y * 8 + x for y in range(8) for x in range(8))
    png = make_png(8, 8, px, color_type=0, interlace=1,
                   row_filters=[0] * (1 + 1 + 1 + 2 + 2 + 4 + 4))
    # extract IDAT
    pos, idat = 8, b""
    while pos + 8 <= len(png):
        ln, typ = struct.unpack_from(">I4s", png, pos)
        if typ == b"IDAT":
            idat += png[pos + 8 : pos + 8 + ln]
        pos += 12 + ln
    raw = zlib.decompress(idat)
    want = bytes(
        [0, 0]                                        # pass 1: (0,0)
        + [0, 4]                                      # pass 2: (4,0)
        + [0, 32, 36]                                 # pass 3: y=4, x=0,4
        + [0, 2, 6, 0, 34, 38]                        # pass 4: y=0,4; x=2,6
        + [0, 16, 18, 20, 22, 0, 48, 50, 52, 54]      # pass 5: y=2,6; x even
        + [0, 1, 3, 5, 7, 0, 17, 19, 21, 23,
           0, 33, 35, 37, 39, 0, 49, 51, 53, 55]      # pass 6: y even; x odd
        + sum(([0] + list(range(y * 8, y * 8 + 8)) for y in (1, 3, 5, 7)), [])
    )                                                 # pass 7: odd rows, full
    assert raw == want


def test_png_adam7_roundtrip_fuzz():
    """Adam7 roundtrip fuzz: every color type (palette included), odd
    sizes — including w,h < 5 where whole passes are EMPTY and must
    contribute zero bytes — mixed per-pass-row filters. Decode must
    reproduce the sequential decode of the same pixels exactly."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from geo_db_spark.operators.multimodal import (
        _ADAM7,
        _PNG_CHANNELS,
        _decode_png,
        make_png,
    )

    @settings(max_examples=40, deadline=None)
    @given(
        w=st.sampled_from([1, 2, 3, 4, 5, 7, 9, 16]),
        h=st.sampled_from([1, 2, 3, 4, 5, 8, 13]),
        color_type=st.sampled_from(sorted(_PNG_CHANNELS) + [3]),
        data=st.data(),
    )
    def roundtrip(w, h, color_type, data):
        ch = 1 if color_type == 3 else _PNG_CHANNELS[color_type]
        n_rows = sum(
            (h - y0 + dy - 1) // dy
            for x0, y0, dx, dy in _ADAM7
            if (w - x0 + dx - 1) // dx > 0 and (h - y0 + dy - 1) // dy > 0
        )
        filters = data.draw(
            st.lists(st.integers(0, 4), min_size=n_rows, max_size=n_rows),
            label="row_filters",
        )
        if color_type == 3:
            pal = bytes(range(256)) * 3
            pal = bytes(b for i in range(256) for b in (i, 255 - i, i ^ 93))
            px = np.array(
                data.draw(
                    st.lists(st.integers(0, 255), min_size=w * h, max_size=w * h),
                    label="pixels",
                ),
                dtype=np.uint8,
            )
            png_i = make_png(w, h, px.tobytes(), color_type=3, palette=pal,
                             interlace=1, row_filters=filters)
            png_s = make_png(w, h, px.tobytes(), color_type=3, palette=pal)
        else:
            px = np.array(
                data.draw(
                    st.lists(
                        st.integers(0, 255), min_size=w * h * ch, max_size=w * h * ch
                    ),
                    label="pixels",
                ),
                dtype=np.uint8,
            )
            png_i = make_png(w, h, px.tobytes(), color_type=color_type,
                             interlace=1, row_filters=filters)
            png_s = make_png(w, h, px.tobytes(), color_type=color_type)
        got = _decode_png(png_i)
        want = _decode_png(png_s)
        assert got.shape == (h, w, 3)
        assert np.array_equal(got, want)

    roundtrip()


def test_png_adam7_truncated_and_bad_interlace():
    import struct
    import zlib

    import pytest

    from geo_db_spark.operators.multimodal import _decode_png, make_png

    png = make_png(8, 8, bytes(64), color_type=0, interlace=1)
    # corrupt: rebuild with one pass row missing from the inflated stream
    pos, pre, idat, post = 8, png[:8], b"", b""
    chunks = []
    while pos + 8 <= len(png):
        ln, typ = struct.unpack_from(">I4s", png, pos)
        chunks.append((typ, png[pos + 8 : pos + 8 + ln]))
        pos += 12 + ln
    raw = zlib.decompress(b"".join(d for t, d in chunks if t == b"IDAT"))

    def rebuild(new_raw):
        def chunk(typ, data):
            return (
                struct.pack(">I", len(data)) + typ + data
                + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
            )
        out = png[:8]
        for t, d in chunks:
            if t == b"IDAT":
                out += chunk(b"IDAT", zlib.compress(new_raw))
            else:
                out += chunk(t, d)
        return out

    with pytest.raises(ValueError):
        _decode_png(rebuild(raw[:-3]))   # truncated mid-pass
    with pytest.raises(ValueError):
        _decode_png(rebuild(raw + b"\x00"))  # trailing surplus byte


def test_gif_interlace_row_order_pinned_to_spec():
    """Pin the GIF interlace pass order against the spec by hand (the
    encoder and decoder share _gif_row_order, so a roundtrip alone
    cannot catch a wrong table): for h=10 the stored order is pass 1
    (0, 8), pass 2 (4), pass 3 (2, 6), pass 4 (1, 3, 5, 7, 9)."""
    from geo_db_spark.operators.multimodal import _gif_row_order

    assert _gif_row_order(10) == [0, 8, 4, 2, 6, 1, 3, 5, 7, 9]
    assert _gif_row_order(1) == [0]
    assert _gif_row_order(4) == [0, 2, 1, 3]
    assert sorted(_gif_row_order(37)) == list(range(37))


def test_decode_gif_interlaced_roundtrip_fuzz():
    """Interlaced encode -> decode must equal the sequential decode of
    the same raster, across heights that leave passes empty (h < 5)."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from geo_db_spark.operators.multimodal import _decode_gif, make_gif

    pal = bytes(bytearray(v for i in range(256) for v in (i, 255 - i, (i * 11) % 256)))

    @settings(max_examples=25, deadline=None)
    @given(
        w=st.sampled_from([1, 3, 7]),
        h=st.sampled_from([1, 2, 3, 4, 5, 9, 24]),
        data=st.data(),
    )
    def roundtrip(w, h, data):
        idx = bytes(
            data.draw(
                st.lists(st.integers(0, 255), min_size=w * h, max_size=w * h),
                label="indices",
            )
        )
        got = _decode_gif(make_gif(w, h, idx, pal, interlace=True))
        want = _decode_gif(make_gif(w, h, idx, pal))
        assert np.array_equal(got, want)

    roundtrip()


def test_png_16bit_roundtrip_all_color_types():
    """16-bit PNG (r8): the per-scanline filters address raw BYTES (the
    spec's bpp offset), so the same unfilter runs at a 2x pixel stride;
    the big-endian high byte becomes the 8-bit channel. Every color
    type, mixed filters, sequential AND Adam7."""
    import numpy as np

    from geo_db_spark.operators.multimodal import _PNG_CHANNELS, decode_image, make_png

    rng = np.random.RandomState(4)
    for ct, ch in sorted(_PNG_CHANNELS.items()):
        w, h = 5, 4
        samples = rng.randint(0, 65536, (h, w, ch)).astype(">u2")
        hi = (samples >> 8).astype(np.uint8)
        if ch in (1, 2):
            want = np.repeat(hi[:, :, :1], 3, 2)
        else:
            want = hi[:, :, :3]
        png = make_png(w, h, samples.tobytes(), color_type=ct, depth=16,
                       row_filters=[y % 5 for y in range(h)])
        assert (decode_image(png) == want).all(), ct
        png_i = make_png(w, h, samples.tobytes(), color_type=ct, depth=16,
                         interlace=1)
        assert (decode_image(png_i) == want).all(), ("adam7", ct)
    # palette + 16-bit is malformed per spec
    import pytest

    with pytest.raises(ValueError, match="palette"):
        make_png(1, 1, b"\x00\x00", color_type=3, depth=16, palette=bytes(3))


def test_wav_8_24_32_bit_depths():
    """WAV PCM beyond 16-bit (r8): 8-bit is unsigned (centered and
    widened), 24/32-bit keep the high 16 bits — all returning
    int16-range frames like the 16-bit path."""
    import struct

    import numpy as np

    from geo_db_spark.operators.multimodal import decode_audio

    def wav(bits, n_ch, rate, data):
        ba = bits // 8 * n_ch
        fmt = struct.pack("<HHIIHH", 1, n_ch, rate, rate * ba, ba, bits)
        body = (b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
                + b"data" + struct.pack("<I", len(data)) + data)
        return b"RIFF" + struct.pack("<I", len(body)) + body

    arr, r = decode_audio(wav(8, 1, 8000, bytes([128, 0, 255])))
    assert r == 8000 and arr[:, 0].tolist() == [0, -32768, 32512]

    vals = [0x123456, 0xFFFFFF, 0x800000, 0x7FFFFF]
    arr, _ = decode_audio(
        wav(24, 1, 44100, b"".join(v.to_bytes(3, "little") for v in vals))
    )
    assert arr[:, 0].tolist() == [0x1234, -1, -32768, 32767]

    v32 = np.array([0x12345678, -0x12345678, 0, -1], "<i4")
    arr, _ = decode_audio(wav(32, 2, 48000, v32.tobytes()))
    assert arr.shape == (2, 2)
    assert arr.reshape(-1).tolist() == [v >> 16 for v in v32.tolist()]


def test_decode_bmp_8bit_palette_uncompressed():
    """Uncompressed 8-bit palette BMP (r8): BGRX quad table indirection,
    4-byte row alignment, bottom-up flip, out-of-range index guard."""
    import struct

    from geo_db_spark.operators.multimodal import decode_image

    pal = b"".join(bytes((i, 255 - i, i ^ 7, 0)) for i in range(256))
    rows = [bytes([1, 2, 3, 0]), bytes([4, 5, 6, 0])]  # stride 4 for w=3
    off = 14 + 40 + len(pal)
    data = rows[0] + rows[1]
    hdr = struct.pack("<2sIHHI", b"BM", off + len(data), 0, 0, off)
    dib = struct.pack("<IiiHHIIiiII", 40, 3, 2, 1, 8, 0, len(data), 0, 0, 256, 0)
    arr = decode_image(hdr + dib + pal + data)
    assert arr.shape == (2, 3, 3)
    for x, i in enumerate([4, 5, 6]):  # bottom-up: stored row 1 is the top
        assert tuple(arr[0, x]) == (i ^ 7, 255 - i, i)
    for x, i in enumerate([1, 2, 3]):
        assert tuple(arr[1, x]) == (i ^ 7, 255 - i, i)
    # truncated palette (8 colors) + an index beyond it must refuse
    import pytest

    pal8 = pal[: 8 * 4]
    off8 = 14 + 40 + len(pal8)
    hdr8 = struct.pack("<2sIHHI", b"BM", off8 + len(data), 0, 0, off8)
    dib8 = struct.pack("<IiiHHIIiiII", 40, 3, 2, 1, 8, 0, len(data), 0, 0, 8, 0)
    data_bad = bytes([1, 2, 9, 0]) + rows[1]  # index 9 >= 8 colors
    with pytest.raises(ValueError, match="palette range"):
        decode_image(hdr8 + dib8 + pal8 + data_bad)


def test_g711_tables_and_wav_roundtrip():
    """G.711 (r9): expansion tables match the public reference values
    (mu-law 0xFF -> 0, code 0 -> -32124; A-law 0xD5 -> +8, 0x55 -> -8,
    range +-32256), compress-expand is idempotent on every code point,
    and both codecs roundtrip through the real RIFF/WAVE path."""
    import numpy as np

    from geo_db_spark.operators.multimodal import (
        _decode_wav,
        g711_alaw_decode_table,
        g711_alaw_encode,
        g711_ulaw_decode_table,
        g711_ulaw_encode,
        make_wav,
    )

    ut, at = g711_ulaw_decode_table(), g711_alaw_decode_table()
    assert ut[0xFF] == 0 and ut[0] == -32124 and ut.max() == 32124
    assert at[0xD5] == 8 and at[0x55] == -8 and at.max() == 32256
    for table, enc in ((ut, g711_ulaw_encode), (at, g711_alaw_encode)):
        for b in range(256):
            assert table[enc(int(table[b]))] == table[b], b
    rng = np.random.RandomState(6)
    for codec, table, enc in (
        ("ulaw", ut, g711_ulaw_encode),
        ("alaw", at, g711_alaw_encode),
    ):
        pcm = rng.randint(-32768, 32768, 400 * 2).astype("<i2")
        out, rate = _decode_wav(make_wav(8000, 2, pcm.tobytes(), codec=codec))
        assert rate == 8000
        want = table[[enc(int(x)) for x in pcm]]
        assert (out.reshape(-1) == want).all(), codec
        # idempotent on the companding lattice through the full path
        out2, _ = _decode_wav(
            make_wav(8000, 2, out.astype("<i2").tobytes(), codec=codec)
        )
        assert (out2 == out).all(), codec


def test_gif_encoder_bytes_pinned():
    """make_gif bytes for a seeded noise raster (code-width growth and
    the 4096-entry clear) and an interlaced small-alphabet raster with a
    comment extension. Pins the LSB code packing independently of the
    decoder."""
    import hashlib

    import numpy as np

    from geo_db_spark.operators.multimodal import make_gif

    rng = np.random.RandomState(35)
    pal = bytes(bytearray(v for i in range(256) for v in (i, (i * 5) % 256, 255 - i)))
    noise = rng.randint(0, 256, 90 * 90, dtype=np.uint8).tobytes()
    runs = bytes(rng.randint(0, 4, 37 * 23, dtype=np.uint8))
    streams = {
        "noise_reset": make_gif(90, 90, noise, pal),
        "runs_interlaced": make_gif(37, 23, runs, pal, comment=b"pin", interlace=True),
    }
    got = {k: hashlib.sha256(v).hexdigest() for k, v in streams.items()}
    assert got == {
        "noise_reset": "c259b2eecb3af7b8d4b66008ab72adaaa8a9aae7b6c8f0021270b7993a55e8f7",
        "runs_interlaced": "2d864db15a9c911b78f2260832c459a7edab0b790c713e9931457b6bdead607d",
    }
