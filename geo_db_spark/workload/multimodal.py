"""Multimodal-column workload entries over `documents`.

The binary-payload corpus is derived deterministically from document
text. The decode path is REAL — PPM, BMP (incl. RLE8), PNG (incl.
Adam7), GIF (incl. interlaced), baseline, progressive and 12-bit JPEG,
WebP-lossless (VP8L), TIFF (incl. CCITT G3/G4 fax), WAV (PCM and
G.711 mu-law) and FLAC are all encoded and decoded back by the pure
stdlib+NumPy codecs under operators/, inside the one Arrow-batched
mapInPandas harness `_map_docs`. Lossy-VP8 WebP and MP3/OGG remain the
documented codec-library boundary. Every query here carries a FULL
DuckDB value oracle (the corpus is ASCII, so byte == codepoint and
DuckDB can reproduce raster bytes and chunk sums from the text;
`_ascii_guard` enforces that invariant).
"""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Callable

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from geo_db_spark.io import load
from geo_db_spark.operators.flac import make_flac
from geo_db_spark.operators.jpeg import (
    decode_jpeg,
    make_jpeg_gray_from_blocks,
    make_jpeg_gray_progressive_from_blocks,
)
from geo_db_spark.operators.multimodal import (
    decode_audio,
    decode_image,
    extract_features,
    frame_sample,
    make_bmp_rle8,
    make_gif,
    make_png,
    make_wav,
    with_binary_payload,
)
from geo_db_spark.operators.packing import split_assign
from geo_db_spark.operators.tiff import make_tiff
from geo_db_spark.operators.vp8l import make_webp
from geo_db_spark.session import tune


def mm_media_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed metadata of the binary corpus — filterable without touching
    payload bytes (the 100 TB rule: meta in its own struct column)."""
    tune(spark)
    media = with_binary_payload(load(spark, sf_dir, "documents"))
    return media.select(
        "doc_id",
        F.col("meta.media_type").alias("media_type"),
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
        F.col("meta.n_bytes").alias("n_bytes"),
    )


ORACLE_MM_META = """
SELECT doc_id,
       'image/fake' AS media_type,
       CAST(length(text) % 640 + 1 AS INT) AS width,
       CAST(length(text) % 480 + 1 AS INT) AS height,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
FROM documents
"""


def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling plumbing: one row per 64-byte offset of each
    payload, produced by Arrow-batched mapInPandas (1 row -> many)."""
    tune(spark)
    docs = load(spark, sf_dir, "documents").withColumn("text", _ascii_guard("text"))
    media = with_binary_payload(docs)
    return frame_sample(media, every_n_bytes=64)


ORACLE_MM_FRAMES = """
WITH f AS (
  SELECT doc_id, text,
         CAST(unnest(range((octet_length(encode(text)) + 63) // 64)) AS INT) AS frame_idx
  FROM documents
)
SELECT doc_id, frame_idx,
       CAST(ascii(substr(text, frame_idx * 64 + 1, 1)) AS INT) AS frame_byte
FROM f
"""


def mm_feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas feature extraction (the model-forward-pass shape),
    now under the FULL value oracle (r4 verdict #6): the kernel emits
    exact int64 per-chunk byte sums beside the float features, and this
    entry surfaces the integer columns — total, first chunk, and an md5
    over the whole sum vector — which DuckDB reproduces from the text
    bytes with the same np.array_split chunk-boundary arithmetic
    (first n%8 chunks get the extra byte). The float path itself is
    pinned against numpy in tests/test_multimodal.py."""
    tune(spark)
    docs = load(spark, sf_dir, "documents").withColumn("text", _ascii_guard("text"))
    media = with_binary_payload(docs)
    feats = extract_features(media)
    total = F.aggregate("chunk_sums", F.lit(0).cast("long"), lambda a, x: a + x)
    return feats.select(
        "doc_id",
        F.size("features").alias("n_features"),
        total.alias("feat_total"),
        F.element_at("chunk_sums", 1).alias("feat_first"),
        F.md5(
            F.concat_ws(",", F.col("chunk_sums").cast("array<string>")).cast("binary")
        ).alias("feats_md5"),
    )


def mm_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize plumbing under the FULL oracle: keep every 2nd payload
    byte via Arrow-batched mapInPandas, return size + digest of the
    resized payload (never the payload itself). The corpus is ASCII so
    DuckDB reproduces the byte slice with substr arithmetic."""
    tune(spark)
    from geo_db_spark.operators.multimodal import downsample_payload

    docs = load(spark, sf_dir, "documents").withColumn("text", _ascii_guard("text"))
    media = with_binary_payload(docs)
    return downsample_payload(media, factor=2).select(
        "doc_id", "n_bytes_out", "resized_md5"
    )


ORACLE_MM_DOWNSAMPLE = """
SELECT doc_id,
       CAST((octet_length(encode(text)) + 1) // 2 AS BIGINT) AS n_bytes_out,
       md5(array_to_string(
           list_transform(range(0, octet_length(encode(text)), 2),
                          i -> substr(text, CAST(i + 1 AS INT), 1)), '')) AS resized_md5
FROM documents
"""


PPM_W = 4  # fixed raster width of the synthetic PPM corpus
G4_W = 32  # raster width of the synthetic fax corpus (min doc is 44 chars)


def _ascii_guard(text_col: str) -> F.Column:
    """The raster/oracle arithmetic here indexes by CHARS (substring,
    ascii) while payloads count BYTES (octet_length) — sound only while
    the corpus is ASCII. Validate the invariant where the payload is
    built so a future non-ASCII corpus fails LOUDLY instead of silently
    desynchronizing the DuckDB md5 oracles (ADVICE r6)."""
    return F.when(
        F.octet_length(F.col(text_col)) == F.length(F.col(text_col)),
        F.col(text_col),
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit("non-ASCII document text breaks the byte==char payload "
                      "invariant (doc text has "),
                F.length(F.col(text_col)).cast("string"),
                F.lit(" chars but "),
                F.octet_length(F.col(text_col)).cast("string"),
                F.lit(" bytes)"),
            )
        )
    )


def with_ppm_payload(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """REAL image payloads: each document's text bytes become the RGB
    raster of a binary PPM (P6), width 4 × height n//12 (the first
    12·H bytes; the ASCII byte==char invariant is runtime-asserted by
    `_ascii_guard`). The decode path then parses an actual image
    format, not a fake."""
    guarded = docs.withColumn(text_col, _ascii_guard(text_col))
    n = F.octet_length(F.col(text_col))
    h = F.floor(n / F.lit(PPM_W * 3)).cast("int")
    header = F.concat(
        F.lit(f"P6\n{PPM_W} "), h.cast("string"), F.lit("\n255\n")
    )
    body = F.expr(f"substring({text_col}, 1, {PPM_W * 3} * floor(octet_length({text_col}) / {PPM_W * 3}))")
    return guarded.select(
        "doc_id", F.encode(F.concat(header, body), "utf-8").alias("payload")
    )


# ---- the per-document decode harness ------------------------------------

_IMAGE_ROW = "doc_id BIGINT, width INT, height INT, pixel_md5 STRING"
_BITS_ROW = "doc_id BIGINT, width INT, height INT, bits_md5 STRING"
_STEREO_ROW = (
    "doc_id BIGINT, n_frames BIGINT, sample_rate INT, n_channels INT, "
    "sum_left BIGINT, sum_right BIGINT, energy BIGINT"
)
_EMPTY_MD5 = hashlib.md5(b"").hexdigest()
_GRAY_PAL = bytes(v for i in range(256) for v in (i, i, i))
_JPEG_BLOCKS_X = 4


def _map_docs(media: DataFrame, schema: str, per_doc: Callable) -> DataFrame:
    """The decode family's one Arrow-batched mapInPandas: each
    (doc_id, payload) row of `media` becomes doc_id followed by
    ``per_doc(doc_id, payload_bytes)``, named by the DDL `schema`. The
    caller builds `media`, so a repartition before the decode map (or
    none) is the caller's choice."""
    names = [field.split()[0] for field in schema.split(",")]

    def run(batches):
        import pandas as pd

        for pdf in batches:
            rows = [
                (doc_id, *per_doc(doc_id, bytes(payload)))
                for doc_id, payload in zip(pdf["doc_id"], pdf["payload"])
            ]
            yield pd.DataFrame(rows, columns=names)

    return media.mapInPandas(run, schema=schema)


def _text_payload(docs: DataFrame) -> DataFrame:
    """(doc_id, payload = the document text's bytes, ASCII-checked by
    `_ascii_guard`) — the input of the text-derived decodes."""
    return docs.select(
        "doc_id", F.encode(_ascii_guard("text"), "utf-8").alias("payload")
    )


def _dims_md5(arr: np.ndarray) -> tuple:
    """(width, height, md5 of the C-order raster bytes)."""
    return arr.shape[1], arr.shape[0], hashlib.md5(arr.tobytes()).hexdigest()


def _rgb_raster(raw: bytes) -> tuple[int, bytes]:
    """The PPM_W-wide RGB raster of a document: height n // 12 and the
    leading 12·height bytes."""
    h = len(raw) // (PPM_W * 3)
    return h, raw[: h * PPM_W * 3]


def _stereo_pcm(raw: bytes) -> bytes:
    """Stereo 16-bit PCM: byte i -> sample (ascii - 96) * 257 (int16-safe
    for 7-bit ASCII), even bytes left / odd right; an odd trailing byte
    is dropped."""
    samples = (np.frombuffer(raw, np.uint8).astype(np.int16) - 96) * 257
    return samples[: len(samples) // 2 * 2].astype("<i2").tobytes()


def _stereo_stats(decoded: tuple) -> tuple:
    """(n_frames, sample_rate, n_channels, sum_left, sum_right, energy)
    of a decode_audio result, exact in int64."""
    arr, rate = decoded
    a = arr.astype(np.int64)
    return (arr.shape[0], rate, arr.shape[1],
            int(a[:, 0].sum()), int(a[:, 1].sum()), int((a * a).sum()))


def _dc_jpeg(raw: bytes, encode: Callable, level: int = 1, **kw) -> bytes:
    """A DC-only gray JPEG, _JPEG_BLOCKS_X blocks wide, of the leading
    min(n, 256) bytes: one 8x8 block per byte b with DC = 8·level·(b-128),
    which decodes to the constant level·b; restart markers every 7 MCUs."""
    nb = min(len(raw), 256) // _JPEG_BLOCKS_X
    used = np.frombuffer(raw[: nb * _JPEG_BLOCKS_X], np.uint8).astype(np.int64)
    zz = np.zeros((nb * _JPEG_BLOCKS_X, 64), np.int64)
    zz[:, 0] = 8 * level * (used - 128)
    return encode(zz, blocks_x=_JPEG_BLOCKS_X, blocks_y=nb, restart_interval=7, **kw)


def _dc_jpeg_rgb(raw: bytes, encode: Callable) -> tuple:
    """Dims + pixel md5 of the 8-bit DC-only JPEG roundtrip; a document
    shorter than one block row decodes to an empty raster."""
    if len(raw) < _JPEG_BLOCKS_X:
        return _JPEG_BLOCKS_X * 8, 0, _EMPTY_MD5
    return _dims_md5(decode_image(_dc_jpeg(raw, encode)))


def _jpeg12_doc(doc_id, raw: bytes) -> tuple:
    """12-bit DC-only roundtrip: dims + md5 of the row-major decimal
    string of the uint16 raster."""
    arr = decode_jpeg(_dc_jpeg(raw, make_jpeg_gray_from_blocks, level=16, precision=12))
    if arr.dtype != np.uint16:
        raise ValueError(f"12-bit JPEG decoded to {arr.dtype}, expected uint16")
    s = "".join(map(str, arr[:, :, 0].ravel().tolist()))
    return arr.shape[1], arr.shape[0], hashlib.md5(s.encode()).hexdigest()


def _bilevel_doc(doc_id, raw: bytes, variants: list[dict]) -> tuple:
    """The G3/G4 fax roundtrip: a G4_W-wide bilevel raster (pixel black
    iff the byte is odd) through make_tiff with the doc's variant,
    decoded back; dims + md5 of the '0'/'1' pixel string."""
    h = len(raw) // G4_W
    bits = np.frombuffer(raw[: h * G4_W], np.uint8).reshape(h, G4_W) % 2
    rgb = np.repeat(np.where(bits == 1, 0, 255).astype(np.uint8)[:, :, None], 3, axis=2)
    tif = make_tiff(G4_W, h, rgb.tobytes(), **variants[int(doc_id) % len(variants)])
    black = decode_image(tif)[:, :, 0] == 0
    return _dims_md5((black + ord("0")).astype(np.uint8))


def _g711_wav(codes: bytes) -> bytes:
    """A mono 8 kHz mu-law (format tag 7) RIFF/WAVE around raw codes."""
    fmt = struct.pack("<HHIIHH", 7, 1, 8000, 8000, 1, 8)
    body = (
        b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(codes)) + codes
        + (b"\x00" if len(codes) & 1 else b"")
    )
    return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body


def mm_image_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END real decode (r4 verdict #4): PPM payloads parsed by
    operators.multimodal.decode_image (pure-NumPy P6 decoder) inside
    Arrow-batched mapInPandas; emits the decoded dimensions and an md5
    over the pixel array bytes, which DuckDB reproduces from the text
    since the raster IS the leading text bytes."""
    tune(spark)
    media = with_ppm_payload(load(spark, sf_dir, "documents"))
    return _map_docs(media, _IMAGE_ROW, lambda doc_id, ppm: _dims_md5(decode_image(ppm)))


ORACLE_MM_IMAGE_DECODE = f"""
SELECT doc_id,
       CAST({PPM_W} AS INT) AS width,
       CAST(octet_length(encode(text)) // {PPM_W * 3} AS INT) AS height,
       md5(substr(text, 1, CAST((octet_length(encode(text)) // {PPM_W * 3}) * {PPM_W * 3} AS INT))) AS pixel_md5
FROM documents
"""


def mm_image_decode_png(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PNG end-to-end (r5 verdict #3): each document's leading 12·H text
    bytes become a 4-wide RGB raster encoded as a REAL PNG — stdlib zlib
    deflate, correct CRCs, per-scanline filter type cycling through all
    five spec filters ((doc_id + row) % 5) — then decoded back by the
    pure stdlib+NumPy PNG decoder (inflate + unfilter), all inside one
    Arrow-batched mapInPandas pass. Emits decoded dims + pixel md5; the
    oracle reproduces both straight from the text, so a decoder bug in
    ANY filter branch breaks the value hash."""
    tune(spark)
    docs = load(spark, sf_dir, "documents")

    def per_doc(doc_id, raw):
        h, raster = _rgb_raster(raw)
        filters = [(int(doc_id) + y) % 5 for y in range(h)]
        png = make_png(PPM_W, h, raster, color_type=2, row_filters=filters)
        return _dims_md5(decode_image(png))

    return _map_docs(_text_payload(docs), _IMAGE_ROW, per_doc)


# decode(encode(raster)) must be the identity, so the oracle is the same
# text-byte arithmetic as the PPM decode oracle
ORACLE_MM_IMAGE_DECODE_PNG = ORACLE_MM_IMAGE_DECODE


def mm_image_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Thumbnail on REAL pixels: decode the PPM, keep every 2nd row and
    every 2nd column (arr[::2, ::2]) — an actual spatial 2× downsample,
    not byte decimation — and emit the result's dims + pixel md5. The
    oracle rebuilds the kept bytes from the text with the same
    row/column offset arithmetic."""
    tune(spark)
    media = with_ppm_payload(load(spark, sf_dir, "documents"))
    return _map_docs(
        media,
        "doc_id BIGINT, width_out INT, height_out INT, pixel_md5 STRING",
        lambda doc_id, ppm: _dims_md5(decode_image(ppm)[::2, ::2]),
    )


# kept pixels per kept row r (source row 2r): columns 0 and 2 of a
# 4-wide RGB row = byte offsets 24r+[0..2] and 24r+[6..8]
ORACLE_MM_IMAGE_DOWNSAMPLE = f"""
WITH b AS (
  SELECT doc_id, text, octet_length(encode(text)) // {PPM_W * 3} AS h FROM documents
)
SELECT doc_id,
       CAST(2 AS INT) AS width_out,
       CAST((h + 1) // 2 AS INT) AS height_out,
       md5(array_to_string(list_transform(range((h + 1) // 2),
           r -> substr(text, CAST({PPM_W * 3} * 2 * r + 1 AS INT), 3)
                || substr(text, CAST({PPM_W * 3} * 2 * r + 7 AS INT), 3)), '')) AS pixel_md5
FROM b
"""


def mm_audio_decode_wav(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio end-to-end (r7): each document's text bytes become a REAL
    stereo 16-bit PCM RIFF/WAVE payload — char at byte i maps to sample
    ``(ascii - 96) * 257`` (int16-safe for 7-bit ASCII), even bytes =
    left channel, odd = right, 8000 Hz — assembled by ``make_wav``
    (every even doc_id also gets an odd-sized junk LIST chunk so the
    chunk-walk + word-alignment path runs on real data) and decoded
    back by the pure-stdlib RIFF walker, all in one Arrow-batched
    mapInPandas pass. Emits frame/rate/channel metadata plus exact
    int64 per-channel sums and total energy, which DuckDB reproduces
    straight from the text (byte==char guard as in the image paths)."""
    tune(spark)
    docs = load(spark, sf_dir, "documents")

    def per_doc(doc_id, raw):
        wav = make_wav(8000, 2, _stereo_pcm(raw), junk_chunk=(int(doc_id) % 2 == 0))
        return _stereo_stats(decode_audio(wav))

    return _map_docs(_text_payload(docs), _STEREO_ROW, per_doc)


# decode(encode(samples)) must be the identity, so the oracle maps text
# chars straight to samples: left = odd 1-based positions, right = even
ORACLE_MM_AUDIO_DECODE = """
WITH b AS (
  SELECT doc_id, text, length(text) // 2 AS nf FROM documents
)
SELECT doc_id,
       CAST(nf AS BIGINT) AS n_frames,
       CAST(8000 AS INT) AS sample_rate,
       CAST(2 AS INT) AS n_channels,
       COALESCE(CAST(list_sum(list_transform(range(nf),
           j -> (ascii(substr(text, CAST(2*j + 1 AS INT), 1)) - 96) * 257)) AS BIGINT), 0) AS sum_left,
       COALESCE(CAST(list_sum(list_transform(range(nf),
           j -> (ascii(substr(text, CAST(2*j + 2 AS INT), 1)) - 96) * 257)) AS BIGINT), 0) AS sum_right,
       COALESCE(CAST(list_sum(list_transform(range(2 * nf),
           i -> CAST((ascii(substr(text, CAST(i + 1 AS INT), 1)) - 96) * 257 AS BIGINT)
                * ((ascii(substr(text, CAST(i + 1 AS INT), 1)) - 96) * 257))) AS BIGINT), 0) AS energy
FROM b
"""


def mm_audio_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decimation on REAL samples: decode the WAV, keep every 4th frame
    (``arr[::4]`` — 8000 Hz -> 2000 Hz), emit the kept-frame count and
    exact per-channel sums. The oracle rebuilds the kept frames from the
    text with the same stride arithmetic (source frame 4j = text bytes
    8j+1 / 8j+2)."""
    tune(spark)
    docs = load(spark, sf_dir, "documents")

    def per_doc(doc_id, raw):
        arr, rate = decode_audio(make_wav(8000, 2, _stereo_pcm(raw)))
        kept = arr[::4].astype(np.int64)
        return kept.shape[0], rate // 4, int(kept[:, 0].sum()), int(kept[:, 1].sum())

    return _map_docs(
        _text_payload(docs),
        "doc_id BIGINT, n_frames_out BIGINT, rate_out INT, sum_left BIGINT, sum_right BIGINT",
        per_doc,
    )


ORACLE_MM_AUDIO_DOWNSAMPLE = """
WITH b AS (
  SELECT doc_id, text, length(text) // 2 AS nf FROM documents
)
SELECT doc_id,
       CAST((nf + 3) // 4 AS BIGINT) AS n_frames_out,
       CAST(2000 AS INT) AS rate_out,
       COALESCE(CAST(list_sum(list_transform(range((nf + 3) // 4),
           j -> (ascii(substr(text, CAST(8*j + 1 AS INT), 1)) - 96) * 257)) AS BIGINT), 0) AS sum_left,
       COALESCE(CAST(list_sum(list_transform(range((nf + 3) // 4),
           j -> (ascii(substr(text, CAST(8*j + 2 AS INT), 1)) - 96) * 257)) AS BIGINT), 0) AS sum_right
FROM b
"""

def mm_image_decode_gif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GIF end-to-end (r7): each document's leading 4·H text bytes
    become palette indices of a 4-wide GIF — REAL LZW compression
    (variable code width, table resets) over a 256-entry grayscale
    palette, plus a comment extension block so the chunk-skip walk runs
    on every payload — then decoded back by the pure-Python LZW decoder
    inside one Arrow-batched mapInPandas pass. Grayscale palette means
    decoded RGB = each index tripled, so DuckDB reproduces the pixel
    md5 with a regex char-tripling of the text."""
    tune(spark)
    docs = load(spark, sf_dir, "documents")

    def per_doc(doc_id, raw):
        h = len(raw) // PPM_W
        gif = make_gif(PPM_W, h, raw[: h * PPM_W], _GRAY_PAL, comment=b"fixture")
        return _dims_md5(decode_image(gif))

    return _map_docs(_text_payload(docs), _IMAGE_ROW, per_doc)


# grayscale palette: decoded RGB bytes = each text char tripled
ORACLE_MM_IMAGE_DECODE_GIF = """
SELECT doc_id,
       CAST(4 AS INT) AS width,
       CAST(length(text) // 4 AS INT) AS height,
       md5(regexp_replace(substr(text, 1, CAST((length(text) // 4) * 4 AS INT)),
           '(.)', '\\1\\1\\1', 'g')) AS pixel_md5
FROM documents
"""


QUERIES = {
    "mm_downsample": mm_downsample,
    "mm_media_meta": mm_media_meta,
    "mm_frame_sample": mm_frame_sample,
    "mm_feature_extract": mm_feature_extract,
    "mm_image_decode": mm_image_decode,
    "mm_image_decode_png": mm_image_decode_png,
    "mm_image_downsample": mm_image_downsample,
    "mm_audio_decode_wav": mm_audio_decode_wav,
    "mm_audio_downsample": mm_audio_downsample,
    "mm_image_decode_gif": mm_image_decode_gif,
}

ORACLE_MM_FEATURES = """
WITH b AS (
  SELECT doc_id, text, octet_length(encode(text)) AS n FROM documents
),
c AS (
  SELECT doc_id, text, n, CAST(unnest(range(8)) AS BIGINT) AS i FROM b
),
s AS (
  -- np.array_split boundaries: first n%8 chunks carry the extra byte
  SELECT doc_id, i,
         COALESCE(CAST(list_sum(list_transform(
             range(n // 8 + CASE WHEN i < n % 8 THEN 1 ELSE 0 END),
             j -> ascii(substr(text, CAST(i * (n // 8) + LEAST(i, n % 8) + j + 1 AS INT), 1))
         )) AS BIGINT), 0) AS csum
  FROM c
)
SELECT doc_id,
       CAST(8 AS INT) AS n_features,
       CAST(SUM(csum) AS BIGINT) AS feat_total,
       CAST(MAX(CASE WHEN i = 0 THEN csum END) AS BIGINT) AS feat_first,
       md5(string_agg(CAST(csum AS VARCHAR), ',' ORDER BY i)) AS feats_md5
FROM s GROUP BY doc_id
"""

ORACLES = {
    "mm_downsample": ORACLE_MM_DOWNSAMPLE,
    "mm_media_meta": ORACLE_MM_META,
    "mm_frame_sample": ORACLE_MM_FRAMES,
    "mm_feature_extract": ORACLE_MM_FEATURES,
    "mm_image_decode": ORACLE_MM_IMAGE_DECODE,
    "mm_image_decode_png": ORACLE_MM_IMAGE_DECODE_PNG,
    "mm_image_downsample": ORACLE_MM_IMAGE_DOWNSAMPLE,
    "mm_audio_decode_wav": ORACLE_MM_AUDIO_DECODE,
    "mm_audio_downsample": ORACLE_MM_AUDIO_DOWNSAMPLE,
    "mm_image_decode_gif": ORACLE_MM_IMAGE_DECODE_GIF,
}


def mm_image_decode_bmp_rle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BI_RLE8 BMP end-to-end (r7): each document's leading 4·H text
    bytes become palette indices of a 4-wide RLE8-compressed BMP (REAL
    maximal-run encoding, bottom-up rows, EOL/EOB escapes) over a
    grayscale palette, decoded back by the pure-Python RLE walker in
    one Arrow-batched mapInPandas pass. Grayscale palette => decoded
    RGB = each index tripled, so the DuckDB oracle reproduces the pixel
    md5 with a regex char-tripling (same construction as the GIF and
    PNG decode oracles — one per real decoder)."""
    tune(spark)
    docs = load(spark, sf_dir, "documents")

    def per_doc(doc_id, raw):
        h = len(raw) // PPM_W
        return _dims_md5(decode_image(make_bmp_rle8(PPM_W, h, raw[: h * PPM_W], _GRAY_PAL)))

    return _map_docs(_text_payload(docs), _IMAGE_ROW, per_doc)


ORACLE_MM_IMAGE_DECODE_BMP_RLE = r"""
SELECT doc_id,
       CAST(4 AS INT) AS width,
       CAST(length(text) // 4 AS INT) AS height,
       md5(regexp_replace(substr(text, 1, CAST((length(text) // 4) * 4 AS INT)),
           '(.)', '\1\1\1', 'g')) AS pixel_md5
FROM documents
"""

QUERIES["mm_image_decode_bmp_rle"] = mm_image_decode_bmp_rle
ORACLES["mm_image_decode_bmp_rle"] = ORACLE_MM_IMAGE_DECODE_BMP_RLE


def mm_image_decode_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Baseline JPEG end-to-end (r8): each document's leading 4·H text
    bytes become DC-only 8x8 blocks of a REAL baseline JPEG (canonical
    Huffman DC/AC tables, byte stuffing, restart markers every 7 MCUs,
    quant=1, DC = 8·(v-128)) decoded back by the pure-NumPy T.81
    decoder (operators/jpeg.py) in one Arrow-batched mapInPandas pass.
    The IDCT of a DC-only block is analytically the constant DC/8, so
    decoded pixels are EXACTLY the text bytes expanded 8x8 and tripled
    to RGB — which is what makes the value-hash oracle expressible in
    SQL (two regex expansions); the lossy general path is pinned in
    test_jpeg against an independent IDCT instead. The raster is capped
    at the leading 256 text bytes (64 block rows, restart every 7) —
    the cap is part of the query's declared semantics and mirrored in
    the oracle, bounding per-doc entropy-decode cost at any SF.

    The input is repartitioned to the session's default parallelism
    before the decode map: the documents scan is a single small file at
    test SFs, and without the (skinny, text-only) exchange the whole
    entropy-decode CPU lands on ONE task — measured 42 s -> ~2 s at
    sf0.1. At 100 TB the scan has thousands of splits and the exchange
    is a no-op in spirit, but per-core decode balance is exactly what a
    production image pipeline needs from the plan."""
    tune(spark)
    docs = (
        load(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    return _map_docs(
        _text_payload(docs),
        _IMAGE_ROW,
        lambda doc_id, raw: _dc_jpeg_rgb(raw, make_jpeg_gray_from_blocks),
    )


# decoded raster = each text byte as a constant 8x8 gray block, 4 blocks
# wide, RGB-tripled: char -> x24 (8 px * 3 ch), then each 96-byte
# scanline -> x8 rows
ORACLE_MM_IMAGE_DECODE_JPEG = r"""
SELECT doc_id,
       CAST(32 AS INT) AS width,
       CAST(8 * (least(length(text), 256) // 4) AS INT) AS height,
       md5(regexp_replace(
           regexp_replace(substr(text, 1, CAST((least(length(text), 256) // 4) * 4 AS INT)),
                          '(.)', '\1\1\1\1\1\1\1\1\1\1\1\1\1\1\1\1\1\1\1\1\1\1\1\1', 'g'),
           '(.{96})', '\1\1\1\1\1\1\1\1', 'g')) AS pixel_md5
FROM documents
"""

QUERIES["mm_image_decode_jpeg"] = mm_image_decode_jpeg
ORACLES["mm_image_decode_jpeg"] = ORACLE_MM_IMAGE_DECODE_JPEG


def mm_audio_decode_flac(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLAC end-to-end (r8): the SAME stereo PCM derivation as the WAV
    query — char at byte i maps to sample (ascii - 96) * 257, even
    bytes left / odd right, 8000 Hz — but compressed through the real
    FLAC encoder (fixed predictors, Rice/escape residuals, CRC-8/16)
    and decoded back by operators/flac.py, with the stereo
    decorrelation chosen by doc parity (doc_id % 4: independent /
    left-side / mid-side / right-side) so all four reconstruction
    paths run on real data. FLAC is lossless, so the oracle is the
    identical text-byte arithmetic as the WAV query — any prediction,
    Rice, decorrelation or CRC bug flips the exact int64 sums."""
    tune(spark)
    docs = (
        load(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    modes = ("independent", "left_side", "mid_side", "right_side")

    def per_doc(doc_id, raw):
        flac = make_flac(
            8000, 2, _stereo_pcm(raw), block_size=256, stereo_mode=modes[int(doc_id) % 4]
        )
        return _stereo_stats(decode_audio(flac))

    return _map_docs(_text_payload(docs), _STEREO_ROW, per_doc)


# lossless: decode(encode(pcm)) is the identity, so the oracle is the
# same text-byte arithmetic as the WAV query
ORACLE_MM_AUDIO_DECODE_FLAC = ORACLE_MM_AUDIO_DECODE

QUERIES["mm_audio_decode_flac"] = mm_audio_decode_flac
ORACLES["mm_audio_decode_flac"] = ORACLE_MM_AUDIO_DECODE_FLAC


def mm_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal corpus-build capstone (r8) — the image analog of
    corpus_build_pipeline: ONE scan of `documents` feeds a single
    Arrow-batched decode map (real PPM decode of the text-derived
    raster, emitting doc_id, block height, pixel md5 and the exact
    int64 pixel sum), and everything downstream — brightness quality
    gate (mean pixel in [40, 120) and at least 2 raster rows), exact
    near-dup removal on the pixel digest (min-doc_id survivor), the
    md5-banded 96/2/2 train/val/test split — runs on those SKINNY
    scalars; payloads and pixels never shuffle. Output is the per-split
    (n_docs, total_px) rollup under one end-to-end oracle, so a bug in
    the decoder, the gate arithmetic, the dedup survivorship or the
    split banding flips the value hash.

    100 TB shape: decode cost is the scan (repartitioned for per-core
    balance, as mm_image_decode_jpeg); the only exchanges carry
    (doc_id, md5, two ints) — dedup groupBy, survivor semi-join, final
    3-row aggregate."""
    tune(spark)
    docs = (
        load(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def per_doc(doc_id, raw):
        h, raster = _rgb_raster(raw)
        if h == 0:
            return 0, _EMPTY_MD5, 0
        arr = decode_image(b"P6\n%d %d\n255\n" % (PPM_W, h) + raster)
        return h, hashlib.md5(arr.tobytes()).hexdigest(), int(arr.astype(np.int64).sum())

    decoded = _map_docs(
        _text_payload(docs), "doc_id BIGINT, h BIGINT, pixel_md5 STRING, sum_px BIGINT", per_doc
    )
    gated = decoded.filter(
        (F.col("h") >= 2)
        & (F.col("sum_px") >= 40 * PPM_W * 3 * F.col("h"))
        & (F.col("sum_px") < 120 * PPM_W * 3 * F.col("h"))
    ).localCheckpoint(eager=True)
    # the checkpoint is the dedup self-join's materialization point: the
    # survivor groupBy and the semi-join probe BOTH read `gated`, and
    # without it each branch re-runs the scan + decode map (plan-audited:
    # 2 scans / 2 Python nodes -> 1 / 1; the ids.py double-compute rule)
    survivors = gated.groupBy("pixel_md5").agg(F.min("doc_id").alias("doc_id"))
    curated = gated.join(survivors, ["pixel_md5", "doc_id"], "left_semi")
    return (
        curated.withColumn("split", split_assign("doc_id"))
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("sum_px").alias("total_px"),
        )
    )


ORACLE_MM_CORPUS_PIPELINE = """
WITH b AS (
  SELECT doc_id, substr(text, 1, CAST(12 * (length(text) // 12) AS INT)) AS raster,
         length(text) // 12 AS h
  FROM documents
),
m AS (
  SELECT doc_id, h,
         COALESCE(CAST(list_sum(list_transform(range(CAST(12 * h AS BIGINT)),
             i -> ascii(substr(raster, CAST(i + 1 AS INT), 1)))) AS BIGINT), 0) AS sum_px,
         md5(raster) AS pm
  FROM b
),
q AS (
  SELECT * FROM m
  WHERE h >= 2 AND sum_px >= 40 * 12 * h AND sum_px < 120 * 12 * h
),
d AS (SELECT pm, MIN(doc_id) AS keep FROM q GROUP BY pm),
s AS (
  SELECT q.doc_id, q.sum_px,
         CASE WHEN ('0x' || substr(md5(CAST(q.doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 < 96 THEN 'train'
              WHEN ('0x' || substr(md5(CAST(q.doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 < 98 THEN 'val'
              ELSE 'test' END AS split
  FROM q JOIN d ON q.pm = d.pm AND q.doc_id = d.keep
)
SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(sum_px) AS BIGINT) AS total_px
FROM s GROUP BY split
"""

QUERIES["mm_corpus_pipeline"] = mm_corpus_pipeline
ORACLES["mm_corpus_pipeline"] = ORACLE_MM_CORPUS_PIPELINE


def mm_image_decode_jpeg_prog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PROGRESSIVE JPEG end-to-end (r8): the same DC-only raster
    construction as mm_image_decode_jpeg, but encoded as an SOF2 stream
    under the default 6-scan script (DC at Al=1, two AC spectral bands,
    then the three successive-approximation refinements) — so the DC
    initial + DC refinement scan kinds and the all-EOB-run AC scans run
    on real data, with restart markers every 7 blocks. Successive
    approximation partitions coefficient bits exactly, so decoded
    pixels are identical to the baseline query's and the ORACLE IS THE
    SAME text-byte expansion."""
    tune(spark)
    docs = (
        load(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    return _map_docs(
        _text_payload(docs),
        _IMAGE_ROW,
        lambda doc_id, raw: _dc_jpeg_rgb(raw, make_jpeg_gray_progressive_from_blocks),
    )


# bit-identical to the baseline JPEG query by construction
ORACLE_MM_IMAGE_DECODE_JPEG_PROG = ORACLE_MM_IMAGE_DECODE_JPEG

QUERIES["mm_image_decode_jpeg_prog"] = mm_image_decode_jpeg_prog
ORACLES["mm_image_decode_jpeg_prog"] = ORACLE_MM_IMAGE_DECODE_JPEG_PROG


def mm_image_decode_webp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebP-lossless end-to-end (r8 verdict next #7): each document's
    leading 12*H text bytes become a 4-wide RGB raster encoded as a
    REAL VP8L stream (operators/vp8l.py make_webp — canonical Huffman
    codes, transforms, LZ77, color cache), then decoded back by the
    pure-stdlib VP8L decoder, all inside one Arrow-batched mapInPandas
    pass. Per-doc option cycling (doc_id % 4) exercises four encoder/
    decoder paths: plain literals / subtract-green /
    subtract-green+predictor / LZ77+color-cache. Lossless, so the
    oracle reproduces dims + pixel md5 straight from the text bytes —
    a Huffman, transform-inverse, LZ77 or cache bug anywhere flips the
    value hash. Same scale shape as the other decode queries: one
    Python node behind the skinny decode repartition, linear in
    documents, per-doc cost capped by the raster size."""
    tune(spark)
    docs = (
        load(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    variants = [
        dict(),
        dict(transforms=("subtract_green",)),
        dict(transforms=("subtract_green", "predictor_left")),
        dict(use_lz77=True, cache_bits=6),
    ]

    def per_doc(doc_id, raw):
        h, raster = _rgb_raster(raw)
        webp = make_webp(PPM_W, h, raster, **variants[int(doc_id) % 4])
        return _dims_md5(decode_image(webp))

    return _map_docs(_text_payload(docs), _IMAGE_ROW, per_doc)


# lossless roundtrip -> the same text-byte oracle as the PPM/PNG decodes
QUERIES["mm_image_decode_webp"] = mm_image_decode_webp
ORACLES["mm_image_decode_webp"] = ORACLE_MM_IMAGE_DECODE


def mm_audio_decode_g711(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G.711 mu-law WAV decode end-to-end (r9; ITU-T G.711, the
    telephony-corpus codec): each document's text BYTES are treated as
    the mu-law code stream of a mono 8 kHz WAV (format tag 7), decoded
    through the real RIFF walk + 256-entry expansion table, and
    reduced to exact int64 sample statistics. Unusually for a LOSSY
    codec this carries a FULL value oracle: the expansion is pure
    integer arithmetic (u = 255 - byte; mag = ((u%16)*8 + 132) *
    2^((u/16)%8) - 132; sign from u >= 128), so DuckDB replays the
    decode per character without touching any codec."""
    tune(spark)
    docs = (
        load(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def per_doc(doc_id, raw):
        arr, rate = decode_audio(_g711_wav(raw))
        a = arr.astype(np.int64)
        return arr.shape[0], rate, int(a.sum()), int((a * a).sum())

    return _map_docs(
        _text_payload(docs),
        "doc_id BIGINT, n_samples BIGINT, sample_rate INT, sample_sum BIGINT, energy BIGINT",
        per_doc,
    )


# the mu-law expansion as pure integer SQL: u = 255 - byte;
# mag = ((u%16)*8 + 132) << ((u//16)%8) - 132; negative when u >= 128
_ULAW_VAL = (
    "(CASE WHEN (255 - ascii(substr(text, CAST(i + 1 AS INT), 1))) >= 128 "
    "THEN -1 ELSE 1 END) * "
    "((((255 - ascii(substr(text, CAST(i + 1 AS INT), 1))) % 16) * 8 + 132) "
    "* (1 << (((255 - ascii(substr(text, CAST(i + 1 AS INT), 1))) // 16) % 8)) - 132)"
)

ORACLE_MM_AUDIO_DECODE_G711 = f"""
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_samples,
       CAST(8000 AS INT) AS sample_rate,
       COALESCE(CAST(list_sum(list_transform(range(length(text)),
           i -> {_ULAW_VAL})) AS BIGINT), 0) AS sample_sum,
       COALESCE(CAST(list_sum(list_transform(range(length(text)),
           i -> CAST({_ULAW_VAL} AS BIGINT) * ({_ULAW_VAL}))) AS BIGINT), 0) AS energy
FROM documents
"""

QUERIES["mm_audio_decode_g711"] = mm_audio_decode_g711
ORACLES["mm_audio_decode_g711"] = ORACLE_MM_AUDIO_DECODE_G711


def mm_image_decode_tiff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIFF end-to-end (r9; Adobe TIFF 6.0, the scanned-document
    corpus format): each document's leading 12*H text bytes become a
    4-wide RGB raster encoded as a REAL stripped TIFF
    (operators/tiff.py make_tiff) and decoded back, all in one
    Arrow-batched mapInPandas pass. Per-doc option cycling (doc_id %
    8) covers none/PackBits/LZW x predictor, both byte orders, a
    multi-strip case, and (r10) a tiled layout (§15 — the 16x16 tile
    grid overhangs the 4-wide raster, exercising edge-tile padding)
    plus planar configuration 2 (§14 separate component planes).
    Lossless, so the oracle reproduces dims + pixel md5 straight from
    the text bytes — an IFD-walk, PackBits, LZW-EarlyChange, predictor,
    tile-crop or plane-interleave bug flips the value hash."""
    tune(spark)
    docs = (
        load(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    variants = [
        dict(compression="none"),
        dict(compression="packbits"),
        dict(compression="lzw"),
        dict(compression="lzw", predictor=True),
        dict(compression="packbits", big_endian=True, rows_per_strip=3),
        dict(compression="lzw", predictor=True, big_endian=True),
        dict(compression="lzw", tile=(16, 16)),
        dict(compression="packbits", predictor=True, planar=2),
    ]

    def per_doc(doc_id, raw):
        h, raster = _rgb_raster(raw)
        tif = make_tiff(PPM_W, h, raster, **variants[int(doc_id) % 8])
        return _dims_md5(decode_image(tif))

    return _map_docs(_text_payload(docs), _IMAGE_ROW, per_doc)


QUERIES["mm_image_decode_tiff"] = mm_image_decode_tiff
ORACLES["mm_image_decode_tiff"] = ORACLE_MM_IMAGE_DECODE

def mm_image_decode_g4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCITT Group 4 TIFF end-to-end (r10; ITU-T T.6, the scanned-
    document fax compression — closes the r9 verdict gap at the old
    tiff.py NotImplementedError): each document's text becomes a
    32-wide BILEVEL raster (pixel black iff the byte is odd), encoded
    as a real Compression=4 TIFF (operators/ccitt.py via make_tiff)
    and decoded back in one Arrow-batched mapInPandas pass. Per-doc
    option cycling covers both byte orders and a multi-strip case
    (strips restart the T.6 reference row). Lossless, so the oracle
    reproduces dims + the md5 of the '0'/'1' pixel string straight
    from the text bytes — a wrong MH table cell, mode codeword, or
    reference-line rule flips the value hash."""
    tune(spark)
    docs = (
        load(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.length("text") >= G4_W)
        .repartition(spark.sparkContext.defaultParallelism)
    )
    variants = [
        dict(compression="g4"),
        dict(compression="g4", big_endian=True),
        dict(compression="g4", rows_per_strip=2),
        dict(compression="g4", big_endian=True, rows_per_strip=3),
    ]
    return _map_docs(
        _text_payload(docs),
        _BITS_ROW,
        lambda doc_id, raw: _bilevel_doc(doc_id, raw, variants),
    )


ORACLE_MM_IMAGE_DECODE_G4 = f"""
WITH d AS (
  SELECT doc_id, text,
         octet_length(encode(text)) // {G4_W} AS h
  FROM documents
  WHERE length(text) >= {G4_W}
),
g AS (
  SELECT doc_id, h, text, unnest(range(1, h * {G4_W} + 1)) AS pos FROM d
),
b AS (
  SELECT doc_id, h, pos,
         CASE WHEN ascii(substr(text, CAST(pos AS INT), 1)) % 2 = 1
              THEN '1' ELSE '0' END AS bit
  FROM g
)
SELECT doc_id,
       CAST({G4_W} AS INT) AS width,
       CAST(h AS INT) AS height,
       md5(string_agg(bit, '' ORDER BY pos)) AS bits_md5
FROM b GROUP BY doc_id, h
"""

QUERIES["mm_image_decode_g4"] = mm_image_decode_g4
ORACLES["mm_image_decode_g4"] = ORACLE_MM_IMAGE_DECODE_G4


def mm_image_decode_g3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCITT Group 3 / MH TIFF end-to-end (late r10; ITU-T T.4 — the
    other two fax compressions real scanned corpora carry, TIFF
    Compression=2 and =3): the same bilevel raster construction as
    mm_image_decode_g4 (pixel black iff the text byte is odd), but
    per-doc cycling covers byte-aligned MH rows (Compression=2), G3
    1-D with per-row EOLs, G3 2-D with tag bits (T4Options bit 0),
    multi-strip restarts, and both byte orders. Lossless, so the G4
    oracle applies verbatim — a wrong MH table cell, EOL/fill scan,
    tag-bit read, or byte-align rule flips the value hash."""
    tune(spark)
    docs = (
        load(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.length("text") >= G4_W)
        .repartition(spark.sparkContext.defaultParallelism)
    )
    variants = [
        dict(compression="mh"),
        dict(compression="g3"),
        dict(compression="g3_2d"),
        dict(compression="mh", big_endian=True, rows_per_strip=2),
        dict(compression="g3", rows_per_strip=3),
        dict(compression="g3_2d", big_endian=True, rows_per_strip=2),
    ]
    return _map_docs(
        _text_payload(docs),
        _BITS_ROW,
        lambda doc_id, raw: _bilevel_doc(doc_id, raw, variants),
    )


QUERIES["mm_image_decode_g3"] = mm_image_decode_g3
ORACLES["mm_image_decode_g3"] = ORACLE_MM_IMAGE_DECODE_G4


def mm_image_decode_jpeg12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """12-bit JPEG end-to-end (late r10; ITU-T T.81 SOF1 extended
    sequential — the medical/archival-scan precision, closing another
    named codec boundary): per document, the leading 4*H text bytes
    become DC-only blocks with DC = 8*(16*b - 2048), so each block
    decodes to exactly 16*b in 12-bit space (2048 + 16*(b-128) = 16*b)
    — analytically exact through the SOF1 entropy layer (DC categories
    past 11, length-5 canonical DC codes, restart markers every 7
    MCUs), which is what lets the oracle rebuild the uint16 raster's
    decimal string straight from text bytes. The lossy general 12-bit
    path is pinned in test_jpeg against an independent IDCT. Same
    256-byte cap and skinny repartition as mm_image_decode_jpeg."""
    tune(spark)
    docs = (
        load(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.length("text") >= 4)
        .repartition(spark.sparkContext.defaultParallelism)
    )
    return _map_docs(_text_payload(docs), _IMAGE_ROW, _jpeg12_doc)


# raster = per text byte a constant 8x8 block of the VALUE 16*ascii(b),
# 4 blocks wide; the hash is over the row-major decimal-string raster
# (each value repeated 8x per row, each block row 8 rows tall)
ORACLE_MM_IMAGE_DECODE_JPEG12 = r"""
WITH d AS MATERIALIZED (
  SELECT doc_id, text, least(length(text), 256) // 4 AS nb
  FROM documents WHERE length(text) >= 4
),
g AS MATERIALIZED (
  SELECT doc_id, nb, pos,
         (pos - 1) // 4 AS br,
         repeat(CAST(ascii(substr(text, CAST(pos AS INT), 1)) * 16 AS VARCHAR), 8) AS v8
  FROM (SELECT doc_id, nb, text, unnest(range(1, nb * 4 + 1)) AS pos FROM d)
),
rows_ AS (
  SELECT doc_id, br,
         repeat(string_agg(v8, '' ORDER BY pos), 8) AS blockstr
  FROM g GROUP BY doc_id, br
)
SELECT d.doc_id,
       CAST(32 AS INT) AS width,
       CAST(8 * d.nb AS INT) AS height,
       md5(COALESCE(r.s, '')) AS pixel_md5
FROM d LEFT JOIN (
  SELECT doc_id, string_agg(blockstr, '' ORDER BY br) AS s
  FROM rows_ GROUP BY doc_id
) r ON d.doc_id = r.doc_id
"""

QUERIES["mm_image_decode_jpeg12"] = mm_image_decode_jpeg12
ORACLES["mm_image_decode_jpeg12"] = ORACLE_MM_IMAGE_DECODE_JPEG12
