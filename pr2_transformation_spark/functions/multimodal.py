"""Multimodal column plumbing (EXT).

Images / audio / video ride through the engine as opaque ``binary`` columns
with a typed metadata struct.  Everything Spark-side is real — schemas,
Arrow-batched ``mapInPandas`` plumbing, partition sizing.  Codec coverage is
split by what this environment can honestly do (no PIL/torchaudio/libav):

* REAL, pure-stdlib/numpy codecs: uncompressed BMP (:func:`bmp_decode`
  headers, :func:`bmp_pixels` pixel arrays), PNG (:func:`png_decode`
  headers, :func:`png_pixels` — zlib inflate + all five scanline filters —
  and :func:`png_encode`, the write half), GIF (:func:`gif_decode`
  headers, :func:`gif_pixels` — true variable-width LZW — and
  :func:`gif_encode`),
  :func:`resize_images` nearest-neighbor resample over either format via
  the :func:`image_pixels` dispatcher, and RIFF/WAVE PCM
  (:func:`wav_decode` headers, :func:`pcm_samples` sample arrays +
  :func:`audio_features` RMS/ZCR/peak).
  MJPEG-AVI video (:func:`avi_decode` headers, :func:`avi_frames` —
  RIFF demux + per-frame JPEG decode — and :func:`avi_encode`, the
  muxer), MJPEG-MP4 (:func:`mp4_decode` box-tree headers,
  :func:`mp4_frames` — real stts/stsc/stsz/stco sample-table
  navigation — and :func:`mp4_encode`, the ISO-BMFF muxer),
  MS Video 1 INTERFRAME video (:func:`msvideo1_encode` /
  :func:`msvideo1_frames` — 'CRAM' 16-bit with skip-run conditional
  replenishment, dispatched through :func:`avi_frames`),
  FLAC lossless audio (:func:`flac_encode` / :func:`flac_decode` —
  CONSTANT/FIXED/LPC subframes, Rice residuals, CRC-8/CRC-16/MD5),
  and the full G.711 companding pair (:func:`mulaw_encode` /
  :func:`alaw_encode` + decoders) beside IMA ADPCM,
* STUBBED: formats whose bitstreams require motion machinery or
  perceptual models no pure-python reimplementation can honestly carry
  (perceptual transform audio: mp3/vorbis; modern interframe video:
  h264/vp9).  Lossy VP8-in-WebP left this list in round 6: ``vp8.py``
  carries the full RFC 6386 keyframe intra decoder, conformance-tested
  bit-exact against libwebp.  The feature
  extractor's default decoder is a
  clearly-marked deterministic fake, and passing ``decoder=None`` raises
  ``NotImplementedError`` at the seam where a ``PIL``/``torchaudio``
  wrapper would plug into the same callable signature the real decoders
  use.

  CONFORMANCE ADJUDICATION (round 7): full mp3 decode and VP8
  INTERFRAME decode stay on this seam deliberately.  Every codec in
  this repo is pinned against an independent implementation or spec
  test vectors (libwebp for VP8 intra, stdlib zlib/bz2/lzma for the
  compression suite, pyarrow/DuckDB for parquet); this host carries NO
  mp3 reference (no mpg123/mad/ffmpeg/avcodec, no ISO dist10 vectors,
  no network) and NO VP8 interframe reference (libwebp decodes still
  images only; libvpx absent).  An mp3 decoder needs the 32 ISO
  11172-3 Huffman tables and an interframe decoder the libvpx
  mode-context/MV probability tables — spec data that cannot be
  re-derived, only transcribed, and a transcription with no validator
  would be silently non-conformant while its own round-trip tests
  passed (encoder and decoder would share every typo).  Shipping that
  would *weaken* the repo's standard, so the seam stays explicit until
  a reference implementation or the spec tables are available to pin
  against.

Scale notes: binary payloads dominate row size, so `maxPartitionBytes`-driven
splits keep tasks balanced; the mapInPandas batch size is rows-per-Arrow-batch
(`spark.sql.execution.arrow.maxRecordsPerBatch`) — tune it down for large
assets so a batch fits executor memory.
"""

from __future__ import annotations

import hashlib
from typing import Callable, Iterator, Optional

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

#: Metadata carried beside every media payload.
MEDIA_META_SCHEMA = StructType(
    [
        StructField("media_type", StringType()),   # image | audio | video
        StructField("format", StringType()),       # png, wav, mp4, ...
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_bytes", IntegerType()),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("asset_id", StringType()),
        StructField("sha256", StringType()),
        StructField("n_bytes", IntegerType()),
        StructField("feat_dim", IntegerType()),
        StructField("feature_crc", StringType()),
    ]
)


def _decode_errors(fn):
    """Normalize decoder failures to the documented ``ValueError``
    contract: a truncated or adversarial payload must surface as data
    rejection, never as a struct/index/key crash that fails the Spark
    task (fuzz-pinned in test_multimodal_properties)."""
    import functools
    import struct as _struct
    import zlib as _zlib

    @functools.wraps(fn)
    def wrapped(*args, **kwargs):
        try:
            return fn(*args, **kwargs)
        except (_struct.error, IndexError, KeyError, OverflowError,
                _zlib.error) as exc:
            raise ValueError(f"malformed payload: {exc}") from None

    return wrapped


def attach_media_metadata(df: DataFrame, binary_col: str, media_type: str, fmt: str) -> DataFrame:
    """Wrap a raw binary column with the typed metadata struct (width/height
    unknown until decode -> NULL)."""
    return df.withColumn(
        f"{binary_col}_meta",
        F.struct(
            F.lit(media_type).alias("media_type"),
            F.lit(fmt).alias("format"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.length(F.col(binary_col)).cast("int").alias("n_bytes"),
        ),
    )


@_decode_errors
def bmp_decode(payload: bytes) -> dict:
    """REAL (non-stub) image decoder for BMP headers — pure Python.

    Parses the BITMAPINFOHEADER width/height fields (offset 18, two
    little-endian int32) with no codec library, proving the decoder seam
    carries genuine decode results end-to-end; PIL/libav decoders plug into
    the same callable signature.  Raises ``ValueError`` for non-BMP bytes
    (mirrors how a real decoder rejects corrupt payloads).
    """
    import struct

    if len(payload) < 26 or payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    width, height = struct.unpack_from("<ii", payload, 18)
    # negative height encodes top-down row order; dimensions are |values|
    return {
        "media_type": "image",
        "format": "bmp",
        "width": abs(width),
        "height": abs(height),
    }


@_decode_errors
def wav_decode(payload: bytes) -> dict:
    """REAL (non-stub) audio decoder for RIFF/WAVE PCM — pure Python.

    Walks the RIFF chunk list for ``fmt `` and ``data``, returning channel
    count, sample rate, bit depth, and sample/duration counts with no codec
    library.  Together with :func:`pcm_samples` this makes the audio path
    genuinely decode-capable (header *and* sample access); a torchaudio/
    soundfile wrapper plugs into the same ``bytes -> dict`` seam for
    compressed formats.  Raises ``ValueError`` for non-WAV bytes.
    """
    import struct

    if len(payload) < 44 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, fmt, data_size, data_offset = 12, None, None, None
    while pos + 8 <= len(payload):
        cid, size = payload[pos : pos + 4], struct.unpack_from("<I", payload, pos + 4)[0]
        body = pos + 8
        if cid == b"fmt " and size >= 16:
            if body + 16 > len(payload):  # declared size lies about the payload
                raise ValueError("truncated fmt chunk")
            fmt = struct.unpack_from("<HHIIHH", payload, body)
        elif cid == b"data" and data_size is None:
            # FIRST data chunk only — a multi-data RIFF must not mix one
            # chunk's frame count with another chunk's bytes; the returned
            # data_offset is what pcm_samples reads from, keeping both
            # functions pinned to the same chunk.
            data_size = min(size, len(payload) - body)
            data_offset = body
        if fmt is not None and data_size is not None:
            break
        pos = body + size + (size & 1)  # RIFF chunks are 2-byte aligned
    if fmt is None or data_size is None:
        raise ValueError("missing fmt/data chunk")
    audio_format, n_channels, sample_rate, _, block_align, bits = fmt
    if audio_format != 1 or n_channels == 0 or block_align == 0:
        raise ValueError("only uncompressed PCM is decodable without codecs")
    n_frames = data_size // block_align
    return {
        "media_type": "audio",
        "format": "wav",
        "n_channels": int(n_channels),
        "sample_rate_hz": int(sample_rate),
        "bit_depth": int(bits),
        "n_frames": int(n_frames),
        "duration_ms": int(round(n_frames * 1000 / sample_rate)) if sample_rate else 0,
        "data_offset": int(data_offset),
    }


def wav_encode(samples, sample_rate: int = 16000) -> bytes:
    """REAL RIFF/WAVE PCM encoder — the write half of :func:`pcm_samples`:
    a canonical 44-byte header + little-endian int16 frames.  Takes
    ``(n_frames,)`` mono or ``(n_frames, n_channels)`` int16."""
    import struct

    import numpy as np

    arr = np.asarray(samples, dtype=np.int16)
    if arr.ndim == 1:
        arr = arr[:, None]
    if arr.ndim != 2 or arr.shape[1] == 0:
        raise ValueError("wav_encode expects (n_frames[, n_channels]) int16")
    n_frames, n_channels = arr.shape
    data = arr.astype("<i2").tobytes()
    block_align = 2 * n_channels
    fmt = struct.pack(
        "<HHIIHH", 1, n_channels, sample_rate,
        sample_rate * block_align, block_align, 16,
    )
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


_PNG_SIG = b"\x89PNG\r\n\x1a\n"
#: 8-bit channel counts per PNG color type (grayscale, RGB, gray+alpha, RGBA)
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


@_decode_errors
def png_decode(payload: bytes) -> dict:
    """REAL (non-stub) image decoder for PNG headers — pure stdlib.

    Parses the IHDR chunk (width, height, bit depth, color type) with no
    codec library; :func:`png_pixels` completes the path with zlib inflate +
    filter reconstruction.  Raises ``ValueError`` for non-PNG bytes or a
    malformed chunk stream.
    """
    import struct

    if len(payload) < 33 or payload[:8] != _PNG_SIG:
        raise ValueError("not a PNG payload")
    length, ctype = struct.unpack_from(">I4s", payload, 8)
    if ctype != b"IHDR" or length != 13:
        raise ValueError("PNG missing leading IHDR chunk")
    w, h, bit_depth, color_type, _comp, _filt, interlace = struct.unpack_from(
        ">IIBBBBB", payload, 16
    )
    if w == 0 or h == 0:
        raise ValueError("PNG with zero dimension")
    return {
        "media_type": "image",
        "format": "png",
        "width": int(w),
        "height": int(h),
        "bit_depth": int(bit_depth),
        "color_type": int(color_type),
        "interlace": int(interlace),
    }


def png_encode(pixels, filters: str = "mixed") -> bytes:
    """REAL pure-stdlib PNG encoder — the write half of :func:`png_pixels`.

    Takes an ``(h, w)`` or ``(h, w, channels)`` uint8 array (1/2/3/4
    channels -> gray / gray+alpha / RGB / RGBA), emits a standard
    non-interlaced 8-bit PNG: IHDR + one zlib IDAT + IEND, CRCs via
    ``zlib.crc32``.  ``filters`` picks the per-scanline predictor:
    ``"none"``/``"sub"``/``"up"``/``"average"``/``"paeth"`` force one
    type, ``"mixed"`` cycles through all five (row ``y`` uses ``y % 5``)
    — an encode->decode round trip then exercises every reconstruction
    branch of the decoder, which is exactly what the oracle-gated
    round-trip query does.

    Encoding is the closed-form inverse of reconstruction: the stored
    byte is ``(raw - predictor) & 0xFF`` with the predictor computed from
    already-RAW neighbors, so each filtered line is vectorizable (unlike
    decode, where Sub/Average/Paeth chain along the row).
    """
    import struct
    import zlib

    import numpy as np

    arr = np.asarray(pixels, dtype=np.uint8)
    if arr.ndim == 2:
        arr = arr[:, :, None]
    if arr.ndim != 3 or arr.shape[2] not in (1, 2, 3, 4):
        raise ValueError("png_encode expects (h, w[, 1|2|3|4]) uint8 pixels")
    h, w, channels = arr.shape
    if h == 0 or w == 0:
        raise ValueError("png_encode: zero dimension")
    color_type = {1: 0, 2: 4, 3: 2, 4: 6}[channels]
    ftype_by_name = {"none": 0, "sub": 1, "up": 2, "average": 3, "paeth": 4}
    if filters != "mixed" and filters not in ftype_by_name:
        raise ValueError(f"unknown filter mode {filters!r}")

    # Whole-image filtering (r11, guide §4.2): the former per-scanline
    # loop paid ~8 small numpy ops per row (dominant at fixture image
    # sizes); every predictor input is a zero-padded shifted VIEW of the
    # raw image, so all five filters compute as full-array expressions
    # and each row selects its filter by boolean mask.  Byte-identical
    # to the scalar loop (encode predictors read RAW neighbors only, so
    # no cross-row reconstruction dependency exists on the encode side);
    # pinned by test_multimodal's round-trip + fixed-filter tests.
    stride = w * channels
    raw = arr.reshape(h, stride).astype(np.int32)
    prev = np.zeros_like(raw)
    prev[1:] = raw[:-1]
    left = np.zeros_like(raw)
    left[:, channels:] = raw[:, :-channels]
    upleft = np.zeros_like(raw)
    upleft[1:, channels:] = raw[:-1, :-channels]
    if filters == "mixed":
        ftypes = np.arange(h, dtype=np.int64) % 5
    else:
        ftypes = np.full(h, ftype_by_name[filters], dtype=np.int64)
    enc = raw.copy()
    m = ftypes == 1
    if m.any():
        enc[m] = raw[m] - left[m]
    m = ftypes == 2
    if m.any():
        enc[m] = raw[m] - prev[m]
    m = ftypes == 3
    if m.any():
        enc[m] = raw[m] - ((left[m] + prev[m]) >> 1)
    m = ftypes == 4
    if m.any():
        p = left[m] + prev[m] - upleft[m]
        pa, pb, pc = (
            np.abs(p - left[m]), np.abs(p - prev[m]), np.abs(p - upleft[m])
        )
        pred = np.where(
            (pa <= pb) & (pa <= pc), left[m],
            np.where(pb <= pc, prev[m], upleft[m]),
        )
        enc[m] = raw[m] - pred
    lines = np.empty((h, stride + 1), dtype=np.uint8)
    lines[:, 0] = ftypes.astype(np.uint8)
    lines[:, 1:] = (enc & 0xFF).astype(np.uint8)

    def chunk(ctype: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + ctype
            + body
            + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    idat = zlib.compress(lines.tobytes(), 6)
    return _PNG_SIG + chunk(b"IHDR", ihdr) + chunk(b"IDAT", idat) + chunk(b"IEND", b"")


@_decode_errors
def png_pixels(payload: bytes):
    """Decode an 8-bit PNG to an ``(h, w, channels)`` numpy uint8 array —
    REAL pixel access with zero codec libraries: stdlib ``zlib`` inflate of
    the concatenated IDAT stream, then per-scanline reconstruction of all
    five PNG filters (None/Sub/Up/Average/Paeth).

    Supports bit depth 8 and color types 0 (gray), 2 (RGB), 4 (gray+alpha),
    6 (RGBA), non-interlaced — i.e. what standard encoders emit for
    truecolor/grayscale.  Palette (3), 16-bit, and Adam7 interlacing raise
    ``ValueError`` (decode errors are data, not job failures).

    Scale note: Sub/Average/Paeth have a sequential along-row dependency, so
    reconstruction is a Python loop over bytes — fine for fixtures and small
    assets; a production cluster with heavy image traffic should inject a
    PIL/turbojpeg decoder into the same ``bytes -> array`` seam.
    """
    import struct
    import zlib

    import numpy as np

    meta = png_decode(payload)
    if meta["bit_depth"] != 8:
        raise ValueError("png_pixels supports 8-bit channels")
    if meta["color_type"] not in _PNG_CHANNELS:
        raise ValueError("png_pixels supports gray/RGB/gray+alpha/RGBA")
    if meta["interlace"] != 0:
        raise ValueError("png_pixels does not support Adam7 interlacing")
    w, h = meta["width"], meta["height"]
    channels = _PNG_CHANNELS[meta["color_type"]]

    idat, pos = [], 8
    while pos + 8 <= len(payload):
        length, ctype = struct.unpack_from(">I4s", payload, pos)
        body = pos + 8
        if body + length > len(payload):
            raise ValueError("truncated PNG chunk")
        if ctype == b"IDAT":
            idat.append(payload[body : body + length])
        elif ctype == b"IEND":
            break
        pos = body + length + 4  # skip CRC
    if not idat:
        raise ValueError("PNG missing IDAT")
    try:
        raw = zlib.decompress(b"".join(idat))
    except zlib.error as e:
        raise ValueError(f"corrupt PNG IDAT stream: {e}") from None

    stride = w * channels  # bytes per scanline (8-bit), bpp = channels
    if len(raw) < h * (stride + 1):
        raise ValueError("PNG pixel data shorter than dimensions imply")
    bpp = channels
    # r11 (guide §4.2): one 2-D view over all scanlines replaces the
    # per-row frombuffer/astype churn; Sub reconstructs as a vectorized
    # per-channel running sum mod 256 (addition commutes with & 0xFF);
    # Average/Paeth keep their inherent along-row recurrence but run it
    # over PYTHON ints (list ops), which profiles ~5x faster than numpy
    # scalar indexing at fixture strides.  7.8x on the 16x16 RGB dedup
    # fixtures, equivalence-pinned by the round-trip tests.
    lines = np.frombuffer(raw, np.uint8, h * (stride + 1)).reshape(
        h, stride + 1
    )
    ftypes = lines[:, 0]
    out = np.zeros((h, stride), dtype=np.uint8)
    prev_list = [0] * stride  # reconstructed previous row, python ints
    for y in range(h):
        ftype = int(ftypes[y])
        if ftype == 0:  # None
            out[y] = lines[y, 1:]
            prev_list = out[y].tolist()
        elif ftype == 2:  # Up — no along-row dependency: vectorized
            np.add(
                lines[y, 1:], out[y - 1] if y > 0 else 0,
                out=out[y], casting="unsafe",
            )
            prev_list = out[y].tolist()
        elif ftype == 1:  # Sub — per-channel cumulative sum mod 256
            seg = lines[y, 1:].reshape(-1, bpp).astype(np.int32)
            np.cumsum(seg, axis=0, out=seg)
            out[y] = (seg & 0xFF).astype(np.uint8).reshape(-1)
            prev_list = out[y].tolist()
        elif ftype == 3:  # Average
            cur = lines[y, 1:].tolist()
            for i in range(stride):
                left = cur[i - bpp] if i >= bpp else 0
                cur[i] = (cur[i] + ((left + prev_list[i]) >> 1)) & 0xFF
            out[y] = cur
            prev_list = cur
        elif ftype == 4:  # Paeth
            cur = lines[y, 1:].tolist()
            for i in range(stride):
                a = cur[i - bpp] if i >= bpp else 0
                b = prev_list[i]
                c = prev_list[i - bpp] if i >= bpp else 0
                p = a + b - c
                pa = p - a if p >= a else a - p
                pb = p - b if p >= b else b - p
                pc = p - c if p >= c else c - p
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                cur[i] = (cur[i] + pred) & 0xFF
            out[y] = cur
            prev_list = cur
        else:
            raise ValueError(f"unknown PNG filter type {ftype}")
    return out.reshape(h, w, channels)


# ---------------------------------------------------------------------------
# GIF — REAL pure-stdlib LZW codec (decode + encode)
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# JPEG — REAL pure-numpy baseline codec (ITU-T T.81 sequential DCT)
# ---------------------------------------------------------------------------
# The encoder ships the public Annex-K example tables (quantization +
# Huffman); the decoder trusts nothing — every table it uses is parsed back
# out of the DQT/DHT segments of the stream it is decoding.

#: zigzag index of each coefficient in natural (row-major) order
_JPEG_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]

#: ITU-T T.81 Annex K.1 example quantization tables (luma, chroma)
_JPEG_QT_LUMA = [
    16, 11, 10, 16, 24, 40, 51, 61, 12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56, 14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77, 24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101, 72, 92, 95, 98, 112, 100, 103, 99,
]
_JPEG_QT_CHROMA = [
    17, 18, 24, 47, 99, 99, 99, 99, 18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99, 47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
]

#: Annex K.3 example Huffman specs: (BITS counts per length 1..16, values)
_JPEG_HUFF_DC_LUMA = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
_JPEG_HUFF_DC_CHROMA = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
_JPEG_HUFF_AC_LUMA = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 125],
    [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
        0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
        0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
        0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
        0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
        0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
        0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
        0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
        0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
        0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
        0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
        0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
        0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)
_JPEG_HUFF_AC_CHROMA = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 119],
    [
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
        0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
        0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
        0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
        0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
        0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
        0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
        0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
        0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
        0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
        0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
        0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
        0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
        0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)


def _jpeg_dct_matrix():
    """Orthonormal 8x8 DCT-II basis C: forward F = C f C^T, inverse
    f = C^T F C.  With this normalization a flat block of value v has
    F(0,0) = 8v and zero AC — the identity the exact-round-trip tests and
    the oracle query lean on."""
    import numpy as np

    x = np.arange(8)
    c = np.cos((2 * x[None, :] + 1) * x[:, None] * np.pi / 16) / 2.0
    c[0, :] = 0.5 / np.sqrt(2.0)
    return c


def _jpeg_huffman_codes(bits, values):
    """Canonical Huffman code assignment (T.81 Annex C): returns
    {value: (code, length)}."""
    out, code = {}, 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[values[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


class _JpegBitReader:
    """MSB-first entropy-segment reader with 0xFF00 byte-stuffing removal;
    stops at any real marker and reports it."""

    def __init__(self, data: bytes, pos: int):
        self.data, self.pos = data, pos
        self.acc, self.nbits = 0, 0
        self.marker = None

    def _fill(self):
        while self.nbits <= 24:
            if self.marker is not None or self.pos >= len(self.data):
                self.acc = (self.acc << 8) & 0xFFFFFFFF
                self.nbits += 8  # pad with zeros past the end (T.81 F.2.2.5)
                continue
            b = self.data[self.pos]
            if b == 0xFF:
                nxt = self.data[self.pos + 1] if self.pos + 1 < len(self.data) else 0xD9
                if nxt == 0x00:
                    self.pos += 2
                elif 0xD0 <= nxt <= 0xD7:  # restart marker: caller resyncs
                    self.marker = nxt
                    continue
                else:
                    self.marker = nxt
                    continue
            else:
                self.pos += 1
            self.acc = ((self.acc << 8) | b) & 0xFFFFFFFF
            self.nbits += 8

    def bits(self, n: int) -> int:
        if n == 0:
            return 0
        self._fill()
        v = (self.acc >> (self.nbits - n)) & ((1 << n) - 1)
        self.nbits -= n
        return v

    def huffman(self, table: dict) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | self.bits(1)
            if (code, length) in table:
                return table[(code, length)]
        raise ValueError("corrupt JPEG entropy stream: no Huffman match")

    def restart(self):
        """Consume the pending RSTn marker and realign to a byte."""
        if self.marker is None or not (0xD0 <= self.marker <= 0xD7):
            raise ValueError("expected JPEG restart marker")
        self.pos += 2
        self.acc, self.nbits, self.marker = 0, 0, None


def _jpeg_extend(v: int, t: int) -> int:
    """T.81 F.2.2.1 sign extension of a t-bit magnitude."""
    return v - (1 << t) + 1 if t and v < (1 << (t - 1)) else v


@_decode_errors
def jpeg_decode(payload: bytes) -> dict:
    """REAL JPEG header decoder — pure stdlib: walks the marker stream to
    the frame header (SOF0/1 baseline, SOF2 progressive), returning
    dimensions, component count, per-component sampling factors, and a
    ``progressive`` flag."""
    import struct

    if len(payload) < 4 or payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload")
    pos = 2
    while pos + 4 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError("corrupt JPEG marker stream")
        marker = payload[pos + 1]
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        seglen = struct.unpack_from(">H", payload, pos + 2)[0]
        if marker in (0xC0, 0xC1, 0xC2):  # baseline / ext. sequential / progressive
            precision, h, w, ncomp = struct.unpack_from(">BHHB", payload, pos + 4)
            if w == 0 or h == 0:
                raise ValueError("JPEG with zero dimension")
            samp = {}
            for i in range(ncomp):
                cid, hv, _tq = struct.unpack_from(">BBB", payload, pos + 10 + 3 * i)
                samp[cid] = (hv >> 4, hv & 0xF)
            return {
                "media_type": "image",
                "format": "jpeg",
                "width": int(w),
                "height": int(h),
                "bit_depth": int(precision),
                "n_components": int(ncomp),
                "sampling": samp,
                "progressive": marker == 0xC2,
            }
        if marker == 0xD9:
            break
        pos += 2 + seglen
    raise ValueError("JPEG missing frame header")


def _jpeg_parse_dqt(payload, body, end, qt):
    """Parse one DQT segment body (possibly several tables) into ``qt``."""
    import numpy as np

    p = body
    while p < end:
        pq, tq = payload[p] >> 4, payload[p] & 0xF
        n = 64 * (2 if pq else 1)
        raw = payload[p + 1 : p + 1 + n]
        vals = (
            np.frombuffer(raw, ">u2").astype(np.int32)
            if pq
            else np.frombuffer(raw, np.uint8).astype(np.int32)
        )
        table = np.zeros(64, np.int32)
        table[_JPEG_ZIGZAG] = vals  # stored in zigzag order
        qt[tq] = table.reshape(8, 8)
        p += 1 + n


def _jpeg_parse_dht(payload, body, end, huff_dc, huff_ac):
    """Parse one DHT segment body (possibly several tables) into the
    ``(code, length) -> value`` lookups the bit reader consumes."""
    p = body
    while p < end:
        tc, th = payload[p] >> 4, payload[p] & 0xF
        bits = list(payload[p + 1 : p + 17])
        nval = sum(bits)
        values = list(payload[p + 17 : p + 17 + nval])
        codes = _jpeg_huffman_codes(bits, values)
        lookup = {(c, ln): v for v, (c, ln) in codes.items()}
        (huff_dc if tc == 0 else huff_ac)[th] = lookup
        p += 17 + nval


def _jpeg_finish(planes, comps, hmax, vmax, fw, fh):
    """Shared reconstruction tail: crop the MCU-padded component planes,
    nearest-neighbor upsample subsampled chroma, level-shift, and convert
    BT.601 YCbCr to RGB (or pass through grayscale)."""
    import numpy as np

    out_planes = []
    for c in comps:
        p = planes[c["id"]]
        ry, rx = vmax // c["v"], hmax // c["h"]
        if ry > 1 or rx > 1:
            p = np.repeat(np.repeat(p, ry, axis=0), rx, axis=1)
        out_planes.append(p[:fh, :fw] + 128.0)

    if len(out_planes) == 1:
        gray = np.clip(np.rint(out_planes[0]), 0, 255).astype(np.uint8)
        return gray[:, :, None]
    if len(out_planes) != 3:
        raise ValueError("JPEG scans with 2 or 4 components not supported")
    y, cb, cr = out_planes
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    rgb = np.stack([r, g, b], axis=-1)
    return np.clip(np.rint(rgb), 0, 255).astype(np.uint8)


@_decode_errors
def jpeg_pixels(payload: bytes):
    """Decode a baseline OR progressive JPEG to ``(h, w, channels)`` uint8
    — REAL entropy + transform decode with zero codec libraries: canonical
    Huffman tables parsed from DHT, dequantization from DQT, zigzag
    unpacking, orthonormal-matrix IDCT (numpy), nearest-neighbor chroma
    upsampling for subsampled scans, restart-interval resync, and BT.601
    YCbCr->RGB.  Grayscale returns 1 channel; 3-component scans return
    RGB.  Progressive (SOF2) streams run the multi-scan accumulator in
    :func:`_jpeg_decode_progressive` — spectral selection AND successive
    approximation, DC and AC, first and refinement passes.  Raises
    ``ValueError`` on arithmetic-coded streams or a corrupt entropy
    segment.

    Scale note: the MCU loop is Python-per-block (the entropy coding is
    inherently sequential); per-asset decode cost is the same order as the
    pure-Python PNG filter walk — fine for fixtures and thumbnails, and a
    PIL/turbojpeg wrapper drops into the identical ``bytes -> array``
    seam for production image corpora.
    """
    import struct

    meta = jpeg_decode(payload)  # validates SOI + frame header
    if meta["progressive"]:
        return _jpeg_decode_progressive(payload)
    qt: dict = {}
    huff_dc: dict = {}
    huff_ac: dict = {}
    frame = None
    restart_interval = 0
    pos = 2
    while pos + 4 <= len(payload):
        marker = payload[pos + 1]
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        seglen = struct.unpack_from(">H", payload, pos + 2)[0]
        body = pos + 4
        if marker == 0xDB:  # DQT: one or more tables
            _jpeg_parse_dqt(payload, body, pos + 2 + seglen, qt)
        elif marker == 0xC4:  # DHT: one or more tables
            _jpeg_parse_dht(payload, body, pos + 2 + seglen, huff_dc, huff_ac)
        elif marker in (0xC0, 0xC1):
            _prec, fh, fw, ncomp = struct.unpack_from(">BHHB", payload, body)
            comps = []
            for i in range(ncomp):
                cid, hv, tq = struct.unpack_from(">BBB", payload, body + 6 + 3 * i)
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 0xF, "tq": tq})
            frame = (fw, fh, comps)
        elif marker == 0xDD:
            restart_interval = struct.unpack_from(">H", payload, body)[0]
        elif marker == 0xDA:  # SOS — entropy data follows
            if frame is None:
                raise ValueError("JPEG SOS before SOF")
            ns = payload[body]
            scan = {}
            for i in range(ns):
                cs, tables = payload[body + 1 + 2 * i], payload[body + 2 + 2 * i]
                scan[cs] = (tables >> 4, tables & 0xF)
            data_start = pos + 2 + seglen
            return _jpeg_decode_scan(
                payload, data_start, frame, scan, qt, huff_dc, huff_ac,
                restart_interval, meta,
            )
        elif marker == 0xD9:
            break
        pos += 2 + seglen
    raise ValueError("JPEG missing scan data")


def _jpeg_decode_scan(
    payload, data_start, frame, scan, qt, huff_dc, huff_ac, restart_interval, meta
):
    import numpy as np

    fw, fh, comps = frame
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = -(-fw // (8 * hmax))
    mcuy = -(-fh // (8 * vmax))
    C = _jpeg_dct_matrix()
    planes = {}
    for c in comps:
        planes[c["id"]] = np.zeros((mcuy * c["v"] * 8, mcux * c["h"] * 8), np.float64)
        if c["tq"] not in qt:
            raise ValueError("JPEG references a missing quantization table")
        dc_id, ac_id = scan[c["id"]]
        if dc_id not in huff_dc or ac_id not in huff_ac:
            raise ValueError("JPEG references a missing Huffman table")

    reader = _JpegBitReader(payload, data_start)
    pred = {c["id"]: 0 for c in comps}
    mcu_count = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                reader.restart()
                pred = {c["id"]: 0 for c in comps}
            for c in comps:
                dc_tab = huff_dc[scan[c["id"]][0]]
                ac_tab = huff_ac[scan[c["id"]][1]]
                q = qt[c["tq"]]
                for by in range(c["v"]):
                    for bx in range(c["h"]):
                        coeffs = np.zeros(64, np.int32)
                        t = reader.huffman(dc_tab)
                        diff = _jpeg_extend(reader.bits(t), t)
                        pred[c["id"]] += diff
                        coeffs[0] = pred[c["id"]]
                        k = 1
                        while k < 64:
                            rs = reader.huffman(ac_tab)
                            r, s = rs >> 4, rs & 0xF
                            if s == 0:
                                if r == 15:  # ZRL: sixteen zeros
                                    k += 16
                                    continue
                                break  # EOB
                            k += r
                            if k > 63:
                                raise ValueError("JPEG AC run past block end")
                            coeffs[_JPEG_ZIGZAG[k]] = _jpeg_extend(
                                reader.bits(s), s
                            )
                            k += 1
                        block = C.T @ (coeffs.reshape(8, 8) * q) @ C
                        y0 = (my * c["v"] + by) * 8
                        x0 = (mx * c["h"] + bx) * 8
                        planes[c["id"]][y0 : y0 + 8, x0 : x0 + 8] = block
            mcu_count += 1

    return _jpeg_finish(planes, comps, hmax, vmax, fw, fh)


def _jpeg_scan_end(data: bytes, pos: int) -> int:
    """Byte position of the first real marker at/after ``pos`` (skipping
    stuffed 0xFF00 pairs, fill bytes, and restart markers) — where the
    next header segment begins after an entropy-coded scan."""
    while pos + 1 < len(data):
        if data[pos] == 0xFF:
            nxt = data[pos + 1]
            if nxt == 0x00 or 0xD0 <= nxt <= 0xD7:
                pos += 2
                continue
            if nxt == 0xFF:  # fill byte
                pos += 1
                continue
            return pos
        pos += 1
    return len(data)


def _jpeg_prog_scan(
    payload, data_start, frame, coef, scomps, ss, se, ah, al,
    huff_dc, huff_ac, restart_interval,
):
    """Decode ONE progressive scan (T.81 Annex G) into the zigzag-order
    coefficient accumulators ``coef[cid][by, bx, k]``; returns the byte
    position after the scan's entropy data.

    Four pass kinds, selected by (Ss, Ah): DC first (Ss=0, Ah=0 — the only
    kind that may interleave components), DC refinement (Ss=0, Ah>0, one
    bit per block), AC first (Ss>0, Ah=0 — band Ss..Se with EOB-run
    coding), AC refinement (Ss>0, Ah>0 — correction bits for known
    coefficients woven between newly-significant ±1<<Al insertions,
    including through ZRL and EOB runs)."""
    fw, fh, comps = frame
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = -(-fw // (8 * hmax))
    mcuy = -(-fh // (8 * vmax))
    byid = {c["id"]: c for c in comps}
    reader = _JpegBitReader(payload, data_start)
    state = {"eobrun": 0}

    def dc_first(blk, tab, pred, cid):
        t = reader.huffman(tab)
        pred[cid] += _jpeg_extend(reader.bits(t), t)
        blk[0] = pred[cid] << al

    def dc_refine(blk):
        if reader.bits(1):
            blk[0] |= 1 << al  # two's-complement OR: grows |v| either sign

    def ac_first(blk, tab):
        if state["eobrun"] > 0:
            state["eobrun"] -= 1
            return
        k = ss
        while k <= se:
            rs = reader.huffman(tab)
            r, s = rs >> 4, rs & 0xF
            if s == 0:
                if r == 15:  # ZRL
                    k += 16
                    continue
                state["eobrun"] = (1 << r) - 1 + (reader.bits(r) if r else 0)
                return
            k += r
            if k > se:
                raise ValueError("JPEG AC run past spectral band")
            blk[k] = _jpeg_extend(reader.bits(s), s) << al
            k += 1

    bit = 1 << al

    def refine_known(blk, k):
        # correction bit for a coefficient already nonzero at this precision
        if reader.bits(1) and not (abs(int(blk[k])) & bit):
            blk[k] += bit if blk[k] > 0 else -bit

    def ac_refine(blk, tab):
        if state["eobrun"] > 0:
            state["eobrun"] -= 1
            for k in range(ss, se + 1):
                if blk[k] != 0:
                    refine_known(blk, k)
            return
        k = ss
        while k <= se:
            rs = reader.huffman(tab)
            r, s = rs >> 4, rs & 0xF
            newval = 0
            if s == 0:
                if r < 15:  # EOBn: refine the rest, then skip whole blocks
                    state["eobrun"] = (1 << r) - 1 + (reader.bits(r) if r else 0)
                    while k <= se:
                        if blk[k] != 0:
                            refine_known(blk, k)
                        k += 1
                    return
                # r == 15: ZRL — skip 16 zero-history coefficients
            else:
                if s != 1:
                    raise ValueError("bad JPEG AC-refinement magnitude")
                newval = bit if reader.bits(1) else -bit
            while k <= se:
                if blk[k] != 0:
                    refine_known(blk, k)
                else:
                    if r == 0:
                        if newval:
                            blk[k] = newval
                        k += 1
                        break
                    r -= 1
                k += 1

    if ss == 0:  # DC scan — interleaved MCU order (also covers ns == 1)
        if se != 0:
            raise ValueError("JPEG DC scan with nonzero Se")
        sel = [byid[cid] for cid, _t in scomps]
        tabs = {cid: huff_dc[t >> 4] for cid, t in scomps} if ah == 0 else {}
        for cid, t in scomps:
            if ah == 0 and (t >> 4) not in huff_dc:
                raise ValueError("JPEG references a missing Huffman table")
        pred = {cid: 0 for cid, _ in scomps}
        if len(sel) == 1:  # non-interleaved: the component's own block grid
            c = sel[0]
            bw = -(-(-(-fw * c["h"] // hmax)) // 8)
            bh = -(-(-(-fh * c["v"] // vmax)) // 8)
            units = [(c, by, bx) for by in range(bh) for bx in range(bw)]
        else:
            units = []
            for my in range(mcuy):
                for mx in range(mcux):
                    unit = []
                    for c in sel:
                        for by in range(c["v"]):
                            for bx in range(c["h"]):
                                unit.append((c, my * c["v"] + by, mx * c["h"] + bx))
                    units.append(unit)
        count = 0
        for unit in units:
            if restart_interval and count and count % restart_interval == 0:
                reader.restart()
                pred = {cid: 0 for cid, _ in scomps}
            blocks = unit if isinstance(unit, list) else [unit]
            for c, by, bx in blocks:
                blk = coef[c["id"]][by, bx]
                if ah == 0:
                    dc_first(blk, tabs[c["id"]], pred, c["id"])
                else:
                    dc_refine(blk)
            count += 1
    else:  # AC scan — T.81 requires non-interleaved (one component)
        if len(scomps) != 1:
            raise ValueError("JPEG progressive AC scan must be non-interleaved")
        cid, t = scomps[0]
        c = byid[cid]
        if (t & 0xF) not in huff_ac:
            raise ValueError("JPEG references a missing Huffman table")
        tab = huff_ac[t & 0xF]
        bw = -(-(-(-fw * c["h"] // hmax)) // 8)
        bh = -(-(-(-fh * c["v"] // vmax)) // 8)
        count = 0
        for by in range(bh):
            for bx in range(bw):
                if restart_interval and count and count % restart_interval == 0:
                    reader.restart()
                    state["eobrun"] = 0
                blk = coef[cid][by, bx]
                (ac_first if ah == 0 else ac_refine)(blk, tab)
                count += 1

    return _jpeg_scan_end(payload, reader.pos)


def _jpeg_decode_progressive(payload: bytes):
    """Multi-scan progressive JPEG decode: walk every marker segment in
    order (tables may be redefined between scans), accumulate dequantized-
    domain coefficients across scans, then run the shared IDCT/upsample/
    color tail once at EOI."""
    import struct

    import numpy as np

    qt: dict = {}
    huff_dc: dict = {}
    huff_ac: dict = {}
    frame = None
    restart_interval = 0
    coef: dict = {}
    pos = 2
    while pos + 2 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError("corrupt JPEG marker stream")
        marker = payload[pos + 1]
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        if marker == 0xD9:
            break
        if pos + 4 > len(payload):
            break
        seglen = struct.unpack_from(">H", payload, pos + 2)[0]
        body = pos + 4
        if marker == 0xDB:
            _jpeg_parse_dqt(payload, body, pos + 2 + seglen, qt)
        elif marker == 0xC4:
            _jpeg_parse_dht(payload, body, pos + 2 + seglen, huff_dc, huff_ac)
        elif marker == 0xC2:
            _prec, fh, fw, ncomp = struct.unpack_from(">BHHB", payload, body)
            comps = []
            for i in range(ncomp):
                cid, hv, tq = struct.unpack_from(">BBB", payload, body + 6 + 3 * i)
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 0xF, "tq": tq})
            frame = (fw, fh, comps)
            hmax = max(c["h"] for c in comps)
            vmax = max(c["v"] for c in comps)
            mcux = -(-fw // (8 * hmax))
            mcuy = -(-fh // (8 * vmax))
            for c in comps:
                coef[c["id"]] = np.zeros(
                    (mcuy * c["v"], mcux * c["h"], 64), np.int64
                )
        elif marker == 0xDD:
            restart_interval = struct.unpack_from(">H", payload, body)[0]
        elif marker == 0xDA:
            if frame is None:
                raise ValueError("JPEG SOS before SOF")
            ns = payload[body]
            scomps = [
                (payload[body + 1 + 2 * i], payload[body + 2 + 2 * i])
                for i in range(ns)
            ]
            ss = payload[body + 1 + 2 * ns]
            se = payload[body + 2 + 2 * ns]
            ahal = payload[body + 3 + 2 * ns]
            pos = _jpeg_prog_scan(
                payload, pos + 2 + seglen, frame, coef, scomps,
                ss, se, ahal >> 4, ahal & 0xF, huff_dc, huff_ac,
                restart_interval,
            )
            continue
        pos += 2 + seglen

    if frame is None or not coef:
        raise ValueError("progressive JPEG missing frame or scan data")
    fw, fh, comps = frame
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    C = _jpeg_dct_matrix()
    zz = np.asarray(_JPEG_ZIGZAG)
    planes = {}
    for c in comps:
        if c["tq"] not in qt:
            raise ValueError("JPEG references a missing quantization table")
        arr = coef[c["id"]]  # (bh, bw, 64) zigzag order
        bh, bw = arr.shape[:2]
        nat = np.zeros((bh, bw, 64), np.float64)
        nat[:, :, zz] = arr  # zigzag -> natural
        blocks = nat.reshape(bh, bw, 8, 8) * qt[c["tq"]][None, None].astype(
            np.float64
        )
        # broadcast matmul = the same per-block GEMM the baseline path runs,
        # so both decoders produce bitwise-identical floats
        f = C.T @ blocks @ C
        planes[c["id"]] = f.transpose(0, 2, 1, 3).reshape(bh * 8, bw * 8)
    return _jpeg_finish(planes, comps, hmax, vmax, fw, fh)


class _JpegBitWriter:
    """MSB-first entropy writer with 0xFF -> 0xFF00 byte stuffing."""

    def __init__(self):
        self.out = bytearray()
        self.acc, self.nbits = 0, 0

    def bits(self, code: int, n: int):
        self.acc = (self.acc << n) | (code & ((1 << n) - 1))
        self.nbits += n
        while self.nbits >= 8:
            b = (self.acc >> (self.nbits - 8)) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)
            self.nbits -= 8
        self.acc &= (1 << self.nbits) - 1

    def flush(self):
        if self.nbits:
            pad = 8 - self.nbits
            self.bits((1 << pad) - 1, pad)  # pad with 1-bits (T.81 F.1.2.3)


def jpeg_encode(
    pixels, quality: int = 90, subsample: bool = False, restart_interval: int = 0
) -> bytes:
    """REAL pure-numpy baseline JPEG encoder — the write half of
    :func:`jpeg_pixels`.

    Takes ``(h, w)`` grayscale or ``(h, w, 3)`` RGB uint8; emits a
    standard JFIF baseline stream: Annex-K quantization tables scaled by
    ``quality`` (libjpeg's 50/quality convention), Annex-K Huffman tables
    (written to DHT — the decoder re-derives them from the stream, not
    from shared constants), FDCT via the orthonormal basis matrix, zigzag
    run-length entropy coding with byte stuffing.  ``subsample=True``
    encodes 4:2:0 chroma (mean-pooled), exercising the decoder's
    multi-block MCU + upsampling path.

    JPEG is lossy in general, but at ``quality=100`` every quant step
    clips to 1, a flat 8x8 block has zero AC energy, and its DC is an
    exact integer multiple of the step — so block-flat images round-trip
    BIT-exactly (gray and RGB 4:4:4) — the property the oracle-gated
    round-trip query pins.  ``restart_interval=N`` emits DRI + RSTn
    markers every N MCUs (predictor reset, byte realign), exercising the
    decoder's resync path.
    """
    import struct

    import numpy as np

    arr = np.asarray(pixels, dtype=np.uint8)
    gray = arr.ndim == 2 or (arr.ndim == 3 and arr.shape[2] == 1)
    if arr.ndim == 3 and arr.shape[2] == 1:
        arr = arr[:, :, 0]
    if not gray and (arr.ndim != 3 or arr.shape[2] != 3):
        raise ValueError("jpeg_encode expects (h, w) gray or (h, w, 3) RGB")
    h, w = arr.shape[:2]
    if h == 0 or w == 0:
        raise ValueError("jpeg_encode: zero dimension")
    if not 1 <= quality <= 100:
        raise ValueError("quality must be in 1..100")

    scale = 5000 // quality if quality < 50 else 200 - 2 * quality

    def scaled(table):
        q = (np.array(table, np.int64) * scale + 50) // 100
        return np.clip(q, 1, 255).astype(np.int32).reshape(8, 8)

    qluma = scaled(_JPEG_QT_LUMA)
    qchroma = scaled(_JPEG_QT_CHROMA)
    C = _jpeg_dct_matrix()

    if gray:
        planes = [arr.astype(np.float64) - 128.0]
        qts, comps = [qluma], [(1, 1, 1, 0)]  # id, h, v, tq
    else:
        rgb = arr.astype(np.float64)
        y = 0.299 * rgb[..., 0] + 0.587 * rgb[..., 1] + 0.114 * rgb[..., 2]
        cb = -0.168736 * rgb[..., 0] - 0.331264 * rgb[..., 1] + 0.5 * rgb[..., 2] + 128
        cr = 0.5 * rgb[..., 0] - 0.418688 * rgb[..., 1] - 0.081312 * rgb[..., 2] + 128
        planes = [y - 128.0, cb - 128.0, cr - 128.0]
        qts = [qluma, qchroma, qchroma]
        if subsample:
            comps = [(1, 2, 2, 0), (2, 1, 1, 1), (3, 1, 1, 1)]
        else:
            comps = [(1, 1, 1, 0), (2, 1, 1, 1), (3, 1, 1, 1)]

    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux, mcuy = -(-w // (8 * hmax)), -(-h // (8 * vmax))

    def pad_to(p, ph, pw):
        py, px = p.shape
        return np.pad(p, ((0, ph - py), (0, pw - px)), mode="edge")

    plane_data = []
    for (cid, ch, cv, tq), p in zip(comps, planes):
        if ch < hmax or cv < vmax:  # mean-pool subsample
            p = pad_to(p, -(-p.shape[0] // 2) * 2, -(-p.shape[1] // 2) * 2)
            p = (p[0::2, 0::2] + p[1::2, 0::2] + p[0::2, 1::2] + p[1::2, 1::2]) / 4.0
        plane_data.append(pad_to(p, mcuy * cv * 8, mcux * ch * 8))

    dc_specs = [_JPEG_HUFF_DC_LUMA, _JPEG_HUFF_DC_CHROMA]
    ac_specs = [_JPEG_HUFF_AC_LUMA, _JPEG_HUFF_AC_CHROMA]
    dc_codes = [_jpeg_huffman_codes(*s) for s in dc_specs]
    ac_codes = [_jpeg_huffman_codes(*s) for s in ac_specs]

    def category(v: int) -> int:
        return int(v).bit_length() if v > 0 else int(-v).bit_length()

    writer = _JpegBitWriter()
    pred = {c[0]: 0 for c in comps}
    zz = np.array(_JPEG_ZIGZAG)
    mcu_count = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                writer.flush()
                writer.out += bytes([0xFF, 0xD0 + (mcu_count // restart_interval - 1) % 8])
                pred = {c[0]: 0 for c in comps}
            mcu_count += 1
            for (cid, ch, cv, tq), p in zip(comps, plane_data):
                tbl = 0 if tq == 0 else 1
                for by in range(cv):
                    for bx in range(ch):
                        y0, x0 = (my * cv + by) * 8, (mx * ch + bx) * 8
                        block = p[y0 : y0 + 8, x0 : x0 + 8]
                        F = C @ block @ C.T
                        q = np.rint(F / qts[tq]).astype(np.int64)
                        coeffs = q.reshape(64)[zz]  # zigzag order
                        diff = int(coeffs[0]) - pred[cid]
                        pred[cid] = int(coeffs[0])
                        t = category(diff)
                        code, ln = dc_codes[tbl][t]
                        writer.bits(code, ln)
                        if t:
                            writer.bits(diff if diff > 0 else diff + (1 << t) - 1, t)
                        run = 0
                        last = 63
                        while last > 0 and coeffs[last] == 0:
                            last -= 1
                        for k in range(1, last + 1):
                            v = int(coeffs[k])
                            if v == 0:
                                run += 1
                                continue
                            while run > 15:
                                code, ln = ac_codes[tbl][0xF0]  # ZRL
                                writer.bits(code, ln)
                                run -= 16
                            s = category(v)
                            code, ln = ac_codes[tbl][(run << 4) | s]
                            writer.bits(code, ln)
                            writer.bits(v if v > 0 else v + (1 << s) - 1, s)
                            run = 0
                        if last < 63:
                            code, ln = ac_codes[tbl][0x00]  # EOB
                            writer.bits(code, ln)
    writer.flush()

    def seg(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    out = bytearray(b"\xff\xd8")
    out += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    zz_inv = np.empty(64, np.int32)
    for nat, z in enumerate(_JPEG_ZIGZAG):
        zz_inv[nat] = z
    for tq, q in enumerate([qluma] + ([qchroma] if not gray else [])):
        zzq = q.reshape(64)[np.array(_JPEG_ZIGZAG)]
        out += seg(0xDB, bytes([tq]) + bytes(int(v) for v in zzq))
    ncomp = 1 if gray else 3
    sof = struct.pack(">BHHB", 8, h, w, ncomp)
    for cid, ch, cv, tq in comps:
        sof += bytes([cid, (ch << 4) | cv, tq])
    out += seg(0xC0, sof)
    for tc, specs in ((0, dc_specs), (1, ac_specs)):
        for th, (bits, values) in enumerate(specs[: 1 if gray else 2]):
            out += seg(0xC4, bytes([(tc << 4) | th]) + bytes(bits) + bytes(values))
    if restart_interval:
        out += seg(0xDD, struct.pack(">H", restart_interval))
    sos = bytes([ncomp])
    for cid, ch, cv, tq in comps:
        tbl = 0 if tq == 0 else 1
        sos += bytes([cid, (tbl << 4) | tbl])
    sos += bytes([0, 63, 0])
    out += seg(0xDA, sos)
    out += writer.out
    out += b"\xff\xd9"
    return bytes(out)


def _jpeg_quantized_blocks(pixels, quality: int, subsample: bool):
    """Shared front half of JPEG encoding: color convert, subsample, pad,
    FDCT, quantize — returning per-component zigzag-order coefficient
    arrays ``(bh, bw, 64)`` plus the frame layout, so entropy coding
    (baseline single-scan or progressive multi-scan) is a pure function
    of the same coefficients."""
    import numpy as np

    arr = np.asarray(pixels, dtype=np.uint8)
    gray = arr.ndim == 2 or (arr.ndim == 3 and arr.shape[2] == 1)
    if arr.ndim == 3 and arr.shape[2] == 1:
        arr = arr[:, :, 0]
    if not gray and (arr.ndim != 3 or arr.shape[2] != 3):
        raise ValueError("jpeg encode expects (h, w) gray or (h, w, 3) RGB")
    h, w = arr.shape[:2]
    if h == 0 or w == 0:
        raise ValueError("jpeg encode: zero dimension")
    if not 1 <= quality <= 100:
        raise ValueError("quality must be in 1..100")

    scale = 5000 // quality if quality < 50 else 200 - 2 * quality

    def scaled(table):
        q = (np.array(table, np.int64) * scale + 50) // 100
        return np.clip(q, 1, 255).astype(np.int32).reshape(8, 8)

    qluma, qchroma = scaled(_JPEG_QT_LUMA), scaled(_JPEG_QT_CHROMA)
    C = _jpeg_dct_matrix()

    if gray:
        planes = [arr.astype(np.float64) - 128.0]
        qts, comps = [qluma], [(1, 1, 1, 0)]  # id, h, v, tq
    else:
        rgb = arr.astype(np.float64)
        y = 0.299 * rgb[..., 0] + 0.587 * rgb[..., 1] + 0.114 * rgb[..., 2]
        cb = -0.168736 * rgb[..., 0] - 0.331264 * rgb[..., 1] + 0.5 * rgb[..., 2] + 128
        cr = 0.5 * rgb[..., 0] - 0.418688 * rgb[..., 1] - 0.081312 * rgb[..., 2] + 128
        planes = [y - 128.0, cb - 128.0, cr - 128.0]
        qts = [qluma, qchroma, qchroma]
        if subsample:
            comps = [(1, 2, 2, 0), (2, 1, 1, 1), (3, 1, 1, 1)]
        else:
            comps = [(1, 1, 1, 0), (2, 1, 1, 1), (3, 1, 1, 1)]

    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux, mcuy = -(-w // (8 * hmax)), -(-h // (8 * vmax))

    def pad_to(p, ph, pw):
        py, px = p.shape
        return np.pad(p, ((0, ph - py), (0, pw - px)), mode="edge")

    zz = np.asarray(_JPEG_ZIGZAG)
    coeff = {}
    for (cid, ch, cv, tq), p in zip(comps, planes):
        if ch < hmax or cv < vmax:  # mean-pool subsample
            p = pad_to(p, -(-p.shape[0] // 2) * 2, -(-p.shape[1] // 2) * 2)
            p = (p[0::2, 0::2] + p[1::2, 0::2] + p[0::2, 1::2] + p[1::2, 1::2]) / 4.0
        p = pad_to(p, mcuy * cv * 8, mcux * ch * 8)
        bh, bw = p.shape[0] // 8, p.shape[1] // 8
        blocks = p.reshape(bh, 8, bw, 8).transpose(0, 2, 1, 3)
        fdct = C @ blocks @ C.T  # broadcast GEMM == jpeg_encode's per-block math
        qnat = np.rint(fdct / qts[tq][None, None]).astype(np.int64)
        coeff[cid] = qnat.reshape(bh, bw, 64)[:, :, zz]  # natural -> zigzag
    return comps, qts, coeff, (h, w, gray)


def jpeg_encode_progressive(pixels, quality: int = 90, subsample: bool = False) -> bytes:
    """REAL pure-numpy PROGRESSIVE JPEG encoder (SOF2) — the write half of
    the progressive decode path, using libjpeg's standard 10-scan script
    (6 scans for grayscale): an Al=1 DC scan, spectral-selection AC first
    passes at coarse precision, then successive-approximation refinement
    passes (DC Ah=1 and AC Ah=2->1->0) ending at full precision, with real
    EOB-run coding across blocks.  The quantized coefficients are shared
    with :func:`jpeg_encode` (same ``_jpeg_quantized_blocks`` front half),
    so once every scan lands the decoded image is IDENTICAL to decoding
    the baseline encoding of the same pixels — pinned in
    test_multimodal.

    Per-scan Huffman tables are emitted as flat 8-bit canonical codes over
    exactly the symbols the scan uses (a dry collection pass, then the
    write pass) — simple, always valid (<= 255 symbols), and it keeps
    EOBn symbols legal where the Annex-K baseline tables lack them."""
    import struct

    comps, qts, coeff, (h, w, gray) = _jpeg_quantized_blocks(
        pixels, quality, subsample
    )
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux, mcuy = -(-w // (8 * hmax)), -(-h // (8 * vmax))

    # (kind, component indexes, Ss, Se, Ah, Al) — jcparam.c's standard script
    if gray:
        script = [
            ("dc", [0], 0, 0, 0, 1),
            ("ac", [0], 1, 5, 0, 2),
            ("ac", [0], 6, 63, 0, 2),
            ("ac", [0], 1, 63, 2, 1),
            ("dc", [0], 0, 0, 1, 0),
            ("ac", [0], 1, 63, 1, 0),
        ]
    else:
        script = [
            ("dc", [0, 1, 2], 0, 0, 0, 1),
            ("ac", [0], 1, 5, 0, 2),
            ("ac", [2], 1, 63, 0, 1),
            ("ac", [1], 1, 63, 0, 1),
            ("ac", [0], 6, 63, 0, 2),
            ("ac", [0], 1, 63, 2, 1),
            ("dc", [0, 1, 2], 0, 0, 1, 0),
            ("ac", [2], 1, 63, 1, 0),
            ("ac", [1], 1, 63, 1, 0),
            ("ac", [0], 1, 63, 1, 0),
        ]

    def comp_blocks(ci):
        cid, ch, cv, _tq = comps[ci]
        bw = -(-(-(-w * ch // hmax)) // 8)
        bh = -(-(-(-h * cv // vmax)) // 8)
        return cid, bh, bw

    def dc_scan_symbols_and_bits(idxs, ah, al, sink):
        """Run one DC scan, feeding (symbol, (value, nbits)...) to sink."""
        if ah == 0:
            pred = {comps[ci][0]: 0 for ci in idxs}
        if len(idxs) == 1:
            cid, bh, bw = comp_blocks(idxs[0])
            order = [(idxs[0], by, bx) for by in range(bh) for bx in range(bw)]
        else:
            order = []
            for my in range(mcuy):
                for mx in range(mcux):
                    for ci in idxs:
                        _cid, ch, cv, _tq = comps[ci]
                        for by in range(cv):
                            for bx in range(ch):
                                order.append((ci, my * cv + by, mx * ch + bx))
        for ci, by, bx in order:
            cid = comps[ci][0]
            v = int(coeff[cid][by, bx, 0]) >> al  # arithmetic shift (T.81 DC)
            if ah == 0:
                diff = v - pred[cid]
                pred[cid] = v
                t = diff.bit_length() if diff > 0 else (-diff).bit_length()
                sink.symbol(ci, t)
                if t:
                    sink.bits(diff if diff > 0 else diff + (1 << t) - 1, t)
            else:
                sink.bits(v & 1, 1)

    def ac_scan_symbols_and_bits(ci, ss, se, ah, al, sink):
        cid, bh, bw = comp_blocks(ci)
        eobrun = 0
        pending: list[int] = []  # correction bits buffered through EOB runs

        def flush_eobrun():
            nonlocal eobrun
            if eobrun:
                r = eobrun.bit_length() - 1
                sink.symbol(ci, r << 4)
                if r:
                    sink.bits(eobrun - (1 << r), r)
                eobrun = 0
            for b in pending:
                sink.bits(b, 1)
            pending.clear()

        for by in range(bh):
            for bx in range(bw):
                blk = coeff[cid][by, bx]
                if ah == 0:  # first pass over this band
                    vals = []
                    for k in range(ss, se + 1):
                        v = int(blk[k])
                        vals.append(-((-v) >> al) if v < 0 else v >> al)
                    last = -1
                    for i, v in enumerate(vals):
                        if v:
                            last = i
                    if last < 0:
                        eobrun += 1
                        if eobrun == 0x7FFF:
                            flush_eobrun()
                        continue
                    flush_eobrun()
                    run = 0
                    for i in range(last + 1):
                        v = vals[i]
                        if v == 0:
                            run += 1
                            continue
                        while run > 15:
                            sink.symbol(ci, 0xF0)  # ZRL
                            run -= 16
                        s = v.bit_length() if v > 0 else (-v).bit_length()
                        sink.symbol(ci, (run << 4) | s)
                        sink.bits(v if v > 0 else v + (1 << s) - 1, s)
                        run = 0
                    if last < se - ss:
                        eobrun += 1
                        if eobrun == 0x7FFF:
                            flush_eobrun()
                else:  # refinement pass (jcphuff.c encode_mcu_AC_refine)
                    bit = 1 << al
                    absv = [abs(int(blk[k])) >> al for k in range(ss, se + 1)]
                    eob_i = -1
                    for i, t in enumerate(absv):
                        if t == 1:
                            eob_i = i
                    r = 0
                    br: list[int] = []
                    for i, t in enumerate(absv):
                        if t == 0:
                            r += 1
                            continue
                        while r > 15 and i <= eob_i:
                            flush_eobrun()
                            sink.symbol(ci, 0xF0)
                            r -= 16
                            for b in br:
                                sink.bits(b, 1)
                            br = []
                        if t > 1:  # already significant: buffer correction bit
                            br.append(t & 1)
                            continue
                        flush_eobrun()
                        sink.symbol(ci, (r << 4) | 1)
                        sink.bits(1 if int(blk[ss + i]) > 0 else 0, 1)
                        for b in br:
                            sink.bits(b, 1)
                        br = []
                        r = 0
                    if r > 0 or br:
                        eobrun += 1
                        pending.extend(br)
                        if eobrun == 0x7FFF:
                            flush_eobrun()
        flush_eobrun()

    class _Collect:
        def __init__(self):
            self.syms: dict[int, set] = {}

        def symbol(self, ci, s):
            self.syms.setdefault(ci, set()).add(s)

        def bits(self, v, n):
            pass

    class _Emit:
        def __init__(self, writer, codes):
            self.w, self.codes = writer, codes

        def symbol(self, ci, s):
            code, ln = self.codes[ci][s]
            self.w.bits(code, ln)

        def bits(self, v, n):
            self.w.bits(v, n)

    def seg(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    import numpy as np

    out = bytearray(b"\xff\xd8")
    out += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    zz = np.asarray(_JPEG_ZIGZAG)
    for tq, q in enumerate(qts[: 1 if gray else 2]):
        zzq = q.reshape(64)[zz]
        out += seg(0xDB, bytes([tq]) + bytes(int(v) for v in zzq))
    ncomp = 1 if gray else 3
    sof = struct.pack(">BHHB", 8, h, w, ncomp)
    for cid, ch, cv, tq in comps:
        sof += bytes([cid, (ch << 4) | cv, tq])
    out += seg(0xC2, sof)  # SOF2: progressive

    for kind, idxs, ss, se, ah, al in script:
        run = (
            (lambda s: dc_scan_symbols_and_bits(idxs, ah, al, s))
            if kind == "dc"
            else (lambda s: ac_scan_symbols_and_bits(idxs[0], ss, se, ah, al, s))
        )
        needs_table = not (kind == "dc" and ah > 0)  # DC refine is table-free
        codes: dict = {}
        if needs_table:
            col = _Collect()
            run(col)
            tc = 0 if kind == "dc" else 1
            # components sharing a table slot (Cb+Cr on th=1) merge symbols
            by_th: dict[int, set] = {}
            for ci in idxs:
                th = 0 if ci == 0 else 1
                by_th.setdefault(th, set()).update(col.syms.get(ci, {0}))
            th_codes = {}
            for th, symset in by_th.items():
                values = sorted(symset)
                if len(values) > 255:
                    raise ValueError("progressive scan exceeds flat-code table")
                bits16 = [0] * 16
                bits16[7] = len(values)  # all codes length 8, canonical
                out += seg(
                    0xC4, bytes([(tc << 4) | th]) + bytes(bits16) + bytes(values)
                )
                th_codes[th] = {v: (i, 8) for i, v in enumerate(values)}
            for ci in idxs:
                codes[ci] = th_codes[0 if ci == 0 else 1]
        sos = bytes([len(idxs)])
        for ci in idxs:
            th = 0 if ci == 0 else 1
            tsel = (th << 4) if kind == "dc" else th
            sos += bytes([comps[ci][0], tsel])
        sos += bytes([ss, se, (ah << 4) | al])
        out += seg(0xDA, sos)
        writer = _JpegBitWriter()
        run(_Emit(writer, codes))
        writer.flush()
        out += writer.out
    out += b"\xff\xd9"
    return bytes(out)


_GIF_SIGS = (b"GIF87a", b"GIF89a")


@_decode_errors
def gif_decode(payload: bytes) -> dict:
    """REAL GIF header decoder — pure stdlib: logical screen descriptor
    (width, height), version, global-color-table presence/size.  Raises
    ``ValueError`` for non-GIF bytes."""
    import struct

    if len(payload) < 13 or payload[:6] not in _GIF_SIGS:
        raise ValueError("not a GIF payload")
    w, h, packed, _bg, _aspect = struct.unpack_from("<HHBBB", payload, 6)
    if w == 0 or h == 0:
        raise ValueError("GIF with zero dimension")
    return {
        "media_type": "image",
        "format": "gif",
        "version": payload[3:6].decode("ascii"),
        "width": int(w),
        "height": int(h),
        "has_gct": bool(packed & 0x80),
        "gct_size": 2 << (packed & 0x07) if packed & 0x80 else 0,
    }


def _gif_lzw_decompress(data: bytes, min_code_size: int) -> list:
    """GIF-flavor LZW: variable-width codes LSB-first, CLEAR/EOI codes,
    dictionary capped at 12 bits.  Returns the palette-index stream."""
    clear, eoi = 1 << min_code_size, (1 << min_code_size) + 1

    def fresh():
        return {i: (i,) for i in range(clear)}

    table = fresh()
    code_size = min_code_size + 1
    next_code = eoi + 1
    out: list = []
    prev = None
    acc = nbits = 0
    for byte in data:
        acc |= byte << nbits
        nbits += 8
        while nbits >= code_size:
            code = acc & ((1 << code_size) - 1)
            acc >>= code_size
            nbits -= code_size
            if code == clear:
                table, code_size, next_code, prev = fresh(), min_code_size + 1, eoi + 1, None
                continue
            if code == eoi:
                return out
            if prev is None:
                entry = table[code]
            elif code in table:
                entry = table[code]
                if next_code < 4096:  # 12-bit cap: table freezes when full
                    table[next_code] = prev + (entry[0],)
                    next_code += 1
            elif code == next_code and next_code < 4096:  # the KwKwK case
                entry = prev + (prev[0],)
                table[next_code] = entry
                next_code += 1
            else:
                raise ValueError("corrupt GIF LZW stream: code out of range")
            out.extend(entry)
            prev = entry
            if next_code == (1 << code_size) and code_size < 12:
                code_size += 1
    raise ValueError("GIF LZW stream ended without EOI")


@_decode_errors
def gif_pixels(payload: bytes):
    """Decode the first frame of a GIF to ``(h, w, 3)`` uint8 RGB — REAL
    LZW decompression with zero codec libraries.  Supports global or local
    color tables, skips extension blocks; Adam-style interlaced frames
    raise ``ValueError`` (decode errors are data, not job failures)."""
    import struct

    import numpy as np

    meta = gif_decode(payload)
    pos = 13
    palette = None
    if meta["has_gct"]:
        n = meta["gct_size"] * 3
        palette = np.frombuffer(payload, np.uint8, n, pos).reshape(-1, 3)
        pos += n
    while pos < len(payload):
        block = payload[pos]
        if block == 0x21:  # extension: label + length-prefixed sub-blocks
            pos += 2
            while payload[pos] != 0:
                pos += 1 + payload[pos]
            pos += 1
        elif block == 0x2C:  # image descriptor
            _left, _top, w, h, packed = struct.unpack_from("<HHHHB", payload, pos + 1)
            pos += 10
            if packed & 0x40:
                raise ValueError("gif_pixels does not support interlaced frames")
            if packed & 0x80:  # local color table wins
                n = (2 << (packed & 0x07)) * 3
                palette = np.frombuffer(payload, np.uint8, n, pos).reshape(-1, 3)
                pos += n
            if palette is None:
                raise ValueError("GIF frame without any color table")
            min_code_size = payload[pos]
            pos += 1
            chunks = []
            while payload[pos] != 0:
                ln = payload[pos]
                chunks.append(payload[pos + 1 : pos + 1 + ln])
                pos += 1 + ln
            indices = _gif_lzw_decompress(b"".join(chunks), min_code_size)
            if len(indices) < w * h:
                raise ValueError("GIF pixel data shorter than frame implies")
            idx = np.array(indices[: w * h], dtype=np.int32)
            if idx.max(initial=0) >= len(palette):
                raise ValueError("GIF index outside color table")
            return palette[idx].reshape(h, w, 3)
        elif block == 0x3B:  # trailer
            break
        else:
            raise ValueError(f"unknown GIF block 0x{block:02x}")
    raise ValueError("GIF contains no image frame")


def gif_encode(pixels, version: bytes = b"GIF89a") -> bytes:
    """REAL pure-stdlib GIF encoder — the write half of :func:`gif_pixels`.

    Takes ``(h, w, 3)`` uint8 RGB with at most 256 distinct colors, builds
    the palette from the image, and emits a single-frame non-interlaced
    GIF with true dictionary LZW compression (CLEAR on table overflow,
    variable-width codes LSB-first) — not the emit-clear-per-symbol
    shortcut, so an encode->decode round trip exercises the decoder's
    dictionary growth and the KwKwK corner for real.
    """
    import struct

    import numpy as np

    arr = np.asarray(pixels, dtype=np.uint8)
    if arr.ndim != 3 or arr.shape[2] != 3:
        raise ValueError("gif_encode expects (h, w, 3) uint8 RGB")
    h, w = arr.shape[:2]
    if h == 0 or w == 0:
        raise ValueError("gif_encode: zero dimension")
    flat = arr.reshape(-1, 3)
    colors, inverse = np.unique(flat, axis=0, return_inverse=True)
    if len(colors) > 256:
        raise ValueError("gif_encode: more than 256 distinct colors")
    depth = max(2, int(len(colors) - 1).bit_length())  # GIF minimum is 2
    table_n = 1 << depth
    palette = np.zeros((table_n, 3), dtype=np.uint8)
    palette[: len(colors)] = colors

    min_code_size = depth
    clear, eoi = 1 << depth, (1 << depth) + 1
    codes, bits = [], []

    def emit(code: int, size: int):
        codes.append((code, size))

    table = {(i,): i for i in range(clear)}
    code_size = min_code_size + 1
    next_code = eoi + 1
    emit(clear, code_size)
    prev: tuple = ()
    for sym in inverse.tolist():
        cand = prev + (sym,)
        if cand in table:
            prev = cand
            continue
        emit(table[prev], code_size)
        if next_code < 4096:
            table[cand] = next_code
            next_code += 1
            # the encoder's counter leads the decoder's by one add, so it
            # widens at 2^n + 1 where the decoder widens at 2^n — the two
            # then switch width at the same code position
            if next_code == (1 << code_size) + 1 and code_size < 12:
                code_size += 1
        else:  # table full: decoder's table froze too — reset both
            emit(clear, code_size)
            table = {(i,): i for i in range(clear)}
            code_size, next_code = min_code_size + 1, eoi + 1
        prev = (sym,)
    if prev:
        emit(table[prev], code_size)
        # Mirror the decoder's phantom add on this FINAL code: the decoder
        # inserts a table entry for every code after the first since CLEAR
        # and widens when its counter hits 2^code_size, even though the
        # encoder has nothing left to add.  If the encoder's counter sits
        # exactly at 2^code_size here (it widens at 2^n + 1, one add ahead),
        # the decoder's phantom add lands on the boundary and it reads EOI
        # at the widened size — so EOI must be emitted wide to match.
        # (next_code == eoi + 1 means this was the first code since CLEAR:
        # the decoder's prev is None there and it adds nothing.)
        if next_code > eoi + 1 and next_code == (1 << code_size) and code_size < 12:
            code_size += 1
    emit(eoi, code_size)

    acc = nbits = 0
    out = bytearray()
    for code, size in codes:
        acc |= code << nbits
        nbits += size
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
    if nbits:
        out.append(acc & 0xFF)

    blocks = bytearray()
    for i in range(0, len(out), 255):
        chunk = out[i : i + 255]
        blocks.append(len(chunk))
        blocks.extend(chunk)
    blocks.append(0)

    header = version + struct.pack("<HHBBB", w, h, 0x80 | (depth - 1), 0, 0)
    descriptor = b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0)
    return (
        header
        + palette.tobytes()
        + descriptor
        + bytes([min_code_size])
        + bytes(blocks)
        + b"\x3b"
    )


# ---------------------------------------------------------------------------
# WebP lossless (VP8L) — REAL pure-numpy codec
# ---------------------------------------------------------------------------
# Decoder implements the VP8L bitstream from the public spec: canonical
# prefix codes (simple + code-length-coded forms), LZ77 backward references
# with the 120-entry neighbor distance map, color cache, meta-prefix tiles,
# and all four inverse transforms (predictor x14, cross-color,
# subtract-green, color-indexing incl. pixel bundling).  The encoder emits
# the simplest legal stream (no transforms, no cache, literal-only, one
# prefix group) — enough for bit-exact round trips through the full
# prefix-code machinery.

#: order in which code-length code lengths are stored (VP8L spec)
_VP8L_CL_ORDER = [17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15]

#: (dx, dy) neighbor map for distance codes 1..120 (VP8L spec order)
_VP8L_DIST_MAP = [
    (0, 1), (1, 0), (1, 1), (-1, 1), (0, 2), (2, 0), (1, 2), (-1, 2),
    (2, 1), (-2, 1), (2, 2), (-2, 2), (0, 3), (3, 0), (1, 3), (-1, 3),
    (3, 1), (-3, 1), (2, 3), (-2, 3), (3, 2), (-3, 2), (0, 4), (4, 0),
    (1, 4), (-1, 4), (4, 1), (-4, 1), (3, 3), (-3, 3), (2, 4), (-2, 4),
    (4, 2), (-4, 2), (0, 5), (3, 4), (-3, 4), (4, 3), (-4, 3), (5, 0),
    (1, 5), (-1, 5), (5, 1), (-5, 1), (2, 5), (-2, 5), (5, 2), (-5, 2),
    (4, 4), (-4, 4), (3, 5), (-3, 5), (5, 3), (-5, 3), (0, 6), (6, 0),
    (1, 6), (-1, 6), (6, 1), (-6, 1), (2, 6), (-2, 6), (6, 2), (-6, 2),
    (4, 5), (-4, 5), (5, 4), (-5, 4), (3, 6), (-3, 6), (6, 3), (-6, 3),
    (0, 7), (7, 0), (1, 7), (-1, 7), (5, 5), (-5, 5), (7, 1), (-7, 1),
    (4, 6), (-4, 6), (6, 4), (-6, 4), (2, 7), (-2, 7), (7, 2), (-7, 2),
    (3, 7), (-3, 7), (7, 3), (-7, 3), (5, 6), (-5, 6), (6, 5), (-6, 5),
    (8, 0), (4, 7), (-4, 7), (7, 4), (-7, 4), (8, 1), (8, 2), (6, 6),
    (-6, 6), (8, 3), (5, 7), (-5, 7), (7, 5), (-7, 5), (8, 4), (6, 7),
    (-6, 7), (7, 6), (-7, 6), (8, 5), (7, 7), (-7, 7), (8, 6), (8, 7),
]


class _Vp8lBitReader:
    """LSB-first bit reader over the VP8L payload."""

    def __init__(self, data: bytes):
        self.data, self.pos = data, 0
        self.acc, self.nbits = 0, 0

    def bits(self, n: int) -> int:
        while self.nbits < n:
            b = self.data[self.pos] if self.pos < len(self.data) else 0
            self.pos += 1
            self.acc |= b << self.nbits
            self.nbits += 8
        v = self.acc & ((1 << n) - 1)
        self.acc >>= n
        self.nbits -= n
        return v


class _PrefixCode:
    """Canonical prefix decoder: codes assigned DEFLATE-style (ascending
    (length, symbol)), bits consumed MSB-of-code first.  A single-symbol
    code consumes zero bits."""

    def __init__(self, lengths: dict):
        nz = {s: ln for s, ln in lengths.items() if ln > 0}
        if not nz:
            raise ValueError("VP8L prefix code with no symbols")
        if len(nz) == 1:
            self.single = next(iter(nz))
            self.table = None
            return
        self.single = None
        kraft = sum(1 / (1 << ln) for ln in nz.values())
        if abs(kraft - 1.0) > 1e-9:
            raise ValueError("VP8L prefix code violates Kraft equality")
        self.table = {}
        code = 0
        for ln in range(1, 16):
            for sym in sorted(s for s, l in nz.items() if l == ln):
                self.table[(code, ln)] = sym
                code += 1
            code <<= 1

    def read(self, br: _Vp8lBitReader) -> int:
        if self.single is not None:
            return self.single
        code = 0
        for ln in range(1, 16):
            code = (code << 1) | br.bits(1)
            if (code, ln) in self.table:
                return self.table[(code, ln)]
        raise ValueError("corrupt VP8L prefix stream")


def _vp8l_read_prefix_code(br: _Vp8lBitReader, alphabet_size: int) -> _PrefixCode:
    if br.bits(1):  # simple code: 1 or 2 symbols
        num = br.bits(1) + 1
        first = br.bits(8) if br.bits(1) else br.bits(1)
        lengths = {first: 1}
        if num == 2:
            lengths[br.bits(8)] = 1
        else:
            return _PrefixCode({first: 1})
        return _PrefixCode(lengths)
    n_cl = 4 + br.bits(4)
    cl_lengths = {}
    for i in range(n_cl):
        cl_lengths[_VP8L_CL_ORDER[i]] = br.bits(3)
    cl_code = _PrefixCode({s: l for s, l in cl_lengths.items() if l})
    if br.bits(1):  # explicit max_symbol
        length_nbits = 2 + 2 * br.bits(3)
        max_symbol = 2 + br.bits(length_nbits)
    else:
        max_symbol = alphabet_size
    lengths = {}
    prev = 8
    sym = 0
    while sym < alphabet_size and max_symbol > 0:
        max_symbol -= 1
        cl = cl_code.read(br)
        if cl < 16:
            lengths[sym] = cl
            sym += 1
            if cl:
                prev = cl
        elif cl == 16:
            for _ in range(3 + br.bits(2)):
                if sym < alphabet_size:
                    lengths[sym] = prev
                    sym += 1
        elif cl == 17:
            sym += 3 + br.bits(3)
        else:  # 18
            sym += 11 + br.bits(7)
    return _PrefixCode({s: l for s, l in lengths.items() if l})


def _vp8l_prefix_value(code: int, br: _Vp8lBitReader) -> int:
    """LZ77 length/distance prefix coding (VP8L spec)."""
    if code < 4:
        return code + 1
    extra = (code - 2) >> 1
    offset = (2 + (code & 1)) << extra
    return offset + br.bits(extra) + 1


def _vp8l_decode_image(br: _Vp8lBitReader, w: int, h: int, allow_meta: bool):
    """Decode one spatially/entropy-coded VP8L ARGB image of w x h.
    Returns an int64 numpy array of packed ARGB values (length w*h)."""
    import numpy as np

    cache_bits = br.bits(4) if br.bits(1) else 0
    if cache_bits > 11:
        raise ValueError("VP8L color cache too large")
    cache_size = (1 << cache_bits) if cache_bits else 0

    meta = None
    meta_bits = 0
    n_groups = 1
    if allow_meta and br.bits(1):
        meta_bits = br.bits(3) + 2
        tx = -(-w // (1 << meta_bits))
        ty = -(-h // (1 << meta_bits))
        meta_img = _vp8l_decode_image(br, tx, ty, False)
        meta = (((meta_img >> 8) & 0xFFFF)).astype(np.int32)
        n_groups = int(meta.max()) + 1

    groups = []
    for _ in range(n_groups):
        sizes = [256 + 24 + cache_size, 256, 256, 256, 40]
        groups.append([_vp8l_read_prefix_code(br, s) for s in sizes])

    out = np.zeros(w * h, dtype=np.int64)
    cache = [0] * cache_size
    pos = 0
    tiles_x = -(-w // (1 << meta_bits)) if meta is not None else 0
    while pos < w * h:
        x, y = pos % w, pos // w
        if meta is not None:
            g = groups[meta[(y >> meta_bits) * tiles_x + (x >> meta_bits)]]
        else:
            g = groups[0]
        s = g[0].read(br)
        if s < 256:
            red = g[1].read(br)
            blue = g[2].read(br)
            alpha = g[3].read(br)
            px = (alpha << 24) | (red << 16) | (s << 8) | blue
            out[pos] = px
            pos += 1
            if cache_size:
                cache[(0x1E35A7BD * px & 0xFFFFFFFF) >> (32 - cache_bits)] = px
        elif s < 256 + 24:
            length = _vp8l_prefix_value(s - 256, br)
            dist_code = _vp8l_prefix_value(g[4].read(br), br)
            if dist_code > 120:
                dist = dist_code - 120
            else:
                dx, dy = _VP8L_DIST_MAP[dist_code - 1]
                dist = max(1, dy * w + dx)
            if dist > pos or pos + length > w * h:
                raise ValueError("VP8L backward reference out of range")
            for _ in range(length):
                px = int(out[pos - dist])
                out[pos] = px
                pos += 1
                if cache_size:
                    cache[(0x1E35A7BD * px & 0xFFFFFFFF) >> (32 - cache_bits)] = px
        else:
            if not cache_size:
                raise ValueError("VP8L cache reference without color cache")
            px = cache[s - 256 - 24]
            out[pos] = px
            pos += 1
            if cache_size:
                cache[(0x1E35A7BD * px & 0xFFFFFFFF) >> (32 - cache_bits)] = px
    return out


def _px_add(a, b):
    """Per-channel modular add of two packed ARGB ints."""
    s = 0
    for shift in (0, 8, 16, 24):
        s |= (((a >> shift) + (b >> shift)) & 0xFF) << shift
    return s


def _avg_px(a, b):
    s = 0
    for shift in (0, 8, 16, 24):
        s |= ((((a >> shift) & 0xFF) + ((b >> shift) & 0xFF)) // 2) << shift
    return s


def _clamp_add_sub_full(a, b, c):
    s = 0
    for shift in (0, 8, 16, 24):
        v = ((a >> shift) & 0xFF) + ((b >> shift) & 0xFF) - ((c >> shift) & 0xFF)
        s |= max(0, min(255, v)) << shift
    return s


def _clamp_add_sub_half(a, b):
    s = 0
    for shift in (0, 8, 16, 24):
        av, bv = (a >> shift) & 0xFF, (b >> shift) & 0xFF
        v = av + (av - bv) // 2
        s |= max(0, min(255, v)) << shift
    return s


def _select_px(l, t, tl):  # noqa: E741 — spec naming
    p_l = p_t = 0
    for shift in (0, 8, 16, 24):
        pv = ((l >> shift) & 0xFF) + ((t >> shift) & 0xFF) - ((tl >> shift) & 0xFF)
        p_l += abs(pv - ((l >> shift) & 0xFF))
        p_t += abs(pv - ((t >> shift) & 0xFF))
    return l if p_l <= p_t else t


def _vp8l_apply_inverse_transforms(argb, w, h, transforms):
    """Apply inverse transforms in reverse of read order (VP8L spec)."""
    import numpy as np

    for ttype, data in reversed(transforms):
        if ttype == 2:  # subtract green
            g = (argb >> 8) & 0xFF
            r = ((argb >> 16) + g) & 0xFF
            b = (argb + g) & 0xFF
            argb = (argb & 0xFF00FF00) | (r << 16) | b
        elif ttype == 0:  # predictor
            bits, tiles = data
            tiles_x = -(-w // (1 << bits))
            out = argb.copy()
            for pos in range(w * h):
                x, y = pos % w, pos // w
                if pos == 0:
                    pred = 0xFF000000
                elif y == 0:
                    pred = int(out[pos - 1])  # mode 1 (L) forced on row 0
                elif x == 0:
                    pred = int(out[pos - w])  # mode 2 (T) forced on col 0
                else:
                    mode = int(
                        (tiles[(y >> bits) * tiles_x + (x >> bits)] >> 8) & 0xFF
                    )
                    L = int(out[pos - 1])
                    T = int(out[pos - w])
                    TL = int(out[pos - w - 1])
                    TR = int(out[pos - w + 1]) if x + 1 < w else int(out[pos - w])
                    if mode == 0:
                        pred = 0xFF000000
                    elif mode == 1:
                        pred = L
                    elif mode == 2:
                        pred = T
                    elif mode == 3:
                        pred = TR
                    elif mode == 4:
                        pred = TL
                    elif mode == 5:
                        pred = _avg_px(_avg_px(L, TR), T)
                    elif mode == 6:
                        pred = _avg_px(L, TL)
                    elif mode == 7:
                        pred = _avg_px(L, T)
                    elif mode == 8:
                        pred = _avg_px(TL, T)
                    elif mode == 9:
                        pred = _avg_px(T, TR)
                    elif mode == 10:
                        pred = _avg_px(_avg_px(L, TL), _avg_px(T, TR))
                    elif mode == 11:
                        pred = _select_px(L, T, TL)
                    elif mode == 12:
                        pred = _clamp_add_sub_full(L, T, TL)
                    elif mode == 13:
                        pred = _clamp_add_sub_half(_avg_px(L, T), TL)
                    else:
                        raise ValueError(f"bad VP8L predictor mode {mode}")
                out[pos] = _px_add(int(argb[pos]), pred)
            argb = out
        elif ttype == 1:  # cross-color
            bits, tiles = data
            tiles_x = -(-w // (1 << bits))
            out = argb.copy()

            def cdelta(t, c):
                t8 = t - 256 if t >= 128 else t
                c8 = c - 256 if c >= 128 else c
                return (t8 * c8) >> 5

            for pos in range(w * h):
                x, y = pos % w, pos // w
                el = int(tiles[(y >> bits) * tiles_x + (x >> bits)])
                g2r, g2b, r2b = (el >> 16) & 0xFF, (el >> 8) & 0xFF, el & 0xFF
                px = int(out[pos])
                g = (px >> 8) & 0xFF
                r = ((px >> 16) & 0xFF) + cdelta(g2r, g)
                r &= 0xFF
                b = (px & 0xFF) + cdelta(g2b, g) + cdelta(r2b, r)
                b &= 0xFF
                out[pos] = (px & 0xFF00FF00) | (r << 16) | b
            argb = out
        elif ttype == 3:  # color indexing
            palette, packed_w, bundle_bits = data
            if bundle_bits == 0:
                idx = (argb >> 8) & 0xFF
                argb = palette[np.clip(idx, 0, len(palette) - 1)]
            else:
                per = 8 >> bundle_bits  # bits per packed index
                count = 1 << bundle_bits  # indices per green byte
                out = np.zeros(w * h, dtype=np.int64)
                mask = (1 << per) - 1
                for y in range(h):
                    for px_x in range(packed_w):
                        g = int((argb[y * packed_w + px_x] >> 8) & 0xFF)
                        for k in range(count):
                            x = px_x * count + k
                            if x >= w:
                                break
                            i = (g >> (k * per)) & mask
                            out[y * w + x] = palette[min(i, len(palette) - 1)]
                argb = out
        else:
            raise ValueError(f"unknown VP8L transform {ttype}")
    return argb


@_decode_errors
def webp_decode(payload: bytes) -> dict:
    """REAL WebP header decoder — pure stdlib: RIFF walk to the VP8L
    chunk, signature + 14-bit dimensions + alpha hint.  Lossy VP8 and
    extended VP8X raise (lossless only)."""
    import struct

    if len(payload) < 20 or payload[:4] != b"RIFF" or payload[8:12] != b"WEBP":
        raise ValueError("not a WebP payload")
    pos = 12
    while pos + 8 <= len(payload):
        fourcc = payload[pos : pos + 4]
        size = struct.unpack_from("<I", payload, pos + 4)[0]
        if fourcc == b"VP8L":
            body = payload[pos + 8 : pos + 8 + size]
            if not body or body[0] != 0x2F:
                raise ValueError("bad VP8L signature")
            br = _Vp8lBitReader(body[1:])
            w = br.bits(14) + 1
            h = br.bits(14) + 1
            alpha = br.bits(1)
            version = br.bits(3)
            if version != 0:
                raise ValueError("unknown VP8L version")
            return {
                "media_type": "image",
                "format": "webp-lossless",
                "width": w,
                "height": h,
                "has_alpha": bool(alpha),
            }
        if fourcc == b"VP8 ":
            # lossy VP8 keyframe — full RFC 6386 intra decode (round 6)
            from . import vp8 as _vp8

            return _vp8.vp8_decode(payload)
        # VP8X is just the extended-features envelope: keep walking to
        # the inner VP8/VP8L chunk (alpha is handled by the vp8 module)
        pos += 8 + size + (size & 1)
    raise ValueError("WebP without VP8L chunk")


@_decode_errors
def webp_pixels(payload: bytes):
    """Decode a WebP to ``(h, w, 4)`` uint8 RGBA — REAL spec decode with
    zero codec libraries.  Lossless (VP8L): canonical prefix codes, LZ77
    backward references + neighbor distance map, color cache, meta-prefix
    tiles, and all four inverse transforms (14 predictors, cross-color,
    subtract-green, color-indexing with pixel bundling).  Lossy (VP8):
    the full RFC 6386 keyframe intra decoder in ``vp8.py`` (conformance-
    tested bit-exact against libwebp), converted from YUV 4:2:0 with the
    documented point-sampled BT.601 formula."""
    import struct

    import numpy as np

    meta = webp_decode(payload)
    if meta.get("format") == "webp-lossy":
        from . import vp8 as _vp8

        return _vp8.vp8_pixels(payload)
    pos = 12
    body = None
    while pos + 8 <= len(payload):
        fourcc = payload[pos : pos + 4]
        size = struct.unpack_from("<I", payload, pos + 4)[0]
        if fourcc == b"VP8L":
            body = payload[pos + 8 : pos + 8 + size]
            break
        pos += 8 + size + (size & 1)
    br = _Vp8lBitReader(body[1:])
    w = br.bits(14) + 1
    h = br.bits(14) + 1
    br.bits(4)  # alpha hint + version
    return _vp8l_decode_headless(br, w, h)


def _vp8l_decode_headless(br, w: int, h: int):
    """Transforms loop + entropy-coded image + inverse transforms for a
    VP8L stream whose dimensions are known EXTERNALLY — the shared core
    of the VP8L chunk path (dims from the chunk header, above) and the
    ALPH alpha-plane path (dims from VP8X; the alpha bitstream is
    headless by spec).  Returns (h, w, 4) uint8 RGBA."""
    import numpy as np

    transforms = []
    xsize = w
    while br.bits(1):
        ttype = br.bits(2)
        if any(t == ttype for t, _ in transforms):
            raise ValueError("VP8L transform repeated")
        if ttype in (0, 1):
            bits = br.bits(3) + 2
            tx = -(-xsize // (1 << bits))
            ty = -(-h // (1 << bits))
            tiles = _vp8l_decode_image(br, tx, ty, False)
            transforms.append((ttype, (bits, tiles)))
        elif ttype == 2:
            transforms.append((2, None))
        else:  # color indexing
            n_colors = br.bits(8) + 1
            pal_deltas = _vp8l_decode_image(br, n_colors, 1, False)
            palette = np.zeros(n_colors, dtype=np.int64)
            prev = 0
            for i in range(n_colors):
                prev = _px_add(int(pal_deltas[i]), prev)
                palette[i] = prev
            if n_colors <= 2:
                bundle_bits = 3
            elif n_colors <= 4:
                bundle_bits = 2
            elif n_colors <= 16:
                bundle_bits = 1
            else:
                bundle_bits = 0
            packed_w = -(-w // (1 << bundle_bits)) if bundle_bits else w
            transforms.append((3, (palette, packed_w, bundle_bits)))
            xsize = packed_w

    argb = _vp8l_decode_image(br, xsize, h, True)
    argb = _vp8l_apply_inverse_transforms(argb, w, h, transforms)
    a = (argb >> 24) & 0xFF
    r = (argb >> 16) & 0xFF
    g = (argb >> 8) & 0xFF
    b = argb & 0xFF
    rgba = np.stack([r, g, b, a], axis=-1).astype(np.uint8)
    return rgba.reshape(h, w, 4)


class _Vp8lBitWriter:
    """LSB-first bit writer (VP8L packing)."""

    def __init__(self):
        self.out = bytearray()
        self.acc, self.nbits = 0, 0

    def bits(self, value: int, n: int):
        self.acc |= (value & ((1 << n) - 1)) << self.nbits
        self.nbits += n
        while self.nbits >= 8:
            self.out.append(self.acc & 0xFF)
            self.acc >>= 8
            self.nbits -= 8

    def code(self, code: int, length: int):
        """Emit a canonical prefix code MSB-first (DEFLATE convention)."""
        for i in range(length - 1, -1, -1):
            self.bits((code >> i) & 1, 1)

    def flush(self) -> bytes:
        if self.nbits:
            self.out.append(self.acc & 0xFF)
            self.acc, self.nbits = 0, 0
        return bytes(self.out)


def _canonical_lengths(freqs: dict, max_len: int = 15) -> dict:
    """Huffman code lengths from symbol frequencies, depth-limited by a
    Kraft repair pass.  1-symbol histograms get length 1 (simple code)."""
    import heapq

    syms = [s for s, f in freqs.items() if f > 0]
    if not syms:
        raise ValueError("empty histogram")
    if len(syms) == 1:
        return {syms[0]: 1}
    heap = [(f, i, (s,)) for i, (s, f) in enumerate(freqs.items()) if f > 0]
    heapq.heapify(heap)
    depth = {s: 0 for s in syms}
    i = len(heap)
    while len(heap) > 1:
        f1, _, s1 = heapq.heappop(heap)
        f2, _, s2 = heapq.heappop(heap)
        for s in s1 + s2:
            depth[s] += 1
        heapq.heappush(heap, (f1 + f2, i, s1 + s2))
        i += 1
    if max(depth.values()) > max_len:
        # flatten: sort by depth, clamp, then repair Kraft by deepening
        # the least-frequent symbols
        for s in depth:
            depth[s] = min(depth[s], max_len)
        order = sorted(syms, key=lambda s: (-depth[s], freqs[s]))
        k = sum(1 / (1 << depth[s]) for s in syms)
        idx = 0
        while k > 1.0 + 1e-12:
            s = order[idx % len(order)]
            if depth[s] < max_len:
                k -= 1 / (1 << depth[s]) - 1 / (1 << (depth[s] + 1))
                depth[s] += 1
            idx += 1
    return depth


def _canonical_codes(lengths: dict) -> dict:
    out, code = {}, 0
    for ln in range(1, 16):
        for sym in sorted(s for s, l in lengths.items() if l == ln):
            out[sym] = (code, ln)
            code += 1
        code <<= 1
    return out


def _vp8l_write_prefix_code(bw: _Vp8lBitWriter, lengths: dict, alphabet: int):
    """Emit one prefix code: simple form for <=2 symbols, else the
    code-length-coded form (no repeat codes — correctness over density)."""
    nz = sorted((s for s, l in lengths.items() if l), key=lambda s: s)
    if len(nz) <= 2 and all(lengths[s] == 1 for s in nz) and max(nz) < 256:
        bw.bits(1, 1)                      # simple
        bw.bits(len(nz) - 1, 1)            # num_symbols - 1
        if len(nz) == 1:
            s = nz[0]
            if s < 2:
                bw.bits(0, 1)              # 1-bit first symbol
                bw.bits(s, 1)
            else:
                bw.bits(1, 1)
                bw.bits(s, 8)
            return
        bw.bits(1, 1)                      # first symbol in 8 bits
        bw.bits(nz[0], 8)
        bw.bits(nz[1], 8)
        return
    bw.bits(0, 1)                          # normal form
    max_sym = max(nz)
    cl_freq = {}
    for s in range(max_sym + 1):
        cl_freq[lengths.get(s, 0)] = cl_freq.get(lengths.get(s, 0), 0) + 1
    cl_lengths = _canonical_lengths(cl_freq, 7)
    # the order prefix must cover every used code-length symbol
    need = [i for i, cl in enumerate(_VP8L_CL_ORDER) if cl in cl_lengths]
    n_cl = max(4, max(need) + 1)
    bw.bits(n_cl - 4, 4)
    for i in range(n_cl):
        bw.bits(cl_lengths.get(_VP8L_CL_ORDER[i], 0), 3)
    cl_codes = _canonical_codes(cl_lengths)
    if len(cl_codes) == 1:
        # degenerate code-length code (all lengths equal): zero-bit reads
        cl_codes = {next(iter(cl_codes)): (0, 0)}
    # explicit max_symbol: emit lengths only up to the last used symbol;
    # the decoder zero-fills the tail
    bw.bits(1, 1)
    k = 0
    while (max_sym + 1) - 2 >= (1 << (2 + 2 * k)):
        k += 1
    bw.bits(k, 3)
    bw.bits((max_sym + 1) - 2, 2 + 2 * k)
    for s in range(max_sym + 1):
        c, ln = cl_codes[lengths.get(s, 0)]
        bw.code(c, ln)


def webp_encode(pixels) -> bytes:
    """REAL pure-numpy lossless WebP (VP8L) encoder — the write half of
    :func:`webp_pixels`.  Emits the simplest legal stream: no transforms,
    no color cache, no meta-prefix, literal-only entropy coding with one
    canonical prefix-code group built from the image's channel
    histograms.  Takes ``(h, w, 3)`` RGB or ``(h, w, 4)`` RGBA uint8."""
    import struct

    import numpy as np

    arr = np.asarray(pixels, dtype=np.uint8)
    if arr.ndim != 3 or arr.shape[2] not in (3, 4):
        raise ValueError("webp_encode expects (h, w, 3|4) uint8 pixels")
    h, w = arr.shape[:2]
    if h == 0 or w == 0 or w > 1 << 14 or h > 1 << 14:
        raise ValueError("webp_encode: bad dimensions")
    if arr.shape[2] == 3:
        alpha = np.full((h, w, 1), 255, np.uint8)
        arr = np.concatenate([arr, alpha], axis=2)
    r = arr[:, :, 0].reshape(-1).astype(np.int64)
    g = arr[:, :, 1].reshape(-1).astype(np.int64)
    b = arr[:, :, 2].reshape(-1).astype(np.int64)
    a = arr[:, :, 3].reshape(-1).astype(np.int64)

    def hist(vals):
        hh = {}
        for v in vals.tolist():
            hh[v] = hh.get(v, 0) + 1
        return hh

    g_l = _canonical_lengths(hist(g))
    r_l = _canonical_lengths(hist(r))
    b_l = _canonical_lengths(hist(b))
    a_l = _canonical_lengths(hist(a))
    d_l = {0: 1}  # distance code never used: 1-symbol simple code

    bw = _Vp8lBitWriter()
    bw.bits(w - 1, 14)
    bw.bits(h - 1, 14)
    bw.bits(0, 1)  # alpha hint (conservative: none)
    bw.bits(0, 3)  # version
    bw.bits(0, 1)  # no transforms... (transform list terminator)
    bw.bits(0, 1)  # no color cache
    bw.bits(0, 1)  # no meta prefix codes
    for lengths, alphabet in (
        (g_l, 256 + 24), (r_l, 256), (b_l, 256), (a_l, 256), (d_l, 40)
    ):
        _vp8l_write_prefix_code(bw, lengths, alphabet)
    def emit_table(lengths):
        # a 1-symbol code is read with ZERO bits (decoder's single-leaf
        # case) — emitting its canonical 1-bit code would desync
        if len(lengths) == 1:
            return {next(iter(lengths)): (0, 0)}
        return _canonical_codes(lengths)

    g_c, r_c, b_c, a_c = map(emit_table, (g_l, r_l, b_l, a_l))
    for i in range(w * h):
        c, ln = g_c[int(g[i])]
        bw.code(c, ln)
        c, ln = r_c[int(r[i])]
        bw.code(c, ln)
        c, ln = b_c[int(b[i])]
        bw.code(c, ln)
        c, ln = a_c[int(a[i])]
        bw.code(c, ln)
    payload = b"\x2f" + bw.flush()
    chunk = b"VP8L" + struct.pack("<I", len(payload)) + payload
    if len(payload) & 1:
        chunk += b"\x00"
    riff = b"WEBP" + chunk
    return b"RIFF" + struct.pack("<I", len(riff)) + riff


IMAGE_CHECKSUM_SCHEMA = StructType(
    [
        StructField("asset_id", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("channels", IntegerType()),
        StructField("pixel_sum", LongType()),
        StructField("pixel_wsum", LongType()),
    ]
)


def image_checksums(df: DataFrame, binary_col: str, id_col: str) -> DataFrame:
    """Decode every image payload (BMP/PNG via :func:`image_pixels`) and
    emit order-sensitive pixel checksums — the integrity/audit pass a media
    corpus runs after ingest or transcode: ``pixel_sum`` (sum of all
    channel bytes) catches value corruption, ``pixel_wsum``
    (position-weighted ``sum((i+1) * byte_i)`` over the flattened
    row-major array) additionally catches any reordering that preserves
    the multiset (flipped rows, swapped channels).

    Arrow-batched ``mapInPandas``, narrow (no shuffle); checksums are
    exact int64 (bounded by 255 * n² — fine up to ~2 gigapixel assets).
    Decode failures raise: run behind a format filter, or extend the
    dispatcher, rather than silently skipping corrupt assets.
    """
    import numpy as np

    cols = df.select(F.col(id_col).cast("string"), F.col(binary_col))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in
                   ("asset_id", "width", "height", "channels",
                    "pixel_sum", "pixel_wsum")}
            for asset_id, payload in zip(pdf[id_col], pdf[binary_col]):
                px = image_pixels(bytes(payload))
                flat = px.reshape(-1).astype(np.int64)
                out["asset_id"].append(asset_id)
                out["height"].append(px.shape[0])
                out["width"].append(px.shape[1])
                out["channels"].append(px.shape[2])
                out["pixel_sum"].append(int(flat.sum()))
                out["pixel_wsum"].append(
                    int((flat * (np.arange(flat.size, dtype=np.int64) + 1)).sum())
                )
            yield pd.DataFrame(out)

    return cols.mapInPandas(run, IMAGE_CHECKSUM_SCHEMA)


def image_decode(payload: bytes) -> dict:
    """Format-dispatching image header decoder: BMP and PNG are decoded for
    real (pure stdlib/numpy); other magics raise ``ValueError``.  This is
    the natural default for :func:`decode_media` on mixed image corpora."""
    if payload[:2] == b"BM":
        return bmp_decode(payload)
    if payload[:8] == _PNG_SIG:
        return png_decode(payload)
    if payload[:6] in _GIF_SIGS:
        return gif_decode(payload)
    if payload[:3] == b"\xff\xd8\xff":
        return jpeg_decode(payload)
    if payload[:4] == b"RIFF" and payload[8:12] == b"WEBP":
        return webp_decode(payload)
    if payload[:2] in (b"II", b"MM") and len(payload) >= 4 and payload[2:4] in (b"*\x00", b"\x00*"):
        return tiff_decode(payload)
    raise ValueError(
        "unrecognized image payload (BMP/PNG/GIF/JPEG/WebP-lossless/TIFF are decodable)")


def image_pixels(payload: bytes):
    """Format-dispatching pixel decoder (BMP 24-bit -> RGB, PNG 8-bit ->
    native channels, GIF -> palette RGB, baseline AND progressive JPEG ->
    gray/RGB).  Same ``bytes -> (h, w, c) uint8`` seam a PIL wrapper
    would fill for lossy WebP."""
    if payload[:2] == b"BM":
        return bmp_pixels(payload)
    if payload[:8] == _PNG_SIG:
        return png_pixels(payload)
    if payload[:6] in _GIF_SIGS:
        return gif_pixels(payload)
    if payload[:3] == b"\xff\xd8\xff":
        return jpeg_pixels(payload)
    if payload[:4] == b"RIFF" and payload[8:12] == b"WEBP":
        return webp_pixels(payload)
    if payload[:2] in (b"II", b"MM") and len(payload) >= 4 and payload[2:4] in (b"*\x00", b"\x00*"):
        return tiff_pixels(payload)
    raise ValueError(
        "unrecognized image payload (BMP/PNG/GIF/JPEG/WebP-lossless/TIFF are decodable)")


@_decode_errors
def pcm_samples(payload: bytes):
    """Decode a 16-bit PCM WAV payload to a ``(n_frames, n_channels)``
    numpy int16 array (REAL sample access, numpy only)."""
    import numpy as np

    meta = wav_decode(payload)
    if meta["bit_depth"] != 16:
        raise ValueError("pcm_samples supports 16-bit PCM")
    # wav_decode already located the first data chunk; read from ITS offset so
    # frame count and sample bytes always come from the same chunk.
    n = meta["n_frames"] * meta["n_channels"]
    samples = np.frombuffer(payload, dtype="<i2", count=n, offset=meta["data_offset"])
    return samples.reshape(meta["n_frames"], meta["n_channels"])


def audio_samples(payload: bytes):
    """Magic-byte audio dispatcher — the audio twin of
    :func:`image_pixels`: RIFF/WAVE routes to :func:`pcm_samples`, fLaC
    to :func:`flac_decode`.  Returns ``(samples (n, ch) int16,
    sample_rate)``; raises ``ValueError`` for formats the pure-python
    codecs can't decode (mp3/vorbis — the perceptual-audio seam, where
    a torchaudio wrapper plugs into the same ``bytes -> (array, rate)``
    signature)."""
    if len(payload) >= 4 and payload[:4] == b"fLaC":
        return flac_decode(payload)
    if len(payload) >= 12 and payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        meta = wav_decode(payload)
        return pcm_samples(payload), meta["sample_rate_hz"]
    raise ValueError("unrecognized audio container (not WAV/FLAC)")


AUDIO_FEATURE_SCHEMA = StructType(
    [
        StructField("asset_id", StringType()),
        StructField("n_channels", IntegerType()),
        StructField("sample_rate_hz", IntegerType()),
        StructField("duration_ms", IntegerType()),
        StructField("rms", StringType()),        # fixed-4dp string: exact cross-engine compare
        StructField("zero_cross_rate", StringType()),
        StructField("peak", IntegerType()),
    ]
)


def audio_features(df: DataFrame, binary_col: str, id_col: str) -> DataFrame:
    """REAL audio feature extraction: RMS energy, zero-crossing rate, and
    peak amplitude over decoded PCM samples — numpy inside Arrow-batched
    ``mapInPandas``, no audio library.  Undecodable payloads yield NULL
    features (decode errors are data, not job failures)."""
    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for asset_id, payload in zip(pdf[id_col], pdf[binary_col]):
                raw = bytes(payload) if payload is not None else b""
                try:
                    meta = wav_decode(raw)
                    mono = pcm_samples(raw).astype(np.float64).mean(axis=1)
                    rms = float(np.sqrt(np.mean(mono**2))) if len(mono) else 0.0
                    zcr = (
                        float(np.mean(np.signbit(mono[1:]) != np.signbit(mono[:-1])))
                        if len(mono) > 1
                        else 0.0
                    )
                    rows.append(
                        {
                            "asset_id": str(asset_id),
                            "n_channels": meta["n_channels"],
                            "sample_rate_hz": meta["sample_rate_hz"],
                            "duration_ms": meta["duration_ms"],
                            "rms": f"{rms:.4f}",
                            "zero_cross_rate": f"{zcr:.4f}",
                            "peak": int(np.max(np.abs(mono))) if len(mono) else 0,
                        }
                    )
                except ValueError:
                    rows.append({"asset_id": str(asset_id), "n_channels": None,
                                 "sample_rate_hz": None, "duration_ms": None,
                                 "rms": None, "zero_cross_rate": None, "peak": None})
            yield pd.DataFrame(rows, columns=[f.name for f in AUDIO_FEATURE_SCHEMA.fields])

    return df.select(id_col, binary_col).mapInPandas(run, AUDIO_FEATURE_SCHEMA)


@_decode_errors
def bmp_pixels(payload: bytes):
    """Decode an uncompressed 24-bit BMP to an ``(h, w, 3)`` RGB numpy
    array (REAL pixel access: data-offset lookup, 4-byte row padding,
    bottom-up vs top-down row order).  numpy only."""
    import struct

    import numpy as np

    meta = bmp_decode(payload)  # validates the BM magic + header
    if len(payload) < 34:  # bmp_decode only guarantees the dimension fields
        raise ValueError("truncated BMP info header")
    data_offset = struct.unpack_from("<I", payload, 10)[0]
    width_raw, height_raw = struct.unpack_from("<ii", payload, 18)
    bits = struct.unpack_from("<H", payload, 28)[0]
    compression = struct.unpack_from("<I", payload, 30)[0]
    if bits != 24 or compression != 0:
        raise ValueError("bmp_pixels supports uncompressed 24-bit BMP")
    w, h = meta["width"], meta["height"]
    stride = (w * 3 + 3) & ~3  # rows pad to 4 bytes
    if data_offset + stride * h > len(payload):
        raise ValueError("truncated BMP pixel array")
    rows = np.frombuffer(payload, dtype=np.uint8, count=stride * h, offset=data_offset)
    img = rows.reshape(h, stride)[:, : w * 3].reshape(h, w, 3)
    if height_raw > 0:  # positive height = bottom-up row order
        img = img[::-1]
    return img[:, :, ::-1].copy()  # BGR -> RGB


RESIZE_SCHEMA = StructType(
    [
        StructField("asset_id", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("rgb", BinaryType()),  # row-major h*w*3 RGB bytes
    ]
)


def resize_images(
    df: DataFrame, binary_col: str, id_col: str, out_w: int, out_h: int
) -> DataFrame:
    """REAL image resize: nearest-neighbor resample of decoded
    BMP/PNG/GIF/JPEG pixels via numpy index gather, emitted as raw RGB
    bytes + final dimensions.  The standard training-data preprocessing
    shape (decode -> resize -> feature model); swap :func:`image_pixels`
    for a PIL decode to cover webp.  Undecodable payloads yield NULL
    rgb."""
    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for asset_id, payload in zip(pdf[id_col], pdf[binary_col]):
                raw = bytes(payload) if payload is not None else b""
                try:
                    img = image_pixels(raw)
                    if img.shape[2] <= 2:  # gray / gray+alpha -> replicate to RGB
                        img = np.repeat(img[:, :, :1], 3, axis=2)
                    else:  # RGB / RGBA -> drop alpha
                        img = img[:, :, :3]
                    h, w = img.shape[:2]
                    yi = (np.arange(out_h) * h // out_h).clip(0, h - 1)
                    xi = (np.arange(out_w) * w // out_w).clip(0, w - 1)
                    resized = img[yi][:, xi]
                    rows.append({"asset_id": str(asset_id), "width": out_w,
                                 "height": out_h, "rgb": resized.tobytes()})
                except ValueError:
                    rows.append({"asset_id": str(asset_id), "width": None,
                                 "height": None, "rgb": None})
            yield pd.DataFrame(rows, columns=[f.name for f in RESIZE_SCHEMA.fields])

    return df.select(id_col, binary_col).mapInPandas(run, RESIZE_SCHEMA)


#: Output schema of :func:`decode_media` — MEDIA_META_SCHEMA flattened
#: beside the asset id, with width/height now populated by a decoder.
DECODED_META_SCHEMA = StructType(
    [
        StructField("asset_id", StringType()),
        StructField("media_type", StringType()),
        StructField("format", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_bytes", IntegerType()),
    ]
)


def decode_media(
    df: DataFrame,
    binary_col: str,
    id_col: str,
    decoder: Optional[Callable[[bytes], dict]] = None,
) -> DataFrame:
    """Arrow-batched media decode: fill the metadata struct's width/height
    from the payload bytes via ``decoder`` (e.g. :func:`bmp_decode`, or an
    injected PIL/torchaudio wrapper).  Payloads the decoder rejects
    (``ValueError``) yield NULL media fields, keeping the row — decode
    errors are data, not job failures, at 100 TB.

    There is no stub default here: ``decoder=None`` raises
    ``NotImplementedError`` at the seam where a real codec is required.
    """
    if decoder is None:
        raise NotImplementedError(
            "media decoding requires a decoder callable (image_decode for "
            "BMP/PNG/GIF/JPEG, wav_decode for PCM audio, or a PIL/"
            "torchaudio wrapper for mp3/mp4 in environments that "
            "ship codecs)"
        )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for asset_id, payload in zip(pdf[id_col], pdf[binary_col]):
                raw = bytes(payload) if payload is not None else b""
                try:
                    meta = decoder(raw)
                except ValueError:
                    meta = {}
                rows.append(
                    {
                        "asset_id": str(asset_id),
                        "media_type": meta.get("media_type"),
                        "format": meta.get("format"),
                        "width": meta.get("width"),
                        "height": meta.get("height"),
                        "n_bytes": len(raw),
                    }
                )
            yield pd.DataFrame(rows, columns=[f.name for f in DECODED_META_SCHEMA.fields])

    return df.select(id_col, binary_col).mapInPandas(run, DECODED_META_SCHEMA)


def _fake_decode(payload: bytes) -> dict:
    """STUB decoder — deterministic fake standing in for PIL/libav.

    Produces a pseudo feature vector fingerprint from the payload bytes so
    the distributed plumbing (batching, schema, shuffle) is fully exercised
    and testable without codec libraries.
    """
    digest = hashlib.sha256(payload or b"").hexdigest()
    return {
        "sha256": digest,
        "feat_dim": 8,
        "feature_crc": digest[:16],
    }


def extract_features(
    df: DataFrame,
    binary_col: str,
    id_col: str,
    decoder: Optional[Callable[[bytes], dict]] = _fake_decode,
) -> DataFrame:
    """Arrow-batched feature extraction over media payloads via mapInPandas.

    ``decoder`` maps raw bytes -> feature dict; the default is the marked
    stub.  Pass ``decoder=None`` to assert the real-codec path, which raises
    ``NotImplementedError`` (no image/audio libraries in this environment).
    """
    if decoder is None:
        raise NotImplementedError(
            "real media decoding requires PIL/torchaudio/libav; not available "
            "in this environment — supply a decoder callable or use the stub"
        )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for asset_id, payload in zip(pdf[id_col], pdf[binary_col]):
                raw = bytes(payload) if payload is not None else b""
                feats = decoder(raw)
                out.append(
                    {
                        "asset_id": str(asset_id),
                        "sha256": feats["sha256"],
                        "n_bytes": len(raw),
                        "feat_dim": feats["feat_dim"],
                        "feature_crc": feats["feature_crc"],
                    }
                )
            yield pd.DataFrame(out, columns=[f.name for f in FEATURE_SCHEMA.fields])

    return df.select(id_col, binary_col).mapInPandas(run, FEATURE_SCHEMA)


def sample_frames(
    df: DataFrame, binary_col: str, id_col: str, every_nth: int = 10
) -> DataFrame:
    """STUB frame sampler: emits (asset_id, frame_idx, frame_crc) rows for a
    video payload — frame decode is faked deterministically from the bytes
    (sha256 of payload + ASCII ``#<idx>`` suffix, replayable in any engine
    with sha256 over strings); the explode/fan-out shape (1 row -> many
    frames) is the real part."""
    schema = StructType(
        [
            StructField("asset_id", StringType()),
            StructField("frame_idx", IntegerType()),
            StructField("frame_crc", StringType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for asset_id, payload in zip(pdf[id_col], pdf[binary_col]):
                raw = bytes(payload) if payload is not None else b""
                n_fake_frames = max(1, len(raw) // max(every_nth, 1))
                for i in range(min(n_fake_frames, 32)):
                    crc = hashlib.sha256(raw + f"#{i}".encode()).hexdigest()[:12]
                    rows.append({"asset_id": str(asset_id), "frame_idx": i, "frame_crc": crc})
            yield pd.DataFrame(rows, columns=["asset_id", "frame_idx", "frame_crc"])

    return df.select(id_col, binary_col).mapInPandas(run, schema)


SPECTRAL_FEATURE_SCHEMA = StructType(
    [
        StructField("asset_id", StringType()),
        StructField("n_frames", IntegerType()),
        StructField("dominant_hz", IntegerType()),
        StructField("spectral_centroid_hz", IntegerType()),
        StructField("spectral_rolloff_hz", IntegerType()),
    ]
)


def spectral_features(df: DataFrame, binary_col: str, id_col: str) -> DataFrame:
    """REAL frequency-domain audio features over decoded PCM — numpy rFFT
    inside Arrow-batched ``mapInPandas``, no DSP library: dominant
    frequency (argmax magnitude bin, DC excluded), spectral centroid
    (magnitude-weighted mean frequency), and 85% energy rolloff — the
    standard cheap descriptors for audio-corpus bucketing (speech vs
    tone vs noise) before any learned model runs.  Frequencies are
    rounded to integer Hz (bin resolution = rate/n already quantizes
    them).  Undecodable payloads yield NULL features.
    """
    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for asset_id, payload in zip(pdf[id_col], pdf[binary_col]):
                raw = bytes(payload) if payload is not None else b""
                try:
                    meta = wav_decode(raw)
                    mono = pcm_samples(raw).astype(np.float64).mean(axis=1)
                    n = len(mono)
                    if n < 2:
                        raise ValueError("too short for spectral analysis")
                    mag = np.abs(np.fft.rfft(mono))
                    freqs = np.fft.rfftfreq(n, d=1.0 / meta["sample_rate_hz"])
                    m = mag.copy()
                    m[0] = 0.0  # exclude DC from the dominant bin
                    dom = float(freqs[int(np.argmax(m))])
                    total = float(mag.sum())
                    centroid = float((freqs * mag).sum() / total) if total else 0.0
                    energy = np.cumsum(mag**2)
                    roll_idx = int(np.searchsorted(energy, 0.85 * energy[-1]))
                    rolloff = float(freqs[min(roll_idx, len(freqs) - 1)])
                    rows.append(
                        {
                            "asset_id": str(asset_id),
                            "n_frames": meta["n_frames"],
                            "dominant_hz": int(round(dom)),
                            "spectral_centroid_hz": int(round(centroid)),
                            "spectral_rolloff_hz": int(round(rolloff)),
                        }
                    )
                except ValueError:
                    rows.append({"asset_id": str(asset_id), "n_frames": None,
                                 "dominant_hz": None, "spectral_centroid_hz": None,
                                 "spectral_rolloff_hz": None})
            yield pd.DataFrame(rows, columns=[f.name for f in SPECTRAL_FEATURE_SCHEMA.fields])

    return df.select(id_col, binary_col).mapInPandas(run, SPECTRAL_FEATURE_SCHEMA)


# ---------------------------------------------------------------------------
# Video — REAL MJPEG-in-AVI demux/mux (pure stdlib + the JPEG codec above)
# ---------------------------------------------------------------------------

@_decode_errors
def avi_decode(payload: bytes) -> dict:
    """REAL video container decoder — pure stdlib RIFF walk of an AVI:
    main header (dimensions, frame count, frame interval) without
    touching any frame payload.  Raises ``ValueError`` for non-AVI
    bytes."""
    import struct

    if len(payload) < 24 or payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        raise ValueError("not an AVI payload")
    pos = 12
    while pos + 8 <= len(payload):
        fourcc = payload[pos : pos + 4]
        size = struct.unpack_from("<I", payload, pos + 4)[0]
        if fourcc == b"LIST" and payload[pos + 8 : pos + 12] == b"hdrl":
            p = pos + 12
            if payload[p : p + 4] != b"avih":
                raise ValueError("AVI hdrl missing avih")
            (usec_per_frame, _maxrate, _pad, _flags, n_frames) = struct.unpack_from(
                "<IIIII", payload, p + 8
            )
            w, h = struct.unpack_from("<II", payload, p + 8 + 32)
            return {
                "media_type": "video",
                "format": "avi",
                "width": int(w),
                "height": int(h),
                "n_frames": int(n_frames),
                "usec_per_frame": int(usec_per_frame),
                "fps": round(1_000_000 / usec_per_frame, 3) if usec_per_frame else 0.0,
            }
        pos += 8 + size + (size & 1)
    raise ValueError("AVI missing hdrl header list")


@_decode_errors
def avi_frames(payload: bytes):
    """Demux and DECODE every video frame of an MJPEG AVI — REAL video
    access with zero codec libraries: the RIFF walk yields the movi
    chunk stream ('00dc'/'00db' entries), and each frame body goes
    through :func:`image_pixels` (baseline JPEG here; any image format
    the dispatcher knows works).  Returns a list of (h, w, c) uint8
    arrays.  A production cluster swaps a libav wrapper into the same
    ``bytes -> [array]`` seam for interframe codecs (h264/vp9) — the
    container walk and Spark plumbing stay identical.  CRAM ('MSVC')
    streams dispatch to the MS Video 1 interframe decoder below."""
    avi_decode(payload)  # validates container
    if _avi_strf_compression(payload) in (b"CRAM", b"MSVC", b"cram", b"msvc"):
        return msvideo1_frames(payload)
    frames = [image_pixels(body) for body in _avi_chunk_bodies(payload)]
    if not frames:
        raise ValueError("AVI contains no video frames")
    return frames


def avi_encode(frames: list, fps: float = 25.0) -> bytes:
    """REAL MJPEG-AVI muxer — the write half of :func:`avi_frames`: each
    (h, w) or (h, w, 3) uint8 frame is JPEG-encoded (quality 100) and
    wrapped in a standard RIFF AVI (avih + strl headers, movi chunk
    stream).  Block-flat frames round-trip bit-exactly, the property the
    oracle-gated video query pins."""
    import struct

    import numpy as np

    if not frames:
        raise ValueError("avi_encode needs at least one frame")
    first = np.asarray(frames[0])
    h, w = first.shape[:2]
    payloads = []
    for f in frames:
        arr = np.asarray(f, dtype=np.uint8)
        if arr.shape[:2] != (h, w):
            raise ValueError("all frames must share dimensions")
        payloads.append(jpeg_encode(arr, quality=100))

    def chunk(cid: bytes, body: bytes) -> bytes:
        pad = b"\x00" if len(body) & 1 else b""
        return cid + struct.pack("<I", len(body)) + body + pad

    def lst(kind: bytes, body: bytes) -> bytes:
        inner = kind + body
        pad = b"\x00" if len(inner) & 1 else b""
        return b"LIST" + struct.pack("<I", len(inner)) + inner + pad

    usec = int(round(1_000_000 / fps))
    avih = struct.pack(
        "<IIIIIIIIIIIIII",
        usec, 0, 0, 0x10, len(payloads), 0, 1, 0, w, h, 0, 0, 0, 0,
    )
    strh = struct.pack(
        "<4s4sIHHIIIIIIIIhhhh",
        b"vids", b"MJPG", 0, 0, 0, 0, 1, int(round(fps)), 0, len(payloads),
        0, 0xFFFFFFFF, 0, 0, 0, int(w), int(h),
    )
    strf = struct.pack(
        "<IiiHH4sIiiII", 40, w, h, 1, 24, b"MJPG", w * h * 3, 0, 0, 0, 0
    )
    hdrl = lst(
        b"hdrl",
        chunk(b"avih", avih) + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)),
    )
    movi = lst(b"movi", b"".join(chunk(b"00dc", p) for p in payloads))
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body


# ------------------------------------------------------- MS Video 1 (CRAM)
#
# Microsoft Video 1 is the classic 16-bit lossy INTERFRAME codec shipped
# with Video for Windows ('CRAM'/'MSVC' fourcc): 4x4 blocks coded
# bottom-up as 1-color fills, 2-color / 8-color (per-quadrant) vector
# quantization, or SKIP runs that leave the previous frame's pixels in
# place (conditional replenishment) — a real motion-compensated-delta
# format every ffmpeg build decodes.  Implemented from the public format
# description (multimedia.cx wiki / MSDN); block traversal and flag
# semantics mirror decoders in the wild:
#   - blocks run left-to-right then BOTTOM-UP; rows inside a block also
#     run bottom-up (AVI frames are BMP-oriented),
#   - a code word with (high_byte & 0xFC) == 0x84 skips (code - 0x8400)
#     blocks including the current one,
#   - high byte < 0x80 => the word is 16 pixel flags followed by one
#     (2-color) or four (8-color, signalled by bit15 of the first color)
#     RGB555 color pairs; flag bit 0 selects the SECOND color of the
#     pair, so bit15 of the flags word (pixel y=3,x=3 bottom-up) must be
#     0 — the encoder orders each governing pair to honor that,
#   - any other word is an RGB555 fill with bit15 set; fills whose red
#     component is exactly 1 would collide with the skip range, so the
#     encoder emits them as a degenerate equal-pair 2-color block.
#
# Closes the interframe half of the codec seam: avi_frames() dispatches
# on the strf compression fourcc, so CRAM AVIs decode through the same
# ``bytes -> [array]`` path as MJPEG ones.

def _rgb555_quantize(frame) -> "np.ndarray":
    """(h, w, 3) uint8 -> (h, w) uint16 RGB555."""
    import numpy as np

    a = np.asarray(frame, dtype=np.uint16)
    return ((a[:, :, 0] >> 3) << 10) | ((a[:, :, 1] >> 3) << 5) | (a[:, :, 2] >> 3)


def _rgb555_expand(packed) -> "np.ndarray":
    """(h, w) uint16 RGB555 -> (h, w, 3) uint8 with bit replication."""
    import numpy as np

    p = np.asarray(packed, dtype=np.uint16) & 0x7FFF
    r = ((p >> 10) & 31).astype(np.uint8)
    g = ((p >> 5) & 31).astype(np.uint8)
    b = (p & 31).astype(np.uint8)
    out = np.stack([r, g, b], axis=-1)
    return (out << 3) | (out >> 2)


def _msv1_two_color(block555, rgb):
    """Best 2-color (colors, labels, sse) for a 4x4 block: exact when the
    block has <=2 distinct RGB555 values, else a deterministic luma mean
    split with per-group mean colors."""
    import numpy as np

    vals = np.unique(block555)
    if len(vals) == 1:
        labels = np.zeros(block555.shape, dtype=bool)
        return (int(vals[0]), int(vals[0])), labels, 0.0
    if len(vals) == 2:
        labels = block555 == vals[1]
        sse = 0.0
    else:
        luma = rgb.astype(np.float64) @ np.array([0.299, 0.587, 0.114])
        labels = luma > luma.mean()
        if not labels.any() or labels.all():
            labels = luma >= np.median(luma)
            if not labels.any() or labels.all():
                labels = np.zeros(block555.shape, dtype=bool)
        sse = 0.0
    colors = []
    for grp in (False, True):
        m = labels == grp
        if m.any():
            mean = rgb[m].mean(axis=0)
            q = ((int(mean[0]) >> 3) << 10) | ((int(mean[1]) >> 3) << 5) | (int(mean[2]) >> 3)
        else:
            q = 0
        colors.append(q)
    if len(vals) > 2:
        recon = np.where(labels, colors[1], colors[0]).astype(np.uint16)
        d = _rgb555_expand(recon).astype(np.int64) - rgb.astype(np.int64)
        sse = float((d * d).sum())
    return (colors[0], colors[1]), labels, sse


def _msv1_encode_frame(cur555, rgb, prev555, sse_8color: float, prev_src555=None):
    """Encode one frame against prev555 (None => intra). Returns
    (stream bytes, decoded 555 frame).  A block skips when it matches
    the previous RECONSTRUCTION, or when its SOURCE pixels are unchanged
    from the previous frame (recoding an unchanged block could never
    beat keeping the reconstruction already on screen)."""
    import struct

    import numpy as np

    h, w = cur555.shape
    out = bytearray()
    dec = cur555.copy() if prev555 is None else prev555.copy()
    skip_run = 0

    def flush_skips():
        nonlocal skip_run
        while skip_run > 0:
            n = min(skip_run, 0x3FF)
            out.extend(struct.pack("<H", 0x8400 + n))
            skip_run -= n

    # bottom-up traversal: operate on vertically flipped views so block
    # and pixel rows advance top-down in flipped coordinates.
    f555 = cur555[::-1]
    fdec = dec[::-1]
    frgb = rgb[::-1]
    fprev = prev555[::-1] if prev555 is not None else None
    fprev_src = prev_src555[::-1] if prev_src555 is not None else None
    for by in range(h // 4):
        for bx in range(w // 4):
            ys, xs = by * 4, bx * 4
            blk = f555[ys : ys + 4, xs : xs + 4]
            if fprev is not None and (
                bool((blk == (fprev[ys : ys + 4, xs : xs + 4] & 0x7FFF)).all())
                or (
                    fprev_src is not None
                    and bool((blk == fprev_src[ys : ys + 4, xs : xs + 4]).all())
                )
            ):
                skip_run += 1
                continue
            flush_skips()
            brgb = frgb[ys : ys + 4, xs : xs + 4]
            (c0, c1), labels, sse2 = _msv1_two_color(blk, brgb)
            if c0 == c1 and ((c0 >> 10) & 31) != 1:
                # 1-color fill (reds of exactly 1 collide with skip codes)
                out.extend(struct.pack("<H", 0x8000 | c0))
                fdec[ys : ys + 4, xs : xs + 4] = c0
                continue
            if c0 == c1 or sse2 <= sse_8color:
                # 2-color: flag bit selects color0 when set; flags bit15
                # (pixel y=3,x=3) must be 0 => that pixel takes color1.
                if labels[3, 3] == 0:
                    sel1 = ~labels  # pixels taking the pair's 2nd color
                    pair = (c1, c0)
                else:
                    sel1 = labels
                    pair = (c0, c1)
                flags = 0
                for py in range(4):
                    for px in range(4):
                        if not sel1[py, px]:
                            flags |= 1 << (py * 4 + px)
                out.extend(struct.pack("<HHH", flags, pair[0], pair[1]))
                fdec[ys : ys + 4, xs : xs + 4] = np.where(sel1, pair[1], pair[0])
                continue
            # 8-color: an independent 2-color code per 2x2 quadrant;
            # quadrant pairs stream in (low-y,low-x),(low-y,high-x),
            # (high-y,low-x),(high-y,high-x) order; bit15 of color[0]
            # signals the mode.
            flags = 0
            colors = [0] * 8
            for qy in (0, 2):
                for qx in (0, 2):
                    qblk = blk[qy : qy + 2, qx : qx + 2]
                    qrgb = brgb[qy : qy + 2, qx : qx + 2]
                    (qc0, qc1), qlab, _ = _msv1_two_color(qblk, qrgb)
                    base = (qy << 1) + qx
                    if qy == 2 and qx == 2 and not qlab[1, 1]:
                        # flags bit15 must be 0 => pixel (3,3) takes the
                        # pair's 2nd color => its label must be True
                        qc0, qc1 = qc1, qc0
                        qlab = ~qlab
                    colors[base] = qc0
                    colors[base + 1] = qc1
                    for py in range(2):
                        for px in range(2):
                            if not qlab[py, px]:
                                flags |= 1 << ((qy + py) * 4 + qx + px)
                    fdec[ys + qy : ys + qy + 2, xs + qx : xs + qx + 2] = np.where(
                        qlab, colors[base + 1], colors[base]
                    )
            out.extend(struct.pack("<H", flags & 0x7FFF))
            out.extend(struct.pack("<H", colors[0] | 0x8000))
            for c in colors[1:]:
                out.extend(struct.pack("<H", c))
    flush_skips()
    return bytes(out), dec


def _msv1_decode_frame(data: bytes, prev555, h: int, w: int):
    """Decode one CRAM frame stream against prev555 (None => black)."""
    import struct

    import numpy as np

    dec = np.zeros((h, w), dtype=np.uint16) if prev555 is None else prev555.copy()
    fdec = dec[::-1]
    pos = 0
    skip = 0
    for by in range(h // 4):
        for bx in range(w // 4):
            if skip:
                skip -= 1
                continue
            if pos + 2 > len(data):
                raise ValueError("MSV1 stream truncated")
            code = struct.unpack_from("<H", data, pos)[0]
            pos += 2
            hi = code >> 8
            ys, xs = by * 4, bx * 4
            if (hi & 0xFC) == 0x84:
                skip = (code - 0x8400) - 1
                if skip < 0:
                    raise ValueError("MSV1 zero-length skip code")
                continue
            if hi < 0x80:
                flags = code
                c0, c1 = struct.unpack_from("<HH", data, pos)
                pos += 4
                if c0 & 0x8000:
                    colors = [c0, c1] + list(struct.unpack_from("<6H", data, pos))
                    pos += 12
                    for py in range(4):
                        for px in range(4):
                            idx = ((py & 2) << 1) + (px & 2) + (
                                ((flags >> (py * 4 + px)) & 1) ^ 1
                            )
                            fdec[ys + py, xs + px] = colors[idx] & 0x7FFF
                else:
                    for py in range(4):
                        for px in range(4):
                            bit = (flags >> (py * 4 + px)) & 1
                            fdec[ys + py, xs + px] = (c1, c0)[bit]
            else:
                fdec[ys : ys + 4, xs : xs + 4] = code & 0x7FFF
    return dec


def msvideo1_encode(frames: list, fps: float = 25.0, sse_8color: float = 4096.0) -> bytes:
    """REAL interframe video encode — MS Video 1 ('CRAM', 16-bit) in a
    standard AVI.  Frame 0 is intra; every later frame codes only blocks
    whose RGB555 pixels changed and emits SKIP runs for the rest
    (conditional replenishment), so a mostly-static clip costs a few
    bytes per frame.  Lossy: pixels quantize to RGB555 and busy blocks
    fall back to 2-/8-color vector quantization (``sse_8color`` is the
    2-color error budget above which a block upgrades to 8-color).
    Dimensions must be multiples of 4."""
    import struct

    import numpy as np

    if not frames:
        raise ValueError("msvideo1_encode needs at least one frame")
    first = np.asarray(frames[0])
    h, w = first.shape[:2]
    if h % 4 or w % 4:
        raise ValueError("MS Video 1 dimensions must be multiples of 4")
    payloads = []
    prev = None
    prev_src = None
    for f in frames:
        arr = np.asarray(f, dtype=np.uint8)
        if arr.ndim == 2:
            arr = np.stack([arr] * 3, axis=-1)
        if arr.shape[:2] != (h, w):
            raise ValueError("all frames must share dimensions")
        cur = _rgb555_quantize(arr)
        stream, prev = _msv1_encode_frame(cur, arr, prev, sse_8color, prev_src)
        payloads.append(stream)
        prev_src = cur

    def chunk(cid: bytes, body: bytes) -> bytes:
        pad = b"\x00" if len(body) & 1 else b""
        return cid + struct.pack("<I", len(body)) + body + pad

    def lst(kind: bytes, body: bytes) -> bytes:
        inner = kind + body
        pad = b"\x00" if len(inner) & 1 else b""
        return b"LIST" + struct.pack("<I", len(inner)) + inner + pad

    usec = int(round(1_000_000 / fps))
    avih = struct.pack(
        "<IIIIIIIIIIIIII",
        usec, 0, 0, 0x10, len(payloads), 0, 1, 0, w, h, 0, 0, 0, 0,
    )
    strh = struct.pack(
        "<4s4sIHHIIIIIIIIhhhh",
        b"vids", b"CRAM", 0, 0, 0, 0, 1, int(round(fps)), 0, len(payloads),
        0, 0xFFFFFFFF, 0, 0, 0, int(w), int(h),
    )
    strf = struct.pack(
        "<IiiHH4sIiiII", 40, w, h, 1, 16, b"CRAM", w * h * 2, 0, 0, 0, 0
    )
    hdrl = lst(
        b"hdrl",
        chunk(b"avih", avih) + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)),
    )
    movi = lst(b"movi", b"".join(chunk(b"00dc", p) for p in payloads))
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _avi_strf_compression(payload: bytes) -> bytes:
    """Return the strf biCompression fourcc of the first video stream."""
    import struct

    pos = 12
    while pos + 8 <= len(payload):
        fourcc = payload[pos : pos + 4]
        size = struct.unpack_from("<I", payload, pos + 4)[0]
        if fourcc == b"LIST" and payload[pos + 8 : pos + 12] == b"hdrl":
            hdrl = payload[pos + 12 : pos + 8 + size]
            i = hdrl.find(b"strf")
            if i >= 0 and i + 28 <= len(hdrl):
                return hdrl[i + 24 : i + 28]
            return b""
        pos += 8 + size + (size & 1)
    return b""


def msvideo1_frames(payload: bytes):
    """Demux and decode every frame of a CRAM (MS Video 1) AVI,
    threading the previous decoded frame through the skip blocks.
    Returns (h, w, 3) uint8 arrays."""
    meta = avi_decode(payload)
    h, w = meta["height"], meta["width"]
    frames = []
    prev = None
    for body in _avi_chunk_bodies(payload):
        prev = _msv1_decode_frame(body, prev, h, w)
        frames.append(_rgb555_expand(prev))
    if not frames:
        raise ValueError("AVI contains no video frames")
    return frames


def _avi_chunk_bodies(payload: bytes):
    """Yield the raw '00dc'/'00db' chunk bodies of an AVI movi list."""
    import struct

    pos = 12
    while pos + 8 <= len(payload):
        fourcc = payload[pos : pos + 4]
        size = struct.unpack_from("<I", payload, pos + 4)[0]
        if fourcc == b"LIST" and payload[pos + 8 : pos + 12] == b"movi":
            p = pos + 12
            end = pos + 8 + size
            while p + 8 <= end:
                cid = payload[p : p + 4]
                csize = struct.unpack_from("<I", payload, p + 4)[0]
                if cid[2:4] in (b"dc", b"db"):
                    yield payload[p + 8 : p + 8 + csize]
                p += 8 + csize + (csize & 1)
        pos += 8 + size + (size & 1)


# --------------------------------------------------------------------- MP4

def _mp4_box(btype: bytes, body: bytes) -> bytes:
    import struct

    return struct.pack(">I", 8 + len(body)) + btype + body


def _mp4_walk(payload: bytes, start: int, end: int):
    """Yield (type, body_start, body_end) for each top box in [start, end)."""
    import struct

    pos = start
    while pos + 8 <= end:
        size = struct.unpack_from(">I", payload, pos)[0]
        btype = payload[pos + 4 : pos + 8]
        if size < 8 or pos + size > end:
            raise ValueError(f"bad MP4 box size at {pos}")
        yield btype, pos + 8, pos + size
        pos += size


def _mp4_find(payload: bytes, start: int, end: int, btype: bytes):
    for t, a, b in _mp4_walk(payload, start, end):
        if t == btype:
            return a, b
    raise ValueError(f"MP4 missing {btype.decode()} box")


def mp4_encode(frames: list, fps: float = 25.0) -> bytes:
    """REAL MP4 (ISO base media file format) muxer for MJPEG: each frame
    JPEG-encoded into ``mdat``, with a standards-shaped ``moov`` — mvhd,
    trak/tkhd, mdia (mdhd timescale, hdlr 'vide', minf/stbl with a
    'jpeg' VisualSampleEntry and real stts/stsc/stsz/stco sample
    tables).  One chunk holds all samples; stco carries the absolute
    file offset, so the demuxer exercises genuine sample-table
    navigation.  The read half is :func:`mp4_frames`."""
    import struct

    import numpy as np

    if not frames:
        raise ValueError("mp4_encode needs at least one frame")
    first = np.asarray(frames[0])
    h, w = first.shape[:2]
    payloads = []
    for f in frames:
        arr = np.asarray(f, dtype=np.uint8)
        if arr.shape[:2] != (h, w):
            raise ValueError("all frames must share dimensions")
        payloads.append(jpeg_encode(arr, quality=100))

    ftyp = _mp4_box(b"ftyp", b"isom" + struct.pack(">I", 512) + b"isomiso2")
    mdat = _mp4_box(b"mdat", b"".join(payloads))
    data_offset = len(ftyp) + 8  # first sample byte (mdat body start)

    timescale = 1000
    delta = int(round(timescale / fps))
    duration = delta * len(payloads)

    def full(btype: bytes, version: int, flags: int, body: bytes) -> bytes:
        return _mp4_box(btype, struct.pack(">B3s", version, flags.to_bytes(3, "big")) + body)

    mvhd = full(
        b"mvhd", 0, 0,
        struct.pack(">IIII", 0, 0, timescale, duration)
        + struct.pack(">iH2x8x", 0x00010000, 0x0100)
        + struct.pack(">9i", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        + struct.pack(">6I", 0, 0, 0, 0, 0, 0)
        + struct.pack(">I", 2),
    )
    tkhd = full(
        b"tkhd", 0, 7,
        struct.pack(">IIIII", 0, 0, 1, 0, duration)
        + struct.pack(">II", 0, 0)
        + struct.pack(">hhhh", 0, 0, 0, 0)
        + struct.pack(">9i", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        + struct.pack(">II", int(w) << 16, int(h) << 16),
    )
    mdhd = full(
        b"mdhd", 0, 0,
        struct.pack(">IIIIHH", 0, 0, timescale, duration, 0x55C4, 0),
    )
    hdlr = full(b"hdlr", 0, 0, struct.pack(">I4s12x", 0, b"vide") + b"video\x00")
    vmhd = full(b"vmhd", 0, 1, struct.pack(">HHHH", 0, 0, 0, 0))
    dref = full(b"dref", 0, 0, struct.pack(">I", 1) + full(b"url ", 0, 1, b""))
    dinf = _mp4_box(b"dinf", dref)
    sample_entry = _mp4_box(
        b"jpeg",
        b"\x00" * 6
        + struct.pack(">H", 1)            # data_reference_index
        + b"\x00" * 16                    # pre_defined / reserved
        + struct.pack(">HH", w, h)
        + struct.pack(">II", 0x00480000, 0x00480000)  # 72 dpi
        + struct.pack(">I", 0)
        + struct.pack(">H", 1)            # frame_count
        + b"\x00" * 32                    # compressorname
        + struct.pack(">Hh", 24, -1),     # depth, pre_defined
    )
    stsd = full(b"stsd", 0, 0, struct.pack(">I", 1) + sample_entry)
    stts = full(b"stts", 0, 0, struct.pack(">III", 1, len(payloads), delta))
    stsc = full(b"stsc", 0, 0, struct.pack(">IIII", 1, 1, len(payloads), 1))
    stsz = full(
        b"stsz", 0, 0,
        struct.pack(">II", 0, len(payloads))
        + b"".join(struct.pack(">I", len(p)) for p in payloads),
    )
    stco = full(b"stco", 0, 0, struct.pack(">II", 1, data_offset))
    stbl = _mp4_box(b"stbl", stsd + stts + stsc + stsz + stco)
    minf = _mp4_box(b"minf", vmhd + dinf + stbl)
    mdia = _mp4_box(b"mdia", mdhd + hdlr + minf)
    trak = _mp4_box(b"trak", tkhd + mdia)
    moov = _mp4_box(b"moov", mvhd + trak)
    return ftyp + mdat + moov


def mp4_decode(payload: bytes) -> dict:
    """REAL MP4 container decoder: box-tree walk to the sample tables —
    dimensions from the stsd VisualSampleEntry, frame count from stsz,
    fps from mdhd timescale + the stts delta.  No frame payload is
    touched.  Raises ``ValueError`` for non-MP4 bytes."""
    import struct

    n = len(payload)
    try:
        boxes = {t: (a, b) for t, a, b in _mp4_walk(payload, 0, n)}
    except ValueError as exc:
        raise ValueError(f"not an MP4 payload: {exc}") from exc
    if b"ftyp" not in boxes or b"moov" not in boxes:
        raise ValueError("not an MP4 payload (missing ftyp/moov)")
    moov = boxes[b"moov"]
    trak = _mp4_find(payload, *moov, b"trak")
    mdia = _mp4_find(payload, *trak, b"mdia")
    mdhd = _mp4_find(payload, *mdia, b"mdhd")
    timescale = struct.unpack_from(">I", payload, mdhd[0] + 12)[0]
    minf = _mp4_find(payload, *mdia, b"minf")
    stbl = _mp4_find(payload, *minf, b"stbl")
    stsd = _mp4_find(payload, *stbl, b"stsd")
    entry_start = stsd[0] + 8  # version/flags + entry_count
    w, h = struct.unpack_from(">HH", payload, entry_start + 8 + 24)
    stsz = _mp4_find(payload, *stbl, b"stsz")
    n_frames = struct.unpack_from(">I", payload, stsz[0] + 8)[0]
    stts = _mp4_find(payload, *stbl, b"stts")
    delta = struct.unpack_from(">I", payload, stts[0] + 12)[0]
    fps = round(timescale / delta, 3) if delta else 0.0
    return {
        "media_type": "video",
        "format": "mp4",
        "width": int(w),
        "height": int(h),
        "n_frames": int(n_frames),
        "timescale": int(timescale),
        "fps": fps,
    }


@_decode_errors
def mp4_frames(payload: bytes):
    """Demux and DECODE every sample of an MJPEG MP4 via its REAL sample
    tables: stco locates the chunk, stsz sizes walk the samples, each
    body goes through :func:`image_pixels`.  Returns (h, w, c) uint8
    arrays; the same ``bytes -> [array]`` seam as :func:`avi_frames`
    swaps in a libav wrapper for interframe codecs on a real cluster."""
    import struct

    meta = mp4_decode(payload)
    boxes = {t: (a, b) for t, a, b in _mp4_walk(payload, 0, len(payload))}
    moov = boxes[b"moov"]
    trak = _mp4_find(payload, *moov, b"trak")
    mdia = _mp4_find(payload, *trak, b"mdia")
    minf = _mp4_find(payload, *mdia, b"minf")
    stbl = _mp4_find(payload, *minf, b"stbl")
    stsz = _mp4_find(payload, *stbl, b"stsz")
    fixed, count = struct.unpack_from(">II", payload, stsz[0] + 4)
    sizes = (
        [fixed] * count
        if fixed
        else list(struct.unpack_from(f">{count}I", payload, stsz[0] + 12))
    )
    stco = _mp4_find(payload, *stbl, b"stco")
    offset = struct.unpack_from(">I", payload, stco[0] + 8)[0]
    frames = []
    pos = offset
    for sz in sizes:
        if pos + sz > len(payload):
            raise ValueError("MP4 sample runs past end of file")
        frames.append(image_pixels(payload[pos : pos + sz]))
        pos += sz
    if not frames:
        raise ValueError("MP4 contains no samples")
    assert meta["n_frames"] == len(frames)
    return frames


# ------------------------------------------------------------------- G.711

def mulaw_encode(samples) -> bytes:
    """REAL G.711 mu-law compression (ITU-T G.711, the telephony codec
    inside countless WAV/au files): 16-bit PCM -> 8-bit log-companded
    bytes.  Pure integer arithmetic — bias 0x84, segment by leading-bit
    position, 4 mantissa bits, complemented output."""
    import numpy as np

    x = np.asarray(samples, dtype=np.int64)
    if x.ndim != 1:
        raise ValueError("mulaw_encode expects a 1-D sample array")
    sign = (x < 0).astype(np.int64)
    mag = np.minimum(np.abs(x), 32635) + 0x84
    # segment by threshold comparison, not float log2 — integer-exact and
    # replayable as plain CASE arithmetic in the SQL oracle
    seg = sum((mag >= (256 << k)).astype(np.int64) for k in range(7))
    mantissa = (mag >> (seg + 3)) & 0x0F
    byte = ~((sign << 7) | (seg << 4) | mantissa) & 0xFF
    return bytes(byte.astype(np.uint8).tobytes())


def mulaw_decode(payload: bytes):
    """The exact G.711 inverse: 8-bit mu-law bytes -> 16-bit PCM.
    ``mulaw_encode(mulaw_decode(b)) == b`` for every byte value (the
    codec's canonical identity), and ``|decode(encode(s)) - s|`` is
    bounded by the segment's quantization step."""
    import numpy as np

    b = ~np.frombuffer(bytes(payload), dtype=np.uint8).astype(np.int64) & 0xFF
    sign = (b >> 7) & 1
    seg = (b >> 4) & 7
    mantissa = b & 0x0F
    mag = ((mantissa << 3) + 0x84) << seg
    mag = mag - 0x84
    out = np.where(sign == 1, -mag, mag)
    return out.astype(np.int16)


# ------------------------------------------------------------------ MP3

#: MPEG-1 Layer III bitrate (kbps) and sample-rate tables (header index).
_MP3_BITRATES = [0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320]
_MP3_RATES = [44100, 48000, 32000]


def mp3_frame_headers(payload: bytes) -> list[dict]:
    """STRUCTURAL mp3 parse — the metadata extractor for audio corpus
    curation: walks MPEG-1 Layer III frame sync words, decodes each
    header's bitrate/sample-rate/padding via the standard tables, and
    derives every frame's byte length (``144 * bitrate / rate +
    padding``) to jump sync-to-sync.  No audio is decoded (that is the
    documented codec seam); duration and bitrate statistics need only
    this walk.  Raises ``ValueError`` on desync or a reserved index."""
    frames = []
    pos = 0
    n = len(payload)
    while pos + 4 <= n:
        if payload[pos] != 0xFF or (payload[pos + 1] & 0xE0) != 0xE0:
            raise ValueError(f"mp3 desync at byte {pos}")
        h1, h2 = payload[pos + 1], payload[pos + 2]
        if (h1 & 0x18) != 0x18 or (h1 & 0x06) != 0x02:
            raise ValueError("only MPEG-1 Layer III frames supported")
        bitrate_idx = (h2 >> 4) & 0x0F
        rate_idx = (h2 >> 2) & 0x03
        if bitrate_idx in (0, 15) or rate_idx == 3:
            raise ValueError("reserved bitrate/samplerate index")
        padding = (h2 >> 1) & 1
        bitrate = _MP3_BITRATES[bitrate_idx] * 1000
        rate = _MP3_RATES[rate_idx]
        length = 144 * bitrate // rate + padding
        if pos + length > n:
            raise ValueError("mp3 frame runs past end of payload")
        frames.append(
            {
                "offset": pos,
                "bitrate": bitrate,
                "sample_rate": rate,
                "frame_bytes": length,
                "samples": 1152,
            }
        )
        pos += length
    if not frames:
        raise ValueError("no mp3 frames")
    return frames


def mp3_stats(payload: bytes) -> dict:
    """Corpus-curation audio metadata from the frame walk: exact frame
    count, duration, and mean bitrate."""
    frames = mp3_frame_headers(payload)
    total_samples = sum(f["samples"] for f in frames)
    rate = frames[0]["sample_rate"]
    return {
        "media_type": "audio",
        "format": "mp3",
        "n_frames": len(frames),
        "sample_rate": rate,
        "duration_sec": round(total_samples / rate, 3),
        "mean_bitrate": int(
            round(sum(f["bitrate"] for f in frames) / len(frames))
        ),
    }


def mp3_build_frames(specs: list) -> bytes:
    """Deterministic mp3 FRAME FIXTURE builder for tests/queries: each
    (bitrate_idx, rate_idx, padding) spec becomes a valid MPEG-1 Layer
    III header plus a zero-filled body of the correct table length.
    This is a container fixture (no audio encode — that's the seam);
    the headers are real and parse with any mp3 tool."""
    out = bytearray()
    for bitrate_idx, rate_idx, padding in specs:
        if bitrate_idx in (0, 15) or rate_idx == 3:
            raise ValueError("reserved index in spec")
        h = bytes(
            [
                0xFF,
                0xFB,  # MPEG-1, Layer III, no CRC
                (bitrate_idx << 4) | (rate_idx << 2) | (padding << 1),
                0x00,
            ]
        )
        length = 144 * (_MP3_BITRATES[bitrate_idx] * 1000) // _MP3_RATES[rate_idx] + padding
        out += h + b"\x00" * (length - 4)
    return bytes(out)


# ------------------------------------------------------------- IMA ADPCM

_IMA_STEPS = [
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
]
_IMA_INDEX_ADJ = [-1, -1, -1, -1, 2, 4, 6, 8]


def ima_adpcm_encode(samples) -> bytes:
    """REAL IMA ADPCM compression (DVI/IMA 4-bit, the WAV codec id
    0x11): 4:1 lossy audio compression with the classic stateful
    predictor + step-size table.  Two samples pack per byte (low nibble
    first).  The decoder is :func:`ima_adpcm_decode`; round-trip error
    is bounded by the adaptive step size (pinned in tests)."""
    import numpy as np

    x = np.asarray(samples, dtype=np.int64)
    if x.ndim != 1:
        raise ValueError("ima_adpcm_encode expects a 1-D sample array")
    pred, index = 0, 0
    nibbles = []
    for s in x:
        step = _IMA_STEPS[index]
        diff = int(s) - pred
        nib = 0
        if diff < 0:
            nib = 8
            diff = -diff
        if diff >= step:
            nib |= 4
            diff -= step
        if diff >= step >> 1:
            nib |= 2
            diff -= step >> 1
        if diff >= step >> 2:
            nib |= 1
        # reconstruct exactly like the decoder to stay in sync
        delta = (step >> 3) + (step >> 2 if nib & 1 else 0) \
            + (step >> 1 if nib & 2 else 0) + (step if nib & 4 else 0)
        pred += -delta if nib & 8 else delta
        pred = max(-32768, min(32767, pred))
        index = max(0, min(88, index + _IMA_INDEX_ADJ[nib & 7]))
        nibbles.append(nib)
    if len(nibbles) & 1:
        nibbles.append(0)
    packed = bytearray()
    for i in range(0, len(nibbles), 2):
        packed.append(nibbles[i] | (nibbles[i + 1] << 4))
    return bytes(packed)


def ima_adpcm_decode(payload: bytes, n_samples: int):
    """The IMA ADPCM inverse: 4-bit nibbles -> 16-bit PCM with the same
    predictor/step automaton (encoder and decoder reconstruct
    identically, so they never drift)."""
    import numpy as np

    out = np.empty(n_samples, dtype=np.int16)
    pred, index = 0, 0
    for i in range(n_samples):
        byte = payload[i >> 1]
        nib = (byte >> 4) if i & 1 else (byte & 0x0F)
        step = _IMA_STEPS[index]
        delta = (step >> 3) + (step >> 2 if nib & 1 else 0) \
            + (step >> 1 if nib & 2 else 0) + (step if nib & 4 else 0)
        pred += -delta if nib & 8 else delta
        pred = max(-32768, min(32767, pred))
        index = max(0, min(88, index + _IMA_INDEX_ADJ[nib & 7]))
        out[i] = pred
    return out


# ----------------------------------------------------------------- FLAC
#
# Pure-numpy/stdlib FLAC (Free Lossless Audio Codec, the xiph.org spec /
# RFC 9639): a real STREAMINFO + frame stream with CONSTANT / VERBATIM /
# FIXED / LPC subframes, Rice-coded residuals, UTF-8 frame numbers,
# CRC-8 header and CRC-16 frame checksums, and the STREAMINFO MD5 of the
# unencoded samples verified on decode.  The encoder picks the best
# fixed predictor per (block, channel) — optionally a quantized
# Levinson-Durbin LPC — and computes residuals with the decoder's exact
# integer prediction, so the round trip is bit-lossless by construction.
# 16-bit PCM, 1-8 independent channels.

def _flac_crc8(data: bytes) -> int:
    crc = 0
    for b in data:
        crc ^= b
        for _ in range(8):
            crc = ((crc << 1) ^ 0x07) & 0xFF if crc & 0x80 else (crc << 1) & 0xFF
    return crc


def _flac_crc16(data: bytes) -> int:
    crc = 0
    for b in data:
        crc ^= b << 8
        for _ in range(8):
            crc = ((crc << 1) ^ 0x8005) & 0xFFFF if crc & 0x8000 else (crc << 1) & 0xFFFF
    return crc


class _FlacBitWriter:
    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, bits: int):
        if bits == 0:
            return
        self.acc = (self.acc << bits) | (value & ((1 << bits) - 1))
        self.nbits += bits
        while self.nbits >= 8:
            self.nbits -= 8
            self.buf.append((self.acc >> self.nbits) & 0xFF)
        self.acc &= (1 << self.nbits) - 1

    def write_signed(self, value: int, bits: int):
        self.write(value & ((1 << bits) - 1), bits)

    def write_unary(self, n: int):
        while n >= 32:
            self.write(0, 32)
            n -= 32
        self.write(1, n + 1)

    def align(self):
        if self.nbits:
            self.write(0, 8 - self.nbits)

    def bytes(self) -> bytes:
        assert self.nbits == 0
        return bytes(self.buf)


class _FlacBitReader:
    def __init__(self, data: bytes, pos: int = 0):
        self.data = data
        self.pos = pos  # byte position
        self.bit = 0

    def read(self, bits: int) -> int:
        out = 0
        for _ in range(bits):
            if self.pos >= len(self.data):
                raise ValueError("FLAC bitstream truncated")
            out = (out << 1) | ((self.data[self.pos] >> (7 - self.bit)) & 1)
            self.bit += 1
            if self.bit == 8:
                self.bit = 0
                self.pos += 1
        return out

    def read_signed(self, bits: int) -> int:
        v = self.read(bits)
        return v - (1 << bits) if v & (1 << (bits - 1)) else v

    def read_unary(self) -> int:
        n = 0
        while self.read(1) == 0:
            n += 1
            if n > 1 << 20:
                raise ValueError("FLAC unary run too long")
        return n

    def align(self):
        if self.bit:
            self.bit = 0
            self.pos += 1


def _flac_utf8_encode(n: int) -> bytes:
    """FLAC's extended-UTF-8 coding of frame numbers."""
    if n < 0x80:
        return bytes([n])
    # payload capacity for a `total`-byte form is (7 - total) + 6*(total-1)
    for total in range(2, 8):
        if n.bit_length() <= (7 - total) + 6 * (total - 1):
            cont = [0x80 | ((n >> (6 * i)) & 0x3F) for i in range(total - 1)][::-1]
            lead = ((0xFF << (8 - total)) & 0xFF) | (n >> (6 * (total - 1)))
            return bytes([lead] + cont)
    raise ValueError("frame number too large for UTF-8 coding")


def _flac_utf8_decode(br: "_FlacBitReader") -> int:
    b0 = br.read(8)
    if b0 < 0x80:
        return b0
    # count leading ones
    total = 0
    for i in range(7, -1, -1):
        if (b0 >> i) & 1:
            total += 1
        else:
            break
    if total < 2 or total > 7:
        raise ValueError("bad FLAC UTF-8 lead byte")
    n = b0 & (0x7F >> total)
    for _ in range(total - 1):
        c = br.read(8)
        if (c & 0xC0) != 0x80:
            raise ValueError("bad FLAC UTF-8 continuation byte")
        n = (n << 6) | (c & 0x3F)
    return n


def _flac_fixed_residual(x, order: int):
    """Residuals of FLAC's fixed polynomial predictors (orders 0-4)."""
    import numpy as np

    r = x.astype(np.int64)
    for _ in range(order):
        r = np.diff(r)
    return r


def _flac_best_rice_param(u) -> int:
    """Smallest-cost Rice parameter for folded residuals (0..14)."""
    best_p, best_cost = 0, None
    for p in range(15):
        cost = int((u >> p).sum()) + u.size * (p + 1)
        if best_cost is None or cost < best_cost:
            best_p, best_cost = p, cost
    return best_p


def _flac_write_residual(bw: "_FlacBitWriter", res):
    """Single-partition 4-bit Rice method."""
    import numpy as np

    u = (np.abs(res) * 2 - (res < 0)).astype(np.uint64)
    param = _flac_best_rice_param(u)
    bw.write(0, 2)      # method: RICE (4-bit params)
    bw.write(0, 4)      # partition order 0
    bw.write(param, 4)
    for v in u.tolist():
        bw.write_unary(int(v) >> param)
        bw.write(int(v), param)


def _flac_lpc_coeffs(x, order: int, precision: int = 14):
    """Quantized LPC coefficients via autocorrelation + Levinson-Durbin.
    Returns (coefs int list, shift) or None when the signal is degenerate."""
    import numpy as np

    xf = x.astype(np.float64)
    n = xf.size
    if n <= order + 1:
        return None
    ac = np.array([np.dot(xf[: n - k], xf[k:]) for k in range(order + 1)])
    if ac[0] == 0:
        return None
    err = ac[0]
    a = np.zeros(order)
    for i in range(order):
        acc = ac[i + 1] - np.dot(a[:i], ac[i:0:-1][:i])
        k = acc / err
        a[: i + 1] = np.concatenate([a[:i] - k * a[:i][::-1], [k]])
        err *= 1 - k * k
        if err <= 0:
            return None
    cmax = np.abs(a).max()
    if cmax == 0 or not np.isfinite(cmax):
        return None
    shift = precision - 1 - int(np.floor(np.log2(cmax))) - 1
    shift = max(1, min(15, shift))
    q = np.round(a * (1 << shift)).astype(np.int64)
    lim = 1 << (precision - 1)
    q = np.clip(q, -lim, lim - 1)
    if not q.any():
        return None
    return q.tolist(), shift


def _flac_lpc_residual(x, coefs, shift: int):
    import numpy as np

    xi = x.astype(np.int64)
    order = len(coefs)
    c = np.array(coefs, dtype=np.int64)
    # prediction for samples order..n-1: dot of previous `order` samples
    # with coefs (most recent first)
    windows = np.lib.stride_tricks.sliding_window_view(xi[:-1], order)
    pred = (windows @ c[::-1]) >> shift
    return xi[order:] - pred


def flac_encode(samples, sample_rate: int = 16000, block_size: int = 4096,
                use_lpc: bool = False, lpc_order: int = 8) -> bytes:
    """REAL FLAC encode of 16-bit PCM — (n,) mono or (n, ch) int16.
    Subframe choice per (block, channel): CONSTANT when flat, else the
    best of fixed orders 0-4 (and a quantized Levinson-Durbin LPC when
    ``use_lpc``), VERBATIM as the incompressible fallback; residuals are
    single-partition Rice.  The stream carries real CRC-8/CRC-16
    checksums and the STREAMINFO MD5 of the raw samples."""
    import hashlib
    import struct

    import numpy as np

    s = np.asarray(samples, dtype=np.int16)
    if s.ndim == 1:
        s = s[:, None]
    if s.ndim != 2 or s.shape[0] == 0:
        raise ValueError("flac_encode needs a non-empty (n,) or (n, ch) int16 array")
    n, ch = s.shape
    if not 1 <= ch <= 8:
        raise ValueError("FLAC supports 1-8 channels")
    if not 16 <= block_size <= 65535:
        raise ValueError("block_size must be in [16, 65535]")
    md5 = hashlib.md5(s.astype("<i2").tobytes()).digest()

    frames = []
    for f_idx, start in enumerate(range(0, n, block_size)):
        blk = s[start : start + block_size]
        bs = blk.shape[0]
        bw = _FlacBitWriter()
        bw.write(0b11111111111110, 14)
        bw.write(0, 1)          # reserved
        bw.write(0, 1)          # fixed blocking strategy
        bw.write(0b0111, 4)     # blocksize: 16-bit at end of header
        bw.write(0b0000, 4)     # sample rate: from STREAMINFO
        bw.write(ch - 1, 4)     # independent channels
        bw.write(0b100, 3)      # 16 bits per sample
        bw.write(0, 1)          # reserved
        for b in _flac_utf8_encode(f_idx):
            bw.write(b, 8)
        bw.write(bs - 1, 16)
        header = bw.bytes()
        bw.buf = bytearray(header + bytes([_flac_crc8(header)]))
        for c in range(ch):
            x = blk[:, c].astype(np.int64)
            bw.write(0, 1)  # zero pad bit
            if bs > 1 and bool((x == x[0]).all()):
                bw.write(0, 6)  # CONSTANT
                bw.write(0, 1)  # no wasted bits
                bw.write_signed(int(x[0]), 16)
                continue
            candidates = []
            max_fixed = min(4, bs - 1)
            for order in range(max_fixed + 1):
                res = _flac_fixed_residual(x, order)
                cost = int(np.abs(res).sum()) if res.size else 0
                candidates.append((cost, "fixed", order, res, None))
            lpc = None
            if use_lpc and bs > lpc_order + 1:
                lpc = _flac_lpc_coeffs(x, lpc_order)
                if lpc is not None:
                    coefs, shift = lpc
                    res = _flac_lpc_residual(x, coefs, shift)
                    candidates.append(
                        (int(np.abs(res).sum()), "lpc", lpc_order, res, (coefs, shift))
                    )
            cost, kind, order, res, extra = min(candidates, key=lambda t: (t[0], t[2]))
            # incompressible block: fall back to VERBATIM when the Rice
            # stream (residual + warmup + any LPC header) costs more bits
            # than raw samples
            u = (np.abs(res) * 2 - (res < 0)).astype(np.uint64)
            param = _flac_best_rice_param(u)
            rice_bits = int((u >> param).sum()) + u.size * (param + 1)
            rice_bits += order * 16 + 10  # warmup + residual prologue
            if kind == "lpc":
                rice_bits += 4 + 5 + 14 * order
            if rice_bits >= bs * 16:
                bw.write(1, 6)  # VERBATIM
                bw.write(0, 1)
                for v in x.tolist():
                    bw.write_signed(int(v), 16)
                continue
            if kind == "fixed":
                bw.write(0b001000 | order, 6)
                bw.write(0, 1)
                for v in x[:order].tolist():
                    bw.write_signed(int(v), 16)
            else:
                coefs, shift = extra
                bw.write(0b100000 | (order - 1), 6)
                bw.write(0, 1)
                for v in x[:order].tolist():
                    bw.write_signed(int(v), 16)
                bw.write(14 - 1, 4)   # precision 14
                bw.write_signed(shift, 5)
                for cf in coefs:
                    bw.write_signed(int(cf), 14)
            _flac_write_residual(bw, res)
        bw.align()
        body = bw.bytes()
        frames.append(body + struct.pack(">H", _flac_crc16(body)))

    frame_sizes = [len(f) for f in frames]
    si = _FlacBitWriter()
    si.write(block_size, 16)
    si.write(block_size, 16)
    si.write(min(frame_sizes), 24)
    si.write(max(frame_sizes), 24)
    si.write(sample_rate, 20)
    si.write(ch - 1, 3)
    si.write(15, 5)  # bps - 1
    si.write(n & ((1 << 36) - 1), 36)
    streaminfo = si.bytes() + md5
    header = b"fLaC" + bytes([0x80]) + len(streaminfo).to_bytes(3, "big") + streaminfo
    return header + b"".join(frames)


def _flac_read_residual(br: "_FlacBitReader", bs: int, order: int):
    import numpy as np

    method = br.read(2)
    if method > 1:
        raise ValueError("reserved FLAC residual method")
    pbits = 4 if method == 0 else 5
    escape = (1 << pbits) - 1
    porder = br.read(4)
    nparts = 1 << porder
    if bs % nparts:
        raise ValueError("FLAC blocksize not divisible by partition count")
    out = np.empty(bs - order, dtype=np.int64)
    pos = 0
    for p in range(nparts):
        cnt = (bs >> porder) - (order if p == 0 else 0)
        if cnt < 0:
            raise ValueError("FLAC residual partition underflow")
        param = br.read(pbits)
        if param == escape:
            raw = br.read(5)
            for i in range(cnt):
                out[pos + i] = br.read_signed(raw) if raw else 0
        else:
            for i in range(cnt):
                q = br.read_unary()
                u = (q << param) | br.read(param)
                out[pos + i] = (u >> 1) ^ -(u & 1)
        pos += cnt
    return out


def flac_decode(payload: bytes):
    """REAL FLAC decode: parses STREAMINFO, walks every frame verifying
    the CRC-8 header and CRC-16 frame checksums, decodes CONSTANT /
    VERBATIM / FIXED / LPC subframes (with wasted-bits support) for
    independent channels, and verifies the STREAMINFO MD5 over the
    reconstructed samples.  Returns (samples int16 (n, ch), sample_rate).
    Raises ``ValueError`` on any structural or checksum mismatch."""
    import hashlib
    import struct

    import numpy as np

    if len(payload) < 42 or payload[:4] != b"fLaC":
        raise ValueError("not a FLAC payload")
    pos = 4
    streaminfo = None
    while True:
        if pos + 4 > len(payload):
            raise ValueError("FLAC metadata truncated")
        hdr = payload[pos]
        length = int.from_bytes(payload[pos + 1 : pos + 4], "big")
        body = payload[pos + 4 : pos + 4 + length]
        if hdr & 0x7F == 0:
            streaminfo = body
        pos += 4 + length
        if hdr & 0x80:
            break
    if streaminfo is None or len(streaminfo) < 34:
        raise ValueError("FLAC missing STREAMINFO")
    sr_info = _FlacBitReader(streaminfo)
    sr_info.read(16); sr_info.read(16); sr_info.read(24); sr_info.read(24)
    sample_rate = sr_info.read(20)
    n_channels = sr_info.read(3) + 1
    bps = sr_info.read(5) + 1
    total_samples = sr_info.read(36)
    md5_expect = streaminfo[18:34]
    if bps != 16:
        raise ValueError("only 16-bit FLAC supported")

    chans = [[] for _ in range(n_channels)]
    while pos < len(payload):
        frame_start = pos
        br = _FlacBitReader(payload, pos)
        if br.read(14) != 0b11111111111110:
            raise ValueError("FLAC frame sync lost")
        br.read(1)
        br.read(1)  # blocking strategy
        bs_code = br.read(4)
        sr_code = br.read(4)
        ch_code = br.read(4)
        ss_code = br.read(3)
        br.read(1)
        _flac_utf8_decode(br)
        if bs_code == 0b0110:
            bs = br.read(8) + 1
        elif bs_code == 0b0111:
            bs = br.read(16) + 1
        elif bs_code == 0b0001:
            bs = 192
        elif 0b0010 <= bs_code <= 0b0101:
            bs = 576 << (bs_code - 2)
        elif bs_code >= 0b1000:
            bs = 256 << (bs_code - 8)
        else:
            raise ValueError("reserved FLAC blocksize code")
        if sr_code == 0b1100:
            br.read(8)
        elif sr_code in (0b1101, 0b1110):
            br.read(16)
        if ch_code >= 8:
            raise ValueError("stereo decorrelation not supported")
        if ch_code + 1 != n_channels:
            raise ValueError("frame/STREAMINFO channel mismatch")
        if ss_code != 0b100:
            raise ValueError("frame sample size must be 16-bit")
        header_len = br.pos - frame_start
        crc8 = br.read(8)
        if _flac_crc8(payload[frame_start : frame_start + header_len]) != crc8:
            raise ValueError("FLAC frame header CRC-8 mismatch")
        for c in range(n_channels):
            if br.read(1):
                raise ValueError("FLAC subframe pad bit set")
            stype = br.read(6)
            wasted = 0
            if br.read(1):
                wasted = 1
                while br.read(1) == 0:
                    wasted += 1
            eff = 16 - wasted
            if stype == 0:
                v = br.read_signed(eff)
                x = np.full(bs, v, dtype=np.int64)
            elif stype == 1:
                x = np.array([br.read_signed(eff) for _ in range(bs)], dtype=np.int64)
            elif 8 <= stype <= 12:
                order = stype - 8
                warm = [br.read_signed(eff) for _ in range(order)]
                res = _flac_read_residual(br, bs, order)
                x = np.empty(bs, dtype=np.int64)
                x[:order] = warm
                if order == 0:
                    x = res.copy()
                else:
                    # undo repeated differencing by cumulative sums
                    cur = res
                    for o in range(order, 0, -1):
                        warm_o = _flac_fixed_residual(
                            np.array(warm, dtype=np.int64), o - 1
                        )
                        cur = np.concatenate([[warm_o[-1]], cur]).cumsum()[1:]
                    x[order:] = cur
                    x[:order] = warm
            elif stype >= 32:
                order = stype - 31
                warm = [br.read_signed(eff) for _ in range(order)]
                precision = br.read(4) + 1
                if precision == 16:
                    raise ValueError("invalid FLAC LPC precision")
                shift = br.read_signed(5)
                if shift < 0:
                    raise ValueError("negative FLAC LPC shift")
                coefs = [br.read_signed(precision) for _ in range(order)]
                res = _flac_read_residual(br, bs, order)
                x = np.empty(bs, dtype=np.int64)
                x[:order] = warm
                for i in range(order, bs):
                    acc = 0
                    for j in range(order):
                        acc += coefs[j] * x[i - 1 - j]
                    x[i] = (acc >> shift) + res[i - order]
            else:
                raise ValueError("reserved FLAC subframe type")
            if wasted:
                x <<= wasted
            chans[c].append(x)
        br.align()
        body_len = br.pos - frame_start
        crc16 = struct.unpack_from(">H", payload, br.pos)[0]
        if _flac_crc16(payload[frame_start : frame_start + body_len]) != crc16:
            raise ValueError("FLAC frame CRC-16 mismatch")
        pos = br.pos + 2

    out = np.stack([np.concatenate(c) for c in chans], axis=1)
    if total_samples and out.shape[0] != total_samples:
        raise ValueError("FLAC sample count mismatch")
    if out.max(initial=0) > 32767 or out.min(initial=0) < -32768:
        raise ValueError("FLAC decoded samples exceed 16-bit range")
    out16 = out.astype(np.int16)
    if hashlib.md5(out16.astype("<i2").tobytes()).digest() != md5_expect:
        raise ValueError("FLAC MD5 signature mismatch")
    return out16, sample_rate


def alaw_encode(samples) -> bytes:
    """REAL G.711 A-law compression — the European/international twin of
    :func:`mulaw_encode` (same ITU-T G.711 standard, Sun g711.c
    semantics): 16-bit PCM -> 13-bit domain -> segment/mantissa
    companding with alternate-bit inversion (XOR 0x55)."""
    import numpy as np

    x = np.asarray(samples, dtype=np.int64)
    if x.ndim != 1:
        raise ValueError("alaw_encode expects a 1-D sample array")
    x13 = x >> 3  # arithmetic shift: 16-bit -> 13-bit domain
    neg = x < 0
    v = np.where(neg, -x13 - 1, x13)
    # segment by threshold comparison (integer-exact, SQL-replayable)
    seg = sum((v > t).astype(np.int64)
              for t in (0x1F, 0x3F, 0x7F, 0xFF, 0x1FF, 0x3FF, 0x7FF))
    shift = np.maximum(seg, 1)
    mantissa = (v >> shift) & 0x0F
    mask = np.where(neg, 0x55, 0xD5)
    byte = ((seg << 4) | mantissa) ^ mask
    return bytes(byte.astype(np.uint8).tobytes())


def alaw_decode(payload: bytes):
    """G.711 A-law expansion back to 16-bit PCM (Sun g711.c
    alaw2linear): XOR 0x55, rebuild segment/mantissa, mid-rise offset
    (+8 / +0x108), sign from bit 7."""
    import numpy as np

    a = np.frombuffer(payload, dtype=np.uint8).astype(np.int64) ^ 0x55
    t = (a & 0x0F) << 4
    seg = (a >> 4) & 0x07
    mag = np.where(
        seg == 0, t + 8,
        np.where(seg == 1, t + 0x108, (t + 0x108) << np.maximum(seg - 1, 0))
    )
    return np.where(a & 0x80, mag, -mag).astype(np.int16)


IMAGE_DHASH_SCHEMA = StructType(
    [
        StructField("asset_id", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("dhash", LongType()),
    ]
)


def image_dhash(
    df: DataFrame,
    binary_col: str,
    id_col: str,
    grid_rows: int = 8,
    grid_cols: int = 8,
) -> DataFrame:
    """Perceptual difference-hash over REAL decoded pixels — the
    multimodal near-dup key: re-encodes, uniform brightness shifts, and
    benign transcodes keep the hash, so one groupBy clusters perceptual
    duplicates the way content-hash dedup clusters exact bytes.

    Integer-exact pipeline (so an external SQL engine can replay it from
    pixel formulas): per-pixel luma ``299R + 587G + 114B`` (scaled x1000,
    never divided), an integer-boundary ``grid_rows x grid_cols`` tiling
    of region SUMS, and bit ``(R, C) = 1`` iff region ``(R, C+1)`` out-
    brightens ``(R, C)`` under the cross-multiplied area-normalized
    compare ``s1 * a0 > s0 * a1`` (exact mean comparison without
    division).  Bits pack LSB-first as ``R * (grid_cols-1) + C`` into an
    int64 — ``grid_rows * (grid_cols - 1)`` must stay <= 62.

    Gradient bits are invariant to uniform brightness shifts by
    construction (sums over equal-area regions shift equally).  Arrow-
    batched ``mapInPandas``, narrow, no shuffle; downstream clustering is
    one groupBy on the 8-byte hash — at 100 TB of images the dedup key
    exchange is hash-width, never pixel-width.
    """
    import numpy as np

    if grid_rows * (grid_cols - 1) > 62:
        raise ValueError("dhash bit count exceeds a signed int64")
    cols = df.select(F.col(id_col).cast("string"), F.col(binary_col))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in ("asset_id", "width", "height", "dhash")}
            for asset_id, payload in zip(pdf[id_col], pdf[binary_col]):
                px = image_pixels(bytes(payload))
                out["asset_id"].append(asset_id)
                out["width"].append(px.shape[1])
                out["height"].append(px.shape[0])
                out["dhash"].append(_dhash_from_pixels(px, grid_rows, grid_cols))
            yield pd.DataFrame(out)

    return cols.mapInPandas(run, IMAGE_DHASH_SCHEMA)


def _dhash_from_pixels(px, grid_rows: int, grid_cols: int) -> int:
    """The integer-exact dhash core shared by :func:`image_dhash` (one
    still) and :func:`video_fingerprint` (every decoded frame)."""
    import numpy as np

    px = px.astype(np.int64)
    h, w = px.shape[0], px.shape[1]
    if px.shape[2] >= 3:
        luma = 299 * px[..., 0] + 587 * px[..., 1] + 114 * px[..., 2]
    else:
        luma = px[..., 0] * 1000
    rb = [r * h // grid_rows for r in range(grid_rows + 1)]
    cb = [c * w // grid_cols for c in range(grid_cols + 1)]
    s = np.add.reduceat(np.add.reduceat(luma, rb[:-1], axis=0), cb[:-1], axis=1)
    areas = np.outer(np.diff(rb), np.diff(cb))
    bits = s[:, 1:] * areas[:, :-1] > s[:, :-1] * areas[:, 1:]
    weights = (
        np.int64(1)
        << np.arange(grid_rows * (grid_cols - 1), dtype=np.int64).reshape(
            grid_rows, grid_cols - 1
        )
    )
    return int((bits * weights).sum())


AUDIO_FINGERPRINT_SCHEMA = StructType(
    [
        StructField("asset_id", StringType()),
        StructField("n_samples", IntegerType()),
        StructField("sample_rate_hz", IntegerType()),
        StructField("fingerprint", LongType()),
    ]
)


def audio_fingerprint(
    df: DataFrame, binary_col: str, id_col: str, frames: int = 57
) -> DataFrame:
    """Gain-invariant perceptual audio fingerprint — the audio twin of
    :func:`image_dhash`: re-encodes (WAV <-> FLAC) and uniform volume
    changes keep the fingerprint, so one groupBy on an 8-byte key
    clusters perceptually identical recordings across containers and
    mastering levels.

    Integer-exact: the first channel splits into ``frames``
    integer-boundary frames; frame ENERGY is the exact int64 sum of
    squared samples (a uniform gain g scales every energy by g², leaving
    comparisons unchanged); bit ``k`` = 1 iff frame ``k+1`` out-powers
    frame ``k`` under the cross-multiplied length-normalized compare
    (exact mean-energy comparison without division).  ``frames - 1``
    bits pack LSB-first into an int64 (``frames <= 63``).

    Arrow-batched ``mapInPandas`` over :func:`audio_samples`
    (WAV/FLAC dispatch), narrow, no shuffle.
    """
    import numpy as np

    if frames < 2 or frames > 63:
        raise ValueError("audio_fingerprint needs 2 <= frames <= 63")
    cols = df.select(F.col(id_col).cast("string"), F.col(binary_col))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                k: []
                for k in ("asset_id", "n_samples", "sample_rate_hz", "fingerprint")
            }
            for asset_id, payload in zip(pdf[id_col], pdf[binary_col]):
                samples, rate = audio_samples(bytes(payload))
                ch0 = samples[:, 0].astype(np.int64)
                n = ch0.size
                sq = ch0 * ch0
                fb = [k * n // frames for k in range(frames + 1)]
                e = np.add.reduceat(sq, fb[:-1])
                lens = np.diff(fb)
                fp = 0
                for k in range(frames - 1):
                    # python ints: the cross product can exceed int64
                    if int(e[k + 1]) * int(lens[k]) > int(e[k]) * int(lens[k + 1]):
                        fp |= 1 << k
                out["asset_id"].append(asset_id)
                out["n_samples"].append(n)
                out["sample_rate_hz"].append(rate)
                out["fingerprint"].append(fp)
            yield pd.DataFrame(out)

    return cols.mapInPandas(run, AUDIO_FINGERPRINT_SCHEMA)


VIDEO_FINGERPRINT_SCHEMA = StructType(
    [
        StructField("asset_id", StringType()),
        StructField("n_frames", IntegerType()),
        StructField("clip_fp", StringType()),
    ]
)


def video_fingerprint(
    df: DataFrame,
    binary_col: str,
    id_col: str,
    grid_rows: int = 8,
    grid_cols: int = 8,
) -> DataFrame:
    """Perceptual VIDEO fingerprint — the temporal member of the
    dedup trio (image :func:`image_dhash`, audio
    :func:`audio_fingerprint`): every decoded frame gets the shared
    integer-exact dhash, and the clip fingerprint is the md5 of the
    comma-joined per-frame hash sequence.  Container metadata (fps,
    stream headers) never enters the hash, so re-muxed / re-timed copies
    of the same frames collide; any frame-content change separates.

    Decodes through :func:`avi_frames` (fourcc dispatch: raw DIB or MS
    Video 1 conditional-replenishment streams).  Arrow-batched
    ``mapInPandas``, narrow; clustering downstream is a groupBy on the
    32-char fingerprint.
    """
    import hashlib as _hashlib

    cols = df.select(F.col(id_col).cast("string"), F.col(binary_col))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in ("asset_id", "n_frames", "clip_fp")}
            for asset_id, payload in zip(pdf[id_col], pdf[binary_col]):
                frames = avi_frames(bytes(payload))
                hashes = [
                    str(_dhash_from_pixels(fr, grid_rows, grid_cols))
                    for fr in frames
                ]
                out["asset_id"].append(asset_id)
                out["n_frames"].append(len(frames))
                out["clip_fp"].append(
                    _hashlib.md5(",".join(hashes).encode()).hexdigest()
                )
            yield pd.DataFrame(out)

    return cols.mapInPandas(run, VIDEO_FINGERPRINT_SCHEMA)


# ---------------------------------------------------------------------------
# PDF (ISO 32000 / PDF 1.4 subset) — the document-ingestion format every
# training pipeline meets.  A REAL minimal writer and parser: objects,
# xref table, page tree, Helvetica text operators, and FlateDecode
# content streams via stdlib zlib.  No external libraries.
# ---------------------------------------------------------------------------


def _pdf_escape(text: str) -> bytes:
    out = []
    for ch in text:
        if ch in "()\\":
            out.append("\\" + ch)
        elif ch == "\n":
            out.append("\\n")
        else:
            out.append(ch)
    return "".join(out).encode("latin-1", "replace")


def pdf_encode(pages: list, compress: tuple = ()) -> bytes:
    """Write a valid single-column PDF 1.4: one Helvetica ``Tj`` text run
    per page; pages whose index is in ``compress`` get FlateDecode
    content streams (stdlib zlib).  Produces a correct xref table and
    trailer, so the output opens in real viewers."""
    import zlib

    chunks = [b"%PDF-1.4\n"]
    offsets = {}

    def emit(num: int, body: bytes):
        offsets[num] = sum(len(c) for c in chunks)
        chunks.append(b"%d 0 obj\n" % num + body + b"\nendobj\n")

    n = len(pages)
    kids = " ".join(f"{4 + 2 * i} 0 R" for i in range(n))
    emit(1, b"<< /Type /Catalog /Pages 2 0 R >>")
    emit(2, f"<< /Type /Pages /Kids [{kids}] /Count {n} >>".encode())
    emit(3, b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
    for i, text in enumerate(pages):
        page_num, content_num = 4 + 2 * i, 5 + 2 * i
        emit(
            page_num,
            (
                f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
                f"/Resources << /Font << /F1 3 0 R >> >> "
                f"/Contents {content_num} 0 R >>"
            ).encode(),
        )
        stream = (
            b"BT /F1 12 Tf 72 720 Td (" + _pdf_escape(text) + b") Tj ET"
        )
        if i in compress:
            data = zlib.compress(stream)
            head = b"<< /Filter /FlateDecode /Length %d >>" % len(data)
        else:
            data = stream
            head = b"<< /Length %d >>" % len(data)
        emit(content_num, head + b"\nstream\n" + data + b"\nendstream")
    xref_at = sum(len(c) for c in chunks)
    top = 4 + 2 * n
    lines = [b"xref\n", b"0 %d\n" % top, b"0000000000 65535 f \n"]
    for num in range(1, top):
        lines.append(b"%010d 00000 n \n" % offsets[num])
    chunks.extend(lines)
    chunks.append(
        b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n"
        % (top, xref_at)
    )
    return b"".join(chunks)


def _pdf_unescape(raw: bytes) -> str:
    out, i = [], 0
    while i < len(raw):
        b = raw[i : i + 1]
        if b == b"\\" and i + 1 < len(raw):
            nxt = raw[i + 1 : i + 2]
            out.append({b"n": "\n", b"r": "\r", b"t": "\t"}.get(nxt, nxt.decode("latin-1")))
            i += 2
        else:
            out.append(b.decode("latin-1"))
            i += 1
    return "".join(out)


def pdf_text(payload: bytes) -> list:
    """Parse a PDF and return the text of each page in page-tree order:
    walks ``N 0 obj``..``endobj`` objects, resolves Catalog -> Pages ->
    Kids -> Contents, inflates FlateDecode streams (stdlib zlib), and
    collects ``(...) Tj`` show-text operators with escape handling.
    Raises ``ValueError`` on structural problems — corrupt documents are
    data to quarantine, not formats to guess at."""
    import re
    import zlib

    if not payload.startswith(b"%PDF-"):
        raise ValueError("not a PDF payload")
    objects = {}
    for m in re.finditer(rb"(\d+)\s+0\s+obj(.*?)endobj", payload, re.S):
        num, body = int(m.group(1)), m.group(2)
        sm = re.search(rb"stream\r?\n", body)
        if sm:
            head = body[: sm.start()]
            data = body[sm.end() :]
            em = data.rfind(b"endstream")
            if em < 0:
                raise ValueError("unterminated stream object")
            lm = re.search(rb"/Length\s+(\d+)", head)
            if lm:
                # exact byte count from the dict: NEVER strip trailing
                # bytes — compressed data legitimately ends in 0x0a/0x0d
                stream = data[: int(lm.group(1))]
            else:
                # spec: one EOL separates data from 'endstream'
                stream = data[:em]
                if stream.endswith(b"\n"):
                    stream = stream[:-1]
                if stream.endswith(b"\r"):
                    stream = stream[:-1]
        else:
            head, stream = body, None
        objects[num] = (head, stream)
    catalog = next(
        (o for o in objects.values() if b"/Catalog" in o[0]), None
    )
    if catalog is None:
        raise ValueError("no /Catalog object")
    pages_ref = re.search(rb"/Pages\s+(\d+)\s+0\s+R", catalog[0])
    pages_obj = objects[int(pages_ref.group(1))]
    kids = re.search(rb"/Kids\s*\[(.*?)\]", pages_obj[0], re.S)
    texts = []
    for pm in re.finditer(rb"(\d+)\s+0\s+R", kids.group(1)):
        page = objects[int(pm.group(1))]
        cref = re.search(rb"/Contents\s+(\d+)\s+0\s+R", page[0])
        head, stream = objects[int(cref.group(1))]
        if stream is None:
            raise ValueError("page content is not a stream object")
        if b"/FlateDecode" in head:
            stream = zlib.decompress(stream)
        parts = []
        for tm in re.finditer(rb"\(((?:\\.|[^\\()])*)\)\s*Tj", stream, re.S):
            parts.append(_pdf_unescape(tm.group(1)))
        texts.append("".join(parts))
    return texts


PDF_TEXT_SCHEMA = StructType(
    [
        StructField("asset_id", StringType()),
        StructField("page", IntegerType()),
        StructField("text", StringType()),
    ]
)


def extract_pdf_text(df: DataFrame, binary_col: str, id_col: str) -> DataFrame:
    """Arrow-batched PDF text extraction: one output row per page —
    the ingestion front door for PDF corpora, feeding the same
    cleaning/dedup operators as HTML and WARC text.  Narrow
    ``mapInPandas``, no shuffle; downstream ops key by (asset, page)."""

    cols = df.select(F.col(id_col).cast("string"), F.col(binary_col))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"asset_id": [], "page": [], "text": []}
            for asset_id, payload in zip(pdf[id_col], pdf[binary_col]):
                for pg, text in enumerate(pdf_text(bytes(payload))):
                    out["asset_id"].append(asset_id)
                    out["page"].append(pg)
                    out["text"].append(text)
            yield pd.DataFrame(out)

    return cols.mapInPandas(run, PDF_TEXT_SCHEMA)


# ---------------------------------------------------------------------------
# TIFF 6.0 (baseline gray-8, single strip, PackBits or uncompressed)
# ---------------------------------------------------------------------------

def _packbits_encode(row: bytes) -> bytes:
    """Canonical PackBits (TIFF 6.0 §9) for ONE row: runs of >= 3 identical
    bytes become (257-n, byte); everything else batches into literal
    groups of <= 128.  Deterministic — same bytes in, same bytes out."""
    out = bytearray()
    i, n = 0, len(row)
    lit_start = 0

    def flush_literals(upto: int) -> None:
        s = lit_start
        while s < upto:
            chunk = row[s:min(s + 128, upto)]
            out.append(len(chunk) - 1)
            out.extend(chunk)
            s += len(chunk)

    while i < n:
        run = 1
        while i + run < n and row[i + run] == row[i] and run < 128:
            run += 1
        if run >= 3:
            flush_literals(i)
            out.append(257 - run)
            out.append(row[i])
            i += run
            lit_start = i
        else:
            i += run
    flush_literals(n)
    return bytes(out)


def _packbits_decode(data: bytes, expected: int) -> bytes:
    """Inverse of :func:`_packbits_encode`; stops after ``expected``
    output bytes (TIFF strips know their decompressed size)."""
    out = bytearray()
    i = 0
    while len(out) < expected:
        if i >= len(data):
            raise ValueError("PackBits stream truncated")
        h = data[i]
        i += 1
        if h < 128:                      # literal run of h+1 bytes
            if i + h + 1 > len(data):
                raise ValueError("PackBits literal overruns stream")
            out.extend(data[i:i + h + 1])
            i += h + 1
        elif h > 128:                    # repeat next byte 257-h times
            if i >= len(data):
                raise ValueError("PackBits repeat missing byte")
            out.extend(bytes([data[i]]) * (257 - h))
            i += 1
        # h == 128: no-op per spec
    if len(out) != expected:
        raise ValueError("PackBits output overshoots strip size")
    return bytes(out)


def tiff_encode(pixels, compression: str = "packbits") -> bytes:
    """REAL baseline TIFF 6.0 writer (little-endian, gray-8, ONE strip):
    8-byte header, strip data at offset 8, then a 9-tag IFD
    (width/length/bits/compression/photometric/strip offset/samples/
    rows-per-strip/strip byte count).  ``compression``: "packbits"
    (32773, per-row canonical PackBits — rows stay independently
    decodable per the spec's restart recommendation) or "none" (1).
    Deterministic byte-for-byte."""
    import struct

    import numpy as np

    px = np.asarray(pixels, dtype=np.uint8)
    if px.ndim != 2:
        raise ValueError("tiff_encode expects a 2-D gray-8 array")
    h, w = px.shape
    if compression == "packbits":
        strip = b"".join(_packbits_encode(px[r].tobytes()) for r in range(h))
        comp_tag = 32773
    elif compression == "none":
        strip = px.tobytes()
        comp_tag = 1
    else:
        raise ValueError(f"unsupported TIFF compression: {compression}")
    if len(strip) % 2:
        strip += b"\x00"  # IFD must start on a word boundary
    ifd_offset = 8 + len(strip)
    header = struct.pack("<2sHI", b"II", 42, ifd_offset)

    def tag(tid: int, ttype: int, count: int, value: int) -> bytes:
        return struct.pack("<HHII", tid, ttype, count, value)

    tags = [
        tag(256, 3, 1, w),            # ImageWidth  (SHORT)
        tag(257, 3, 1, h),            # ImageLength
        tag(258, 3, 1, 8),            # BitsPerSample
        tag(259, 3, 1, comp_tag),     # Compression
        tag(262, 3, 1, 1),            # Photometric: BlackIsZero
        tag(273, 4, 1, 8),            # StripOffsets -> data at offset 8
        tag(277, 3, 1, 1),            # SamplesPerPixel
        tag(278, 3, 1, h),            # RowsPerStrip (one strip)
        tag(279, 4, 1, len(strip)),   # StripByteCounts (incl. pad)
    ]
    ifd = struct.pack("<H", len(tags)) + b"".join(tags) + struct.pack("<I", 0)
    return header + strip + ifd


@_decode_errors
def tiff_decode(payload: bytes) -> dict:
    """REAL baseline TIFF reader: both byte orders, walks the first IFD,
    supports gray-8 single-strip images with PackBits or no compression
    (the exact surface :func:`tiff_encode` writes, plus big-endian
    files from other writers).  Returns the metadata dict; use
    :func:`tiff_pixels` for the sample array."""
    import struct

    if len(payload) < 8 or payload[:2] not in (b"II", b"MM"):
        raise ValueError("not a TIFF payload")
    bo = "<" if payload[:2] == b"II" else ">"
    magic, ifd_offset = struct.unpack_from(bo + "HI", payload, 2)
    if magic != 42:
        raise ValueError("bad TIFF magic")
    (n_tags,) = struct.unpack_from(bo + "H", payload, ifd_offset)
    tags = {}
    for i in range(n_tags):
        tid, ttype, count, value = struct.unpack_from(
            bo + "HHII", payload, ifd_offset + 2 + 12 * i
        )
        if ttype == 3:  # SHORT packed into the value word
            value = struct.unpack_from(bo + "HH", payload,
                                       ifd_offset + 2 + 12 * i + 8)[0]
        tags[tid] = (ttype, count, value)
    try:
        w = tags[256][2]
        h = tags[257][2]
        comp = tags[259][2]
    except KeyError as exc:
        raise ValueError(f"TIFF missing required tag: {exc}") from None
    if tags.get(258, (3, 1, 8))[2] != 8 or tags.get(277, (3, 1, 1))[2] != 1:
        raise ValueError("only gray-8 single-sample TIFF supported")
    if comp not in (1, 32773):
        raise ValueError(f"unsupported TIFF compression tag {comp}")
    return {
        "media_type": "image",
        "format": "tiff",
        "width": int(w),
        "height": int(h),
        "compression": "packbits" if comp == 32773 else "none",
    }


@_decode_errors
def tiff_pixels(payload: bytes):
    """Decode a :func:`tiff_decode`-supported TIFF to an (h, w) uint8
    array (REAL sample access, numpy only)."""
    import struct

    import numpy as np

    meta = tiff_decode(payload)
    bo = "<" if payload[:2] == b"II" else ">"
    (ifd_offset,) = struct.unpack_from(bo + "I", payload, 4)
    (n_tags,) = struct.unpack_from(bo + "H", payload, ifd_offset)
    tags = {}
    for i in range(n_tags):
        tid, ttype, count, value = struct.unpack_from(
            bo + "HHII", payload, ifd_offset + 2 + 12 * i
        )
        if ttype == 3:
            value = struct.unpack_from(bo + "HH", payload,
                                       ifd_offset + 2 + 12 * i + 8)[0]
        tags[tid] = value
    w, h = meta["width"], meta["height"]
    off, nbytes = tags[273], tags[279]
    strip = payload[off:off + nbytes]
    if len(strip) < nbytes:
        raise ValueError("TIFF strip truncated")
    if meta["compression"] == "packbits":
        raw = _packbits_decode(strip, w * h)
    else:
        raw = strip[: w * h]
        if len(raw) < w * h:
            raise ValueError("TIFF strip shorter than image")
    return np.frombuffer(raw, dtype=np.uint8).reshape(h, w)
