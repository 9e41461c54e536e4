"""Multimodal (image/audio/video) column plumbing.

Media payloads are opaque ``binary`` columns plus typed metadata
(mime type, width/height, duration, ...). The Spark-side machinery —
schema, partition-friendly batch iteration, Arrow transfer, UDF
signatures — is real and tested. Codecs:

* REAL, dependency-free decoders for formats that need none beyond
  the stdlib: PPM/PGM images (binary P5/P6 — numpy), PNG (stdlib
  ``zlib`` inflate + all five per-row unfilters, 8-bit
  gray/RGB/RGBA non-interlaced), WAV audio (stdlib ``wave``), and
  concatenated-netpbm video streams (the ``ffmpeg -f image2pipe
  -vcodec ppm`` shape). Decode, feature-extract (grayscale
  histogram / RMS amplitude), nearest-neighbour resize with PPM
  re-encode, and frame sampling all actually run.
* REAL JPEG (``replay_spark.jpeg`` — pure numpy huffman + DCT):
  the full huffman family — baseline AND progressive decode with
  both spectral selection and successive approximation (4:4:4/
  4:2:2/4:2:0 chroma upsampling, restart markers, EOBRUN,
  correction bits), baseline/progressive encode with the standard
  Annex-K tables. MP4/WebM frame decode remains the honest gap
  behind the ``splitter=`` hook (MP4 container METADATA is parsed
  for real — see ``parse_mp4_metadata``).

At scale: ``mapInPandas`` streams Arrow batches per partition, so a
1000-executor cluster decodes in parallel with zero driver
involvement; binary payloads never leave the executor that read
them.
"""

from __future__ import annotations

import hashlib
from typing import Callable, Optional, Sequence

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from replay_spark.utils.spark_utils import map_rows

__all__ = [
    "MEDIA_SCHEMA",
    "attach_media_metadata",
    "MediaProcessor",
    "stub_image_decoder",
    "decode_ppm",
    "encode_ppm",
    "split_netpbm_stream",
    "probe_media_dimensions",
    "ppm_image_decoder",
    "decode_wav",
    "encode_wav",
    "wav_audio_decoder",
    "AudioFrameFeaturizer",
    "SpectrogramFeaturizer",
    "ImageAugmenter",
    "validate_media",
    "decode_png",
    "encode_png",
    "png_image_decoder",
    "decode_jpeg",
    "encode_jpeg",
    "jpeg_image_decoder",
    "auto_image_decoder",
    "perceptual_hash",
    "ImagePerceptualDeduplicator",
    "parse_mp4_metadata",
    "mp4_metadata",
    "build_mp4_container",
    "build_mp4_media",
    "split_mp4_samples",
    "build_webm_media",
    "split_webm_frames",
    "parse_webm_metadata",
    "webm_metadata",
    "build_webm_container",
    "decode_gif",
    "encode_gif",
    "decode_gif_frames",
    "split_gif_frames",
    "gif_image_decoder",
    "build_avi_container",
    "parse_avi_metadata",
    "split_avi_frames",
    "avi_metadata",
]

# real baseline-JPEG codec lives in its own module (pure numpy
# huffman + DCT); re-exported here so every codec is importable from
# one place
from replay_spark.jpeg import (  # noqa: E402,F401
    decode_jpeg,
    encode_jpeg,
    jpeg_image_decoder,
)
from replay_spark.gif import (  # noqa: E402,F401
    decode_gif,
    decode_gif_frames,
    encode_gif,
    split_gif_frames,
)


def gif_image_decoder(payload: bytes) -> dict:
    """``MediaProcessor``-shaped REAL GIF decode: dimensions + the
    16-bin normalized grayscale histogram of the FIRST composed
    frame (animations: sample frames via ``split_gif_frames`` as the
    ``splitter=`` instead)."""
    img = decode_gif(payload)
    gray = _gray(img)
    hist, _ = np.histogram(gray, bins=16, range=(0.0, 256.0))
    total = max(int(hist.sum()), 1)
    return {
        "width": int(img.shape[1]),
        "height": int(img.shape[0]),
        "features": [float(v) / total for v in hist],
    }

# Canonical media-column schema: payload + sidecar metadata.
MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("payload", BinaryType()),
        StructField("mime_type", StringType()),
        StructField("num_bytes", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("duration_ms", IntegerType()),
    ]
)


def attach_media_metadata(
    df: DataFrame, payload_column: str = "payload"
) -> DataFrame:
    """Cheap JVM-side metadata: byte length + content hash."""
    return df.withColumn(
        "num_bytes", F.length(F.col(payload_column)).cast("long")
    ).withColumn("content_hash", F.md5(F.col(payload_column)))


# -- real, dependency-free codecs -------------------------------------------


def _parse_netpbm_header(
    payload: bytes, offset: int = 0
) -> tuple[str, int, int, int, int]:
    """Parse a binary PPM/PGM header starting at ``offset``; returns
    (magic, width, height, channels, raster_offset). Header = magic,
    width, height, maxval as whitespace-separated tokens (comment
    lines start with '#')."""
    if (
        payload is None
        or len(payload) < offset + 2
        or payload[offset : offset + 1] != b"P"
    ):
        raise ValueError("not a PPM/PGM payload")
    magic = payload[offset : offset + 2].decode("ascii", "replace")
    if magic not in ("P5", "P6"):
        raise ValueError(f"unsupported netpbm magic {magic!r}")
    tokens: list[bytes] = []
    i = offset + 2
    while len(tokens) < 3 and i < len(payload):
        c = payload[i : i + 1]
        if c == b"#":
            while i < len(payload) and payload[i : i + 1] != b"\n":
                i += 1
        elif c.isspace():
            i += 1
        else:
            start = i
            while i < len(payload) and not payload[i : i + 1].isspace():
                i += 1
            tokens.append(payload[start:i])
    i += 1  # single whitespace after maxval
    width, height, maxval = (int(t) for t in tokens)
    if maxval > 255:
        raise ValueError("16-bit netpbm not supported")
    channels = 3 if magic == "P6" else 1
    return magic, width, height, channels, i


def decode_ppm(payload: bytes) -> tuple[np.ndarray, str]:
    """Decode binary PPM (P6, RGB) / PGM (P5, gray) into an ndarray
    of shape (h, w, 3) or (h, w). Pure numpy — no image libraries.
    Raises ValueError on anything that isn't binary PPM/PGM."""
    magic, width, height, channels, i = _parse_netpbm_header(payload)
    need = width * height * channels
    raster = np.frombuffer(payload, dtype=np.uint8, count=need, offset=i)
    if channels == 3:
        return raster.reshape(height, width, 3), magic
    return raster.reshape(height, width), magic


def probe_media_dimensions(payload: bytes) -> tuple[int, int]:
    """Sniff (width, height) from a single-frame payload's HEADER
    without a full decode — binary netpbm, JPEG (SOF marker walk),
    PNG (IHDR), or GIF (logical screen descriptor). This is what
    lets :meth:`MediaProcessor.sample_frames` keep compressed frames
    compressed: the splitter slices the container, only the frames a
    tick actually keeps are ever fully decoded downstream."""
    import struct as _struct

    if payload is None or len(payload) < 8:
        raise ValueError("payload too short to probe")
    data = bytes(payload[:64]) if len(payload) > 64 else bytes(payload)
    if data[:1] == b"P":
        _, w, h, _, _ = _parse_netpbm_header(payload)
        return w, h
    if data[:8] == b"\x89PNG\r\n\x1a\n":
        w, h = _struct.unpack(">II", bytes(payload[16:24]))
        return w, h
    if data[:6] in (b"GIF87a", b"GIF89a"):
        w, h = _struct.unpack("<HH", bytes(payload[6:10]))
        return w, h
    if data[:2] == b"\xff\xd8":
        buf = bytes(payload)
        pos = 2
        while pos + 4 <= len(buf):
            if buf[pos] != 0xFF:
                pos += 1
                continue
            marker = buf[pos + 1]
            if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                pos += 2
                continue
            (seglen,) = _struct.unpack(">H", buf[pos + 2 : pos + 4])
            if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                h, w = _struct.unpack(">HH", buf[pos + 5 : pos + 9])
                return w, h
            pos += 2 + seglen
        raise ValueError("JPEG payload has no SOF marker")
    raise ValueError("unrecognized frame payload format")


def split_netpbm_stream(payload: bytes) -> list[bytes]:
    """Split a concatenated binary PPM/PGM stream — the uncompressed
    video shape ffmpeg emits with ``-f image2pipe -vcodec ppm`` — into
    single-frame payloads. Frames may vary in size; each is a
    self-contained PPM/PGM document."""
    frames: list[bytes] = []
    off, n = 0, len(payload or b"")
    while off < n:
        _, w, h, ch, data_off = _parse_netpbm_header(payload, off)
        end = data_off + w * h * ch
        if end > n:
            raise ValueError("truncated netpbm stream")
        frames.append(payload[off:end])
        off = end
    return frames


def encode_ppm(array: np.ndarray) -> bytes:
    """Encode (h, w[, 3]) uint8 ndarray as binary PGM/PPM."""
    arr = np.asarray(array, dtype=np.uint8)
    if arr.ndim == 3 and arr.shape[2] == 3:
        magic = b"P6"
        h, w = arr.shape[:2]
    elif arr.ndim == 2:
        magic = b"P5"
        h, w = arr.shape
    else:
        raise ValueError(f"cannot encode array of shape {arr.shape}")
    header = magic + b"\n" + f"{w} {h}\n255\n".encode("ascii")
    return header + arr.tobytes()


def _gray(img: np.ndarray) -> np.ndarray:
    if img.ndim == 3:
        # grayscale content stored as RGB (GIF has no grayscale mode;
        # split_gif_frames emits P6) is collapsed EXACTLY — the luma
        # mix of equal channels is v*(0.299+0.587+0.114) which is v
        # only up to float error, enough to flip a histogram bin at
        # multiples of the bin width
        if np.array_equal(img[..., 0], img[..., 1]) and np.array_equal(
            img[..., 1], img[..., 2]
        ):
            return img[..., 0].astype(np.float64)
        return (
            0.299 * img[..., 0] + 0.587 * img[..., 1] + 0.114 * img[..., 2]
        )
    return img.astype(np.float64)


def ppm_image_decoder(payload: bytes) -> dict:
    """REAL image decode for binary PPM/PGM: dimensions + a 16-bin
    normalized grayscale histogram as the feature vector."""
    img, _ = decode_ppm(payload)
    gray = _gray(img)
    hist, _ = np.histogram(gray, bins=16, range=(0.0, 256.0))
    total = max(int(hist.sum()), 1)
    return {
        "width": int(img.shape[1]),
        "height": int(img.shape[0]),
        "features": [float(h) / total for h in hist],
    }


def encode_wav(
    samples: np.ndarray, sample_rate: int = 8000, num_channels: int = 1
) -> bytes:
    """Encode an int16 sample array as 16-bit PCM WAV via stdlib
    ``wave`` — the lossless inverse of :func:`decode_wav` for
    sampwidth-2 payloads."""
    import io
    import wave

    arr = np.asarray(samples, dtype=np.int16)
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(num_channels)
        w.setsampwidth(2)
        w.setframerate(sample_rate)
        w.writeframes(arr.tobytes())
    return buf.getvalue()


def decode_wav(payload: bytes) -> dict:
    """REAL audio decode via stdlib ``wave``: sample rate, channels,
    duration, and RMS amplitude per 16 equal segments as features."""
    import io
    import wave

    with wave.open(io.BytesIO(payload), "rb") as w:
        rate = w.getframerate()
        channels = w.getnchannels()
        sampwidth = w.getsampwidth()
        n = w.getnframes()
        raw = w.readframes(n)
    dtype = {1: np.uint8, 2: np.int16, 4: np.int32}.get(sampwidth)
    if dtype is None:
        raise ValueError(f"unsupported WAV sample width {sampwidth}")
    samples = np.frombuffer(raw, dtype=dtype).astype(np.float64)
    if sampwidth == 1:
        samples -= 128.0
    duration_ms = int(round(1000.0 * n / rate)) if rate else 0
    segs = np.array_split(samples, 16) if samples.size else []
    scale = float(2 ** (8 * sampwidth - 1))
    features = [
        float(np.sqrt(np.mean(s**2)) / scale) if s.size else 0.0
        for s in segs
    ] or [0.0] * 16
    return {
        "sample_rate": rate,
        "num_channels": channels,
        "duration_ms": duration_ms,
        "features": features,
    }


def wav_audio_decoder(payload: bytes) -> dict:
    """``MediaProcessor``-shaped adapter for WAV payloads (width
    carries the sample rate, height the channel count)."""
    meta = decode_wav(payload)
    return {
        "width": meta["sample_rate"],
        "height": meta["num_channels"],
        "features": meta["features"],
    }


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def encode_png(array: np.ndarray, filter_type: int = 0) -> bytes:
    """REAL PNG encoder via stdlib ``zlib`` — 8-bit grayscale (h, w)
    or RGB (h, w, 3), non-interlaced. ``filter_type`` selects the
    per-row PNG filter (0=None, 1=Sub, 2=Up, 3=Average, 4=Paeth);
    all produce byte-identical pixels on decode — non-zero types
    exist mostly so tests can exercise every decoder unfilter path."""
    import struct
    import zlib

    arr = np.asarray(array, dtype=np.uint8)
    if arr.ndim == 3 and arr.shape[2] == 3:
        color_type, channels = 2, 3
    elif arr.ndim == 2:
        color_type, channels = 0, 1
        arr = arr[:, :, None]
    else:
        raise ValueError(f"cannot encode array of shape {array.shape}")
    h, w = arr.shape[:2]
    if filter_type not in (0, 1, 2, 3, 4):
        raise ValueError("filter_type must be 0..4")
    raw = bytearray()
    prev = np.zeros((w, channels), dtype=np.int32)
    for y in range(h):
        row = arr[y].astype(np.int32)
        left = np.zeros_like(row)
        left[1:] = row[:-1]
        up_left = np.zeros_like(row)
        up_left[1:] = prev[:-1]
        if filter_type == 0:
            out = row
        elif filter_type == 1:
            out = row - left
        elif filter_type == 2:
            out = row - prev
        elif filter_type == 3:
            out = row - (left + prev) // 2
        else:
            p = left + prev - up_left
            pa, pb, pc = (
                np.abs(p - left),
                np.abs(p - prev),
                np.abs(p - up_left),
            )
            pred = np.where(
                (pa <= pb) & (pa <= pc),
                left,
                np.where(pb <= pc, prev, up_left),
            )
            out = row - pred
        raw.append(filter_type)
        raw += (out % 256).astype(np.uint8).tobytes()
        prev = row

    def chunk(tag: bytes, data: bytes) -> bytes:
        crc = zlib.crc32(tag + data) & 0xFFFFFFFF
        return struct.pack(">I", len(data)) + tag + data + struct.pack(">I", crc)

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def decode_png(payload: bytes) -> tuple[np.ndarray, int]:
    """REAL PNG decoder via stdlib ``zlib`` — 8-bit grayscale /
    RGB / RGBA, non-interlaced (the overwhelmingly common web shape;
    palette, sub-byte depths, and Adam7 raise ValueError). Returns
    (pixels, color_type): (h, w) for grayscale, (h, w, c) otherwise.
    All five per-row filters are unfiltered exactly per the spec."""
    import struct
    import zlib

    if payload is None or payload[:8] != _PNG_SIG:
        raise ValueError("not a PNG payload")
    pos, idat, ihdr = 8, bytearray(), None
    while pos + 8 <= len(payload):
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        tag = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        pos += 12 + length  # length + tag + data + crc
        if tag == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif tag == b"IDAT":
            idat += data
        elif tag == b"IEND":
            break
    if ihdr is None:
        raise ValueError("PNG missing IHDR")
    w, h, depth, color_type, comp, filt, interlace = ihdr
    if depth != 8 or comp != 0 or filt != 0 or interlace != 0:
        raise ValueError(
            f"unsupported PNG shape (depth={depth}, interlace={interlace})"
        )
    channels = {0: 1, 2: 3, 4: 2, 6: 4}.get(color_type)
    if channels is None:
        raise ValueError(f"unsupported PNG color type {color_type}")
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error as exc:
        raise ValueError(f"corrupt PNG IDAT stream: {exc}") from exc
    stride = w * channels
    if len(raw) != h * (stride + 1):
        raise ValueError("truncated PNG raster")
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int32)
    for y in range(h):
        ftype = raw[y * (stride + 1)]
        row = np.frombuffer(
            raw, dtype=np.uint8, count=stride, offset=y * (stride + 1) + 1
        ).astype(np.int32)
        if ftype == 0:
            cur = row
        elif ftype == 2:
            cur = (row + prev) % 256
        elif ftype in (1, 3, 4):
            # left-referencing filters are sequential per pixel; walk
            # pixel-at-a-time but vectorized across channels
            cur = np.zeros(stride, dtype=np.int32)
            for x in range(0, stride, channels):
                left = cur[x - channels : x] if x else np.zeros(channels, np.int32)
                up = prev[x : x + channels]
                up_left = (
                    prev[x - channels : x] if x else np.zeros(channels, np.int32)
                )
                if ftype == 1:
                    pred = left
                elif ftype == 3:
                    pred = (left + up) // 2
                else:
                    p = left + up - up_left
                    pa, pb, pc = (
                        np.abs(p - left),
                        np.abs(p - up),
                        np.abs(p - up_left),
                    )
                    pred = np.where(
                        (pa <= pb) & (pa <= pc),
                        left,
                        np.where(pb <= pc, up, up_left),
                    )
                cur[x : x + channels] = (row[x : x + channels] + pred) % 256
        else:
            raise ValueError(f"unknown PNG filter type {ftype}")
        out[y] = cur.astype(np.uint8)
        prev = cur
    pixels = out.reshape(h, w, channels)
    if channels == 1:
        pixels = pixels[:, :, 0]
    return pixels, color_type


def png_image_decoder(payload: bytes) -> dict:
    """``MediaProcessor``-shaped REAL PNG decode: dimensions + the
    16-bin normalized grayscale histogram (alpha ignored)."""
    img, color_type = decode_png(payload)
    if img.ndim == 3 and img.shape[2] in (2, 4):
        img = img[..., :-1]  # drop alpha
        if img.shape[2] == 1:
            img = img[:, :, 0]
    gray = _gray(img)
    hist, _ = np.histogram(gray, bins=16, range=(0.0, 256.0))
    total = max(int(hist.sum()), 1)
    return {
        "width": int(img.shape[1]),
        "height": int(img.shape[0]),
        "features": [float(v) / total for v in hist],
    }


def auto_image_decoder(payload: bytes) -> dict:
    """Magic-byte dispatch across every REAL image codec — the
    decoder to use on mixed-format corpora (a real crawl is never
    single-format): netpbm ``P5``/``P6`` → :func:`ppm_image_decoder`,
    PNG signature → :func:`png_image_decoder`, JPEG SOI →
    :func:`jpeg_image_decoder`, GIF87a/89a → :func:`gif_image_decoder`,
    RIFF/WAVE → :func:`wav_audio_decoder`.
    Unknown magic raises ValueError (route those payloads to a
    PIL-backed decoder via the ``decoder=`` hook)."""
    if payload is None:
        raise ValueError("null media payload")
    head = bytes(payload[:12])
    if head[:2] in (b"P5", b"P6"):
        return ppm_image_decoder(payload)
    if head[:8] == _PNG_SIG:
        return png_image_decoder(payload)
    if head[:2] == b"\xff\xd8":
        return jpeg_image_decoder(payload)
    if head[:6] in (b"GIF87a", b"GIF89a"):
        return gif_image_decoder(payload)
    if head[:4] == b"RIFF" and head[8:12] == b"WAVE":
        return wav_audio_decoder(payload)
    raise ValueError(
        f"unrecognized media magic {head[:4]!r} — wire a custom decoder"
    )


def stub_image_decoder(payload: bytes) -> dict:
    """Deterministic fake decode for COMPRESSED formats (JPEG/PNG/...)
    whose codec libraries are not in this container. Produces stable
    pseudo-dimensions and a 16-dim pseudo-feature vector derived from
    the content hash, so the full pipeline (schema, batching, joins)
    is exercisable and testable end-to-end. For uncompressed
    PPM/PGM/WAV use the REAL decoders above.
    """
    digest = hashlib.sha256(payload if payload is not None else b"").digest()
    width = 64 + digest[0]
    height = 64 + digest[1]
    features = [b / 255.0 for b in digest[:16]]
    return {"width": width, "height": height, "features": features}


# one re-encoded image per input row: resize and ImageAugmenter
_IMAGE_ROW = [
    ("media_id", LongType()),
    ("payload", BinaryType()),
    ("width", IntegerType()),
    ("height", IntegerType()),
]


class MediaProcessor:
    """Decode / feature-extract media payloads via mapInPandas.

    ``decoder`` maps raw bytes → dict(width, height, features).
    Defaults to the deterministic stub; pass ``ppm_image_decoder`` /
    ``wav_audio_decoder`` for real decoding of those formats, or any
    PIL/ffmpeg-backed callable for compressed ones. ``splitter``
    (used by :meth:`sample_frames`) maps a container payload → list of
    single-frame payloads; defaults to the netpbm-stream splitter —
    wire an ffmpeg-backed callable for MP4/WebM and the rest of the
    pipeline runs unchanged (the adapter contract is pinned by
    ``tests/test_llm_ops.py``'s fake-container test).
    """

    def __init__(
        self,
        id_column: str = "media_id",
        payload_column: str = "payload",
        decoder: Optional[Callable[[bytes], dict]] = None,
        splitter: Optional[Callable[[bytes], list]] = None,
        batch_size: int = 256,
    ):
        self.id_column = id_column
        self.payload_column = payload_column
        self.decoder = decoder or stub_image_decoder
        self.splitter = splitter or split_netpbm_stream
        self.batch_size = batch_size

    def transform(self, df: DataFrame, passthrough: tuple = ()) -> DataFrame:
        """Decode each payload to (num_bytes, width, height, features).

        ``passthrough`` names input columns carried to the output
        unchanged (e.g. ``frame_index``/``t_ms`` from
        :meth:`sample_frames`) — they ride the same Arrow batches, so
        no join or id-packing round trip is needed downstream.
        """
        decoder = self.decoder
        passthrough = tuple(passthrough)
        reserved = {"media_id", "num_bytes", "width", "height", "features"}
        clash = reserved.intersection(passthrough)
        if clash:
            raise ValueError(f"passthrough clashes with output: {clash}")

        def process(mid, p):
            d = decoder(p)
            n = len(p) if p is not None else 0
            yield mid, n, d["width"], d["height"], d["features"]

        return map_rows(
            df,
            [self.id_column, self.payload_column],
            process,
            [
                ("media_id", LongType()),
                ("num_bytes", LongType()),
                ("width", IntegerType()),
                ("height", IntegerType()),
                ("features", ArrayType(DoubleType())),
                *passthrough,
            ],
        )

    def resize(
        self, df: DataFrame, target: tuple[int, int], method: str = "nearest"
    ) -> DataFrame:
        """REAL resize for binary PPM/PGM payloads, re-encoded in the
        same format — runs inside mapInPandas, per executor, payloads
        never touch the driver. Compressed formats raise ValueError
        per payload (no codec libraries here); wire a PIL-backed
        callable into ``transform`` for those instead.

        ``method``:

        - ``"nearest"`` — index sampling (fastest, aliases).
        - ``"box"`` — exact area downsample: each output pixel is the
          FLOOR of the integer mean of its source block. Requires the
          source dims to be whole multiples of the target dims.
          Integer arithmetic end to end, so the ``q_image_resize``
          hash gate replays it exactly in SQL.
        - ``"bilinear"`` — half-pixel-center convention
          (``src = (dst + 0.5)·scale − 0.5``, edges clamped), result
          quantized with ``floor(v + 0.5)`` — an explicit determinism
          choice (``np.rint`` rounds half-even and PIL rounds
          half-up; pick one and pin it with tests).
        """
        tw, th = int(target[0]), int(target[1])
        if tw < 1 or th < 1:
            raise ValueError("target dimensions must be >= 1")
        if method not in ("nearest", "box", "bilinear"):
            raise ValueError(f"unknown resize method: {method!r}")

        def _one(img: np.ndarray) -> np.ndarray:
            h, w = img.shape[:2]
            if method == "nearest":
                rows = (np.arange(th) * h // th).astype(np.int64)
                cols = (np.arange(tw) * w // tw).astype(np.int64)
                return img[rows][:, cols]
            if method == "box":
                if h % th or w % tw:
                    raise ValueError(
                        f"box resize needs whole blocks: {(w, h)} -> "
                        f"{(tw, th)}"
                    )
                bh, bw = h // th, w // tw
                block_shape = (th, bh, tw, bw) + img.shape[2:]
                sums = img.astype(np.int64).reshape(block_shape).sum(
                    axis=(1, 3)
                )
                return (sums // (bh * bw)).astype(img.dtype)
            # bilinear, half-pixel centers, clamped edges
            ys = (np.arange(th) + 0.5) * (h / th) - 0.5
            xs = (np.arange(tw) + 0.5) * (w / tw) - 0.5
            y0 = np.clip(np.floor(ys).astype(np.int64), 0, h - 1)
            x0 = np.clip(np.floor(xs).astype(np.int64), 0, w - 1)
            y1 = np.minimum(y0 + 1, h - 1)
            x1 = np.minimum(x0 + 1, w - 1)
            fy = np.clip(ys - y0, 0.0, 1.0)
            fx = np.clip(xs - x0, 0.0, 1.0)
            img_f = img.astype(np.float64)
            if img_f.ndim == 2:
                img_f = img_f[:, :, None]
            top = (
                img_f[y0][:, x0] * (1 - fx)[None, :, None]
                + img_f[y0][:, x1] * fx[None, :, None]
            )
            bot = (
                img_f[y1][:, x0] * (1 - fx)[None, :, None]
                + img_f[y1][:, x1] * fx[None, :, None]
            )
            res = top * (1 - fy)[:, None, None] + bot * fy[:, None, None]
            out = np.floor(res + 0.5).astype(img.dtype)
            return out[:, :, 0] if img.ndim == 2 else out

        def process(mid, p):
            img, _ = decode_ppm(p)
            yield mid, encode_ppm(_one(img)), tw, th

        return map_rows(
            df, [self.id_column, self.payload_column], process, _IMAGE_ROW
        )

    def sample_frames(
        self, df: DataFrame, every_ms: int, fps: float = 25.0
    ) -> DataFrame:
        """REAL frame sampling for uncompressed concatenated-netpbm
        video streams (the ``ffmpeg -f image2pipe -vcodec ppm``
        shape): split the stream into frames executor-side, keep the
        frame under each ``every_ms`` tick (frame index
        ``floor(t · fps / 1000)``), and emit one row per kept frame.
        Runs inside mapInPandas — streams never touch the driver, and
        a 1000-executor cluster samples its partitions independently.

        The splitter contract: container bytes → list of single-frame
        payloads in any format the configured ``decoder`` accepts —
        netpbm (the ``ffmpeg -f image2pipe -vcodec ppm`` shape), or
        compressed JPEG/PNG/GIF frames kept compressed (dimensions are
        sniffed from headers by :func:`probe_media_dimensions`, so
        only the frames a tick keeps are ever fully decoded). Real
        in-repo container splitters: :func:`split_gif_frames` and
        :func:`split_avi_frames` (Motion-JPEG). MP4/WebM payloads
        (H.264/VP9) still require an ffmpeg-backed ``splitter=``;
        with the default netpbm splitter they raise ValueError.
        """
        if every_ms < 1:
            raise ValueError("every_ms must be >= 1")
        if fps <= 0:
            raise ValueError("fps must be > 0")
        splitter = self.splitter

        def process(mid, p):
            if p is None:
                raise ValueError(f"null video payload for media_id={mid}")
            frames = splitter(bytes(p))
            n = len(frames)
            seen: set[int] = set()
            # integer tick walk: tick k is at k*every_ms ms; a float
            # accumulator (t += every_ms) can truncate int(t*fps/1000)
            # to the wrong frame at tick boundaries for non-integer fps
            for k in range(0, 10**9):
                tick_ms = k * every_ms
                idx = int(tick_ms * fps / 1000.0 + 1e-9)
                if idx >= n:
                    break
                if idx not in seen:
                    seen.add(idx)
                    w, h = probe_media_dimensions(frames[idx])
                    yield mid, idx, tick_ms, frames[idx], w, h

        return map_rows(
            df,
            [self.id_column, self.payload_column],
            process,
            [
                ("media_id", LongType()),
                ("frame_index", IntegerType()),
                ("t_ms", LongType()),
                ("payload", BinaryType()),
                ("width", IntegerType()),
                ("height", IntegerType()),
            ],
        )


class AudioFrameFeaturizer:
    """Frame-level audio features over WAV payloads — the framing
    step (librosa-style, without the library) every audio-data
    pipeline runs before filtering or embedding: split each decoded
    PCM stream into fixed-size frames and emit one row per frame
    with

    - ``n_samples`` — frame length (the tail frame may be short),
    - ``zcr`` — strict zero-crossing count (adjacent-sample product
      < 0; integer, engine-neutral),
    - ``peak`` — max absolute sample (integer),
    - ``rms`` — sqrt(mean(s²)) with the sum of squares accumulated
      in int64 so the double result is bit-identical in any engine
      (IEEE sqrt is correctly rounded — this is what makes the
      ``q_audio_frames`` hash gate safe).

    ``hop`` defaults to ``frame_size`` (non-overlapping); a smaller
    hop gives overlapping frames. Multi-channel audio uses channel 0
    (deinterleaved). Runs in ``mapInPandas`` — payloads never touch
    the driver; at 100 TB this is an embarrassingly parallel map
    with a ~frame_size/hop row-count amplification and no shuffle.
    No reference counterpart (LLM-pipeline extension).
    """

    def __init__(
        self,
        id_column: str = "media_id",
        payload_column: str = "payload",
        frame_size: int = 256,
        hop: Optional[int] = None,
    ):
        if frame_size < 2:
            raise ValueError("frame_size must be >= 2")
        if hop is not None and hop < 1:
            raise ValueError("hop must be >= 1")
        self.id_column = id_column
        self.payload_column = payload_column
        self.frame_size = frame_size
        self.hop = hop or frame_size

    @staticmethod
    def _samples(payload: bytes) -> np.ndarray:
        """Channel-0 PCM samples as int64 (same stdlib ``wave`` path
        as :func:`decode_wav`)."""
        import io
        import wave

        with wave.open(io.BytesIO(payload), "rb") as w:
            channels = w.getnchannels()
            sampwidth = w.getsampwidth()
            raw = w.readframes(w.getnframes())
        dtype = {1: np.uint8, 2: np.int16, 4: np.int32}.get(sampwidth)
        if dtype is None:
            raise ValueError(f"unsupported WAV sample width {sampwidth}")
        samples = np.frombuffer(raw, dtype=dtype).astype(np.int64)
        if sampwidth == 1:
            samples -= 128
        if channels > 1:
            samples = samples[::channels]
        return samples

    def transform(self, df: DataFrame) -> DataFrame:
        frame_size, hop = self.frame_size, self.hop
        samples_of = self._samples

        def featurize(mid, payload):
            s = samples_of(bytes(payload))
            for j, start in enumerate(range(0, len(s), hop)):
                fr = s[start : start + frame_size]
                if fr.size == 0:
                    break
                peak = int(np.abs(fr).max())
                if peak < 1 << 27:
                    sq_sum = int(np.dot(fr, fr))
                else:
                    # int64 dot could overflow for 32-bit audio: exact
                    # arbitrary-precision path
                    sq_sum = sum(int(x) * int(x) for x in fr)
                zcr = int((fr[:-1] * fr[1:] < 0).sum())
                rms = float(np.sqrt(sq_sum / fr.size))
                yield mid, j, int(fr.size), zcr, peak, rms

        return map_rows(
            df,
            [self.id_column, self.payload_column],
            featurize,
            [
                ("media_id", LongType()),
                ("frame_index", LongType()),
                ("n_samples", LongType()),
                ("zcr", LongType()),
                ("peak", LongType()),
                ("rms", DoubleType()),
            ],
        )


class SpectrogramFeaturizer:
    """STFT / mel-spectrogram features over WAV payloads — the
    standard front end for audio quality filtering, language/music
    ID, and embedding models, without the audio libraries: Hann
    window, real FFT magnitude-squared, optional mel filterbank
    (HTK formula) and log compression, all numpy inside
    ``mapInPandas``.

    One row per frame with ``features`` =
    ``log(power + eps)`` over ``n_mels`` mel bands (or the raw
    ``frame_size//2 + 1`` FFT bins with ``n_mels=None``).

    FFT butterflies are float — deterministic for a fixed numpy on a
    fixed platform but NOT portably bit-exact, so the contract gate
    is rows-only (``q_spectrogram``); the MATH is pinned by unit
    tests instead (pure tones land in their analytic FFT bin / mel
    band, Parseval energy check). Embarrassingly parallel,
    payloads never on the driver. No reference counterpart
    (LLM-pipeline extension).
    """

    def __init__(
        self,
        id_column: str = "media_id",
        payload_column: str = "payload",
        frame_size: int = 256,
        hop: Optional[int] = None,
        n_mels: Optional[int] = 16,
        fmin: float = 0.0,
        fmax: Optional[float] = None,
        eps: float = 1e-10,
    ):
        if frame_size < 4 or frame_size & (frame_size - 1):
            raise ValueError("frame_size must be a power of two >= 4")
        self.id_column = id_column
        self.payload_column = payload_column
        self.frame_size = frame_size
        self.hop = hop or frame_size // 2
        self.n_mels = n_mels
        self.fmin = fmin
        self.fmax = fmax
        self.eps = eps

    @staticmethod
    def _hz_to_mel(f):
        return 2595.0 * np.log10(1.0 + np.asarray(f) / 700.0)

    @staticmethod
    def _mel_to_hz(m):
        return 700.0 * (10.0 ** (np.asarray(m) / 2595.0) - 1.0)

    def _mel_filterbank(self, sample_rate: int) -> np.ndarray:
        """(n_mels, n_bins) triangular filters, HTK mel scale."""
        n_bins = self.frame_size // 2 + 1
        fmax = self.fmax if self.fmax is not None else sample_rate / 2.0
        mels = np.linspace(
            self._hz_to_mel(self.fmin), self._hz_to_mel(fmax),
            self.n_mels + 2,
        )
        hz = self._mel_to_hz(mels)
        bins = np.floor(
            (self.frame_size + 1) * hz / sample_rate
        ).astype(int)
        bins = np.clip(bins, 0, n_bins - 1)
        fb = np.zeros((self.n_mels, n_bins))
        for i in range(self.n_mels):
            lo, mid, hi = bins[i], bins[i + 1], bins[i + 2]
            if mid > lo:
                fb[i, lo:mid] = (np.arange(lo, mid) - lo) / (mid - lo)
            if hi > mid:
                fb[i, mid:hi] = (hi - np.arange(mid, hi)) / (hi - mid)
            fb[i, mid if mid < n_bins else n_bins - 1] = max(
                fb[i, mid if mid < n_bins else n_bins - 1], 1.0
            )
        return fb

    def transform(self, df: DataFrame) -> DataFrame:
        import io
        import wave

        frame_size, hop = self.frame_size, self.hop
        n_mels, eps = self.n_mels, self.eps
        fb_cache: dict[int, np.ndarray] = {}
        samples_of = AudioFrameFeaturizer._samples
        build_fb = self._mel_filterbank
        window = np.hanning(frame_size)

        def featurize(mid, payload):
            raw = bytes(payload)
            with wave.open(io.BytesIO(raw), "rb") as w:
                rate = w.getframerate()
            s = samples_of(raw).astype(np.float64)
            fb = None
            if n_mels is not None:
                fb = fb_cache.get(rate)
                if fb is None:
                    fb = build_fb(rate)
                    fb_cache[rate] = fb
            for j, start in enumerate(
                range(0, max(len(s) - frame_size + 1, 1), hop)
            ):
                fr = s[start : start + frame_size]
                if fr.size < frame_size:
                    fr = np.pad(fr, (0, frame_size - fr.size))
                spec = np.abs(np.fft.rfft(fr * window)) ** 2
                out = spec if fb is None else fb @ spec
                yield mid, j, np.log(out + eps).tolist()

        return map_rows(
            df,
            [self.id_column, self.payload_column],
            featurize,
            [
                ("media_id", LongType()),
                ("frame_index", LongType()),
                ("features", ArrayType(DoubleType())),
            ],
        )


class ImageAugmenter:
    """Deterministic geometric augmentations for binary netpbm
    payloads — the label-preserving transforms a vision training
    pipeline materializes (flips, quarter rotations, crops). All
    EXACT pixel permutations/selections (no interpolation), so the
    ``q_image_augment`` gate replays them index-for-index in SQL.

    ``ops``: sequence of specs applied in order —
    ``("hflip",)``, ``("vflip",)``, ``("rot90", k)``,
    ``("crop", x, y, w, h)``. Runs in ``mapInPandas``; payloads
    never on the driver. No reference counterpart (LLM-pipeline
    extension).
    """

    def __init__(
        self,
        ops: tuple,
        id_column: str = "media_id",
        payload_column: str = "payload",
    ):
        for spec in ops:
            if spec[0] not in ("hflip", "vflip", "rot90", "crop"):
                raise ValueError(f"unknown augmentation: {spec[0]!r}")
        self.ops = tuple(ops)
        self.id_column = id_column
        self.payload_column = payload_column

    @staticmethod
    def _apply(img: np.ndarray, spec: tuple) -> np.ndarray:
        kind = spec[0]
        if kind == "hflip":
            return img[:, ::-1]
        if kind == "vflip":
            return img[::-1]
        if kind == "rot90":
            return np.rot90(img, k=int(spec[1]))
        x, y, w, h = (int(v) for v in spec[1:])
        if y + h > img.shape[0] or x + w > img.shape[1]:
            raise ValueError(f"crop {spec[1:]} exceeds {img.shape}")
        return img[y : y + h, x : x + w]

    def transform(self, df: DataFrame) -> DataFrame:
        ops = self.ops
        apply_one = self._apply

        def augment(mid, p):
            img, _ = decode_ppm(bytes(p))
            for spec in ops:
                img = apply_one(img, spec)
            img = np.ascontiguousarray(img)
            yield mid, encode_ppm(img), img.shape[1], img.shape[0]

        return map_rows(
            df, [self.id_column, self.payload_column], augment, _IMAGE_ROW
        )


def validate_media(
    df: DataFrame,
    id_column: str = "media_id",
    payload_column: str = "payload",
    decoder: Optional[Callable[[bytes], dict]] = None,
) -> DataFrame:
    """Corrupt-payload triage — the pass a 100 TB media ingest runs
    FIRST, because real crawls are full of truncated and mislabeled
    files and one bad payload must not kill a 10-hour job: try-decode
    every payload (default :func:`auto_image_decoder` magic
    dispatch) and emit one row per input with

    - ``format`` — sniffed container ("pgm"/"png"/"jpeg"/"gif"/
      "wav"/…, from the decoder's magic dispatch; "unknown" when no
      magic matches),
    - ``ok`` — whether decode succeeded,
    - ``width``/``height`` — on success, else null.

    Exceptions are contained per payload (never propagate);
    embarrassingly parallel ``mapInPandas``. Filter on ``ok`` before
    the expensive decode stages downstream.
    """
    use_decoder = decoder or auto_image_decoder

    MAGIC = (
        (b"\x89PNG\r\n\x1a\n", "png"),
        (b"\xff\xd8", "jpeg"),
        (b"GIF87a", "gif"),
        (b"GIF89a", "gif"),
        (b"RIFF", "wav"),
        (b"P5", "pgm"),
        (b"P6", "ppm"),
        (b"P2", "pgm"),
        (b"P3", "ppm"),
    )

    def sniff(raw: bytes) -> str:
        for magic, name in MAGIC:
            if raw[: len(magic)] == magic:
                return name
        return "unknown"

    def triage(mid, p):
        raw = bytes(p) if p is not None else b""
        try:
            d = use_decoder(raw)
            got = True, int(d.get("width", 0)), int(d.get("height", 0))
        except Exception:
            got = False, None, None
        yield (mid, sniff(raw), *got)

    return map_rows(
        df,
        [id_column, payload_column],
        triage,
        [
            ("media_id", LongType()),
            ("format", StringType()),
            ("ok", BooleanType()),
            ("width", IntegerType()),
            ("height", IntegerType()),
        ],
    )


def perceptual_hash(payload: bytes, hash_size: int = 8) -> int:
    """pHash (DCT perceptual hash) of any REAL-codec image payload:
    auto-decode (netpbm/PNG/JPEG by magic), grayscale, nearest
    resize to 4·hash_size square, 2-D DCT, keep the low-frequency
    ``hash_size²`` block (minus DC), threshold at its median →
    ``hash_size²``-bit integer. Two images' similarity is the
    Hamming distance between their hashes — robust to re-encoding,
    resizing, and small edits, which byte hashes are blind to."""
    from replay_spark.jpeg import decode_jpeg

    head = bytes(payload[:12]) if payload else b""
    if head[:2] in (b"P5", b"P6"):
        img, _ = decode_ppm(payload)
    elif head[:8] == _PNG_SIG:
        img, _ = decode_png(payload)
    elif head[:2] == b"\xff\xd8":
        img = decode_jpeg(payload)
    else:
        raise ValueError("perceptual_hash: unsupported image payload")
    gray = _gray(img)
    size = hash_size * 4
    h, w = gray.shape
    rows = (np.arange(size) * h // size).astype(np.int64)
    cols = (np.arange(size) * w // size).astype(np.int64)
    small = gray[rows][:, cols]
    # full-size DCT via the orthonormal 8x8 basis tiled is wrong; use
    # an explicit size x size DCT-II matrix
    k = np.arange(size)
    c = np.cos((2 * k[None, :] + 1) * k[:, None] * np.pi / (2 * size))
    dct = c @ small @ c.T
    low = dct[:hash_size, :hash_size].flatten()[1:]  # drop DC
    med = np.median(low)
    bits = low > med
    out = 0
    for b in bits:
        out = (out << 1) | int(b)
    return out


class ImagePerceptualDeduplicator:
    """Near-duplicate IMAGE detection — the multimodal sibling of
    ``SimHashDeduplicator``: pHash each payload executor-side
    (mapInPandas over the real codecs), then find candidate pairs by
    banded Hamming blocking — the 63-bit hash splits into
    ``num_bands`` chunks, a pair within Hamming distance
    ``max_hamming`` ≤ num_bands − 1 collides in ≥ 1 band by
    pigeonhole, and only band collisions are compared exactly. Never
    an all-pairs cross join; the band join is keyed on (band,
    chunk)."""

    def __init__(
        self,
        max_hamming: int = 8,
        num_bands: int = 9,
        id_column: str = "media_id",
        payload_column: str = "payload",
    ):
        if num_bands < max_hamming + 1:
            raise ValueError(
                "num_bands must exceed max_hamming (pigeonhole guarantee)"
            )
        self.max_hamming = max_hamming
        self.num_bands = num_bands
        self.id_column = id_column
        self.payload_column = payload_column

    def hashes(self, df: DataFrame) -> DataFrame:
        def compute(mid, p):
            yield mid, perceptual_hash(bytes(p))

        return map_rows(
            df,
            [self.id_column, self.payload_column],
            compute,
            [("media_id", LongType()), ("phash", LongType())],
        )

    def candidate_pairs(self, df: DataFrame) -> DataFrame:
        nb = self.num_bands
        hashed = self.hashes(df)
        width = 63  # 8x8 pHash minus DC
        bounds = [round(i * width / nb) for i in range(nb + 1)]
        bands = hashed.select(
            "media_id",
            "phash",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(i).alias("band"),
                            F.shiftrightunsigned(
                                F.col("phash"), bounds[i]
                            ).bitwiseAND(
                                F.lit((1 << (bounds[i + 1] - bounds[i])) - 1)
                            ).alias("chunk"),
                        )
                        for i in range(nb)
                    ]
                )
            ).alias("b"),
        ).select("media_id", "phash", "b.band", "b.chunk")
        left = bands.select(
            F.col("media_id").alias("id_a"),
            F.col("phash").alias("h_a"),
            "band",
            "chunk",
        )
        right = bands.select(
            F.col("media_id").alias("id_b"),
            F.col("phash").alias("h_b"),
            "band",
            "chunk",
        )
        return (
            left.join(right, on=["band", "chunk"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select(
                "id_a",
                "id_b",
                F.bit_count(
                    F.col("h_a").bitwiseXOR(F.col("h_b"))
                ).alias("hamming"),
            )
            .filter(F.col("hamming") <= self.max_hamming)
            .distinct()
        )

    def transform(self, df: DataFrame) -> DataFrame:
        """Drop the larger id of every near-duplicate pair."""
        dupes = (
            self.candidate_pairs(df)
            .select(F.col("id_b").alias(self.id_column))
            .distinct()
        )
        return df.join(dupes, on=self.id_column, how="left_anti")


def build_mp4_container(
    duration_ms: int,
    timescale: int = 1000,
    codec: str = "avc1",
    handler: str = "vide",
    brand: str = "isom",
) -> bytes:
    """Build a minimal spec-valid ISO-BMFF container (ftyp +
    moov(mvhd, trak(mdia(mdhd, hdlr, minf(stbl(stsd)))))) with one
    track — the synthesis half of :func:`parse_mp4_metadata`, used to
    generate deterministic test containers (the ``q_mp4_meta``
    contract gate) and to exercise splitter adapters without real
    media on disk. Durations are stored in ``timescale`` units
    (``duration_ms * timescale // 1000`` — the spec's integer
    truncation, so a parse round-trip returns
    ``stored * 1000 // timescale``)."""
    import struct as _struct

    if duration_ms < 0 or timescale <= 0:
        raise ValueError("duration_ms must be >= 0 and timescale > 0")

    def box(btype: bytes, payload: bytes) -> bytes:
        return _struct.pack(">I", len(payload) + 8) + btype + payload

    units = duration_ms * timescale // 1000
    ftyp = box(b"ftyp", brand.encode("ascii") + _struct.pack(">I", 512)
               + b"isom" + codec.encode("ascii"))
    mvhd = box(
        b"mvhd",
        b"\x00\x00\x00\x00"
        + _struct.pack(">II", 0, 0)
        + _struct.pack(">II", timescale, units)
        + b"\x00" * 80,
    )
    mdhd = box(
        b"mdhd",
        b"\x00\x00\x00\x00"
        + _struct.pack(">II", 0, 0)
        + _struct.pack(">II", timescale, units)
        + b"\x00\x00\x00\x00",
    )
    hdlr = box(
        b"hdlr",
        b"\x00\x00\x00\x00" + b"\x00" * 4
        + handler.encode("ascii") + b"\x00" * 14,
    )
    sample_entry = box(codec.encode("ascii"), b"\x00" * 78)
    stsd = box(
        b"stsd", b"\x00\x00\x00\x00" + _struct.pack(">I", 1) + sample_entry
    )
    mdia = box(b"mdia", mdhd + hdlr + box(b"minf", box(b"stbl", stsd)))
    moov = box(b"moov", mvhd + box(b"trak", mdia))
    return ftyp + moov


def build_mp4_media(
    samples: list,
    timescale: int = 1000,
    sample_delta: int = 40,
    codec: str = "avc1",
    handler: str = "vide",
    brand: str = "isom",
    chunk_sizes: Optional[Sequence[int]] = None,
) -> bytes:
    """Build an ISO-BMFF container with a REAL sample layout:
    ftyp + mdat(payloads) + moov whose stbl carries the four spec
    sample tables — stts (run-length decode deltas), stsc
    (sample-to-chunk runs), stsz (per-sample sizes, collapsed to the
    uniform-size fast path when all samples are equal), and stco
    (absolute chunk offsets). ``chunk_sizes`` controls how samples
    group into chunks (default ``[2, 3, 3, ...]`` so stsc has
    multiple runs); :func:`split_mp4_samples` inverts the layout.
    Mirrors the sample-table semantics of ISO/IEC 14496-12 §8.5-8.7
    (reference parity: the reference ships container demux via its
    media connectors; here the tables are first-class)."""
    import struct as _struct

    if timescale <= 0 or sample_delta <= 0:
        raise ValueError("timescale and sample_delta must be > 0")
    samples = [bytes(s) for s in samples]
    n = len(samples)

    def box(btype: bytes, payload: bytes) -> bytes:
        return _struct.pack(">I", len(payload) + 8) + btype + payload

    # -- chunk plan: default 2, then 3s, remainder last ------------------
    if chunk_sizes is None:
        chunk_sizes = []
        left = n
        want = 2
        while left > 0:
            take = min(want, left)
            chunk_sizes.append(take)
            left -= take
            want = 3
    else:
        chunk_sizes = [int(c) for c in chunk_sizes]
        if sum(chunk_sizes) != n or any(c <= 0 for c in chunk_sizes):
            raise ValueError("chunk_sizes must partition the samples")

    # -- stsc: run-length (first_chunk, samples_per_chunk, desc_idx) ----
    stsc_entries = []
    for i, c in enumerate(chunk_sizes):
        if not stsc_entries or stsc_entries[-1][1] != c:
            stsc_entries.append((i + 1, c))

    ftyp = box(b"ftyp", brand.encode("ascii") + _struct.pack(">I", 512)
               + b"isom" + codec.encode("ascii"))
    mdat_payload = b"".join(samples)
    mdat = box(b"mdat", mdat_payload)

    # -- stco: absolute offsets of each chunk's first sample -------------
    base = len(ftyp) + 8  # mdat header is 8 bytes
    offsets, pos, si = [], 0, 0
    sizes = [len(s) for s in samples]
    for c in chunk_sizes:
        offsets.append(base + pos)
        pos += sum(sizes[si : si + c])
        si += c

    units = n * sample_delta
    stts = box(b"stts", b"\x00\x00\x00\x00" + _struct.pack(">I", 1)
               + _struct.pack(">II", n, sample_delta))
    stsc = box(b"stsc", b"\x00\x00\x00\x00"
               + _struct.pack(">I", len(stsc_entries))
               + b"".join(_struct.pack(">III", f, c, 1)
                          for f, c in stsc_entries))
    if n and all(s == sizes[0] for s in sizes):
        stsz = box(b"stsz", b"\x00\x00\x00\x00"
                   + _struct.pack(">II", sizes[0], n))
    else:
        stsz = box(b"stsz", b"\x00\x00\x00\x00" + _struct.pack(">II", 0, n)
                   + b"".join(_struct.pack(">I", s) for s in sizes))
    stco = box(b"stco", b"\x00\x00\x00\x00"
               + _struct.pack(">I", len(offsets))
               + b"".join(_struct.pack(">I", o) for o in offsets))
    sample_entry = box(codec.encode("ascii"), b"\x00" * 78)
    stsd = box(b"stsd", b"\x00\x00\x00\x00" + _struct.pack(">I", 1)
               + sample_entry)
    stbl = box(b"stbl", stsd + stts + stsc + stsz + stco)
    mvhd = box(b"mvhd", b"\x00\x00\x00\x00" + _struct.pack(">II", 0, 0)
               + _struct.pack(">II", timescale, units) + b"\x00" * 80)
    mdhd = box(b"mdhd", b"\x00\x00\x00\x00" + _struct.pack(">II", 0, 0)
               + _struct.pack(">II", timescale, units)
               + b"\x00\x00\x00\x00")
    hdlr = box(b"hdlr", b"\x00\x00\x00\x00" + b"\x00" * 4
               + handler.encode("ascii") + b"\x00" * 14)
    mdia = box(b"mdia", mdhd + hdlr + box(b"minf", stbl))
    moov = box(b"moov", mvhd + box(b"trak", mdia))
    return ftyp + mdat + moov


def split_mp4_samples(payload: bytes) -> list:
    """``MediaProcessor`` ``splitter=`` contract over a REAL
    ISO-BMFF container: reconstructs per-sample byte ranges from the
    spec sample tables — stsc runs expanded to per-chunk sample
    counts, stco/co64 chunk offsets, stsz sizes (uniform or
    per-sample) — and returns the samples in decode order. This is
    the demux half a 100 TB video pipeline runs to pull codec
    payloads out of MP4 without transcoding; pairs with
    :func:`build_mp4_media`. Uses the first track that carries a
    non-empty sample table."""
    import struct as _struct

    data = bytes(payload)
    if len(data) < 8:
        raise ValueError("not an ISO-BMFF payload")

    def boxes(buf, start, end):
        pos = start
        while pos + 8 <= end:
            (size,) = _struct.unpack(">I", buf[pos : pos + 4])
            btype = buf[pos + 4 : pos + 8]
            header = 8
            if size == 1:
                (size,) = _struct.unpack(">Q", buf[pos + 8 : pos + 16])
                header = 16
            elif size == 0:
                size = end - pos
            if size < header or pos + size > end:
                raise ValueError("corrupt ISO-BMFF box size")
            yield btype, pos + header, pos + size
            pos += size

    def find(start, end, *path):
        if not path:
            yield start, end
            return
        for btype, s, e in boxes(data, start, end):
            if btype == path[0]:
                yield from find(s, e, *path[1:])

    top = list(boxes(data, 0, len(data)))
    if not any(t == b"ftyp" for t, _, _ in top):
        raise ValueError("not an ISO-BMFF payload (no ftyp)")
    for ms, me in find(0, len(data), b"moov", b"trak", b"mdia",
                       b"minf", b"stbl"):
        sizes, uniform, offsets, stsc = None, 0, None, []
        for st, s, e in boxes(data, ms, me):
            if st == b"stsz":
                uniform, count = _struct.unpack(">II", data[s + 4 : s + 12])
                if uniform:
                    sizes = [uniform] * count
                else:
                    sizes = list(_struct.unpack(
                        f">{count}I", data[s + 12 : s + 12 + 4 * count]))
            elif st in (b"stco", b"co64"):
                (count,) = _struct.unpack(">I", data[s + 4 : s + 8])
                fmt, w = (">I", 4) if st == b"stco" else (">Q", 8)
                offsets = [
                    _struct.unpack(fmt, data[s + 8 + i * w
                                             : s + 8 + (i + 1) * w])[0]
                    for i in range(count)
                ]
            elif st == b"stsc":
                (count,) = _struct.unpack(">I", data[s + 4 : s + 8])
                stsc = [_struct.unpack(">III",
                                       data[s + 8 + i * 12
                                            : s + 20 + i * 12])[:2]
                        for i in range(count)]
        if not sizes or offsets is None:
            continue
        # expand stsc runs into per-chunk sample counts
        per_chunk = []
        for i, (first, spc) in enumerate(stsc):
            last = stsc[i + 1][0] - 1 if i + 1 < len(stsc) else len(offsets)
            per_chunk.extend([spc] * (last - first + 1))
        out, si = [], 0
        for ci, off in enumerate(offsets):
            pos = off
            for _ in range(per_chunk[ci] if ci < len(per_chunk) else 0):
                if si >= len(sizes):
                    break
                out.append(data[pos : pos + sizes[si]])
                pos += sizes[si]
                si += 1
        return out
    raise ValueError("no sample table in any track")


def parse_mp4_metadata(payload: bytes) -> dict:
    """REAL ISO-BMFF (MP4/MOV) container METADATA parser — stdlib
    struct only: walks the box tree (ftyp/moov/mvhd/trak/tkhd/mdia/
    mdhd/hdlr/stsd) and returns brand, movie duration, and per-track
    (handler, codec fourcc, timescale, duration). This is the
    metadata-extraction half a 100 TB video pipeline runs on every
    object BEFORE deciding what to transcode; frame DECODE still
    requires an ffmpeg-backed ``splitter=`` (documented gap).
    Raises ValueError for payloads that are not ISO-BMFF."""
    import struct as _struct

    if payload is None or len(payload) < 8:
        raise ValueError("not an ISO-BMFF payload")
    data = bytes(payload)

    def boxes(buf, start, end):
        pos = start
        while pos + 8 <= end:
            (size,) = _struct.unpack(">I", buf[pos : pos + 4])
            btype = buf[pos + 4 : pos + 8]
            header = 8
            if size == 1:  # 64-bit largesize
                (size,) = _struct.unpack(">Q", buf[pos + 8 : pos + 16])
                header = 16
            elif size == 0:  # to end of enclosing box
                size = end - pos
            if size < header or pos + size > end:
                raise ValueError("corrupt ISO-BMFF box size")
            yield btype, pos + header, pos + size
            pos += size

    top = list(boxes(data, 0, len(data)))
    if not any(t == b"ftyp" for t, _, _ in top):
        raise ValueError("not an ISO-BMFF payload (no ftyp)")
    out: dict = {"brand": None, "duration_ms": None, "tracks": []}
    for btype, s, e in top:
        if btype == b"ftyp":
            out["brand"] = data[s : s + 4].decode("ascii", "replace")
        elif btype == b"moov":
            for mtype, ms, me in boxes(data, s, e):
                if mtype == b"mvhd":
                    version = data[ms]
                    if version == 1:
                        tscale, dur = _struct.unpack(
                            ">IQ", data[ms + 20 : ms + 32]
                        )
                    else:
                        tscale, dur = _struct.unpack(
                            ">II", data[ms + 12 : ms + 20]
                        )
                    if tscale:
                        out["duration_ms"] = int(dur * 1000 // tscale)
                elif mtype == b"trak":
                    track: dict = {
                        "handler": None,
                        "codec": None,
                        "timescale": None,
                        "duration_ms": None,
                    }
                    for ttype, ts_, te in boxes(data, ms, me):
                        if ttype != b"mdia":
                            continue
                        for dtype, ds, de in boxes(data, ts_, te):
                            if dtype == b"mdhd":
                                version = data[ds]
                                if version == 1:
                                    tscale, dur = _struct.unpack(
                                        ">IQ", data[ds + 20 : ds + 32]
                                    )
                                else:
                                    tscale, dur = _struct.unpack(
                                        ">II", data[ds + 12 : ds + 20]
                                    )
                                track["timescale"] = tscale
                                if tscale:
                                    track["duration_ms"] = int(
                                        dur * 1000 // tscale
                                    )
                            elif dtype == b"hdlr":
                                track["handler"] = data[ds + 8 : ds + 12].decode(
                                    "ascii", "replace"
                                )
                            elif dtype == b"minf":
                                for mi, mis, mie in boxes(data, ds, de):
                                    if mi != b"stbl":
                                        continue
                                    for st, sts, ste in boxes(data, mis, mie):
                                        if st == b"stsd" and ste - sts >= 16:
                                            track["codec"] = data[
                                                sts + 12 : sts + 16
                                            ].decode("ascii", "replace")
                    out["tracks"].append(track)
    return out


def _track_metadata(
    df: DataFrame, payload_column: str, parse: Callable, kind: str
) -> DataFrame:
    """(media_id, ``kind``, duration_ms, num_tracks, codecs) per
    payload, from a ``parse`` that returns ``kind``, ``duration_ms``
    and ``tracks``."""

    def extract(p):
        meta = parse(bytes(p))
        tracks = meta["tracks"]
        codecs = [t["codec"] or "" for t in tracks]
        yield meta[kind], meta["duration_ms"], len(tracks), codecs

    return map_rows(
        df,
        [payload_column],
        extract,
        [
            "media_id",
            (kind, StringType()),
            ("duration_ms", LongType()),
            ("num_tracks", IntegerType()),
            ("codecs", ArrayType(StringType())),
        ],
    )


def mp4_metadata(df: DataFrame, payload_column: str = "payload") -> DataFrame:
    """Container-metadata extraction over a binary MP4 column via
    mapInPandas: (media_id, brand, duration_ms, num_tracks, codecs)."""
    return _track_metadata(df, payload_column, parse_mp4_metadata, "brand")


# -- WebM / Matroska (EBML) container metadata ----------------------------

_EBML_HEADER_ID = 0x1A45DFA3
_MKV_SEGMENT = 0x18538067
_MKV_INFO = 0x1549A966
_MKV_TIMESCALE = 0x2AD7B1
_MKV_DURATION = 0x4489
_MKV_TRACKS = 0x1654AE6B
_MKV_TRACKENTRY = 0xAE
_MKV_TRACKNUMBER = 0xD7
_MKV_TRACKTYPE = 0x83
_MKV_CODECID = 0x86
_EBML_DOCTYPE = 0x4282


def _ebml_read_id(data: bytes, pos: int) -> tuple:
    """Element IDs keep their length-marker bit (stored verbatim)."""
    if pos >= len(data):
        raise ValueError("truncated EBML id")
    first = data[pos]
    for n in range(1, 5):
        if first & (0x100 >> n):
            raw = data[pos : pos + n]
            if len(raw) != n:
                raise ValueError("truncated EBML id")
            return int.from_bytes(raw, "big"), pos + n
    raise ValueError("invalid EBML id")


def _ebml_read_size(data: bytes, pos: int) -> tuple:
    """Data sizes strip the marker bit (EBML varint)."""
    if pos >= len(data):
        raise ValueError("truncated EBML size")
    first = data[pos]
    for n in range(1, 9):
        if first & (0x100 >> n):
            raw = data[pos : pos + n]
            if len(raw) != n:
                raise ValueError("truncated EBML size")
            val = int.from_bytes(raw, "big") & ((1 << (7 * n)) - 1)
            return val, pos + n
    raise ValueError("invalid EBML size")


def _ebml_elements(data: bytes, start: int, end: int):
    pos = start
    while pos < end:
        eid, pos = _ebml_read_id(data, pos)
        size, pos = _ebml_read_size(data, pos)
        if pos + size > end:
            raise ValueError("EBML element overruns its parent")
        yield eid, pos, pos + size
        pos += size


def parse_webm_metadata(payload: bytes) -> dict:
    """REAL Matroska/WebM (EBML) container METADATA parser — stdlib
    only, the EBML twin of :func:`parse_mp4_metadata`: walks the
    element tree (EBML header → Segment → Info/Tracks) and returns
    doctype, movie duration, and per-track (type, codec id, number).
    Frame DECODE (VP8/VP9/AV1/Opus) stays behind the ffmpeg-backed
    ``splitter=`` hook, exactly like MP4. Raises ValueError for
    payloads that are not EBML."""
    import struct as _struct

    if payload is None or len(payload) < 4:
        raise ValueError("not an EBML payload")
    data = bytes(payload)
    if data[:4] != b"\x1a\x45\xdf\xa3":
        raise ValueError("not an EBML payload (bad magic)")
    out: dict = {"doctype": None, "duration_ms": None, "tracks": []}
    timescale_ns = 1_000_000  # Matroska default: 1 ms
    duration_units = None
    for eid, s, e in _ebml_elements(data, 0, len(data)):
        if eid == _EBML_HEADER_ID:
            for hid, hs, he in _ebml_elements(data, s, e):
                if hid == _EBML_DOCTYPE:
                    out["doctype"] = data[hs:he].rstrip(b"\x00").decode(
                        "ascii", "replace"
                    )
        elif eid == _MKV_SEGMENT:
            for sid, ss, se in _ebml_elements(data, s, e):
                if sid == _MKV_INFO:
                    for iid, is_, ie in _ebml_elements(data, ss, se):
                        if iid == _MKV_TIMESCALE:
                            timescale_ns = int.from_bytes(
                                data[is_:ie], "big"
                            )
                        elif iid == _MKV_DURATION:
                            n = ie - is_
                            if n == 4:
                                (duration_units,) = _struct.unpack(
                                    ">f", data[is_:ie]
                                )
                            elif n == 8:
                                (duration_units,) = _struct.unpack(
                                    ">d", data[is_:ie]
                                )
                elif sid == _MKV_TRACKS:
                    for tid, ts_, te in _ebml_elements(data, ss, se):
                        if tid != _MKV_TRACKENTRY:
                            continue
                        track = {"type": None, "codec": None,
                                 "number": None}
                        for fid, fs, fe in _ebml_elements(data, ts_, te):
                            if fid == _MKV_TRACKTYPE:
                                track["type"] = int.from_bytes(
                                    data[fs:fe], "big"
                                )
                            elif fid == _MKV_CODECID:
                                track["codec"] = data[fs:fe].decode(
                                    "ascii", "replace"
                                )
                            elif fid == _MKV_TRACKNUMBER:
                                track["number"] = int.from_bytes(
                                    data[fs:fe], "big"
                                )
                        out["tracks"].append(track)
    if duration_units is not None:
        out["duration_ms"] = int(
            duration_units * timescale_ns // 1_000_000
        )
    return out


def build_webm_container(
    duration_ms: int,
    codec: str = "V_VP9",
    track_type: int = 1,
    doctype: str = "webm",
    timescale_ns: int = 1_000_000,
) -> bytes:
    """Minimal spec-valid EBML/WebM container with one track — the
    synthesis twin of :func:`parse_webm_metadata` (deterministic test
    containers for the ``q_webm_meta`` gate and splitter adapters).
    The duration is stored as a float64 count of timescale units; an
    integer millisecond count at the default 1 ms scale is exact in
    float64, so a parse round-trip returns it unchanged."""
    import struct as _struct

    if duration_ms < 0 or timescale_ns <= 0:
        raise ValueError("duration_ms must be >= 0 and timescale_ns > 0")

    def size(n: int) -> bytes:
        # 2-byte EBML varint covers every payload this builder emits
        if n > 0x3FFF - 1:
            return _struct.pack(">I", n | 0x10000000)[0:4]
        return _struct.pack(">H", n | 0x4000)

    def elem(eid: int, payload: bytes) -> bytes:
        nid = max(1, (eid.bit_length() + 7) // 8)
        return eid.to_bytes(nid, "big") + size(len(payload)) + payload

    header = elem(
        _EBML_HEADER_ID, elem(_EBML_DOCTYPE, doctype.encode("ascii"))
    )
    dur_units = duration_ms * 1_000_000 / timescale_ns
    info = elem(
        _MKV_INFO,
        elem(_MKV_TIMESCALE,
             timescale_ns.to_bytes(
                 max(1, (timescale_ns.bit_length() + 7) // 8), "big"))
        + elem(_MKV_DURATION, _struct.pack(">d", dur_units)),
    )
    track = elem(
        _MKV_TRACKENTRY,
        elem(_MKV_TRACKNUMBER, b"\x01")
        + elem(_MKV_TRACKTYPE, bytes([track_type]))
        + elem(_MKV_CODECID, codec.encode("ascii")),
    )
    tracks = elem(_MKV_TRACKS, track)
    return header + elem(_MKV_SEGMENT, info + tracks)


_MKV_CLUSTER = 0x1F43B675
_MKV_CLUSTER_TS = 0xE7
_MKV_SIMPLEBLOCK = 0xA3


def _ebml_size_varint(n: int) -> bytes:
    """EBML data-size varint (marker bit + 7·k value bits)."""
    for k in (1, 2, 3, 4, 8):
        if n < (1 << (7 * k)) - 1:
            return (n | (1 << (7 * k))).to_bytes(k, "big")
    raise ValueError("EBML size too large")


def build_webm_media(
    frames: list,
    frame_duration_ms: int = 40,
    codec: str = "V_VP9",
    track_type: int = 1,
    doctype: str = "webm",
    frames_per_cluster: int = 3,
) -> bytes:
    """Build a WebM/Matroska container with REAL frame payloads:
    Segment(Info, Tracks, Cluster*) where each Cluster carries a
    Timestamp element and up to ``frames_per_cluster`` SimpleBlocks
    (track varint ``0x81`` + 2-byte signed relative timecode +
    keyframe flags + payload — the Matroska block layout).
    :func:`split_webm_frames` inverts it; together they complete the
    container matrix (GIF/AVI/MP4/WebM all mux AND demux)."""
    import struct as _struct

    if frame_duration_ms <= 0 or frames_per_cluster < 1:
        raise ValueError(
            "frame_duration_ms and frames_per_cluster must be >= 1"
        )
    frames = [bytes(f) for f in frames]

    def elem(eid: int, payload: bytes) -> bytes:
        nid = max(1, (eid.bit_length() + 7) // 8)
        return eid.to_bytes(nid, "big") + _ebml_size_varint(
            len(payload)
        ) + payload

    header = elem(
        _EBML_HEADER_ID, elem(_EBML_DOCTYPE, doctype.encode("ascii"))
    )
    dur = float(len(frames) * frame_duration_ms)
    info = elem(
        _MKV_INFO,
        elem(_MKV_TIMESCALE, (1_000_000).to_bytes(3, "big"))
        + elem(_MKV_DURATION, _struct.pack(">d", dur)),
    )
    track = elem(
        _MKV_TRACKENTRY,
        elem(_MKV_TRACKNUMBER, b"\x01")
        + elem(_MKV_TRACKTYPE, bytes([track_type]))
        + elem(_MKV_CODECID, codec.encode("ascii")),
    )
    clusters = b""
    for c0 in range(0, len(frames), frames_per_cluster):
        chunk = frames[c0 : c0 + frames_per_cluster]
        cluster_ts = c0 * frame_duration_ms
        body = elem(
            _MKV_CLUSTER_TS,
            cluster_ts.to_bytes(
                max(1, (cluster_ts.bit_length() + 7) // 8), "big"
            ),
        )
        for i, frame in enumerate(chunk):
            rel = i * frame_duration_ms  # relative to the cluster ts
            block = (
                b"\x81" + _struct.pack(">h", rel) + b"\x80" + frame
            )
            body += elem(_MKV_SIMPLEBLOCK, block)
        clusters += elem(_MKV_CLUSTER, body)
    return header + elem(
        _MKV_SEGMENT, info + elem(_MKV_TRACKS, track) + clusters
    )


def split_webm_frames(payload: bytes) -> list:
    """``MediaProcessor`` ``splitter=`` contract over a REAL
    WebM/Matroska container: walks Segment → Cluster → SimpleBlock,
    strips each block's header (track varint, relative timecode,
    flags) and returns the frame payloads in storage order. Laced
    blocks (flag bits 0x06) are rejected — the builder never emits
    them and lace reconstruction is out of scope. The EBML demux
    twin of :func:`split_mp4_samples`."""
    data = bytes(payload)
    if len(data) < 4 or data[:4] != b"\x1a\x45\xdf\xa3":
        raise ValueError("not an EBML payload (bad magic)")
    frames = []
    for eid, s, e in _ebml_elements(data, 0, len(data)):
        if eid != _MKV_SEGMENT:
            continue
        for sid, ss, se in _ebml_elements(data, s, e):
            if sid != _MKV_CLUSTER:
                continue
            for cid, cs, ce in _ebml_elements(data, ss, se):
                if cid != _MKV_SIMPLEBLOCK:
                    continue
                _track, pos = _ebml_read_size(data, cs)
                pos += 2  # signed relative timecode
                if pos >= ce:
                    raise ValueError("truncated SimpleBlock")
                flags = data[pos]
                if flags & 0x06:
                    raise ValueError("laced SimpleBlock not supported")
                frames.append(data[pos + 1 : ce])
    return frames


def webm_metadata(df: DataFrame, payload_column: str = "payload") -> DataFrame:
    """Container-metadata extraction over a binary WebM/MKV column via
    mapInPandas: (media_id, doctype, duration_ms, num_tracks, codecs)
    — the EBML twin of :func:`mp4_metadata`."""
    return _track_metadata(df, payload_column, parse_webm_metadata, "doctype")


# -- AVI (RIFF) container: REAL MJPEG frame decode ------------------------
#
# Motion-JPEG-in-AVI is the one mainstream video container whose frame
# payloads are plain JPEG — which this repo decodes for real
# (``replay_spark.jpeg``). That closes the container-video gap honestly:
# build → split → decode runs end-to-end with zero external
# dependencies, unlike MP4/WebM whose H.264/VP9 payloads stay behind
# the ``splitter=`` ffmpeg hook. RIFF is little-endian throughout
# (ISO-BMFF above is big-endian). Reference has no counterpart
# (LLM-pipeline multimodal tier).


def build_avi_container(
    frames: list,
    fps: float = 10.0,
    width: int = 0,
    height: int = 0,
    codec: str = "MJPG",
) -> bytes:
    """Build a spec-valid AVI (RIFF) container around already-encoded
    video frame payloads — for ``codec="MJPG"`` each frame is a
    complete JPEG, the classic capture-device shape. Emits
    hdrl(avih + strl(strh + strf)) + movi('00dc' chunks, word-aligned)
    + a full idx1 keyframe index (AVIF_HASINDEX). ``fps`` is stored
    exactly as the rational ``rate/scale = round(fps*1000)/1000``."""
    import struct as _struct

    if not frames:
        raise ValueError("at least one frame payload is required")
    if fps <= 0:
        raise ValueError("fps must be > 0")
    frames = [bytes(f) for f in frames]

    def chunk(fourcc: bytes, payload: bytes) -> bytes:
        pad = b"\x00" if len(payload) % 2 else b""
        return fourcc + _struct.pack("<I", len(payload)) + payload + pad

    def lst(fourcc: bytes, payload: bytes) -> bytes:
        return chunk(b"LIST", fourcc + payload)

    rate = int(round(fps * 1000))
    scale = 1000
    max_bytes = max(len(f) for f in frames)
    usec_per_frame = int(round(1_000_000 * scale / rate))
    avih = chunk(
        b"avih",
        _struct.pack(
            "<IIIIIIIIII4I",
            usec_per_frame,          # dwMicroSecPerFrame
            max_bytes * rate // scale,  # dwMaxBytesPerSec
            0,                       # dwPaddingGranularity
            0x10,                    # dwFlags = AVIF_HASINDEX
            len(frames),             # dwTotalFrames
            0,                       # dwInitialFrames
            1,                       # dwStreams
            max_bytes,               # dwSuggestedBufferSize
            width, height, 0, 0, 0, 0,
        ),
    )
    strh = chunk(
        b"strh",
        b"vids" + codec.encode("ascii")[:4].ljust(4, b" ")
        + _struct.pack(
            "<IHHIIIIIIIi4h",
            0, 0, 0, 0,              # flags, priority, language, initial
            scale, rate,             # dwScale, dwRate (fps = rate/scale)
            0, len(frames),          # dwStart, dwLength (frames)
            max_bytes, 0, 0,         # buffer, quality, sample size
            0, 0, width, height,     # rcFrame
        ),
    )
    strf = chunk(
        b"strf",
        _struct.pack(
            "<IiiHH4sIiiII",
            40, width, height, 1, 24,
            codec.encode("ascii")[:4].ljust(4, b" "),
            width * height * 3, 0, 0, 0, 0,
        ),
    )
    hdrl = lst(b"hdrl", avih + lst(b"strl", strh + strf))
    movi_chunks = []
    offsets = []
    pos = 4  # first chunk starts right after the 'movi' fourcc
    for f in frames:
        c = chunk(b"00dc", f)
        offsets.append(pos)
        movi_chunks.append(c)
        pos += len(c)
    movi = lst(b"movi", b"".join(movi_chunks))
    idx1 = chunk(
        b"idx1",
        b"".join(
            b"00dc" + _struct.pack("<III", 0x10, off, len(f))
            for off, f in zip(offsets, frames)
        ),
    )
    return chunk(b"RIFF", b"AVI " + hdrl + movi + idx1)


def _riff_chunks(data: bytes, start: int, end: int):
    import struct as _struct

    pos = start
    while pos + 8 <= end:
        fourcc = data[pos : pos + 4]
        (size,) = _struct.unpack("<I", data[pos + 4 : pos + 8])
        if pos + 8 + size > end:
            raise ValueError("corrupt RIFF chunk size")
        yield fourcc, pos + 8, pos + 8 + size
        pos += 8 + size + (size % 2)  # chunks are word-aligned


def parse_avi_metadata(payload: bytes) -> dict:
    """REAL AVI (RIFF) container metadata parser — stdlib struct only:
    walks hdrl/strl and returns width, height, total_frames, the
    fps rational (rate, scale), and per-stream (type, codec fourcc).
    Raises ValueError for payloads that are not AVI."""
    import struct as _struct

    if payload is None or len(payload) < 12:
        raise ValueError("not an AVI payload")
    data = bytes(payload)
    if data[:4] != b"RIFF" or data[8:12] != b"AVI ":
        raise ValueError("not an AVI payload")
    out: dict = {
        "width": None, "height": None, "total_frames": None,
        "rate": None, "scale": None, "streams": [],
    }
    for fourcc, s, e in _riff_chunks(data, 12, len(data)):
        if fourcc != b"LIST" or data[s : s + 4] != b"hdrl":
            continue
        for h4, hs, he in _riff_chunks(data, s + 4, e):
            if h4 == b"avih":
                (upf, _mbs, _pad, _flags, total, _init, _nstr, _buf,
                 w, h) = _struct.unpack("<10I", data[hs : hs + 40])
                out["width"], out["height"] = w, h
                out["total_frames"] = total
            elif h4 == b"LIST" and data[hs : hs + 4] == b"strl":
                stream: dict = {"type": None, "codec": None}
                for s4, ss, se in _riff_chunks(data, hs + 4, he):
                    if s4 == b"strh":
                        stream["type"] = data[ss : ss + 4].decode(
                            "ascii", "replace"
                        )
                        stream["codec"] = (
                            data[ss + 4 : ss + 8]
                            .decode("ascii", "replace")
                            .strip()
                        )
                        scale, rate = _struct.unpack(
                            "<II", data[ss + 20 : ss + 28]
                        )
                        if stream["type"] == "vids":
                            out["scale"], out["rate"] = scale, rate
                out["streams"].append(stream)
    if out["total_frames"] is None:
        raise ValueError("AVI payload has no avih header")
    return out


def split_avi_frames(payload: bytes) -> list:
    """``MediaProcessor`` ``splitter=`` contract over a REAL AVI
    container: returns the video ('##dc') chunk payloads in movi
    order. For MJPG streams each returned payload is a complete JPEG
    that :func:`jpeg_image_decoder` decodes for real — container
    video frame decode with no external splitter."""
    data = bytes(payload)
    if data[:4] != b"RIFF" or data[8:12] != b"AVI ":
        raise ValueError("not an AVI payload")
    frames = []
    for fourcc, s, e in _riff_chunks(data, 12, len(data)):
        if fourcc == b"LIST" and data[s : s + 4] == b"movi":
            for c4, cs, ce in _riff_chunks(data, s + 4, e):
                if c4[2:4] == b"dc" and c4[:2].isdigit():
                    frames.append(data[cs:ce])
    return frames


def avi_metadata(df: DataFrame, payload_column: str = "payload") -> DataFrame:
    """Container-metadata extraction over a binary AVI column via
    mapInPandas: (media_id, width, height, total_frames, fps_rate,
    fps_scale, codecs) — the RIFF twin of :func:`mp4_metadata`."""

    def extract(p):
        meta = parse_avi_metadata(bytes(p))
        codecs = [s["codec"] or "" for s in meta["streams"]]
        yield (
            meta["width"], meta["height"], meta["total_frames"],
            meta["rate"], meta["scale"], codecs,
        )

    return map_rows(
        df,
        [payload_column],
        extract,
        [
            "media_id",
            ("width", IntegerType()),
            ("height", IntegerType()),
            ("total_frames", IntegerType()),
            ("fps_rate", LongType()),
            ("fps_scale", LongType()),
            ("codecs", ArrayType(StringType())),
        ],
    )
