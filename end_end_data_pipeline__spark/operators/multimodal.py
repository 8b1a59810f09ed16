"""Multimodal column plumbing (SURVEY.md UD8 / north star): images,
audio, and video ride in DataFrames as opaque ``binary`` payloads with
a typed metadata struct; decode / feature-extraction / resize /
frame-sampling run as Arrow-batched ``mapInPandas`` operators.

The Spark-side plumbing here — schema, partition sizing, UDF iterator
signature, batch shape — is real and tested.  The IMAGE decode path is
REAL for three formats with pure-stdlib codecs (PPM P6, BMP 24-bit,
PNG 8-bit RGB via ``zlib`` — all five scanline filters): see
``decode_image``/``encode_png``/``encode_bmp``/``encode_ppm``.  The
AUDIO path is real for RIFF/WAVE PCM16 (``decode_audio``) and the
VIDEO path is real for uncompressed YUV4MPEG2 C444 (``decode_y4m``);
COMPRESSED codecs (jpeg/mp3/h264 — ffmpeg/av, not in this container)
remain honest ``NotImplementedError`` stubs, and the fake decoder
stays available for plumbing tests.

Scale notes: binary payloads make rows wide — ``mapInPandas``
processes one Arrow batch at a time, so peak executor memory is
``maxRecordsPerBatch × payload size`` regardless of partition row
count; repartition by a size-aware key (e.g. ``bytes // 128MiB``
buckets) before heavy decode stages.
"""

from __future__ import annotations

import struct
import sys
import zlib
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_META = T.StructType(
    [
        T.StructField("media_type", T.StringType()),  # image/audio/video
        T.StructField("format", T.StringType()),      # png/jpeg/wav/mp4/...
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("feature", T.ArrayType(T.FloatType())),
        T.StructField("n_bytes", T.LongType()),
    ]
)


def attach_media(df: DataFrame, payload: Column, media_type: str, fmt: str) -> DataFrame:
    """Wrap a binary payload column with the typed metadata struct."""
    return df.withColumn("media", payload.alias("payload")).withColumn(
        "media_meta",
        F.struct(
            F.lit(media_type).alias("media_type"),
            F.lit(fmt).alias("format"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("long").alias("duration_ms"),
            F.length(F.col("media")).alias("n_bytes"),
        ),
    )


# ---------------------------------------------------------------------------
# Real pure-stdlib image codecs (UD8 decode path).  Pixel buffers are raw
# RGB24 (row-major, top-down).  These run INSIDE the Arrow-batched
# operators below — the distributed plumbing is identical for a real
# codec and a library one; only these byte-level functions would swap
# for PIL/libpng at production scale.
# ---------------------------------------------------------------------------


def encode_ppm(width: int, height: int, rgb: bytes) -> bytes:
    """Binary PPM (P6): ASCII header + raw RGB24."""
    if len(rgb) != width * height * 3:
        raise ValueError("rgb buffer does not match dimensions")
    return b"P6\n%d %d\n255\n" % (width, height) + rgb


def encode_bmp(width: int, height: int, rgb: bytes) -> bytes:
    """Uncompressed 24-bit BMP (BITMAPINFOHEADER): BGR byte order,
    bottom-up rows, each row padded to a 4-byte boundary."""
    if len(rgb) != width * height * 3:
        raise ValueError("rgb buffer does not match dimensions")
    pad = (4 - (width * 3) % 4) % 4
    rows = []
    for y in range(height - 1, -1, -1):  # bottom-up
        row = bytearray()
        base = y * width * 3
        for x in range(width):
            r, g, b = rgb[base + 3 * x : base + 3 * x + 3]
            row += bytes((b, g, r))  # BGR
        rows.append(bytes(row) + b"\x00" * pad)
    pixel_data = b"".join(rows)
    data_offset = 14 + 40
    file_size = data_offset + len(pixel_data)
    header = struct.pack("<2sIHHI", b"BM", file_size, 0, 0, data_offset)
    info = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(pixel_data),
        2835, 2835, 0, 0,
    )
    return header + info + pixel_data


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def encode_png(width: int, height: int, rgb: bytes) -> bytes:
    """8-bit truecolor PNG via stdlib ``zlib``.  Each scanline uses
    filter ``y % 5`` so a round-trip exercises every reconstruction
    (None/Sub/Up/Average/Paeth) — a decoder with any filter bug cannot
    reproduce the source pixels."""
    if len(rgb) != width * height * 3:
        raise ValueError("rgb buffer does not match dimensions")
    bpp, stride = 3, width * 3
    raw = bytearray()
    for y in range(height):
        f = y % 5
        line = rgb[y * stride : (y + 1) * stride]
        prev = rgb[(y - 1) * stride : y * stride] if y else bytes(stride)
        raw.append(f)
        for i, v in enumerate(line):
            left = line[i - bpp] if i >= bpp else 0
            up = prev[i]
            upleft = prev[i - bpp] if i >= bpp else 0
            if f == 0:
                out = v
            elif f == 1:
                out = (v - left) & 0xFF
            elif f == 2:
                out = (v - up) & 0xFF
            elif f == 3:
                out = (v - (left + up) // 2) & 0xFF
            else:
                out = (v - _paeth(left, up, upleft)) & 0xFF
            raw.append(out)

    def chunk(tag: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + tag
            + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def _decode_ppm(raw: bytes) -> tuple[int, int, bytes]:
    # header: P6 <ws> width <ws> height <ws> maxval <one ws byte> data
    pos, tokens = 0, []
    while len(tokens) < 4:
        while raw[pos : pos + 1].isspace():
            pos += 1
        start = pos
        while pos < len(raw) and not raw[pos : pos + 1].isspace():
            pos += 1
        tokens.append(raw[start:pos])
    pos += 1  # exactly one whitespace byte separates maxval from data
    if tokens[0] != b"P6" or tokens[3] != b"255":
        raise ValueError("unsupported PPM variant")
    width, height = int(tokens[1]), int(tokens[2])
    rgb = raw[pos : pos + width * height * 3]
    if len(rgb) != width * height * 3:
        raise ValueError("truncated PPM payload")
    return width, height, rgb


def _decode_bmp(raw: bytes) -> tuple[int, int, bytes]:
    if raw[:2] != b"BM":
        raise ValueError("not a BMP")
    data_offset = struct.unpack_from("<I", raw, 10)[0]
    width, height = struct.unpack_from("<ii", raw, 18)
    planes, bpp = struct.unpack_from("<HH", raw, 26)
    compression = struct.unpack_from("<I", raw, 30)[0]
    if bpp != 24 or compression != 0:
        raise ValueError("only uncompressed 24-bit BMP supported")
    bottom_up = height > 0
    height = abs(height)
    pad = (4 - (width * 3) % 4) % 4
    rgb = bytearray(width * height * 3)
    pos = data_offset
    for row in range(height):
        y = (height - 1 - row) if bottom_up else row
        base = y * width * 3
        for x in range(width):
            b, g, r = raw[pos : pos + 3]
            rgb[base + 3 * x : base + 3 * x + 3] = bytes((r, g, b))
            pos += 3
        pos += pad
    return width, height, bytes(rgb)


def _decode_png(raw: bytes) -> tuple[int, int, bytes]:
    if raw[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG")
    pos, width, height, bit_depth, color_type = 8, 0, 0, 0, 0
    idat = bytearray()
    while pos < len(raw):
        (length,) = struct.unpack_from(">I", raw, pos)
        tag = raw[pos + 4 : pos + 8]
        body = raw[pos + 8 : pos + 8 + length]
        if struct.unpack_from(">I", raw, pos + 8 + length)[0] != (
            zlib.crc32(tag + body) & 0xFFFFFFFF
        ):
            raise ValueError(f"PNG chunk {tag!r} CRC mismatch")
        if tag == b"IHDR":
            width, height, bit_depth, color_type = struct.unpack_from(
                ">IIBB", body
            )
            interlace = body[12]
            if bit_depth != 8 or color_type not in (2, 6) or interlace:
                raise ValueError("only 8-bit RGB/RGBA non-interlaced PNG")
        elif tag == b"IDAT":
            idat += body
        elif tag == b"IEND":
            break
        pos += 12 + length
    bpp = 3 if color_type == 2 else 4
    stride = width * bpp
    data = zlib.decompress(bytes(idat))
    out = bytearray(width * height * bpp)
    for y in range(height):
        f = data[y * (stride + 1)]
        line = bytearray(data[y * (stride + 1) + 1 : (y + 1) * (stride + 1)])
        prev = out[(y - 1) * stride : y * stride] if y else bytes(stride)
        for i in range(stride):
            left = line[i - bpp] if i >= bpp else 0
            up = prev[i]
            upleft = prev[i - bpp] if i >= bpp else 0
            if f == 1:
                line[i] = (line[i] + left) & 0xFF
            elif f == 2:
                line[i] = (line[i] + up) & 0xFF
            elif f == 3:
                line[i] = (line[i] + (left + up) // 2) & 0xFF
            elif f == 4:
                line[i] = (line[i] + _paeth(left, up, upleft)) & 0xFF
        out[y * stride : (y + 1) * stride] = line
    if bpp == 4:  # drop alpha
        rgb = bytearray(width * height * 3)
        for px in range(width * height):
            rgb[px * 3 : px * 3 + 3] = out[px * 4 : px * 4 + 3]
        return width, height, bytes(rgb)
    return width, height, bytes(out)


def decode_image(raw: bytes) -> tuple[str, int, int, bytes]:
    """Sniff the container by magic bytes and decode to raw RGB24
    (top-down).  Returns (format, width, height, rgb)."""
    if raw[:8] == b"\x89PNG\r\n\x1a\n":
        return ("png", *_decode_png(raw))
    if raw[:2] == b"BM":
        return ("bmp", *_decode_bmp(raw))
    if raw[:2] == b"P6":
        return ("ppm", *_decode_ppm(raw))
    raise ValueError(f"unrecognized image container (magic={raw[:8]!r})")


def encode_wav(sample_rate: int, samples: list[int]) -> bytes:
    """Minimal RIFF/WAVE container: PCM, mono, 16-bit little-endian.
    Pure stdlib — the audio twin of the image codecs above."""
    import array

    pcm = array.array("h", samples)
    if sys.byteorder == "big":
        pcm.byteswap()
    data = pcm.tobytes()
    fmt = struct.pack(
        "<HHIIHH", 1, 1, sample_rate, sample_rate * 2, 2, 16
    )
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_audio(raw: bytes) -> tuple[int, list[int]]:
    """Parse a RIFF/WAVE PCM16 mono payload → (sample_rate, samples).
    Walks the chunk list (tolerates extra chunks like LIST/INFO); only
    uncompressed 16-bit mono is supported — anything else raises."""
    if raw[:4] != b"RIFF" or raw[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, sample_rate, data = 12, None, None
    while pos + 8 <= len(raw):
        tag = raw[pos : pos + 4]
        (length,) = struct.unpack_from("<I", raw, pos + 4)
        body = raw[pos + 8 : pos + 8 + length]
        if tag == b"fmt ":
            audio_format, channels, sample_rate, _, _, bits = struct.unpack_from(
                "<HHIIHH", body
            )
            if (audio_format, channels, bits) != (1, 1, 16):
                raise ValueError("only PCM16 mono WAV supported")
        elif tag == b"data":
            data = body
        pos += 8 + length + (length & 1)  # chunks are word-aligned
    if sample_rate is None or data is None:
        raise ValueError("missing fmt/data chunk")
    import array

    pcm = array.array("h")
    pcm.frombytes(data)
    if sys.byteorder == "big":
        pcm.byteswap()
    return sample_rate, pcm.tolist()


def encode_y4m(width: int, height: int, frames: list[bytes]) -> bytes:
    """Minimal YUV4MPEG2 (Y4M) container, C444 planar: a real,
    publicly-specified uncompressed video format (mjpegtools) the
    stdlib can write — stream header, then ``FRAME\\n`` + 3 planes of
    ``width × height`` bytes (Y, U, V) per frame.  The video twin of
    the image/audio codecs above."""
    for f in frames:
        if len(f) != width * height * 3:
            raise ValueError("each C444 frame is width*height*3 bytes")
    head = f"YUV4MPEG2 W{width} H{height} F25:1 Ip A1:1 C444\n".encode()
    return head + b"".join(b"FRAME\n" + f for f in frames)


def decode_y4m(raw: bytes) -> tuple[int, int, list[bytes]]:
    """Parse a Y4M C444 payload → (width, height, frames).  Walks the
    stream header's space-separated parameter tags (W/H/C mandatory
    here); only C444 is supported — anything else raises."""
    nl = raw.find(b"\n")
    if nl < 0 or not raw.startswith(b"YUV4MPEG2"):
        raise ValueError("not a YUV4MPEG2 payload")
    width = height = None
    colorspace = "C420jpeg"  # the Y4M default when the tag is absent
    for tag in raw[:nl].split(b" ")[1:]:
        if tag[:1] == b"W":
            width = int(tag[1:])
        elif tag[:1] == b"H":
            height = int(tag[1:])
        elif tag[:1] == b"C":
            colorspace = tag[1:].decode()
    if width is None or height is None:
        raise ValueError("Y4M header missing W/H")
    if colorspace != "444":
        raise ValueError(f"only C444 supported, got C{colorspace}")
    frame_len = width * height * 3
    frames, pos = [], nl + 1
    while pos < len(raw):
        fnl = raw.find(b"\n", pos)
        if fnl < 0 or raw[pos : pos + 5] != b"FRAME":
            raise ValueError("malformed FRAME marker")
        body = raw[fnl + 1 : fnl + 1 + frame_len]
        if len(body) != frame_len:
            raise ValueError("truncated frame")
        frames.append(body)
        pos = fnl + 1 + frame_len
    return width, height, frames


def render_test_frame(
    doc_id: int, frame_idx: int, width: int = 8, height: int = 6
) -> bytes:
    """Deterministic C444 planar frame keyed by (doc_id, frame_idx) —
    closed forms per plane a SQL oracle can recompute per pixel."""
    n = width * height
    buf = bytearray(n * 3)
    for y in range(height):
        for x in range(width):
            i = y * width + x
            buf[i] = (doc_id * 7 + frame_idx * 17 + x * 3 + y * 5) % 256
            buf[n + i] = (doc_id * 11 + frame_idx * 19 + x + 2 * y) % 256
            buf[2 * n + i] = (doc_id * 13 + frame_idx * 23 + 2 * x + y) % 256
    return bytes(buf)


def render_test_audio(doc_id: int, n_samples: int = 480) -> list[int]:
    """Deterministic PCM16 test signal keyed by ``doc_id`` — same
    closed form a SQL oracle can recompute per sample."""
    return [
        ((doc_id * 31 + i * 7) % 65536) - 32768 for i in range(n_samples)
    ]


def render_test_image(doc_id: int, width: int = 16, height: int = 12) -> bytes:
    """Deterministic RGB24 test pattern keyed by ``doc_id`` — the same
    closed form a SQL oracle can recompute per pixel, so an
    encode→decode→aggregate round-trip is exactly checkable."""
    rgb = bytearray(width * height * 3)
    i = 0
    for y in range(height):
        for x in range(width):
            rgb[i] = (doc_id * 7 + x * 3 + y * 5) % 256
            rgb[i + 1] = (doc_id * 11 + x + 2 * y) % 256
            rgb[i + 2] = (doc_id * 13 + 2 * x + y) % 256
            i += 3
    return bytes(rgb)


def _fake_feature(payload: bytes, dims: int = 8) -> list[float]:
    """Deterministic stand-in for a real image/audio embedding: byte
    histogram folded into ``dims`` buckets, L1-normalized."""
    acc = [0] * dims
    for i, b in enumerate(payload):
        acc[(b + i) % dims] += b
    total = sum(acc) or 1
    return [v / total for v in acc]


def extract_features(
    df: DataFrame,
    payload_col: str = "media",
    id_col: str = "doc_id",
    dims: int = 8,
    decoder: str = "fake",
) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads.

    ``decoder='fake'`` → deterministic byte-histogram features over the
    CONTAINER bytes (plumbing tests).  ``decoder='image'`` → REAL: the
    payload is decoded (PNG/BMP/PPM, ``decode_image``) and the feature
    is the histogram of the decoded RGB pixels.  ``decoder='audio'`` →
    REAL: the payload is parsed as RIFF/WAVE PCM16 (``decode_audio``)
    and the feature is the histogram of the decoded sample bytes.
    ``decoder='video'`` → REAL: the payload is parsed as YUV4MPEG2
    C444 (``decode_y4m``) and the feature is the histogram of the
    decoded planar pixels.  In every real path container framing no
    longer leaks into the embedding, so the same content in different
    containers maps to the SAME feature.  Compressed codecs remain
    stubs.
    """
    if decoder not in ("fake", "image", "audio", "video"):
        raise NotImplementedError(
            f"decoder={decoder!r} decode path is not implemented (stub); "
            "use decoder='image'/'audio'/'video' (real) or 'fake'"
        )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import array

        for pdf in it:
            feats, sizes = [], []
            for p in pdf[payload_col]:
                raw = bytes(p) if p is not None else b""
                if decoder == "image":
                    src = decode_image(raw)[3]
                elif decoder == "audio":
                    src = array.array("h", decode_audio(raw)[1]).tobytes()
                elif decoder == "video":
                    src = b"".join(decode_y4m(raw)[2])
                else:
                    src = raw
                feats.append(_fake_feature(src, dims))
                sizes.append(len(raw))
            yield pd.DataFrame(
                {"doc_id": pdf[id_col], "feature": feats, "n_bytes": sizes}
            )

    return df.select(id_col, payload_col).mapInPandas(batches, FEATURE_SCHEMA)


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("media", T.BinaryType()),
        T.StructField("media_meta", MEDIA_META),
    ]
)


def _require_codec(decoder: str, lib: str, real: tuple[str, ...] = ()) -> None:
    """Decoders outside ``real`` + ``'fake'`` are STUBS: raise
    unconditionally (a present ``lib`` must not flip the operator into
    silently returning fake output as if it were a real decode).
    ``'image'`` is real where the operator routes it through
    :func:`decode_image`."""
    if decoder != "fake" and decoder not in real:
        raise NotImplementedError(
            f"decoder={decoder!r} decode path is not implemented (stub; "
            f"a real implementation would use {lib}); use decoder='fake' "
            "for the deterministic stand-in"
        )


def resize_images(
    df: DataFrame,
    payload_col: str = "media",
    id_col: str = "doc_id",
    width: int = 32,
    height: int = 32,
    decoder: str = "fake",
) -> DataFrame:
    """Arrow-batched image resize.  ``decoder='image'`` is REAL: the
    payload is decoded (PNG/BMP/PPM) and nearest-neighbor-resampled to
    ``width × height`` RGB24.  ``decoder='fake'`` keeps the legacy
    stride-sampled byte payload of exactly ``width × height`` bytes
    (plumbing tests).  Audio/video stay stubbed."""
    _require_codec(decoder, "PIL", real=("image",))
    target = width * height

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out_payload, out_meta = [], []
            for p in pdf[payload_col]:
                raw = bytes(p) if p is not None else b""
                if decoder == "image":
                    _, sw, sh, rgb = decode_image(raw)
                    resized_buf = bytearray(target * 3)
                    for ty in range(height):
                        sy = ty * sh // height
                        for tx in range(width):
                            sx = tx * sw // width
                            s = (sy * sw + sx) * 3
                            t = (ty * width + tx) * 3
                            resized_buf[t : t + 3] = rgb[s : s + 3]
                    resized, fmt = bytes(resized_buf), "rgb24"
                elif len(raw) >= target:
                    step = len(raw) / target
                    resized = bytes(raw[int(i * step)] for i in range(target))
                    fmt = "raw"
                else:
                    resized = raw + b"\x00" * (target - len(raw))
                    fmt = "raw"
                out_payload.append(resized)
                out_meta.append(
                    {
                        "media_type": "image",
                        "format": fmt,
                        "width": width,
                        "height": height,
                        "duration_ms": None,
                        "n_bytes": len(resized),
                    }
                )
            yield pd.DataFrame(
                {"doc_id": pdf[id_col], "media": out_payload, "media_meta": out_meta}
            )

    return df.select(id_col, payload_col).mapInPandas(batches, RESIZED_SCHEMA)


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame", T.BinaryType()),
        T.StructField("n_bytes", T.LongType()),
    ]
)


def sample_frames(
    df: DataFrame,
    payload_col: str = "media",
    id_col: str = "doc_id",
    n_frames: int = 4,
    decoder: str = "fake",
) -> DataFrame:
    """Video frame sampling: one input row fans out to ``n_frames``
    rows (the UDTF shape, UD4).  ``decoder='video'`` is REAL: the
    payload is parsed as YUV4MPEG2 C444 (``decode_y4m``) and
    ``n_frames`` uniformly-spaced DECODED frames are emitted, with
    ``frame_idx`` = the source frame index ``i × total // n_frames``.
    ``decoder='fake'`` slices the payload into contiguous byte chunks
    (plumbing tests); compressed codecs (ffmpeg/av) remain stubbed.

    Scale note: the fan-out happens inside ``mapInPandas``, so the
    per-batch memory bound is ``maxRecordsPerBatch × payload``, and no
    shuffle is introduced — downstream per-frame operators see an
    ordinary DataFrame."""
    _require_codec(decoder, "av", real=("video",))

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, idxs, frames = [], [], []
            for doc, p in zip(pdf[id_col], pdf[payload_col]):
                raw = bytes(p) if p is not None else b""
                if decoder == "video":
                    _, _, decoded = decode_y4m(raw)
                    if not decoded:  # valid header-only stream
                        continue
                    for i in range(n_frames):
                        src = i * len(decoded) // n_frames
                        ids.append(doc)
                        idxs.append(src)
                        frames.append(decoded[src])
                else:
                    chunk = max(len(raw) // n_frames, 1)
                    for i in range(n_frames):
                        ids.append(doc)
                        idxs.append(i)
                        frames.append(raw[i * chunk : (i + 1) * chunk])
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "frame_idx": idxs,
                    "frame": frames,
                    "n_bytes": [len(f) for f in frames],
                }
            )

    return df.select(id_col, payload_col).mapInPandas(batches, FRAME_SCHEMA)


IMAGE_STATS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("fmt", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("sum_r", T.LongType()),
        T.StructField("sum_g", T.LongType()),
        T.StructField("sum_b", T.LongType()),
    ]
)


AUDIO_STATS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("sum_samples", T.LongType()),
        T.StructField("min_sample", T.IntegerType()),
        T.StructField("max_sample", T.IntegerType()),
    ]
)


def audio_stats(
    df: DataFrame, payload_col: str = "media", id_col: str = "doc_id"
) -> DataFrame:
    """REAL WAV decode → per-clip sample statistics (exact integers,
    hash-checkable).  Arrow-batched like every operator here."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = {k.name: [] for k in AUDIO_STATS_SCHEMA.fields}
            for doc, p in zip(pdf[id_col], pdf[payload_col]):
                sr, samples = decode_audio(bytes(p))
                rows["doc_id"].append(doc)
                rows["sample_rate"].append(sr)
                rows["n_samples"].append(len(samples))
                rows["sum_samples"].append(sum(samples))
                rows["min_sample"].append(min(samples))
                rows["max_sample"].append(max(samples))
            yield pd.DataFrame(rows)

    # NULL payloads are dropped JVM-side (a missing blob has no stats;
    # bytes(None) inside the worker would die with a TypeError)
    nn = df.filter(F.col(payload_col).isNotNull())
    return nn.select(id_col, payload_col).mapInPandas(batches, AUDIO_STATS_SCHEMA)


def image_stats(
    df: DataFrame, payload_col: str = "media", id_col: str = "doc_id"
) -> DataFrame:
    """REAL decode → per-image channel statistics: container format,
    dimensions, and exact per-channel pixel sums.  Arrow-batched like
    every operator here; the sums are integers, so the output is
    hash-checkable against an oracle that knows the expected pixels."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = {k.name: [] for k in IMAGE_STATS_SCHEMA.fields}
            for doc, p in zip(pdf[id_col], pdf[payload_col]):
                fmt, w, h, rgb = decode_image(bytes(p))
                rows["doc_id"].append(doc)
                rows["fmt"].append(fmt)
                rows["width"].append(w)
                rows["height"].append(h)
                rows["sum_r"].append(sum(rgb[0::3]))
                rows["sum_g"].append(sum(rgb[1::3]))
                rows["sum_b"].append(sum(rgb[2::3]))
            yield pd.DataFrame(rows)

    # NULL payloads dropped JVM-side (same contract as audio_stats)
    nn = df.filter(F.col(payload_col).isNotNull())
    return nn.select(id_col, payload_col).mapInPandas(batches, IMAGE_STATS_SCHEMA)


def augment_images(
    df: DataFrame,
    payload_col: str = "media",
    id_col: str = "doc_id",
    crop: tuple[int, int] = (8, 6),
    flip: bool = True,
    out_format: str = "ppm",
) -> DataFrame:
    """Training-data image AUGMENTATION on the REAL decode path:
    decode (any supported container) → horizontal flip → center crop →
    re-encode.  The standard cheap augmentations of a vision training
    pipeline, running as exact integer pixel moves so an oracle that
    knows the source pixels can restate the augmented image — no
    interpolation, no float resampling.

    Arrow-batched ``mapInPandas`` like every operator here; output is
    (id, media) with the augmented payload in ``out_format``.
    """
    cw, ch = crop
    encoders = {"ppm": encode_ppm, "bmp": encode_bmp, "png": encode_png}
    if out_format not in encoders:
        raise ValueError(f"out_format must be one of {sorted(encoders)}")
    encode = encoders[out_format]

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, payloads = [], []
            for doc, p in zip(pdf[id_col], pdf[payload_col]):
                _, w, h, rgb = decode_image(bytes(p))
                if w < cw or h < ch:
                    raise ValueError(
                        f"crop {cw}x{ch} exceeds image {w}x{h} (doc {doc})"
                    )
                x0, y0 = (w - cw) // 2, (h - ch) // 2
                out = bytearray(cw * ch * 3)
                i = 0
                for y in range(y0, y0 + ch):
                    for x in range(x0, x0 + cw):
                        sx = (w - 1 - x) if flip else x
                        j = (y * w + sx) * 3
                        out[i : i + 3] = rgb[j : j + 3]
                        i += 3
                ids.append(doc)
                payloads.append(encode(cw, ch, bytes(out)))
            yield pd.DataFrame({id_col: ids, "media": payloads})

    # NULL payloads dropped JVM-side (same contract as image_stats)
    nn = df.filter(F.col(payload_col).isNotNull())
    return nn.select(id_col, payload_col).mapInPandas(
        batches, f"{id_col} long, media binary"
    )


def render_phash_image(
    c: int, v: int, width: int = 9, height: int = 8
) -> bytes:
    """Deterministic 9x8 grayscale-as-RGB test pattern for the
    perceptual-hash fixtures: pixel (x, y) has value ``((c*7 + c*x*19
    + c*y*41 + (c//256)*x*13 + (c//65536)*y*29 + (c//16777216)*x*y*31
    + x*x*37 + y*y*59 + x*y*23) % 256 + bump) % 256`` where ``bump``
    is 60 at (4, 3) iff ``v == 1`` (the planted near-dup
    perturbation).  The c-cross terms matter: a c-only additive term
    would shift every pixel by a constant, leave the gradient bits
    identical across unrelated images, and blow up the banding join —
    the same lattice trap as linear-congruential embeddings.  The
    HIGH-BYTE terms (c//256, c//65536, c//16777216) matter at scale
    (r08): every c-term that enters ``% 256`` linearly collapses the
    content space to ``c mod 256`` — 256 distinct patterns no matter
    how many groups — so a 6 M-doc corpus produced ~N²/2^18 identical-
    hash pairs (488 M rows at the 100× decade) and the measurement was
    duplicate explosion, not scale trend.  With four independent
    c-bytes the class space is 2^32: distinct content grows with the
    corpus and near-dup mass stays ~linear (planted pairs + a
    negligible birthday term).

    ``width``/``height`` default to the 9x8 geometry of the 64-bit
    dHash fixtures; the 256-bit path (:func:`dhash256_bands`) renders
    the SAME formula at 17x16 — the pixel expression is
    geometry-independent, so both oracles replay one closed form."""
    out = bytearray()
    for y in range(height):
        for x in range(width):
            g = (c * 7 + c * x * 19 + c * y * 41
                 + (c // 256) * x * 13 + (c // 65536) * y * 29
                 + (c // 16777216) * x * y * 31
                 + x * x * 37 + y * y * 59 + x * y * 23) % 256
            if v == 1 and x == 4 and y == 3:
                g = (g + 60) % 256
            out += bytes((g, g, g))
    return bytes(out)


def render_fingerprint_audio(c: int, v: int, n_samples: int = 480) -> list[int]:
    """Deterministic PCM16 test signal for the audio-fingerprint
    fixtures: quadratically-mixed carrier ``(c*37 + c*i*11 + (c//32768)*i*17 +
    (c//1048576)*i*i*19 + (c//33554432)*i*23 + i*i*13) % 32768`` shaped
    by a per-32-sample-frame envelope ``amp(c, f) = (c*13 +
    (c >> 3*(f%5))*7 + (c >> 3*(f//5)+15)*5 + f*f*3) % 8`` — each
    frame reads its own 3-bit windows of ``c`` (low half via ``f%5``,
    high half via ``f//5``); variant ``v == 1``
    bumps frame 7's envelope by +3 (mod 8) — the planted near-dup, one
    fingerprint frame off.  The c-cross terms in BOTH carrier and
    envelope matter for the same reason as ``render_phash_image``'s: a
    c-only additive term would leave the energy profile identical
    across unrelated clips.  The HIGH-BIT terms (the per-frame shift
    windows in the envelope; c//32768, c//1048576 in the carrier) matter at scale
    (r08, same lattice trap as the image twin): without them the
    envelope profile depended on ``c mod 8`` — EIGHT distinct shapes —
    so a 180k-doc corpus emitted ~7.6× excess identical-fingerprint
    pairs at the 30× decade; with them the fingerprint class space is
    ~2^30 and near-dup mass stays ~linear (planted + small birthday
    term).  All arithmetic is nonnegative-integer (division before the
    -16384 recenter), so a SQL oracle replays it bit-exactly."""
    out = []
    for i in range(n_samples):
        f = i // 32
        amp = (c * 13 + (c >> (3 * (f % 5))) * 7
               + (c >> (3 * (f // 5) + 15)) * 5 + f * f * 3
               + (3 if v == 1 and f == 7 else 0)) % 8
        abs_raw = (c * 37 + c * i * 11 + (c // 32768) * i * 17
                   + (c // 1048576) * i * i * 19
                   + (c // 33554432) * i * 23 + i * i * 13) % 32768
        out.append((abs_raw * amp) // 8 - 16384)
    return out


def audio_energy_levels(
    media: DataFrame,
    media_col: str,
    id_col: str,
    frame: int = 32,
    quantum: int = 2048,
) -> DataFrame:
    """Quantized frame-energy fingerprint of each audio payload — the
    audio twin of :func:`dhash_bands`, emitted RELATIONALLY as one row
    per (id, frame position, level) so banding (``pos DIV band_len``
    group-agg) and exact-Hamming verification (position equi-join,
    count of differing levels) stay JVM joins over scalar ints, never
    array cells.

    Decode runs through the REAL RIFF/WAVE chunk walker
    (:func:`decode_audio`); the fingerprint is ``level(p) =
    (Σ|sample| over frame p ÷ frame) ÷ quantum`` — integer mean
    absolute amplitude per frame, quantized.  Energy-envelope
    fingerprints are deliberately coarse (robust to sample-level
    noise, blind to phase): clips whose loudness profile matches
    frame-for-frame are near-dups, the radio-broadcast-monitoring
    contract.  One Arrow batch per task, ~1 KB/clip.
    """
    import pandas as pd

    def lev_batch(it):
        for pdf in it:
            ids, poss, lvls = [], [], []
            for doc, raw in zip(pdf[id_col], pdf[media_col]):
                _sr, samples = decode_audio(bytes(raw))
                for p in range(len(samples) // frame):
                    s = sum(abs(x) for x in samples[p * frame : (p + 1) * frame])
                    ids.append(doc)
                    poss.append(p)
                    lvls.append((s // frame) // quantum)
            yield pd.DataFrame({id_col: ids, "pos": poss, "level": lvls})

    # NULL payloads dropped JVM-side (same contract as audio_stats)
    media = media.filter(F.col(media_col).isNotNull())
    return media.mapInPandas(lev_batch, f"{id_col} long, pos int, level int")


def dhash_bands(media: DataFrame, media_col: str, id_col: str) -> DataFrame:
    """64-bit difference-hash of each image, emitted as FOUR 16-bit
    band values — the exact unit the pigeonhole near-dup join needs
    (Hamming distance <= 3 between two hashes forces at least one of
    the 4 bands to match exactly, so candidates come from a plain
    equi-join on (band, val), never an all-pairs scan).

    Decode runs through the REAL pure-stdlib codecs (PNG scanline
    filters / BMP / PPM), then the hash is ``bit(x, y) = gray(x+1, y) >
    gray(x, y)`` over the 9x8 grayscale — one Arrow batch per task, a
    few hundred bytes per image, no resize needed at this fixture
    geometry.  Band value = sum of ``bit << (x + 8*(y % 2))`` within
    each 2-row stripe.  Each band row also carries ``h``, the FULL
    64-bit hash packed as a signed long (two's complement — fine for
    ``xor``/``bit_count``), so a consumer can verify exact Hamming
    distance INSIDE the band equi-join instead of re-joining back to
    the band table (r08: at >= 10^6 images the 2^16 band-value space
    saturates — ~N²/2^18 false candidates per band — and a
    candidate-first plan materializes that quadratic mass through a
    DISTINCT + two joins; verified-in-join drops it in the join
    filter.  The saturation itself is inherent to a 64-bit dHash: at
    true 100 TB image scale, move to a 256-bit perceptual hash with
    4x64-bit bands, which pushes the same plan's saturation past
    10^9).  Output: (id, band int, val int, h long).
    """
    import pandas as pd

    def hash_batch(it):
        for pdf in it:
            ids, bands, vals, fulls = [], [], [], []
            for doc, raw in zip(pdf[id_col], pdf[media_col]):
                fmt, w, h, rgb = decode_image(bytes(raw))
                if w != 9 or h != 8:
                    raise ValueError(
                        f"dhash_bands expects 9x8 images, got {w}x{h}"
                    )
                gray = rgb[0::3]
                acc = [0, 0, 0, 0]
                for y in range(8):
                    for x in range(8):
                        if gray[y * 9 + x + 1] > gray[y * 9 + x]:
                            acc[y // 2] |= 1 << (x + 8 * (y % 2))
                full = (acc[0] | (acc[1] << 16) | (acc[2] << 32)
                        | (acc[3] << 48))
                if full >= 1 << 63:  # two's-complement into int64
                    full -= 1 << 64
                for b in range(4):
                    ids.append(doc)
                    bands.append(b)
                    vals.append(acc[b])
                    fulls.append(full)
            yield pd.DataFrame(
                {id_col: ids, "band": bands, "val": vals, "h": fulls}
            )

    # NULL payloads dropped JVM-side (same contract as image_stats)
    media = media.filter(F.col(media_col).isNotNull())
    return media.mapInPandas(
        hash_batch, f"{id_col} long, band int, val int, h long"
    )


def dhash256_bands(media: DataFrame, media_col: str, id_col: str) -> DataFrame:
    """256-bit difference-hash over 17x16 images, emitted as FOUR
    64-bit bands — the 100 TB-scale successor that
    :func:`dhash_bands`'s docstring names: the 64-bit hash's 2^16 band
    space saturates around 10^6 images (~N²/2^18 false candidates per
    band), while a 64-bit band space (2^64 values) pushes the same
    pigeonhole plan's saturation past 10^9 images — band-collision
    mass stays ~linear with corpus size (planted near-dups + content
    classes + a negligible birthday term; measured side-by-side in
    BASELINE.md's "Round-9: 64-bit vs 256-bit perceptual-hash band
    saturation" table).

    Same decode path (real stdlib codecs), same bit rule
    ``bit(x, y) = gray(x+1, y) > gray(x, y)`` over the 17x16 grayscale
    (16x16 = 256 bits), same pigeonhole contract (Hamming <= 3 across
    256 bits forces one of 4 bands to match exactly), same
    verified-in-join shape: every band row carries ALL FOUR band words
    (h0..h3, signed two's-complement longs), so a consumer evaluates
    exact 256-bit Hamming — ``Σ bit_count(xor(h_i))`` — INSIDE the
    band equi-join and false candidates die in the join filter, never
    materializing.  Band layout: band = y DIV 4, bit position within
    band = x + 16*(y MOD 4); position 63 is the sign bit.

    Output: (id, band int, val long, h0..h3 long) — ``val`` equals the
    matching band's word, duplicated out as the join key so the
    consumer's equi-join needs no per-band CASE over h0..h3.
    """
    import pandas as pd

    def hash_batch(it):
        for pdf in it:
            rows: dict[str, list] = {
                id_col: [], "band": [], "val": [],
                "h0": [], "h1": [], "h2": [], "h3": [],
            }
            for doc, raw in zip(pdf[id_col], pdf[media_col]):
                fmt, w, h, rgb = decode_image(bytes(raw))
                if w != 17 or h != 16:
                    raise ValueError(
                        f"dhash256_bands expects 17x16 images, got {w}x{h}"
                    )
                gray = rgb[0::3]
                acc = [0, 0, 0, 0]
                for y in range(16):
                    for x in range(16):
                        if gray[y * 17 + x + 1] > gray[y * 17 + x]:
                            acc[y // 4] |= 1 << (x + 16 * (y % 4))
                signed = [a - (1 << 64) if a >= 1 << 63 else a for a in acc]
                for b in range(4):
                    rows[id_col].append(doc)
                    rows["band"].append(b)
                    rows["val"].append(signed[b])
                    for i in range(4):
                        rows[f"h{i}"].append(signed[i])
            yield pd.DataFrame(rows)

    media = media.filter(F.col(media_col).isNotNull())
    return media.mapInPandas(
        hash_batch,
        f"{id_col} long, band int, val long, "
        "h0 long, h1 long, h2 long, h3 long",
    )


def phash_fixture_media(
    docs: DataFrame, id_col: str = "doc_id", width: int = 9, height: int = 8
) -> DataFrame:
    """Synthesize the deterministic perceptual-hash fixture payloads
    for a doc-id frame — THE single definition of the fixture contract
    (content class ``c = id DIV 3``, shifted +1000003 for variant 2;
    variant ``v = id MOD 3``; encoder round-robin PNG/BMP/PPM by v;
    variant 1 carries the planted one-pixel bump inside
    :func:`render_phash_image`).  Shared by ``multimodal_phash_neardup``
    (9x8) and ``multimodal_phash256_neardup`` (17x16) so the two can
    never drift; both catalog oracles replay this closed form
    pixel-for-pixel."""
    import pandas as pd

    def gen(it):
        encoders = (encode_png, encode_bmp, encode_ppm)
        for pdf in it:
            payloads = []
            for d in pdf[id_col]:
                d = int(d)
                grp, v = d // 3, d % 3
                c = grp + 1000003 if v == 2 else grp
                payloads.append(
                    encoders[v](
                        width, height,
                        render_phash_image(c, v, width, height),
                    )
                )
            yield pd.DataFrame({id_col: pdf[id_col], "media": payloads})

    return docs.mapInPandas(gen, f"{id_col} long, media binary")


def banded_hamming_pairs(
    bands: DataFrame,
    id_col: str,
    hash_cols: tuple[str, ...],
    max_hamming: int = 3,
) -> DataFrame:
    """Verified-in-join pigeonhole near-dup pairs over a bands frame
    (as produced by :func:`dhash_bands` — ``hash_cols=("h",)`` — or
    :func:`dhash256_bands` — ``hash_cols=("h0","h1","h2","h3")``):
    candidates come from the (band, val) equi-join, exact Hamming
    (``Σ bit_count(xor)`` over the carried hash words) evaluates
    INSIDE the join condition so false candidates die in the join
    filter, and the post-filter DISTINCT touches only true near-dups.
    Requires ``max_hamming < number of bands`` for total recall
    (pigeonhole).  Output: (doc_a, doc_b, hamming), doc_a < doc_b."""
    from functools import reduce

    a, b = bands.alias("a"), bands.alias("b")
    # reduce, not sum(): sum() seeds with integer 0 and would prepend a
    # `0 +` node to the expression tree the plans are locked over
    hamming = reduce(
        lambda x, y: x + y,
        [
            F.bit_count(F.col(f"a.{h}").bitwiseXOR(F.col(f"b.{h}")))
            for h in hash_cols
        ],
    )
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            & (hamming <= max_hamming),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            hamming.cast("long").alias("hamming"),
        )
        .distinct()
    )
