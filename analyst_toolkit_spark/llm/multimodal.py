"""Multimodal column plumbing: image/audio/video as opaque binary + metadata.

The Spark-side machinery is Arrow-batched ``mapInPandas`` pipelines over
binary columns. Native codecs (PIL/librosa/ffmpeg) are not dependencies, so
the real decoders here are pure stdlib: PNG (``decode_png``/``encode_png``,
which ``resize_images`` and the perceptual hashes use) and PCM WAV
(``decode_wav``, behind ``extract_audio_features``). ``image_header_meta`` and
``audio_header_meta`` read dimensions and durations from container headers
without decoding. A payload no decoder here can read raises
``DecoderUnavailable`` inside the decoder; the column operators turn that
into nulls (``resize_images`` passes the blob through unchanged), never into
a made-up value.

Design rules for 100 TB of blobs:
- blobs ride as ``binary`` columns; metadata (width/height/duration/codec) as
  typed sibling columns so filters prune BEFORE any decode.
- decode/feature-extract runs in ``mapInPandas`` (Arrow batches, one Python
  worker per core, no per-row overhead); batch size bounded by
  ``spark.sql.execution.arrow.maxRecordsPerBatch`` to cap memory per batch.
- never collect blobs to the driver.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

IMAGE_SCHEMA = T.StructType(
    [
        T.StructField("content", T.BinaryType(), True),
        T.StructField("format", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
    ]
)


class DecoderUnavailable(NotImplementedError):
    """Raised when a real media codec is required but not installed."""


# -- real pure-stdlib PNG codec ----------------------------------------------
# No PIL/cv2 in this environment, but PNG needs only zlib: chunk walk ->
# inflate IDAT -> per-scanline unfilter (None/Sub/Up/Average/Paeth). This
# closes the decode seam for real for the most common lossless container;
# JPEG/video stay behind DecoderUnavailable (their codecs genuinely need
# native libraries). Supports bit depth 8, color types 0/2/4/6 (grey, RGB,
# grey+alpha, RGBA), non-interlaced — the shapes a data pipeline writes.

_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def decode_png(content: bytes) -> tuple[int, int, int, bytearray]:
    """Decode a PNG to raw pixels: (width, height, channels, pixel bytes,
    row-major, channel-interleaved). Pure stdlib (struct + zlib)."""
    import struct
    import zlib

    b = bytes(content or b"")
    if b[:8] != _PNG_MAGIC:
        raise DecoderUnavailable("not a PNG")
    pos, width = 8, None
    idat = bytearray()
    while pos + 8 <= len(b):
        (length,), ctype = struct.unpack(">I", b[pos : pos + 4]), b[pos + 4 : pos + 8]
        data = b[pos + 8 : pos + 8 + length]
        pos += 12 + length  # length + type + data + crc
        if ctype == b"IHDR":
            width, height, depth, color, _comp, _filt, interlace = struct.unpack(">IIBBBBB", data)
            if depth != 8 or color not in _PNG_CHANNELS or interlace != 0:
                raise DecoderUnavailable(
                    f"unsupported PNG shape (depth={depth}, color={color}, interlace={interlace})"
                )
        elif ctype == b"IDAT":
            idat.extend(data)
        elif ctype == b"IEND":
            break
    if width is None or not idat:
        raise DecoderUnavailable("truncated PNG (no IHDR/IDAT)")
    ch = _PNG_CHANNELS[color]
    stride = width * ch
    raw = zlib.decompress(bytes(idat))
    if len(raw) != height * (stride + 1):
        raise DecoderUnavailable("PNG payload size mismatch")
    out = bytearray(height * stride)
    prev_start = -1
    for y in range(height):
        f = raw[y * (stride + 1)]
        line = raw[y * (stride + 1) + 1 : (y + 1) * (stride + 1)]
        o = y * stride
        if f == 0:  # None
            out[o : o + stride] = line
        elif f == 1:  # Sub
            for x in range(stride):
                left = out[o + x - ch] if x >= ch else 0
                out[o + x] = (line[x] + left) & 0xFF
        elif f == 2:  # Up
            for x in range(stride):
                up = out[prev_start + x] if y else 0
                out[o + x] = (line[x] + up) & 0xFF
        elif f == 3:  # Average
            for x in range(stride):
                left = out[o + x - ch] if x >= ch else 0
                up = out[prev_start + x] if y else 0
                out[o + x] = (line[x] + ((left + up) >> 1)) & 0xFF
        elif f == 4:  # Paeth
            for x in range(stride):
                left = out[o + x - ch] if x >= ch else 0
                up = out[prev_start + x] if y else 0
                ul = out[prev_start + x - ch] if (y and x >= ch) else 0
                out[o + x] = (line[x] + _paeth(left, up, ul)) & 0xFF
        else:
            raise DecoderUnavailable(f"unknown PNG filter {f}")
        prev_start = o
    return width, height, ch, out


def encode_png(width: int, height: int, channels: int, pixels: bytes) -> bytes:
    """Encode raw pixels to a valid PNG (filter 0 scanlines, one zlib IDAT).
    Inverse of :func:`decode_png` — decode(encode(p)) == p exactly."""
    import struct
    import zlib

    color = {1: 0, 3: 2, 2: 4, 4: 6}.get(channels)
    if color is None:
        raise DecoderUnavailable(f"unsupported channel count {channels}")
    stride = width * channels
    if len(pixels) != height * stride:
        raise DecoderUnavailable("pixel buffer does not match dimensions")
    raw = bytearray()
    for y in range(height):
        raw.append(0)
        raw.extend(pixels[y * stride : (y + 1) * stride])

    def chunk(ctype: bytes, data: bytes) -> bytes:
        crc = zlib.crc32(ctype + data) & 0xFFFFFFFF
        return struct.pack(">I", len(data)) + ctype + data + struct.pack(">I", crc)

    ihdr = struct.pack(">IIBBBBB", width, height, 8, color, 0, 0, 0)
    return (
        _PNG_MAGIC
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw), 6))
        + chunk(b"IEND", b"")
    )


def _resize_png(b: bytes, max_side: int) -> bytes:
    """REAL resize for PNG blobs: stdlib decode -> nearest-neighbor sample ->
    re-encode. Blobs already within max_side pass through unchanged."""
    w, h, ch, px = decode_png(b)
    if max(w, h) <= max_side:
        return b
    scale = max_side / max(w, h)
    nw, nh = max(1, int(w * scale)), max(1, int(h * scale))
    out = bytearray(nw * nh * ch)
    for y in range(nh):
        sy = min(h - 1, int(y / scale))
        src_row = sy * w * ch
        dst_row = y * nw * ch
        for x in range(nw):
            sx = min(w - 1, int(x / scale))
            out[dst_row + x * ch : dst_row + (x + 1) * ch] = px[
                src_row + sx * ch : src_row + (sx + 1) * ch
            ]
    return encode_png(nw, nh, ch, bytes(out))


def resize_images(df: DataFrame, blob_col: str = "content", max_side: int = 512) -> DataFrame:
    """Bounded-side resize over Arrow batches. PNG blobs take the REAL
    stdlib path (decode -> nearest-neighbor -> re-encode); other formats
    pass through unchanged (their codecs need native libraries — the
    documented production seam). Plumbing is the production contract either
    way: Arrow batches in, binary column out, target size as typed
    metadata."""

    out_schema = T.StructType(df.schema.fields + [
        T.StructField("resized", T.BinaryType(), True),
        T.StructField("resized_max_side", T.IntegerType(), False),
    ])

    def mapper(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            resized = []
            for b in pdf[blob_col]:
                if b is not None and bytes(b)[:8] == _PNG_MAGIC:
                    try:
                        resized.append(_resize_png(bytes(b), max_side))
                        continue
                    except DecoderUnavailable:
                        pass  # unsupported PNG shape: pass through
                resized.append(b)
            pdf["resized"] = resized
            pdf["resized_max_side"] = max_side
            yield pdf

    return df.mapInPandas(mapper, schema=out_schema)


def decode_wav(content: bytes) -> tuple[int, int, int, list[float]]:
    """REAL PCM decode for RIFF/WAVE blobs, pure stdlib: (sample_rate,
    channels, bits, samples normalized to [-1, 1]). Supports PCM 8/16/32-bit
    (format tag 1); compressed WAVs raise DecoderUnavailable."""
    import struct

    b = bytes(content or b"")
    if b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        raise DecoderUnavailable("not a RIFF/WAVE payload")
    pos, rate, ch, bits, fmt_tag, data = 12, None, None, None, None, None
    while pos + 8 <= len(b):
        cid = b[pos : pos + 4]
        clen = int.from_bytes(b[pos + 4 : pos + 8], "little")
        body = b[pos + 8 : pos + 8 + clen]
        if cid == b"fmt " and len(body) >= 16:
            fmt_tag, ch, rate = struct.unpack("<HHI", body[:8])
            bits = int.from_bytes(body[14:16], "little")
        elif cid == b"data":
            data = body
        pos += 8 + clen + (clen & 1)
    if not (rate and ch and bits and data is not None):
        raise DecoderUnavailable("truncated WAV (missing fmt/data)")
    if fmt_tag != 1 or bits not in (8, 16, 32):
        raise DecoderUnavailable(f"non-PCM WAV (fmt={fmt_tag}, bits={bits})")
    width = bits // 8
    n = len(data) // width
    if bits == 8:  # unsigned
        samples = [(x - 128) / 128.0 for x in data[:n]]
    else:
        fmt = "<" + ("h" if bits == 16 else "i") * n
        full = float(1 << (bits - 1))
        samples = [x / full for x in struct.unpack(fmt, data[: n * width])]
    return rate, ch, bits, samples


def extract_audio_features(df: DataFrame, blob_col: str = "content") -> DataFrame:
    """Duration + RMS energy over Arrow batches, computed from the samples
    that the stdlib PCM WAV decoder (:func:`decode_wav`) reads. A payload it
    cannot read (mp3/ogg, compressed or corrupt WAV) yields nulls, the same
    as a null blob."""
    import math

    out_schema = T.StructType(df.schema.fields + [
        T.StructField("audio_seconds", T.DoubleType(), True),
        T.StructField("audio_rms", T.DoubleType(), True),
    ])

    def _features(b) -> tuple[float | None, float | None]:
        if b is None:
            return (None, None)
        try:
            rate, ch, _bits, samples = decode_wav(bytes(b))
        except DecoderUnavailable:
            return (None, None)
        if not samples:
            return (0.0, 0.0)
        secs = len(samples) / float(rate * ch)
        rms = math.sqrt(sum(x * x for x in samples) / len(samples))
        return (round(secs, 6), round(rms, 6))

    def mapper(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            feats = [_features(b) for b in pdf[blob_col]]
            pdf["audio_seconds"] = [f[0] for f in feats]
            pdf["audio_rms"] = [f[1] for f in feats]
            yield pdf

    return df.mapInPandas(mapper, schema=out_schema)


def binary_stats(df: DataFrame, blob_col: str = "content") -> DataFrame:
    """Cheap metadata pass over blobs without decoding: size, magic-byte format
    sniff (JVM-side substring/hex, no Python)."""
    head = F.hex(F.substring(F.col(blob_col), 1, 4))
    fmt = (
        F.when(head.startswith("FFD8"), "jpeg")
        .when(head.startswith("89504E47"), "png")
        .when(head.startswith("47494638"), "gif")
        .when(head.startswith("52494646"), "riff")
        .when(head.startswith("49492A00") | head.startswith("4D4D002A"), "tiff")
        # no 2-byte sniffs ('BM'): a 16-bit magic collides with ordinary
        # text payloads; BMP identification happens in _parse_image_header
        # where the header structure confirms it
        .otherwise("unknown")
    )
    return df.withColumn("blob_bytes", F.length(F.col(blob_col))).withColumn("blob_format", fmt)


# -- real (no-codec) header parsing -------------------------------------------
# Container headers are plain bytes — no PIL/ffmpeg needed. This makes the
# metadata-before-decode posture REAL for the formats below: filters like
# `width >= 512` prune blobs without ever invoking a codec.


def _parse_image_header(b: bytes | None) -> tuple[str | None, int | None, int | None]:
    """(format, width, height) from container magic + header fields:
    PNG IHDR (big-endian at offset 16), GIF87a/89a logical screen (LE at 6),
    BMP BITMAPINFOHEADER (LE at 18), JPEG SOFn marker walk, TIFF IFD tag
    walk (both byte orders), WebP VP8/VP8L/VP8X chunk headers. Unknown/short
    payloads -> (None, None, None); never raises."""
    if not b:
        return (None, None, None)
    b = bytes(b)
    try:
        if b[:4] in (b"II*\x00", b"MM\x00*") and len(b) >= 8:
            return _parse_tiff(b)
        if b[:4] == b"RIFF" and b[8:12] == b"WEBP" and len(b) >= 16:
            return _parse_webp(b)  # per-chunk length checks inside
        if b[:8] == b"\x89PNG\r\n\x1a\n" and len(b) >= 24:
            return ("png", int.from_bytes(b[16:20], "big"), int.from_bytes(b[20:24], "big"))
        if b[:6] in (b"GIF87a", b"GIF89a") and len(b) >= 10:
            return ("gif", int.from_bytes(b[6:8], "little"), int.from_bytes(b[8:10], "little"))
        if b[:2] == b"BM" and len(b) >= 26:
            return ("bmp", int.from_bytes(b[18:22], "little", signed=True),
                    abs(int.from_bytes(b[22:26], "little", signed=True)))
        if b[:2] == b"\xff\xd8":  # JPEG: walk marker segments to SOFn
            i = 2
            while i + 9 < len(b):
                if b[i] != 0xFF:
                    i += 1
                    continue
                marker = b[i + 1]
                if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                    i += 2
                    continue
                seg_len = int.from_bytes(b[i + 2 : i + 4], "big")
                if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                    return ("jpeg", int.from_bytes(b[i + 7 : i + 9], "big"),
                            int.from_bytes(b[i + 5 : i + 7], "big"))
                i += 2 + seg_len
            return ("jpeg", None, None)
    except (IndexError, ValueError):
        pass
    return (None, None, None)


def _parse_tiff(b: bytes) -> tuple[str | None, int | None, int | None]:
    """TIFF: endianness from the magic, walk the first IFD's 12-byte entries
    for ImageWidth (256) / ImageLength (257); SHORT(3) and LONG(4) values
    with count 1 are inline in the entry's value field."""
    order = "little" if b[:2] == b"II" else "big"
    ifd = int.from_bytes(b[4:8], order)
    if ifd + 2 > len(b):
        return ("tiff", None, None)
    n = int.from_bytes(b[ifd : ifd + 2], order)
    width = height = None
    for e in range(n):
        o = ifd + 2 + e * 12
        if o + 12 > len(b):
            break
        tag = int.from_bytes(b[o : o + 2], order)
        typ = int.from_bytes(b[o + 2 : o + 4], order)
        if tag in (256, 257) and typ in (3, 4):
            raw = b[o + 8 : o + 12]
            val = int.from_bytes(raw[:2] if typ == 3 else raw, order)
            if tag == 256:
                width = val
            else:
                height = val
    return ("tiff", width, height)


def _parse_webp(b: bytes) -> tuple[str | None, int | None, int | None]:
    """WebP: dimensions live in the first chunk after 'WEBP' — VP8X carries a
    24-bit LE canvas (width-1/height-1), lossless VP8L packs two 14-bit
    fields after its 0x2F signature, lossy VP8 stores 14-bit LE fields at
    frame-header offset 6."""
    chunk = b[12:16]
    if chunk == b"VP8X" and len(b) >= 30:
        w = int.from_bytes(b[24:27], "little") + 1
        h = int.from_bytes(b[27:30], "little") + 1
        return ("webp", w, h)
    if chunk == b"VP8L" and len(b) >= 25 and b[20] == 0x2F:
        bits = int.from_bytes(b[21:25], "little")
        return ("webp", (bits & 0x3FFF) + 1, ((bits >> 14) & 0x3FFF) + 1)
    if chunk == b"VP8 " and len(b) >= 30:
        w = int.from_bytes(b[26:28], "little") & 0x3FFF
        h = int.from_bytes(b[28:30], "little") & 0x3FFF
        return ("webp", w, h)
    return ("webp", None, None)


def image_header_meta(df: DataFrame, blob_col: str = "content") -> DataFrame:
    """REAL header-only image metadata (no codec): appends img_format /
    img_width / img_height parsed straight from the blob's leading bytes over
    Arrow batches. Map-only — no shuffle, blobs never leave the executors;
    the parser touches only the header region of each payload."""
    out_schema = T.StructType(
        df.schema.fields
        + [
            T.StructField("img_format", T.StringType(), True),
            T.StructField("img_width", T.IntegerType(), True),
            T.StructField("img_height", T.IntegerType(), True),
        ]
    )

    def mapper(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            meta = [_parse_image_header(b) for b in pdf[blob_col]]
            pdf = pdf.copy()
            pdf["img_format"] = [m[0] for m in meta]
            pdf["img_width"] = pd.array([m[1] for m in meta], dtype="Int32")
            pdf["img_height"] = pd.array([m[2] for m in meta], dtype="Int32")
            yield pdf

    return df.mapInPandas(mapper, schema=out_schema)


def _parse_wav_header(b: bytes | None):
    """(sample_rate, channels, bits_per_sample, duration_seconds) from a
    RIFF/WAVE header — walks the chunk list to 'fmt ' and 'data'. Pure
    bytes, no codec; non-WAV/short payloads -> all None; never raises."""
    if not b:
        return (None, None, None, None)
    b = bytes(b)
    try:
        if b[:4] != b"RIFF" or b[8:12] != b"WAVE" or len(b) < 36:
            return (None, None, None, None)
        pos, rate, ch, bits, data_len = 12, None, None, None, None
        while pos + 8 <= len(b):
            cid = b[pos : pos + 4]
            clen = int.from_bytes(b[pos + 4 : pos + 8], "little")
            if cid == b"fmt " and pos + 24 <= len(b):
                ch = int.from_bytes(b[pos + 10 : pos + 12], "little")
                rate = int.from_bytes(b[pos + 12 : pos + 16], "little")
                bits = int.from_bytes(b[pos + 22 : pos + 24], "little")
            elif cid == b"data":
                data_len = clen
            pos += 8 + clen + (clen & 1)  # chunks are word-aligned
        dur = None
        if rate and ch and bits and data_len is not None:
            bps = rate * ch * (bits // 8)
            dur = round(data_len / bps, 6) if bps else None
        return (rate, ch, bits, dur)
    except (IndexError, ValueError):
        return (None, None, None, None)


def audio_header_meta(df: DataFrame, blob_col: str = "content") -> DataFrame:
    """REAL header-only audio metadata for RIFF/WAVE payloads (no codec):
    appends audio_sample_rate / audio_channels / audio_bits /
    audio_seconds parsed from the chunk list over Arrow batches. Map-only;
    the metadata-before-decode posture for audio — a filter like
    ``audio_seconds >= 1`` prunes blobs without ffmpeg anywhere in the
    plan. Non-WAV formats fall through to nulls."""
    out_schema = T.StructType(
        df.schema.fields
        + [
            T.StructField("audio_sample_rate", T.IntegerType(), True),
            T.StructField("audio_channels", T.IntegerType(), True),
            T.StructField("audio_bits", T.IntegerType(), True),
            T.StructField("audio_seconds", T.DoubleType(), True),
        ]
    )

    def mapper(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            meta = [_parse_wav_header(b) for b in pdf[blob_col]]
            pdf = pdf.copy()
            pdf["audio_sample_rate"] = pd.array([m[0] for m in meta], dtype="Int32")
            pdf["audio_channels"] = pd.array([m[1] for m in meta], dtype="Int32")
            pdf["audio_bits"] = pd.array([m[2] for m in meta], dtype="Int32")
            pdf["audio_seconds"] = [m[3] for m in meta]
            yield pdf

    return df.mapInPandas(mapper, schema=out_schema)


def media_data_card(
    df: DataFrame,
    blob_col: str = "content",
    by: str | None = None,
    image_buckets: tuple = (128, 256, 512, 1024),
    audio_buckets: tuple = (1.0, 10.0, 60.0),
) -> DataFrame:
    """Pre-training data card for a MULTIMODAL binary column (r11 VERDICT
    #7) — the image/audio arm of text.corpus_data_card: "what is actually
    in my blob column" before any codec-heavy stage runs. One header-parse
    pass (the real no-codec parsers above: PNG/GIF/BMP/JPEG/TIFF/WebP
    containers + RIFF/WAVE chunks) classifies every blob, then ONE keyed
    aggregation builds the histogram card:

    - ``modality``: 'image' / 'audio' / 'undecoded' (header parse failed —
      rows with a NULL/empty blob also land here). The per-group undecoded
      share IS the decode-failure rate the card exists to expose.
    - ``fmt``: container format (png/jpeg/.../wav; NULL for undecoded).
    - ``size_bucket``: resolution band for images ('<=128', '<=256', ...,
      '>1024' by max side) / duration band for audio ('<=1s', '<=10s',
      '<=60s', '>60s'); NULL for undecoded.
    - ``n_blobs``, ``total_bytes``, ``pct_of_group`` (share within the
      ``by`` group — undecoded rows' pct is the failure rate).

    Map-only Arrow pass over header bytes (blobs never shuffle; the
    aggregation ships only the small classified labels), so the card costs
    one scan at 100 TB. Histogram bands are closed under the bucket lists —
    schema is stable regardless of corpus content."""
    group = [by] if by else []
    # r15 optimization round (guide §4.1): ONE fused header pass over a
    # blob+group projection instead of stacking image_header_meta +
    # audio_header_meta. The stacked form shipped the full row INCLUDING THE
    # BLOB through Arrow twice more (JVM->Python->JVM per pass — 4 extra
    # blob crossings); here the blob enters Python once and only the
    # header-sized metadata comes back. Same _parse_image_header /
    # _parse_wav_header calls, so every classification below is unchanged.
    src = df.select(*group, F.col(blob_col))
    meta_schema = T.StructType(
        [f for f in src.schema.fields if f.name != blob_col]
        + [
            T.StructField("__bytes", T.LongType(), True),
            T.StructField("img_format", T.StringType(), True),
            T.StructField("img_width", T.IntegerType(), True),
            T.StructField("img_height", T.IntegerType(), True),
            T.StructField("audio_sample_rate", T.IntegerType(), True),
            T.StructField("audio_seconds", T.DoubleType(), True),
        ]
    )

    def _meta_mapper(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            img = [_parse_image_header(b) for b in pdf[blob_col]]
            wav = [_parse_wav_header(b) for b in pdf[blob_col]]
            out = pdf.drop(columns=[blob_col])
            # match F.length semantics: NULL blob -> NULL length
            out["__bytes"] = pd.array(
                [len(bytes(b)) if b is not None else None for b in pdf[blob_col]],
                dtype="Int64",
            )
            out["img_format"] = [m[0] for m in img]
            out["img_width"] = pd.array([m[1] for m in img], dtype="Int32")
            out["img_height"] = pd.array([m[2] for m in img], dtype="Int32")
            out["audio_sample_rate"] = pd.array([m[0] for m in wav], dtype="Int32")
            out["audio_seconds"] = pd.array([m[3] for m in wav], dtype="Float64")
            yield out

    parsed = src.mapInPandas(_meta_mapper, schema=meta_schema)
    img_side = F.greatest(F.col("img_width"), F.col("img_height"))
    img_bucket = F.lit(f">{image_buckets[-1]}")
    for cap in reversed(image_buckets):
        img_bucket = F.when(img_side <= cap, F.lit(f"<={cap}")).otherwise(img_bucket)
    aud_bucket = F.lit(f">{audio_buckets[-1]:g}s")
    for cap in reversed(audio_buckets):
        aud_bucket = F.when(
            F.col("audio_seconds") <= cap, F.lit(f"<={cap:g}s")
        ).otherwise(aud_bucket)
    classified = parsed.select(
        *group,
        F.col("__bytes"),
        F.when(F.col("img_format").isNotNull(), F.lit("image"))
        .when(F.col("audio_sample_rate").isNotNull(), F.lit("audio"))
        .otherwise(F.lit("undecoded"))
        .alias("modality"),
        F.when(F.col("img_format").isNotNull(), F.col("img_format"))
        .when(F.col("audio_sample_rate").isNotNull(), F.lit("wav"))
        .alias("fmt"),
        F.when(F.col("img_format").isNotNull(), img_bucket)
        .when(F.col("audio_seconds").isNotNull(), aud_bucket)
        .alias("size_bucket"),
    )
    card = classified.groupBy(*group, "modality", "fmt", "size_bucket").agg(
        F.count(F.lit(1)).alias("n_blobs"),
        F.coalesce(F.sum("__bytes"), F.lit(0)).cast("long").alias("total_bytes"),
    )
    # per-group share via aggregate + join (never a partitionless window):
    # without `by` the totals frame is a 1-row groupless aggregate
    # (broadcast-safe by construction); with `by` its cardinality is the
    # group count — AQE decides the join strategy.
    # r15 optimization round: cut the histogram first — `card` feeds BOTH
    # join sides, and without the cut each side re-evaluates the whole
    # upstream pipeline including every MapInPandas blob pass (the plan
    # showed two full synthesis+header-parse chains: blobs crossed the
    # Arrow boundary twice per pass). The cut is histogram-sized
    # (groups x modality x fmt x bucket), free at any corpus scale.
    card = card.localCheckpoint(eager=False)
    tot = card.groupBy(*group).agg(F.sum("n_blobs").alias("__tot"))
    joined = card.join(tot, group) if group else card.crossJoin(tot)
    return joined.withColumn(
        "pct_of_group", F.round(F.col("n_blobs") / F.col("__tot"), 6)
    ).drop("__tot")


# -- perceptual image hashing / near-dup -------------------------------------
# The image-corpus counterpart of MinHash (r9 VERDICT #4): dHash (gradient
# bits over a 9x8 grayscale thumbnail) and aHash (mean-threshold bits over
# 8x8) are the standard perceptual signatures — identical under re-encode,
# stable under uniform brightness shifts (dHash exactly, aHash largely) and
# small crops, and cheap: one decode + 72 samples per blob. Signatures are
# the SAME 64-char '0'/'1' representation as llm/dedup.simhash64, so the
# pigeonhole banding + packed bit_count machinery is shared verbatim
# (dedup.hamming_near_pairs) — never an all-pairs compare.


def _gray_thumb(b: bytes, tw: int, th: int) -> list[list[int]]:
    """Decode a PNG and nearest-neighbor-sample a tw x th grayscale matrix
    (integer luma; alpha ignored). Raises DecoderUnavailable for non-PNG or
    unsupported shapes — callers map that to a NULL signature."""
    w, h, ch, px = decode_png(b)
    rows = []
    for y in range(th):
        sy = min(h - 1, (y * h) // th)
        row = []
        for x in range(tw):
            sx = min(w - 1, (x * w) // tw)
            o = (sy * w + sx) * ch
            if ch >= 3:
                # ITU-R BT.601 integer luma — deterministic across platforms
                g = (299 * px[o] + 587 * px[o + 1] + 114 * px[o + 2]) // 1000
            else:
                g = px[o]  # grey / grey+alpha: channel 0 IS the luma
            row.append(g)
        rows.append(row)
    return rows


def dhash64(b: bytes) -> str:
    """64-bit difference hash: 9x8 grayscale thumb, bit (y,x) = 1 iff
    pixel(x+1,y) > pixel(x,y). Row-major, '0'/'1' chars, bit 0 first."""
    m = _gray_thumb(b, 9, 8)
    return "".join("1" if m[y][x + 1] > m[y][x] else "0" for y in range(8) for x in range(8))


def ahash64(b: bytes) -> str:
    """64-bit average hash: 8x8 grayscale thumb, bit = 1 iff pixel > mean."""
    m = _gray_thumb(b, 8, 8)
    flat = [v for row in m for v in row]
    mean = sum(flat) / 64.0
    return "".join("1" if v > mean else "0" for v in flat)


def image_perceptual_hash(
    df: DataFrame,
    blob_col: str = "content",
    method: str = "dhash",
    out_col: str = "phash",
) -> DataFrame:
    """Append a perceptual-hash column ('0'/'1' 64-char string; NULL for
    blobs the stdlib decoder cannot read — JPEG/video stay behind the
    documented DecoderUnavailable seam). Arrow-batched ``mapInPandas``: one
    Python worker per core, blobs never leave their partition, no per-row
    overhead."""
    fn = {"dhash": dhash64, "ahash": ahash64}.get(method)
    if fn is None:
        raise ValueError(f"unknown perceptual hash method: {method!r}")
    out_schema = T.StructType(df.schema.fields + [T.StructField(out_col, T.StringType(), True)])

    def mapper(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            sigs = []
            for b in pdf[blob_col]:
                try:
                    sigs.append(fn(bytes(b)) if b is not None else None)
                except DecoderUnavailable:
                    sigs.append(None)
            pdf = pdf.copy()
            pdf[out_col] = sigs
            yield pdf

    return df.mapInPandas(mapper, schema=out_schema)


def image_near_pairs(
    df: DataFrame,
    blob_col: str = "content",
    id_col: str = "doc_id",
    max_hamming: int = 6,
    method: str = "dhash",
) -> DataFrame:
    """Near-duplicate IMAGE pairs: perceptual hash per blob, then the shared
    pigeonhole banding + packed bit_count verify (dedup.hamming_near_pairs)
    — candidates come from segment equi-joins, never an all-pairs compare.
    Undecodable blobs drop out (NULL signature). Output: (id_a, id_b,
    hamming). Components/survivor election compose downstream exactly as for
    text (dedup.connected_components / dedup_from_components)."""
    from analyst_toolkit_spark.llm.dedup import hamming_near_pairs

    sig = image_perceptual_hash(df, blob_col=blob_col, method=method).select(
        F.col(id_col), F.col("phash")
    )
    return hamming_near_pairs(sig, id_col=id_col, sig_col="phash", max_hamming=max_hamming)


def encode_wav(rate: int, samples: list[float], bits: int = 16) -> bytes:
    """Minimal mono PCM RIFF/WAVE encoder (the :func:`encode_png` twin for
    audio): floats in [-1, 1] → 16-bit little-endian PCM. Deterministic —
    used by tests and the synthetic driver corpora; round-trips through
    :func:`decode_wav`."""
    import struct

    if bits != 16:
        raise DecoderUnavailable("encode_wav: only 16-bit PCM")
    # r15 optimization round: vectorized quantization fast path. np.round is
    # round-half-even exactly like Python round(), so the int16 stream is
    # byte-identical (suite-asserted against the list path); non-finite
    # samples fall back to the list path so error behavior (ValueError /
    # OverflowError from round()) is unchanged.
    data = None
    try:
        import numpy as np

        arr = np.asarray(samples, dtype=np.float64)
        if arr.ndim == 1 and np.isfinite(arr).all():
            data = (
                np.clip(np.round(arr * 32767.0), -32768, 32767)
                .astype("<i2")
                .tobytes()
            )
    except Exception:
        data = None
    if data is None:
        q = [max(-32768, min(32767, int(round(x * 32767.0)))) for x in samples]
        data = struct.pack("<" + "h" * len(q), *q)
    fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


def audio_fingerprint64(samples: list[float], frames: int = 17, bands: int = 5) -> str:
    """64-bit robust audio hash (the Haitsma & Kalker 2002 Philips shape):
    mono signal → ``frames`` equal frames → per-frame log-spaced spectral
    band energies (rfft magnitudes, DC dropped) → bit(f, b) = sign of the
    time-frequency energy-difference delta
    ``(E[f,b]−E[f,b+1]) − (E[f−1,b]−E[f−1,b+1])``. (frames−1)·(bands−1)
    = 64 bits as a '0'/'1' string — the audio twin of :func:`dhash64`.

    AMPLITUDE-SCALE INVARIANT by construction (scaling the signal by c
    scales every energy by c², preserving every sign) and DC-offset
    invariant (bin 0 dropped). Raises DecoderUnavailable when the signal is
    too short to frame."""
    import numpy as np

    x = np.asarray(samples, dtype=np.float64)
    if x.size < frames * 32:
        raise DecoderUnavailable("audio too short to fingerprint")
    flen = x.size // frames
    energies = np.empty((frames, bands))
    for f in range(frames):
        mag = np.abs(np.fft.rfft(x[f * flen : (f + 1) * flen]))[1:]
        edges = np.unique(np.geomspace(1, mag.size, bands + 1).astype(int))
        if edges.size < bands + 1:  # degenerate tiny frames: equal-width bands
            edges = np.linspace(0, mag.size, bands + 1).astype(int)
        else:
            edges[0] = 0
        for b in range(bands):
            seg = mag[edges[b] : edges[b + 1]]
            energies[f, b] = float(np.dot(seg, seg))
    out = []
    for f in range(1, frames):
        for b in range(bands - 1):
            d = (energies[f, b] - energies[f, b + 1]) - (
                energies[f - 1, b] - energies[f - 1, b + 1]
            )
            out.append("1" if d > 0 else "0")
    return "".join(out)


def audio_perceptual_hash(
    df: DataFrame,
    blob_col: str = "content",
    out_col: str = "aphash",
) -> DataFrame:
    """Append the 64-bit audio fingerprint ('0'/'1' string; NULL for blobs
    the stdlib decoder cannot read — compressed formats stay behind the
    documented DecoderUnavailable seam, and too-short clips are NULL too).
    Arrow-batched ``mapInPandas`` — the same decode-seam contract as
    :func:`image_perceptual_hash`. Multi-channel audio is mono-mixed
    (channel mean) before fingerprinting."""
    out_schema = T.StructType(df.schema.fields + [T.StructField(out_col, T.StringType(), True)])

    def _sig(b) -> str | None:
        if b is None:
            return None
        try:
            _rate, ch, _bits, samples = decode_wav(bytes(b))
            if ch > 1:  # interleaved → channel-mean mono
                n = len(samples) // ch
                samples = [
                    sum(samples[i * ch : (i + 1) * ch]) / ch for i in range(n)
                ]
            return audio_fingerprint64(samples)
        except DecoderUnavailable:
            return None

    def mapper(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            pdf[out_col] = [_sig(b) for b in pdf[blob_col]]
            yield pdf

    return df.mapInPandas(mapper, schema=out_schema)


def audio_near_pairs(
    df: DataFrame,
    blob_col: str = "content",
    id_col: str = "doc_id",
    max_hamming: int = 6,
) -> DataFrame:
    """Near-duplicate AUDIO pairs: robust fingerprint per blob, then the
    SAME pigeonhole banding + packed bit_count verify text SimHash and
    image dHash ride (dedup.hamming_near_pairs) — one hamming machinery for
    all three modalities, never an all-pairs compare. Undecodable blobs
    drop (NULL signature). Output: (id_a, id_b, hamming)."""
    from analyst_toolkit_spark.llm.dedup import hamming_near_pairs

    sig = audio_perceptual_hash(df, blob_col=blob_col).select(F.col(id_col), F.col("aphash"))
    return hamming_near_pairs(sig, id_col=id_col, sig_col="aphash", max_hamming=max_hamming)
