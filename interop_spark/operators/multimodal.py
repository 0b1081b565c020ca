"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata, processed in Arrow batches via mapInPandas.

Decode is REAL for the container formats the stdlib can parse:

- ``parse_image_header`` reads the actual container structures — PNG
  IHDR (big-endian u32 dims after the 8-byte signature), JPEG SOFn
  marker segments (walking the FF-marker stream), GIF's little-endian
  logical-screen descriptor — pure ``struct``, no imaging library.
- ``decode_png_pixels`` is a full stdlib PNG decoder for 8-bit
  greyscale/truecolor non-interlaced images: chunk walk, zlib-inflate
  of IDAT, per-scanline unfilter (types 0-4, incl. the Paeth
  predictor). ``decode_image`` uses it to produce a real 16-bin
  intensity histogram for decodable PNGs.

Codec-level decompression for JPEG (Huffman+DCT) and GIF (LZW) is out
of scope without an imaging library — for those formats
``decode_image`` returns header-derived features (dims/aspect/byte
stats), clearly second-class to the PNG pixel path. ``fake=True``
keeps the deterministic sha256-seeded stub used by the existing
``multimodal_features`` fixtures.

Scale notes: mapInPandas streams Arrow record batches; peak memory per task
is one batch, not one partition. Keep ``spark.sql.execution.arrow
.maxRecordsPerBatch`` sized so batch_bytes × cores fits the executor. Binary
payloads should live in their own column (parquet keeps them in separate
column chunks, so metadata-only queries never read the bytes).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from interop_spark.operators.kernels import forget_zip_finders

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),  # image | audio | video
        StructField("data", BinaryType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("sample_rate", IntegerType()),
        StructField("n_frames", IntegerType()),
        StructField("format", StringType()),
    ]
)

FEATURE_DIM = 16

FEATURES_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),
        StructField("n_bytes", LongType()),
        StructField("sha256", StringType()),
        StructField("features", ArrayType(FloatType())),
    ]
)


_PNG_SIG = b"\x89PNG\r\n\x1a\n"
# SOF0-SOF15 carry the frame header (height/width); skip the ones that
# are NOT frame headers: DHT (C4), JPG (C8), DAC (CC)
_JPEG_SOF = frozenset(
    {0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
     0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF}
)


def parse_image_header(data: bytes | None):
    """``(format, width, height)`` parsed from the real container
    structures — PNG IHDR, JPEG SOFn marker walk, GIF logical-screen
    descriptor — with pure stdlib ``struct``. Returns ``None`` for
    anything unrecognized (never raises on garbage bytes)."""
    import struct

    if data is None or len(data) < 10:
        return None
    if data[:8] == _PNG_SIG:
        # signature + IHDR length/type at 8..16, then u32be width, height
        if len(data) >= 24 and data[12:16] == b"IHDR":
            w, h = struct.unpack(">II", data[16:24])
            return ("png", w, h)
        return None
    if data[:6] in (b"GIF87a", b"GIF89a"):
        w, h = struct.unpack("<HH", data[6:10])
        return ("gif", w, h)
    if data[:2] == b"\xff\xd8":
        i, n = 2, len(data)
        while i + 4 <= n:
            if data[i] != 0xFF:
                return None
            marker = data[i + 1]
            if marker == 0xFF:  # fill byte
                i += 1
                continue
            if marker in (0x01,) or 0xD0 <= marker <= 0xD9:
                # standalone markers (TEM/RSTn/SOI/EOI): no length field
                i += 2
                continue
            (seglen,) = struct.unpack(">H", data[i + 2 : i + 4])
            if marker in _JPEG_SOF:
                if i + 9 > n:
                    return None
                h, w = struct.unpack(">HH", data[i + 5 : i + 9])
                return ("jpeg", w, h)
            i += 2 + seglen
        return None
    return None


def decode_png_pixels(data: bytes):
    """REAL stdlib-only PNG decode: chunk walk → zlib-inflate IDAT →
    per-scanline unfilter (None/Sub/Up/Average/Paeth). Supports 8-bit
    depth, color types 0 (greyscale) and 2 (truecolor), non-interlaced
    — the layout every PNG encoder can emit. Returns
    ``(width, height, channels, pixels: bytes)`` with pixels row-major.
    Raises ``NotImplementedError`` for unsupported layouts and
    ``ValueError`` for malformed files."""
    import struct
    import zlib

    if data[:8] != _PNG_SIG:
        raise ValueError("not a PNG (bad signature)")
    w = h = depth = ctype = interlace = None
    idat = bytearray()
    i = 8
    while i + 8 <= len(data):
        (ln,) = struct.unpack(">I", data[i : i + 4])
        typ = data[i + 4 : i + 8]
        chunk = data[i + 8 : i + 8 + ln]
        if typ == b"IHDR":
            w, h, depth, ctype, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", chunk
            )
        elif typ == b"IDAT":
            idat += chunk
        elif typ == b"IEND":
            break
        i += 12 + ln  # length + type + payload + crc
    if w is None:
        raise ValueError("no IHDR chunk")
    if depth != 8 or ctype not in (0, 2) or interlace:
        raise NotImplementedError(
            f"PNG layout not supported by the stdlib decoder: depth={depth} "
            f"color_type={ctype} interlace={interlace} (8-bit grey/RGB "
            f"non-interlaced only)"
        )
    ch = 1 if ctype == 0 else 3
    raw = zlib.decompress(bytes(idat))
    stride = w * ch
    if len(raw) != h * (stride + 1):
        raise ValueError("IDAT payload size mismatch")
    out = bytearray(h * stride)
    pos = 0
    for y in range(h):
        f = raw[pos]
        pos += 1
        row = y * stride
        prev = row - stride
        line = raw[pos : pos + stride]
        pos += stride
        if f == 0:  # None
            out[row : row + stride] = line
        elif f == 1:  # Sub
            for x in range(stride):
                a = out[row + x - ch] if x >= ch else 0
                out[row + x] = (line[x] + a) & 0xFF
        elif f == 2:  # Up
            for x in range(stride):
                b = out[prev + x] if y else 0
                out[row + x] = (line[x] + b) & 0xFF
        elif f == 3:  # Average
            for x in range(stride):
                a = out[row + x - ch] if x >= ch else 0
                b = out[prev + x] if y else 0
                out[row + x] = (line[x] + ((a + b) >> 1)) & 0xFF
        elif f == 4:  # Paeth
            for x in range(stride):
                a = out[row + x - ch] if x >= ch else 0
                b = out[prev + x] if y else 0
                c = out[prev + x - ch] if (y and x >= ch) else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                if pa <= pb and pa <= pc:
                    pr = a
                elif pb <= pc:
                    pr = b
                else:
                    pr = c
                out[row + x] = (line[x] + pr) & 0xFF
        else:
            raise ValueError(f"unknown PNG filter type {f}")
    return w, h, ch, bytes(out)


def decode_image(data: bytes, fake: bool = False) -> list[float]:
    """Image feature vector, stdlib-only.

    - ``fake=True``: the deterministic sha256-seeded stub (unchanged —
      existing fixtures pin it).
    - PNG in a decodable layout: REAL pixel decode via
      ``decode_png_pixels`` → 16-bin intensity histogram (fractions,
      summing to 1) — actual image content features.
    - JPEG/GIF (and PNG layouts beyond the stdlib decoder):
      header-level features [width, height, aspect, log10(n_bytes),
      0-padded] — dims are really parsed, but codec-level pixel decode
      needs an imaging library, so these are container features, not
      content features.
    - Unrecognized bytes: raises ``ValueError``.
    """
    if fake:
        digest = hashlib.sha256(data).digest()
        return [digest[i] / 255.0 for i in range(FEATURE_DIM)]
    hdr = parse_image_header(data)
    if hdr is None:
        raise ValueError("unrecognized image container (png/jpeg/gif only)")
    fmt, w, h = hdr
    if fmt == "png":
        try:
            pw, ph, ch, px = decode_png_pixels(data)
        except NotImplementedError:
            pass  # unsupported layout → header features below
        else:
            hist = [0] * FEATURE_DIM
            if ch == 1:
                for v in px:
                    hist[v >> 4] += 1
            else:
                # integer-weighted luma (Rec.601-ish 77/150/29 of 256)
                for j in range(0, len(px), 3):
                    y = (77 * px[j] + 150 * px[j + 1] + 29 * px[j + 2]) >> 8
                    hist[y >> 4] += 1
            n = max(pw * ph, 1)
            return [c / n for c in hist]
    import math

    feats = [float(w), float(h), w / max(h, 1), math.log10(max(len(data), 1))]
    return feats + [0.0] * (FEATURE_DIM - len(feats))


def extract_features(df: DataFrame) -> DataFrame:
    """mapInPandas feature extraction over binary media columns, with the
    deterministic stub decode (``decode_image(fake=True)``).

    Arrow-batched: each pandas DataFrame chunk is one Arrow batch; the
    loop is vectorized per column where possible and the binary payload is
    dropped from the output (features only travel onward).
    """

    def _extract(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        forget_zip_finders()
        import pandas as pd

        for pdf in batches:
            data = pdf["data"]
            out = pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": data.map(lambda b: len(b) if b is not None else 0),
                    "sha256": data.map(
                        lambda b: hashlib.sha256(b).hexdigest()
                        if b is not None
                        else None
                    ),
                    "features": data.map(
                        lambda b: decode_image(b, fake=True)
                        if b is not None
                        else None
                    ),
                }
            )
            yield out

    return df.mapInPandas(_extract, schema=FEATURES_SCHEMA)


DIMS_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("format", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
    ]
)


def image_dims(df: DataFrame) -> DataFrame:
    """REAL header decode over a binary media column: parse
    (format, width, height) from the container bytes — PNG IHDR / JPEG
    SOFn walk / GIF logical screen — in Arrow batches via mapInPandas.
    Unrecognized payloads yield NULLs, never task failures (a 100 TB
    media crawl always contains garbage rows).

    Expects columns ``media_id`` and ``data``; extra input columns are
    fine (pruned by the projection Spark pushes into the scan)."""

    def _dims(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        forget_zip_finders()
        import pandas as pd

        for pdf in batches:
            parsed = pdf["data"].map(parse_image_header)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "format": parsed.map(lambda p: p[0] if p else None),
                    "width": parsed.map(lambda p: p[1] if p else None),
                    "height": parsed.map(lambda p: p[2] if p else None),
                }
            )

    return df.select("media_id", "data").mapInPandas(_dims, schema=DIMS_SCHEMA)


def frame_sample(df: DataFrame, every_n: int = 10) -> DataFrame:
    """Video frame-sampling plan shape: explode frame indices 0..n_frames
    step ``every_n``; the (stubbed) per-frame decode would hang off the
    exploded rows. Pure Column ops — the expensive part parallelizes by
    frame, not by video."""
    return df.where(F.col("kind") == "video").select(
        "media_id",
        F.explode(
            F.sequence(
                F.lit(0),
                F.greatest(F.col("n_frames") - 1, F.lit(0)),
                F.lit(every_n),
            )
        ).alias("frame_index"),
    )


def media_stats(df: DataFrame) -> DataFrame:
    """Metadata-only aggregate — must never touch the binary column
    (column pruning keeps the scan on the small columns)."""
    return df.groupBy("kind").agg(
        F.count(F.lit(1)).alias("n_media"),
        F.avg(F.col("width") * F.col("height")).alias("avg_pixels"),
    )


def parse_wav(data: bytes | None):
    """REAL audio container decode, stdlib-only: walk the RIFF/WAVE
    chunk list, read the ``fmt `` chunk (PCM format tag, channels,
    sample rate, bits/sample — all little-endian per RIFF), then decode
    the ``data`` chunk's PCM payload with ``struct`` into integer
    samples. Returns
    ``(channels, sample_rate, bits, n_samples, sum_sq, peak)`` where
    ``n_samples`` counts per-channel frames, ``sum_sq`` is the integer
    sum of squared sample values (exact — no float drift, so an SQL
    oracle can reproduce it bit-for-bit), and ``peak`` is
    ``max(abs(sample))``. ``None`` for anything that is not a PCM WAV
    this parser understands (a 100 TB crawl always contains garbage —
    the caller yields NULLs, never task failures).

    Only integer PCM (format tag 1) at 8 bits (unsigned) or 16 bits
    (signed) is decoded; other tags/widths return header info with NULL
    stats. Audio analog of ``parse_image_header``/``decode_png_pixels``
    (reference parity: the reference has no audio path at all; this is
    part of the training-data-pipeline surface, not notebook parity)."""
    import struct as _st

    if data is None or len(data) < 12:
        return None
    if data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        return None
    i, n = 12, len(data)
    fmt = None
    out = None
    while i + 8 <= n:
        cid = data[i : i + 4]
        (clen,) = _st.unpack("<I", data[i + 4 : i + 8])
        body = data[i + 8 : i + 8 + clen]
        if cid == b"fmt " and clen >= 16:
            tag, ch, sr = _st.unpack("<HHI", body[:8])
            (bits,) = _st.unpack("<H", body[14:16])
            fmt = (tag, ch, sr, bits)
        elif cid == b"data" and fmt is not None:
            tag, ch, sr, bits = fmt
            if tag != 1 or ch == 0 or bits not in (8, 16):
                return (ch, sr, bits, None, None, None)
            if bits == 16:
                usable = len(body) - (len(body) % (2 * ch))
                vals = _st.unpack(f"<{usable // 2}h", body[:usable])
            else:
                usable = len(body) - (len(body) % ch)
                # 8-bit WAV is UNSIGNED, centered at 128
                vals = [b - 128 for b in body[:usable]]
            n_frames = len(vals) // ch if ch else 0
            sum_sq = sum(v * v for v in vals)
            peak = max((abs(v) for v in vals), default=0)
            out = (ch, sr, bits, n_frames, sum_sq, peak)
        # chunks are word-aligned: odd-length bodies carry a pad byte
        i += 8 + clen + (clen & 1)
    return out if out is not None else (fmt + (None, None, None) if fmt else None)


AUDIO_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("channels", IntegerType()),
        StructField("sample_rate", IntegerType()),
        StructField("bits", IntegerType()),
        StructField("n_frames", LongType()),
        StructField("sum_sq", LongType()),
        StructField("peak", IntegerType()),
    ]
)


def audio_stats(df: DataFrame) -> DataFrame:
    """PCM WAV decode over a binary media column in Arrow batches:
    RIFF chunk walk + struct sample decode per row (``parse_wav``),
    NULLs for undecodable payloads. Expects ``media_id`` and ``data``;
    extra columns are pruned by the pushed projection. Same
    scale/batching posture as ``image_dims``."""

    def _stats(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        forget_zip_finders()
        import pandas as pd

        for pdf in batches:
            parsed = pdf["data"].map(parse_wav)
            cols = {"media_id": pdf["media_id"]}
            for j, name in enumerate(
                ["channels", "sample_rate", "bits", "n_frames", "sum_sq", "peak"]
            ):
                cols[name] = parsed.map(lambda p, j=j: p[j] if p else None)
            yield pd.DataFrame(cols)

    return df.select("media_id", "data").mapInPandas(_stats, schema=AUDIO_SCHEMA)


def parse_mp4(data: bytes | None):
    """MP4/ISO-BMFF metadata from the container bytes (public box
    layout, ISO 14496-12): walk top-level boxes, read the ftyp major
    brand and the moov/mvhd movie header — version 0 (u32 times) and
    version 1 (u64 times) both handled, as are the spec's special size
    encodings: size==1 (64-bit largesize follows the type, standard for
    >4 GiB media) and size==0 (box extends to the end of the enclosing
    scope). Returns ``(brand, mvhd_version, timescale, duration)`` or
    None."""
    import struct as _st

    if data is None or len(data) < 16 or data[4:8] != b"ftyp":
        return None
    brand = data[8:12].decode("ascii", "replace")

    def _box(buf, i, end):
        # -> (payload_start, box_end) or None; handles largesize/to-end
        (size,) = _st.unpack(">I", buf[i : i + 4])
        hdr = 8
        if size == 1:
            if i + 16 > end:
                return None
            (size,) = _st.unpack(">Q", buf[i + 8 : i + 16])
            hdr = 16
        elif size == 0:
            size = end - i
        if size < hdr:
            return None
        return (i + hdr, min(i + size, end))

    i, n = 0, len(data)
    while i + 8 <= n:
        typ = data[i + 4 : i + 8]
        b = _box(data, i, n)
        if b is None:
            return None
        p, box_end = b
        if typ == b"moov":
            j, end = p, box_end
            while j + 8 <= end:
                t2 = data[j + 4 : j + 8]
                b2 = _box(data, j, end)
                if b2 is None:
                    return None
                p2, j_end = b2
                if t2 == b"mvhd":
                    v = data[p2]
                    if v == 0 and p2 + 20 <= end:
                        ts, dur = _st.unpack(
                            ">II", data[p2 + 12 : p2 + 20]
                        )
                        return (brand, 0, ts, dur)
                    if v == 1 and p2 + 32 <= end:
                        (ts,) = _st.unpack(">I", data[p2 + 20 : p2 + 24])
                        (dur,) = _st.unpack(">Q", data[p2 + 24 : p2 + 32])
                        return (brand, 1, ts, dur)
                    return None
                j = j_end
        i = box_end
    return None


VIDEO_META_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("brand", StringType()),
        StructField("mvhd_version", LongType()),
        StructField("timescale", LongType()),
        StructField("duration", LongType()),
        StructField("duration_s", LongType()),
    ]
)


def video_meta(df: DataFrame) -> DataFrame:
    """REAL video container decode over a binary media column: ftyp
    brand + mvhd timescale/duration via an Arrow-batched mapInPandas
    box walk. ``duration_s`` is integer seconds (duration // timescale).
    Unrecognized payloads yield NULLs, never task failures."""

    def _meta(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        forget_zip_finders()
        import pandas as pd

        for pdf in batches:
            parsed = pdf["data"].map(parse_mp4)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "brand": parsed.map(lambda p: p[0] if p else None),
                    "mvhd_version": parsed.map(
                        lambda p: p[1] if p else None
                    ),
                    "timescale": parsed.map(lambda p: p[2] if p else None),
                    "duration": parsed.map(lambda p: p[3] if p else None),
                    "duration_s": parsed.map(
                        lambda p: p[3] // p[2] if p and p[2] else None
                    ),
                }
            )

    return df.select("media_id", "data").mapInPandas(
        _meta, schema=VIDEO_META_SCHEMA
    )
