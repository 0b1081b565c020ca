"""Real stdlib image decode: header parsers against hand-built REAL
container bytes, and the full PNG pixel decoder against a zlib-encoded
image with every filter type. No imaging library involved anywhere —
that's the point."""

from __future__ import annotations

import struct
import zlib

from interop_spark.operators.multimodal import (
    decode_image,
    decode_png_pixels,
    image_dims,
    parse_image_header,
)


def _png_bytes(width, height, pixels, channels=3, filters=None):
    """Build a REAL PNG: signature, IHDR, zlib IDAT with per-row filter
    bytes, IEND — valid per the spec (CRCs included)."""
    ctype = 0 if channels == 1 else 2
    ihdr = struct.pack(">IIBBBBB", width, height, 8, ctype, 0, 0, 0)
    stride = width * channels
    filters = filters or [0] * height
    raw = bytearray()
    out_rows = []
    for y in range(height):
        row = pixels[y * stride : (y + 1) * stride]
        f = filters[y]
        enc = bytearray()
        for x in range(stride):
            a = row[x - channels] if x >= channels else 0
            b = out_rows[y - 1][x] if y else 0
            c = (
                out_rows[y - 1][x - channels]
                if (y and x >= channels)
                else 0
            )
            if f == 0:
                v = row[x]
            elif f == 1:
                v = (row[x] - a) & 0xFF
            elif f == 2:
                v = (row[x] - b) & 0xFF
            elif f == 3:
                v = (row[x] - ((a + b) >> 1)) & 0xFF
            else:  # Paeth
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                v = (row[x] - pr) & 0xFF
            enc.append(v)
        out_rows.append(row)
        raw.append(f)
        raw += enc

    def chunk(typ, payload):
        return (
            struct.pack(">I", len(payload))
            + typ
            + payload
            + struct.pack(">I", zlib.crc32(typ + payload) & 0xFFFFFFFF)
        )

    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def test_parse_png_header():
    png = _png_bytes(5, 3, bytes(range(45)))
    assert parse_image_header(png) == ("png", 5, 3)


def test_parse_gif_header():
    gif = b"GIF89a" + struct.pack("<HH", 641, 123) + b"\xf7\x00\x00"
    assert parse_image_header(gif) == ("gif", 641, 123)


def test_parse_jpeg_header_walks_segments():
    # SOI + COM segment + APP0 + SOF2 (progressive) — the walker must
    # skip two variable-length segments before the frame header
    com = b"\xff\xfe" + struct.pack(">H", 9) + b"comment"
    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
    sof2 = (
        b"\xff\xc2"
        + struct.pack(">H", 17)
        + b"\x08"
        + struct.pack(">HH", 480, 640)  # height, width
        + b"\x03\x01\x11\x00\x02\x11\x01\x03\x11\x01"
    )
    assert parse_image_header(b"\xff\xd8" + com + app0 + sof2) == (
        "jpeg",
        640,
        480,
    )


def test_parse_rejects_garbage():
    assert parse_image_header(b"not an image at all") is None
    assert parse_image_header(None) is None
    assert parse_image_header(b"\xff\xd8\x00\x00") is None  # broken marker


def test_png_pixel_decode_roundtrip_all_filters():
    # 4x5 RGB with a gradient-ish pattern, one row per filter type
    w, h, ch = 4, 5, 3
    pixels = bytes(
        (x * 37 + y * 101 + c * 17) % 256
        for y in range(h)
        for x in range(w)
        for c in range(ch)
    )
    png = _png_bytes(w, h, pixels, channels=ch, filters=[0, 1, 2, 3, 4])
    pw, ph, pch, out = decode_png_pixels(png)
    assert (pw, ph, pch) == (w, h, ch)
    assert out == pixels


def test_png_pixel_decode_greyscale():
    w, h = 6, 2
    pixels = bytes((x * 40 + y * 7) % 256 for y in range(h) for x in range(w))
    png = _png_bytes(w, h, pixels, channels=1, filters=[4, 1])
    assert decode_png_pixels(png) == (w, h, 1, pixels)


def test_decode_image_real_png_histogram():
    # all-black 2x2 RGB → histogram mass entirely in bin 0
    png = _png_bytes(2, 2, bytes(12))
    feats = decode_image(png)
    assert feats[0] == 1.0 and sum(feats) == 1.0


def test_decode_image_header_features_jpeg_gif():
    gif = b"GIF89a" + struct.pack("<HH", 320, 200) + b"\xf7\x00\x00"
    feats = decode_image(gif)
    assert feats[0] == 320.0 and feats[1] == 200.0 and feats[2] == 320 / 200
    sof0 = (
        b"\xff\xc0"
        + struct.pack(">H", 17)
        + b"\x08"
        + struct.pack(">HH", 10, 20)
        + b"\x03\x01\x11\x00\x02\x11\x01\x03\x11\x01"
    )
    feats = decode_image(b"\xff\xd8" + sof0)
    assert feats[0] == 20.0 and feats[1] == 10.0


def test_decode_image_fake_path_unchanged():
    digest_feats = decode_image(b"whatever", fake=True)
    assert len(digest_feats) == 16
    import hashlib

    assert digest_feats[0] == hashlib.sha256(b"whatever").digest()[0] / 255.0


def test_image_dims_operator_mixed_batch(spark):
    png = _png_bytes(7, 9, bytes(7 * 9 * 3))
    gif = b"GIF89a" + struct.pack("<HH", 33, 44) + b"\xf7\x00\x00"
    df = spark.createDataFrame(
        [(1, bytearray(png)), (2, bytearray(gif)), (3, bytearray(b"junk")), (4, None)],
        "media_id long, data binary",
    )
    rows = {r.media_id: r for r in image_dims(df).collect()}
    assert (rows[1].format, rows[1].width, rows[1].height) == ("png", 7, 9)
    assert (rows[2].format, rows[2].width, rows[2].height) == ("gif", 33, 44)
    assert rows[3].format is None and rows[3].width is None
    assert rows[4].format is None


def _mp4_bytes(version: int, timescale: int, duration: int) -> bytes:
    tail = (
        struct.pack(">I", 0x00010000) + struct.pack(">H", 0x0100)
        + b"\x00" * 10
        + struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        + b"\x00" * 24 + struct.pack(">I", 2)
    )
    if version == 0:
        p = b"\x00\x00\x00\x00" + b"\x00" * 8 + struct.pack(
            ">II", timescale, duration
        ) + tail
    else:
        p = b"\x01\x00\x00\x00" + b"\x00" * 16 + struct.pack(
            ">I", timescale
        ) + struct.pack(">Q", duration) + tail
    mvhd = struct.pack(">I", 8 + len(p)) + b"mvhd" + p
    moov = struct.pack(">I", 8 + len(mvhd)) + b"moov" + mvhd
    ftyp = struct.pack(">I", 16) + b"ftyp" + b"isom" + b"\x00\x00\x02\x00"
    return ftyp + moov


def test_parse_mp4_both_mvhd_versions():
    from interop_spark.operators.multimodal import parse_mp4

    assert parse_mp4(_mp4_bytes(0, 600, 25200)) == ("isom", 0, 600, 25200)
    # v1 carries a 64-bit duration
    big = 10_000_000_000
    assert parse_mp4(_mp4_bytes(1, 90000, big)) == ("isom", 1, 90000, big)


def test_parse_mp4_rejects_garbage_and_truncation():
    from interop_spark.operators.multimodal import parse_mp4

    assert parse_mp4(None) is None
    assert parse_mp4(b"notavideo" * 3) is None
    good = _mp4_bytes(0, 600, 1200)
    assert parse_mp4(good[:40]) is None  # moov truncated away
    # a declared size below the header length is malformed
    bad = good[:16] + struct.pack(">I", 4) + good[20:]
    assert parse_mp4(bad) is None
    # a truncated largesize header is malformed
    assert (
        parse_mp4(good[:16] + struct.pack(">I", 1) + b"moov" + b"\x00")
        is None
    )


def _mp4_special_corpus() -> list:
    good = _mp4_bytes(0, 600, 1200)
    mvhd = good[24:]
    return [
        good,
        _mp4_bytes(1, 90000, 10_000_000_000),
        # size == 0: top-level box extends to the end of the data
        good[:16] + struct.pack(">I", 0) + good[20:],
        # size == 1: 64-bit largesize follows the box type
        good[:16]
        + struct.pack(">I", 1)
        + b"moov"
        + struct.pack(">Q", 16 + len(mvhd))
        + mvhd,
        good[:40],
        good[:16] + struct.pack(">I", 4) + good[20:],
        b"junkjunkjunkjunkjunk",
    ]


def test_parse_mp4_special_size_encodings():
    from interop_spark.operators.multimodal import parse_mp4

    corpus = _mp4_special_corpus()
    # size == 0 (to end of data) and size == 1 (largesize) are VALID
    # ISO 14496-12 encodings, not malformed input
    assert parse_mp4(corpus[2]) == ("isom", 0, 600, 1200)
    assert parse_mp4(corpus[3]) == ("isom", 0, 600, 1200)


def test_video_meta_closure_agrees_with_parse_mp4(spark):
    """video_meta, run through mapInPandas on the workers, must agree
    with parse_mp4 called on the driver for every corpus entry,
    including the special size encodings — the only test that runs
    the operator over the special-size box corpus."""
    from interop_spark.operators.multimodal import parse_mp4, video_meta

    corpus = _mp4_special_corpus()
    df = spark.createDataFrame(
        [(i, bytearray(b)) for i, b in enumerate(corpus)],
        "media_id long, data binary",
    )
    rows = {r.media_id: r for r in video_meta(df).collect()}
    for i, b in enumerate(corpus):
        exp = parse_mp4(bytes(b))
        got = rows[i]
        if exp is None:
            assert got.brand is None and got.timescale is None
        else:
            assert (
                got.brand,
                got.mvhd_version,
                got.timescale,
                got.duration,
            ) == exp


def test_video_meta_operator(spark):
    from interop_spark.operators.multimodal import video_meta

    df = spark.createDataFrame(
        [
            (1, bytearray(_mp4_bytes(0, 600, 1500))),
            (2, bytearray(_mp4_bytes(1, 1000, 2500))),
            (3, bytearray(b"junk")),
        ],
        "media_id long, data binary",
    )
    rows = {r.media_id: r for r in video_meta(df).collect()}
    assert (rows[1].brand, rows[1].mvhd_version) == ("isom", 0)
    assert (rows[1].timescale, rows[1].duration, rows[1].duration_s) == (
        600, 1500, 2,
    )
    assert (rows[2].timescale, rows[2].duration_s) == (1000, 2)
    assert rows[3].brand is None and rows[3].duration_s is None
