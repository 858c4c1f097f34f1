"""HeaderDecoder goldens: handcrafted container bytes with KNOWN metadata,
decoded by the pure-python header parsers (VERDICT.md round-1 item #5 —
"un-stub one multimodal decoder path"). Fixtures are built field-by-field
from the published container specs, so a parser bug can't cancel a fixture
bug. The PNG fixture is a fully valid file (zlib IDAT + correct CRCs), the
others are spec-minimal headers.
"""

from __future__ import annotations

import struct
import zlib

import pytest

from gearpump_spark.operators.multimodal import (
    FakeDecoder,
    HeaderDecoder,
    decode_audio_metadata,
    decode_image_metadata,
)


def make_png(width: int, height: int, color_type: int = 6, bit_depth: int = 8) -> bytes:
    def chunk(tag: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + tag
            + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, bit_depth, color_type, 0, 0, 0)
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[color_type]
    raw = b"".join(
        b"\x00" + bytes(width * channels * (bit_depth // 8)) for _ in range(height)
    )
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def make_bmp(width: int, height: int, bpp: int = 24) -> bytes:
    row = (width * (bpp // 8) + 3) & ~3  # rows pad to 4 bytes
    pixels = bytes(row * abs(height))
    header = (
        b"BM"
        + struct.pack("<IHHI", 14 + 40 + len(pixels), 0, 0, 14 + 40)
        + struct.pack("<IiiHHIIiiII", 40, width, height, 1, bpp, 0, len(pixels), 2835, 2835, 0, 0)
    )
    return header + pixels


def make_gif(width: int, height: int) -> bytes:
    return b"GIF89a" + struct.pack("<HH", width, height) + b"\x00\x00\x00\x3b"


def make_jpeg(width: int, height: int, n_channels: int = 3) -> bytes:
    # APP0 length 16 = 2 (length field) + 14 body bytes (id 5, version 2,
    # units 1, density 4, thumbnail 2)
    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x02\x00" + bytes(6)
    sof0_body = struct.pack(">BHHB", 8, height, width, n_channels) + bytes(3 * n_channels)
    sof0 = b"\xff\xc0" + struct.pack(">H", 2 + len(sof0_body)) + sof0_body
    return b"\xff\xd8" + app0 + sof0 + b"\xff\xd9"


def make_wav(n_channels: int, sample_rate: int, bits: int, n_samples: int = 4) -> bytes:
    block_align = n_channels * bits // 8
    data = bytes(n_samples * block_align)
    fmt = struct.pack("<HHIIHH", 1, n_channels, sample_rate,
                      sample_rate * block_align, block_align, bits)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


D = HeaderDecoder()


def test_png_header_golden():
    meta = D.decode_image(make_png(640, 480, color_type=6))
    assert meta == {"format": "png", "width": 640, "height": 480, "n_channels": 4}
    gray = D.decode_image(make_png(7, 3, color_type=0))
    assert (gray["width"], gray["height"], gray["n_channels"]) == (7, 3, 1)


def test_bmp_header_golden():
    meta = D.decode_image(make_bmp(31, 17, bpp=24))
    assert meta == {"format": "bmp", "width": 31, "height": 17, "n_channels": 3}
    # negative height = top-down bitmap; reported size is positive
    assert D.decode_image(make_bmp(8, -4, bpp=32))["height"] == 4


def test_gif_and_jpeg_header_golden():
    assert D.decode_image(make_gif(320, 200)) == {
        "format": "gif", "width": 320, "height": 200, "n_channels": 3,
    }
    meta = D.decode_image(make_jpeg(1024, 768, n_channels=3))
    assert meta == {"format": "jpeg", "width": 1024, "height": 768, "n_channels": 3}


def test_wav_header_golden():
    meta = D.decode_audio(make_wav(2, 44100, 16))
    assert meta == {
        "format": "wav", "codec_tag": 1, "n_channels": 2,
        "sample_rate": 44100, "bits_per_sample": 16,
    }
    with pytest.raises(ValueError):
        D.decode_audio(b"not audio at all")


def test_unrecognized_bytes_fall_back_to_fake():
    payload = b"just some text bytes"
    assert D.decode_image(payload) == FakeDecoder().decode_image(payload)
    assert D.sniff_image(payload) is None
    assert D.sniff_audio(payload) is None


def test_truncated_containers_never_raise():
    for fx in (make_png(4, 4), make_bmp(4, 4), make_jpeg(4, 4), make_wav(1, 8000, 8)):
        for cut in (0, 1, 2, 6, 10, 14, 20):
            D.sniff_image(fx[:cut])
            D.sniff_audio(fx[:cut])


def test_decode_image_metadata_real_containers_end_to_end(spark):
    rows = [
        (1, bytearray(make_png(12, 34))),
        (2, bytearray(make_bmp(56, 78))),
        (3, bytearray(make_jpeg(90, 12))),
        (4, bytearray(b"opaque non-container bytes")),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, payload binary")
    out = {r.doc_id: r for r in decode_image_metadata(df).collect()}
    assert (out[1].format, out[1].width, out[1].height) == ("png", 12, 34)
    assert (out[2].format, out[2].width, out[2].height) == ("bmp", 56, 78)
    assert (out[3].format, out[3].width, out[3].height) == ("jpeg", 90, 12)
    assert out[4].format in FakeDecoder.FORMATS  # fallback path
    assert out[1].byte_len == len(make_png(12, 34))


def test_decode_audio_metadata_end_to_end(spark):
    rows = [
        (1, bytearray(make_wav(1, 16000, 16))),
        (2, bytearray(b"not audio")),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, payload binary")
    out = {r.doc_id: r for r in decode_audio_metadata(df).collect()}
    assert (out[1].format, out[1].n_channels, out[1].sample_rate) == ("wav", 1, 16000)
    assert out[2].format is None


# --- PixelDecoder: real raster / sample decoding --------------------------


def _bmp_from_rows(rows, top_down=False):
    """Handcraft a 24-bit BMP; top_down=True uses negative height storage."""
    h, w = len(rows), len(rows[0])
    stride = (w * 3 + 3) & ~3
    body = bytearray()
    order = rows if top_down else rows[::-1]
    for row in order:
        line = bytearray()
        for px in row:
            line += bytes(px)
        line += bytes(stride - w * 3)
        body += line
    dib = struct.pack("<IiiHHIIiiII", 40, w, -h if top_down else h, 1, 24, 0,
                      len(body), 2835, 2835, 0, 0)
    return b"BM" + struct.pack("<IHHI", 54 + len(body), 0, 0, 54) + dib + bytes(body)


def test_pixel_decode_bottom_up_and_top_down():
    from gearpump_spark.operators.multimodal import PixelDecoder

    rows = [[[1, 2, 3], [4, 5, 6]], [[7, 8, 9], [10, 11, 12]]]  # 2x2, top-down truth
    d = PixelDecoder()
    for td in (False, True):
        img = d.decode_pixels(_bmp_from_rows(rows, top_down=td))
        assert (img["width"], img["height"]) == (2, 2)
        assert img["rows"] == rows  # decoder normalizes to top-down


def test_pixel_encode_decode_round_trip_with_padding():
    from gearpump_spark.operators.multimodal import PixelDecoder

    # width 3 -> 9-byte rows padded to 12: exercises the stride math
    rows = [[[y * 50 + x * 10 + c for c in range(3)] for x in range(3)] for y in range(2)]
    img = PixelDecoder().decode_pixels(PixelDecoder.encode_bmp(rows))
    assert img["rows"] == rows


def test_pixel_resize_nearest_neighbor_golden():
    from gearpump_spark.operators.multimodal import PixelDecoder

    # 4x2 source; resize to 2x1 picks src (0,0) and (2,0)
    rows = [[[x * 10, x * 10 + 1, x * 10 + 2] for x in range(4)] for _ in range(2)]
    d = PixelDecoder()
    out = d.decode_pixels(d.resize(_bmp_from_rows(rows), 2, 1))
    assert out["rows"] == [[[0, 1, 2], [20, 21, 22]]]


def test_pixel_features_means_and_histogram():
    from gearpump_spark.operators.multimodal import PixelDecoder

    rows = [[[0, 0, 0], [255, 255, 255]]]  # one black, one white pixel
    feats = PixelDecoder().features(_bmp_from_rows(rows), 11)
    assert feats[:3] == pytest.approx([0.5, 0.5, 0.5])  # channel means
    assert feats[3] == pytest.approx(0.5)   # intensity bin 0 (black)
    assert feats[10] == pytest.approx(0.5)  # intensity bin 7 (white)


def test_pixel_decoder_falls_back_for_non_bmp():
    from gearpump_spark.operators.multimodal import FakeDecoder, PixelDecoder

    payload = b"not an image at all"
    assert PixelDecoder().features(payload, 4) == FakeDecoder().features(payload, 4)
    assert PixelDecoder().resize(payload, 8, 8) == FakeDecoder().resize(payload, 8, 8)


def test_audio_samples_signed_widths():
    from gearpump_spark.operators.multimodal import PixelDecoder

    d = PixelDecoder()
    # 16-bit signed: -2, 3
    w16 = make_wav(1, 8000, 16)
    w16 = w16[:44] + (-2).to_bytes(2, "little", signed=True) + (3).to_bytes(2, "little", signed=True)
    w16 = w16[:4] + struct.pack("<I", len(w16) - 8) + w16[8:40] + struct.pack("<I", 4) + w16[44:]
    assert d.decode_audio_samples(w16) == [-2, 3]
    # 8-bit unsigned stores 128+v
    w8 = make_wav(1, 8000, 8)
    w8 = w8[:4] + struct.pack("<I", 38) + w8[8:40] + struct.pack("<I", 2) + bytes([118, 138])
    assert d.decode_audio_samples(w8) == [-10, 10]


# ---------------------------------------------------------------------------
# PNG pixel tier (zlib inflate + scanline unfiltering)
# ---------------------------------------------------------------------------


def _png_with_filters(pixels_rgb, filters):
    """Hand-assemble an 8-bit RGB PNG applying the given per-row forward
    filter types — the test owns the byte layout, the decoder must undo it."""
    import struct
    import zlib

    from gearpump_spark.operators.multimodal import PixelDecoder

    h, w = len(pixels_rgb), len(pixels_rgb[0])
    stride = w * 3
    raw = bytearray()
    prior = bytearray(stride)
    for y, ft in zip(range(h), filters):
        line = bytearray()
        for r, g, b in pixels_rgb[y]:
            line += bytes((r, g, b))
        out = bytearray(stride)
        for k in range(stride):
            a = line[k - 3] if k >= 3 else 0
            b_ = prior[k]
            c = prior[k - 3] if k >= 3 else 0
            pred = [0, a, b_, (a + b_) >> 1, PixelDecoder._paeth(a, b_, c)][ft]
            out[k] = (line[k] - pred) & 0xFF
        raw.append(ft)
        raw += out
        prior = line

    def chunk(tag, body):
        return (
            struct.pack(">I", len(body))
            + tag
            + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def test_png_decode_all_five_filters():
    from gearpump_spark.operators.multimodal import PixelDecoder

    pixels = [
        [((x * 37 + y * 11) % 256, (x * 5 + y * 91) % 256, (x * 13 + y) % 256) for x in range(4)]
        for y in range(5)
    ]
    payload = _png_with_filters(pixels, [0, 1, 2, 3, 4])
    img = PixelDecoder().decode_pixels(payload)
    assert img["width"] == 4 and img["height"] == 5
    for y in range(5):
        for x in range(4):
            r, g, b = pixels[y][x]
            assert img["rows"][y][x] == [b, g, r], (x, y)


def test_png_gray_and_rgba_color_types():
    import struct
    import zlib

    from gearpump_spark.operators.multimodal import PixelDecoder

    def chunk(tag, body):
        return (
            struct.pack(">I", len(body))
            + tag
            + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    # 3x2 grayscale, filter 0 rows
    gray_raw = b"\x00" + bytes([10, 20, 30]) + b"\x00" + bytes([40, 50, 60])
    gray = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 3, 2, 8, 0, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(gray_raw))
        + chunk(b"IEND", b"")
    )
    img = PixelDecoder().decode_pixels(gray)
    assert img["rows"][0] == [[10, 10, 10], [20, 20, 20], [30, 30, 30]]
    assert img["rows"][1] == [[40, 40, 40], [50, 50, 50], [60, 60, 60]]

    # 2x1 RGBA: alpha dropped
    rgba_raw = b"\x00" + bytes([1, 2, 3, 255, 4, 5, 6, 0])
    rgba = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 1, 8, 6, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(rgba_raw))
        + chunk(b"IEND", b"")
    )
    img = PixelDecoder().decode_pixels(rgba)
    assert img["rows"][0] == [[3, 2, 1], [6, 5, 4]]


def test_png_unsupported_variants_return_none():
    import struct
    import zlib

    from gearpump_spark.operators.multimodal import PixelDecoder

    def chunk(tag, body):
        return (
            struct.pack(">I", len(body))
            + tag
            + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    d = PixelDecoder()
    # palette color type
    pal = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(b"\x00\x00\x00"))
        + chunk(b"IEND", b"")
    )
    assert d.decode_png_pixels(pal) is None
    # truncated IDAT (inflate fails) must not raise
    trunc = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", b"\x78\x9c\x01")
        + chunk(b"IEND", b"")
    )
    assert d.decode_png_pixels(trunc) is None


def test_png_resize_roundtrip_stays_png():
    from gearpump_spark.operators.multimodal import PixelDecoder

    pixels = [[(x * 40 % 256, y * 30 % 256, (x + y) * 20 % 256) for x in range(6)] for y in range(4)]
    payload = _png_with_filters(pixels, [4, 3, 2, 1])
    d = PixelDecoder()
    rz = d.resize(payload, 3, 2)
    assert rz.startswith(b"\x89PNG\r\n\x1a\n")
    img = d.decode_pixels(rz)
    assert img["width"] == 3 and img["height"] == 2
    # nearest-neighbor source index arithmetic
    for y in range(2):
        for x in range(3):
            r, g, b = pixels[(y * 4) // 2][(x * 6) // 3]
            assert img["rows"][y][x] == [b, g, r]


def test_png_and_bmp_same_raster_same_features():
    from gearpump_spark.operators.multimodal import PixelDecoder

    rows = [[[(x + y) % 256, (2 * x) % 256, (3 * y) % 256] for x in range(5)] for y in range(3)]
    d = PixelDecoder()
    bmp = PixelDecoder.encode_bmp(rows)
    png = PixelDecoder.encode_png(rows)
    assert d.features(bmp, 11) == d.features(png, 11)


def test_png_palette_color_type():
    import struct
    import zlib

    from gearpump_spark.operators.multimodal import PixelDecoder

    def chunk(tag, body):
        return (
            struct.pack(">I", len(body))
            + tag
            + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    palette = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255])  # red, green, blue
    raw = b"\x00" + bytes([0, 1, 2]) + b"\x00" + bytes([2, 1, 0])
    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 3, 2, 8, 3, 0, 0, 0))
        + chunk(b"PLTE", palette)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    img = PixelDecoder().decode_pixels(png)
    # rows are [B,G,R]
    assert img["rows"][0] == [[0, 0, 255], [0, 255, 0], [255, 0, 0]]
    assert img["rows"][1] == [[255, 0, 0], [0, 255, 0], [0, 0, 255]]
    # out-of-range palette index -> None, never IndexError
    bad = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 1, 1, 8, 3, 0, 0, 0))
        + chunk(b"PLTE", palette)
        + chunk(b"IDAT", zlib.compress(b"\x00\x09"))
        + chunk(b"IEND", b"")
    )
    assert PixelDecoder().decode_pixels(bad) is None


# ---------------------------------------------------------------------------
# GIF pixel tier (real LZW)
# ---------------------------------------------------------------------------


def test_gif_lzw_round_trip_random_rasters():
    import random

    from gearpump_spark.operators.multimodal import GifDecoder

    rng = random.Random(9)
    for _ in range(8):
        w, h = rng.randint(1, 20), rng.randint(1, 20)
        ncol = rng.randint(1, 30)
        pal = [
            (rng.randrange(256), rng.randrange(256), rng.randrange(256))
            for _ in range(ncol)
        ]
        rows = [
            [list(pal[rng.randrange(ncol)])[::-1] for _ in range(w)] for _ in range(h)
        ]
        img = GifDecoder().decode_pixels(GifDecoder.encode_gif(rows))
        assert img["width"] == w and img["height"] == h
        assert img["rows"] == rows


def test_gif_interlaced_and_extension_blocks():
    from gearpump_spark.operators.multimodal import GifDecoder

    # 1x8 column image, interlaced: rows stored in pass order 0,8.. 4.. 2,6.. odd
    h = 8
    rows = [[[y * 10, y * 10 + 1, y * 10 + 2]] for y in range(h)]
    base = GifDecoder.encode_gif(rows)
    # rewrite: set interlace flag and reorder pixel rows per pass order
    order = [0, 4, 2, 6, 1, 3, 5, 7]
    reordered = [rows[y] for y in order]
    gif = bytearray(GifDecoder.encode_gif(reordered))
    # find image descriptor and set the interlace bit
    idesc = gif.index(0x2C, 13)
    gif[idesc + 9] |= 0x40
    # inject a graphic-control extension before the descriptor (skip path)
    ext = bytes([0x21, 0xF9, 4, 0, 0, 0, 0, 0])
    gif2 = bytes(gif[:idesc]) + ext + bytes(gif[idesc:])
    img = GifDecoder().decode_pixels(gif2)
    assert img is not None and img["rows"] == rows
    # the non-interlaced original still decodes to its own order
    assert GifDecoder().decode_pixels(base)["rows"] == rows


def test_gif_garbage_and_truncation_never_raise():
    from gearpump_spark.operators.multimodal import GifDecoder

    d = GifDecoder()
    good = GifDecoder.encode_gif([[[1, 2, 3], [4, 5, 6]]])
    assert d.decode_pixels(b"GIF89a\x00") is None
    for cut in (8, 14, len(good) - 3):
        assert d.decode_pixels(good[:cut]) is None or cut >= len(good) - 3
    # BMP/PNG dispatch still intact through the subclass
    bmp = GifDecoder.encode_bmp([[[9, 8, 7]]])
    assert d.decode_pixels(bmp)["rows"] == [[[9, 8, 7]]]


def test_gif_animated_roundtrip_and_real_frame_sampling():
    import hashlib

    from gearpump_spark.operators.multimodal import GifDecoder

    frames = [
        [[[(f * 40 + x + y) % 256, (f * 11 + 2 * x) % 256, (f * 7 + 3 * y) % 256]
          for x in range(4)] for y in range(3)]
        for f in range(5)
    ]
    gif = GifDecoder.encode_gif_animated(frames)
    dec = GifDecoder().decode_gif_frames(gif)
    assert [d["rows"] for d in dec] == frames

    def hsh(rows):
        return hashlib.md5(
            bytes(c for row in rows for px in row for c in px)
        ).hexdigest()

    # evenly-spaced picks over 5 frames at n=3: frames 0, 1, 3
    assert GifDecoder().sample_frames(gif, 3) == [
        hsh(frames[0]), hsh(frames[1]), hsh(frames[3])
    ]
    # non-GIF payloads keep the deterministic fallback (no exception)
    assert len(GifDecoder().sample_frames(b"not a gif", 2)) == 2


# ---------------------------------------------------------------------------
# JPEG baseline tier (Huffman + DCT, grayscale)
# ---------------------------------------------------------------------------


def test_jpeg_constant_gray_exact_roundtrip():
    from gearpump_spark.operators.multimodal import JpegDecoder

    d = JpegDecoder()
    for val in (0, 1, 127, 128, 200, 255):
        for w, h in ((3, 2), (8, 8), (11, 5)):
            img = d.decode_pixels(JpegDecoder.encode_jpeg_gray([[val] * w for _ in range(h)]))
            assert img["width"] == w and img["height"] == h
            assert all(px == [val] * 3 for row in img["rows"] for px in row), (val, w, h)


def test_jpeg_lossy_roundtrip_bounded_error():
    import random

    from gearpump_spark.operators.multimodal import JpegDecoder

    rng = random.Random(4)
    gray = [[rng.randrange(256) for _ in range(16)] for _ in range(16)]
    img = JpegDecoder().decode_pixels(JpegDecoder.encode_jpeg_gray(gray))
    errs = [abs(img["rows"][y][x][0] - gray[y][x]) for y in range(16) for x in range(16)]
    assert max(errs) <= 24  # AC quant step 16: worst case well under 2 steps
    assert sum(errs) / len(errs) < 8


def test_jpeg_header_sniff_of_our_own_bytes():
    from gearpump_spark.operators.multimodal import HeaderDecoder, JpegDecoder

    jp = JpegDecoder.encode_jpeg_gray([[9] * 5 for _ in range(4)])
    meta = HeaderDecoder().sniff_image(jp)
    assert meta == {"format": "jpeg", "width": 5, "height": 4, "n_channels": 1}


def test_jpeg_garbage_and_unsupported_variants():
    from gearpump_spark.operators.multimodal import JpegDecoder

    d = JpegDecoder()
    good = JpegDecoder.encode_jpeg_gray([[10, 20], [30, 40]])
    assert d.decode_pixels(b"\xff\xd8garbage") is None
    assert d.decode_pixels(good[: len(good) // 2]) is None
    # lossless SOF3 -> None (fallback seam), never an exception (SOF1
    # extended-sequential and SOF2 progressive now decode for real and
    # are tested separately; SOF1 with 8-bit samples decodes identically
    # to the SOF0 form)
    sof3 = good.replace(b"\xff\xc0", b"\xff\xc3", 1)
    assert d.decode_pixels(sof3) is None
    sof1 = good.replace(b"\xff\xc0", b"\xff\xc1", 1)
    assert d.decode_pixels(sof1)["rows"] == d.decode_pixels(good)["rows"]
    # GIF/PNG/BMP dispatch still intact through the subclass chain
    assert d.decode_pixels(JpegDecoder.encode_bmp([[[1, 2, 3]]]))["rows"] == [[[1, 2, 3]]]


def test_png_adam7_interlaced_decode():
    import random
    import struct
    import zlib

    from gearpump_spark.operators.multimodal import PixelDecoder

    def chunk(tag, body):
        return (
            struct.pack(">I", len(body))
            + tag
            + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    rng = random.Random(7)
    w, h = 9, 10
    pixels = [
        [(rng.randrange(256), rng.randrange(256), rng.randrange(256)) for _ in range(w)]
        for _ in range(h)
    ]
    raw = bytearray()
    for x0, dx, y0, dy in (
        (0, 8, 0, 8), (4, 8, 0, 8), (0, 4, 4, 8), (2, 4, 0, 4),
        (0, 2, 2, 4), (1, 2, 0, 2), (0, 1, 1, 2),
    ):
        pw = (w - x0 + dx - 1) // dx
        ph = (h - y0 + dy - 1) // dy
        if pw <= 0 or ph <= 0:
            continue
        for r in range(ph):
            raw.append(0)
            for k in range(pw):
                rr, gg, bb = pixels[y0 + r * dy][x0 + k * dx]
                raw += bytes((rr, gg, bb))
    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 1))
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b""))
    img = PixelDecoder().decode_pixels(png)
    for y in range(h):
        for x in range(w):
            rr, gg, bb = pixels[y][x]
            assert img["rows"][y][x] == [bb, gg, rr]
    # truncated interlaced stream -> None, never raises
    short = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 1))
        + chunk(b"IDAT", zlib.compress(bytes(raw[: len(raw) // 2])))
        + chunk(b"IEND", b""))
    assert PixelDecoder().decode_pixels(short) is None


def test_jpeg_color_constant_exact_and_lossy_bounded():
    import math
    import random

    from gearpump_spark.operators.multimodal import JpegDecoder, encode_jpeg_color

    d = JpegDecoder()

    def fl(x):
        v = math.floor(x + 0.5)
        return 0 if v < 0 else 255 if v > 255 else v

    for r, g, b in ((0, 0, 0), (255, 255, 255), (10, 200, 70), (255, 0, 128)):
        img = d.decode_pixels(encode_jpeg_color([[[b, g, r]] * 5 for _ in range(3)]))
        Y = fl(0.299 * r + 0.587 * g + 0.114 * b)
        cb = fl(128 - 0.168736 * r - 0.331264 * g + 0.5 * b)
        cr = fl(128 + 0.5 * r - 0.418688 * g - 0.081312 * b)
        expect = [
            fl(Y + 1.772 * (cb - 128)),
            fl(Y - 0.344136 * (cb - 128) - 0.714136 * (cr - 128)),
            fl(Y + 1.402 * (cr - 128)),
        ]
        assert all(px == expect for row in img["rows"] for px in row), (r, g, b)

    rng = random.Random(6)
    rows = [[[rng.randrange(256) for _ in range(3)] for _ in range(16)] for _ in range(16)]
    img = d.decode_pixels(encode_jpeg_color(rows))
    errs = [
        abs(img["rows"][y][x][c] - rows[y][x][c])
        for y in range(16) for x in range(16) for c in range(3)
    ]
    assert max(errs) <= 40 and sum(errs) / len(errs) < 10  # chroma quant + transform


def test_jpeg_420_subsampled():
    import math
    import random

    from gearpump_spark.operators.multimodal import JpegDecoder, encode_jpeg_color

    d = JpegDecoder()

    def fl(x):
        v = math.floor(x + 0.5)
        return 0 if v < 0 else 255 if v > 255 else v

    # constant color across odd/even/multi-MCU geometries: exact
    for r, g, b in ((10, 200, 70), (255, 0, 128)):
        for w, h in ((1, 1), (5, 3), (17, 9), (16, 16)):
            img = d.decode_pixels(
                encode_jpeg_color([[[b, g, r]] * w for _ in range(h)], subsample=True)
            )
            Y = fl(0.299 * r + 0.587 * g + 0.114 * b)
            cb = fl(128 - 0.168736 * r - 0.331264 * g + 0.5 * b)
            cr = fl(128 + 0.5 * r - 0.418688 * g - 0.081312 * b)
            expect = [
                fl(Y + 1.772 * (cb - 128)),
                fl(Y - 0.344136 * (cb - 128) - 0.714136 * (cr - 128)),
                fl(Y + 1.402 * (cr - 128)),
            ]
            assert img["width"] == w and img["height"] == h
            assert all(px == expect for row in img["rows"] for px in row), (r, g, b, w, h)

    # smooth-chroma content (the 4:2:0 design case): tight error bound
    rows = [[[(x * 6) % 256, (y * 7) % 256, ((x + y) * 3) % 256] for x in range(24)]
            for y in range(16)]
    img = d.decode_pixels(encode_jpeg_color(rows, subsample=True))
    errs = [abs(img["rows"][y][x][c] - rows[y][x][c])
            for y in range(16) for x in range(24) for c in range(3)]
    assert max(errs) <= 24 and sum(errs) / len(errs) < 5

    # full-res luma detail survives subsampling: b/w checkerboard
    rows = [[[255] * 3 if (x + y) % 2 == 0 else [0] * 3 for x in range(16)]
            for y in range(16)]
    img = d.decode_pixels(encode_jpeg_color(rows, subsample=True))
    assert max(abs(img["rows"][y][x][0] - rows[y][x][0])
               for y in range(16) for x in range(16)) <= 10


def test_png_16bit_high_byte_presentation():
    import random
    import struct
    import zlib

    from gearpump_spark.operators.multimodal import PixelDecoder

    def chunk(tag, body):
        return (
            struct.pack(">I", len(body))
            + tag
            + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    rng = random.Random(3)
    w, h = 5, 4
    pixels = [
        [(rng.randrange(65536), rng.randrange(65536), rng.randrange(65536))
         for _ in range(w)]
        for y in range(h)
    ]
    raw = bytearray()
    prior = bytearray(w * 6)
    for y in range(h):
        line = bytearray()
        for r16, g16, b16 in pixels[y]:
            line += struct.pack(">HHH", r16, g16, b16)
        ft = [0, 1, 2, 4][y % 4]  # filters must offset by the 6-byte pixel
        out = bytearray(w * 6)
        for k in range(w * 6):
            a = line[k - 6] if k >= 6 else 0
            b = prior[k]
            c = prior[k - 6] if k >= 6 else 0
            pred = [0, a, b, None, PixelDecoder._paeth(a, b, c)][ft]
            out[k] = (line[k] - pred) & 0xFF
        raw.append(ft)
        raw += out
        prior = line
    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 16, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b""))
    img = PixelDecoder().decode_pixels(png)
    for y in range(h):
        for x in range(w):
            r16, g16, b16 = pixels[y][x]
            assert img["rows"][y][x] == [b16 >> 8, g16 >> 8, r16 >> 8]


def test_jpeg_progressive_matches_baseline_and_handles_eobrun():
    import random

    from gearpump_spark.operators.multimodal import (
        JpegDecoder,
        encode_jpeg_color,
        encode_jpeg_progressive,
    )

    d = JpegDecoder()
    rng = random.Random(12)
    rows = [[[rng.randrange(256) for _ in range(3)] for _ in range(20)]
            for _ in range(12)]
    # same quantized coefficients -> progressive must decode IDENTICALLY
    assert (
        d.decode_pixels(encode_jpeg_progressive(rows))["rows"]
        == d.decode_pixels(encode_jpeg_color(rows))["rows"]
    )
    # smooth image: many all-zero AC blocks exercise per-block EOB codes
    smooth = [[[(x + y) % 256] * 3 for x in range(32)] for y in range(24)]
    assert (
        d.decode_pixels(encode_jpeg_progressive(smooth))["rows"]
        == d.decode_pixels(encode_jpeg_color(smooth))["rows"]
    )
    # truncated progressive stream -> None, never raises
    prog = encode_jpeg_progressive(rows)
    assert d.decode_pixels(prog[: len(prog) // 2]) is None


def test_jpeg_successive_approximation_matches_baseline():
    """Refinement scans (Ah > 0) reconstruct the EXACT baseline
    coefficients: Al=1 first passes + Ah=1 DC/AC refinement must decode
    bit-identically to the baseline encoding of the same raster."""
    import random

    from gearpump_spark.operators.multimodal import (
        JpegDecoder,
        encode_jpeg_color,
        encode_jpeg_progressive,
    )

    d = JpegDecoder()
    rng = random.Random(77)
    # noisy raster: dense AC coefficients exercise correction-bit buffering
    rows = [[[rng.randrange(256) for _ in range(3)] for _ in range(20)]
            for _ in range(12)]
    assert (
        d.decode_pixels(encode_jpeg_progressive(rows, successive=True))["rows"]
        == d.decode_pixels(encode_jpeg_color(rows))["rows"]
    )
    # smooth gradient: all-zero AC blocks exercise EOB-run refinement
    smooth = [[[(x + y) % 256] * 3 for x in range(32)] for y in range(24)]
    assert (
        d.decode_pixels(encode_jpeg_progressive(smooth, successive=True))["rows"]
        == d.decode_pixels(encode_jpeg_color(smooth))["rows"]
    )
    # sparse dots: long zero runs with isolated +-1 coefs exercise the
    # ZRL-with-buffered-correction-bits path (G.1.2.3's trickiest case)
    sparse = [[[255 if (x % 13 == 0 and y % 11 == 0) else 0] * 3
               for x in range(40)] for y in range(40)]
    assert (
        d.decode_pixels(encode_jpeg_progressive(sparse, successive=True))["rows"]
        == d.decode_pixels(encode_jpeg_color(sparse))["rows"]
    )
    # truncated refined stream -> None, never raises
    ref = encode_jpeg_progressive(rows, successive=True)
    assert d.decode_pixels(ref[: len(ref) // 2]) is None


def test_jpeg_422_subsampled():
    """4:2:2 (horizontal-only chroma): constant color decodes exactly
    across odd/even/multi-MCU geometries; smooth-chroma content stays
    within a tighter error bound than 4:2:0 (half the chroma loss)."""
    import math

    from gearpump_spark.operators.multimodal import JpegDecoder, encode_jpeg_color

    d = JpegDecoder()

    def fl(x):
        v = math.floor(x + 0.5)
        return 0 if v < 0 else 255 if v > 255 else v

    for r, g, b in ((10, 200, 70), (255, 0, 128)):
        for w, h in ((1, 1), (5, 3), (17, 9), (16, 16), (33, 7)):
            img = d.decode_pixels(
                encode_jpeg_color([[[b, g, r]] * w for _ in range(h)], subsample="422")
            )
            Y = fl(0.299 * r + 0.587 * g + 0.114 * b)
            cb = fl(128 - 0.168736 * r - 0.331264 * g + 0.5 * b)
            cr = fl(128 + 0.5 * r - 0.418688 * g - 0.081312 * b)
            expect = [
                fl(Y + 1.772 * (cb - 128)),
                fl(Y - 0.344136 * (cb - 128) - 0.714136 * (cr - 128)),
                fl(Y + 1.402 * (cr - 128)),
            ]
            assert img["width"] == w and img["height"] == h
            assert all(px == expect for row in img["rows"] for px in row), (r, g, b, w, h)

    rows = [[[(x * 6) % 256, (y * 7) % 256, ((x + y) * 3) % 256] for x in range(24)]
            for y in range(16)]
    base = d.decode_pixels(encode_jpeg_color(rows))["rows"]
    sub = d.decode_pixels(encode_jpeg_color(rows, subsample="422"))["rows"]
    worst = max(abs(a - b) for rb, rs in zip(base, sub)
                for pb, ps in zip(rb, rs) for a, b in zip(pb, ps))
    sub420 = d.decode_pixels(encode_jpeg_color(rows, subsample=True))["rows"]
    worst420 = max(abs(a - b) for rb, rs in zip(base, sub420)
                   for pb, ps in zip(rb, rs) for a, b in zip(pb, ps))
    assert worst <= worst420  # horizontal-only subsampling loses less


def test_jpeg_restart_intervals_match_unrestarted():
    """DRI/RSTn: byte-aligned restart markers inside the entropy stream
    with DC-predictor resets must decode bit-identically to the same
    raster encoded without restarts — across intervals, geometries, and
    subsampling modes (incl. a padded-0xFF byte right before a marker,
    which must be stuffed)."""
    import random

    from gearpump_spark.operators.multimodal import JpegDecoder, encode_jpeg_color

    d = JpegDecoder()
    rng = random.Random(5)
    for (w, h), mode, dri in [
        ((20, 12), False, 1), ((20, 12), False, 3), ((33, 17), False, 2),
        ((33, 17), "422", 2), ((33, 17), True, 1), ((40, 40), False, 4),
    ]:
        rows = [[[rng.randrange(256) for _ in range(3)] for _ in range(w)]
                for _ in range(h)]
        base = d.decode_pixels(encode_jpeg_color(rows, subsample=mode))
        rst = d.decode_pixels(
            encode_jpeg_color(rows, subsample=mode, restart_interval=dri)
        )
        assert rst is not None and rst["rows"] == base["rows"], (w, h, mode, dri)
    # truncated restart stream -> None, never raises
    rows = [[[rng.randrange(256) for _ in range(3)] for _ in range(24)]
            for _ in range(16)]
    enc = encode_jpeg_color(rows, restart_interval=1)
    assert d.decode_pixels(enc[: len(enc) // 2]) is None


def test_jpeg_progressive_restart_intervals_match_unrestarted():
    """DRI inside PROGRESSIVE scans (r2 advisor finding): every scan type
    — interleaved DC, AC band, DC refinement, AC refinement — realigns at
    RSTn boundaries with DC-predictor and EOB-run resets, decoding
    bit-identically to the unrestarted layout in both the plain and the
    successive-approximation pass structures."""
    import random

    from gearpump_spark.operators.multimodal import (
        JpegDecoder,
        encode_jpeg_progressive,
    )

    d = JpegDecoder()
    rng = random.Random(6)
    rows = [[[rng.randrange(256) for _ in range(3)] for _ in range(20)]
            for _ in range(18)]
    for successive in (False, True):
        ref = d.decode_pixels(encode_jpeg_progressive(rows, successive=successive))
        for ri in (1, 2, 3):
            got = d.decode_pixels(
                encode_jpeg_progressive(
                    rows, successive=successive, restart_interval=ri
                )
            )
            assert got is not None and got["rows"] == ref["rows"], (successive, ri)
    # truncated restart stream -> None, never raises
    enc = encode_jpeg_progressive(rows, successive=True, restart_interval=1)
    assert d.decode_pixels(enc[: len(enc) // 2]) is None


def test_phash_brightness_invariance_and_separation(spark):
    """pHash: the +8-brightness twin of every noise image hashes
    IDENTICALLY (shift lives in the excluded DC coefficient); unrelated
    images stay many bits apart; and the separable DCT matches a direct
    O(N^4) reference."""
    import numpy as np

    from gearpump_spark.operators.multimodal import (
        noise_pair_payload,
        phash64,
        phash_fingerprints,
        synthesize_payloads,
    )

    ids = spark.createDataFrame([(i,) for i in range(40)], "doc_id bigint")
    fps = {r.doc_id: r.phash for r in phash_fingerprints(
        synthesize_payloads(ids, noise_pair_payload)).collect()}
    for g in range(20):
        assert fps[2 * g] == fps[2 * g + 1], g  # near-dup pair collides
    cross = [
        bin((fps[2 * i] ^ fps[2 * j]) & (2**64 - 1)).count("1")
        for i in range(20) for j in range(i + 1, 20)
    ]
    assert min(cross) >= 10  # unrelated patterns far apart

    # separable DCT == direct double-sum DCT on one image
    rows = [[[(x * 37 + y * 91 + (x * y) % 13) % 256] * 3 for x in range(24)]
            for y in range(16)]
    n = 32
    gray = np.empty((n, n))
    for y in range(n):
        for x in range(n):
            b, g2, r = rows[y * 16 // n][x * 24 // n]
            gray[y, x] = 0.299 * r + 0.587 * g2 + 0.114 * b
    d = np.zeros((8, 8))
    for u in range(8):
        for v in range(8):
            d[u, v] = sum(
                gray[yy, xx]
                * np.cos((2 * yy + 1) * u * np.pi / (2 * n))
                * np.cos((2 * xx + 1) * v * np.pi / (2 * n))
                for yy in range(n) for xx in range(n)
            )
    low = d.flatten()[1:]
    med = np.median(low)
    want = 0
    for i, c in enumerate(low):
        if c > med:
            want |= 1 << i
    assert phash64(rows) == want


def test_mp4_box_walker_golden_and_truncation_safe():
    """ISO-BMFF: handcrafted boxes with known parameters parse exactly;
    any truncation returns None without raising; non-MP4 bytes -> None."""
    from gearpump_spark.operators.multimodal import HeaderDecoder, encode_mp4

    d = HeaderDecoder()
    for w, h, ts, mult, nt in [(320, 240, 3000, 3, 2), (16, 64, 1000, 1, 1)]:
        p = encode_mp4(width=w, height=h, timescale=ts, duration=ts * mult,
                       n_tracks=nt)
        assert d.sniff_video(p) == {
            "format": "mp4", "width": w, "height": h,
            "duration_ms": 1000 * mult, "timescale": ts, "n_tracks": nt,
        }
    p = encode_mp4(width=32, height=32, timescale=600, duration=1500)
    assert d.sniff_video(p)["duration_ms"] == 2500  # floor division path
    for cut in range(len(p)):
        d.sniff_video(p[:cut])  # never raises
    assert d.sniff_video(b"not a video") is None
    assert d.sniff_video(b"") is None


def test_phash_banded_pairs_perfect_recall_within_radius(spark):
    """Banded Hamming join: pairs within max_hamming bits are ALWAYS
    found (pigeonhole over 4x16-bit bands), distant pairs never pass the
    popcount filter, and the plan is a bucketed equi-join (SortMergeJoin/
    HashJoin on band+key), not a nested-loop cross product."""
    import contextlib, io

    from gearpump_spark.operators.multimodal import phash_candidate_pairs

    rows = [
        (1, 0b1010_1100),           # base
        (2, 0b1010_1101),           # 1 bit away  -> pair
        (3, 0b1010_1100 ^ 0b111),   # 3 bits away -> pair (at the radius)
        (4, (1 << 50) | 0b1010_1100),  # 1 bit in a HIGH band -> pair
        (5, 0x0F0F0F0F0F0F0F0F),    # far away -> no pair with 1..4
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, phash bigint")
    got = {(r.id_a, r.id_b): r.hamming
           for r in phash_candidate_pairs(df, max_hamming=3).collect()}
    assert got[(1, 2)] == 1 and got[(1, 3)] == 3 and got[(1, 4)] == 1
    assert all(5 not in pair for pair in got)
    # radius beyond the banding guarantee is rejected loudly
    import pytest as _pytest
    with _pytest.raises(ValueError):
        phash_candidate_pairs(df, max_hamming=4)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        phash_candidate_pairs(df, max_hamming=3).explain("formatted")
    assert "NestedLoop" not in buf.getvalue()


def test_mp4_real_world_layouts_and_null_payloads(spark):
    """Review regressions: (a) video dims come from the FIRST track with
    nonzero size (audio tkhds carry 0x0 and usually follow); (b) size==1
    largesize and size==0 to-EOF boxes are legal and must not stop the
    walk; (c) mvhd duration 0xFFFFFFFF means 'unknown' -> null; (d) NULL
    payloads yield null metadata rows, never a task crash; (e) encode_mp4
    rejects out-of-range fields with a clear error."""
    import struct

    import pytest as _pytest

    from gearpump_spark.operators.multimodal import (
        HeaderDecoder,
        decode_video_metadata,
        encode_mp4,
    )

    d = HeaderDecoder()

    def box(typ, body):
        return (8 + len(body)).to_bytes(4, "big") + typ + body

    # (a) video trak then audio trak with 0x0 dims
    base = encode_mp4(width=640, height=480, timescale=600, duration=1200,
                      n_tracks=2)
    # zero out the SECOND trak's dims (audio layout)
    second_tkhd_dims = base.rfind((480 << 16).to_bytes(4, "big"))
    patched = base[: second_tkhd_dims - 4] + bytes(8) + base[second_tkhd_dims + 4:]
    m = d.sniff_video(patched)
    assert (m["width"], m["height"]) == (640, 480)

    # (b) ftyp + largesize mdat + to-EOF-moov still finds metadata
    simple = encode_mp4(width=32, height=16, timescale=1000, duration=2000)
    ftyp_end = 8 + int.from_bytes(simple[0:4], "big") - 8
    ftyp, moov = simple[:ftyp_end], simple[ftyp_end:]
    mdat = (1).to_bytes(4, "big") + b"mdat" + (16 + 4).to_bytes(8, "big") + b"DATA"
    moov_eof = (0).to_bytes(4, "big") + moov[4:]
    m = d.sniff_video(ftyp + mdat + moov_eof)
    assert m and (m["width"], m["duration_ms"]) == (32, 2000)

    # (c) duration-unknown sentinel
    unk = encode_mp4(width=32, height=16, timescale=600, duration=0xFFFFFFFF)
    assert d.sniff_video(unk)["duration_ms"] is None

    # (d) NULL payload row survives end-to-end
    df = spark.createDataFrame(
        [(1, bytearray(simple)), (2, None)], "doc_id bigint, payload binary"
    )
    out = {r.doc_id: r for r in decode_video_metadata(df).collect()}
    assert out[1].width == 32 and out[2].format is None

    # (e) field validation
    for kw in (dict(width=70000), dict(duration=1 << 32), dict(n_tracks=0)):
        with _pytest.raises(ValueError):
            encode_mp4(**{"width": 32, "height": 16, "timescale": 600,
                          "duration": 600, **kw})


def test_mp4_stsd_sample_table_walk_and_truncation_safe():
    """stbl tier: stsd codec fourcc + stsz frame count per handler type
    round-trip through real boxes; legacy containers (no mdia chain)
    yield all-null fields; truncation/garbage never raise."""
    from gearpump_spark.operators.multimodal import HeaderDecoder, encode_mp4

    d = HeaderDecoder()
    enc = encode_mp4(
        width=320, height=240, timescale=1000, duration=5000,
        sample_tables=[
            {"handler": "vide", "codec": "avc1", "n_frames": 150,
             "media_timescale": 600},
            {"handler": "soun", "codec": "mp4a", "n_frames": 430,
             "media_timescale": 44100},
        ],
    )
    assert d.sniff_video_tracks(enc) == {
        "video_codec": "avc1",
        "audio_codec": "mp4a",
        "n_video_frames": 150,
        "video_timescale": 600,
        # default stts = one run at 1 tick/frame -> duration == n_frames
        "video_stts_duration": 150,
    }
    # presentation-level sniff still works: audio track carries 0x0 dims,
    # so width/height come from the video track; both tracks counted
    base = d.sniff_video(enc)
    assert (base["width"], base["height"], base["n_tracks"]) == (320, 240, 2)
    # legacy layout without sample tables -> nulls, not an error
    legacy = encode_mp4(width=64, height=48, timescale=1000, duration=1000, n_tracks=2)
    assert d.sniff_video_tracks(legacy) == {
        "video_codec": None,
        "audio_codec": None,
        "n_video_frames": None,
        "video_timescale": None,
        "video_stts_duration": None,
    }
    # truncation / garbage never raise
    for cut in range(0, len(enc), 11):
        d.sniff_video_tracks(enc[:cut])
    assert d.sniff_video_tracks(b"not an mp4 at all") is None


def test_mp4_mdhd_version1_timescale():
    """ADVICE r3: version-1 mdhd (64-bit times, long recordings) keeps
    the timescale at body offset +20 — it must parse, not NULL out; a
    huge unsigned-32 stsz count survives too (bigint schema)."""
    from gearpump_spark.operators.multimodal import HeaderDecoder, encode_mp4

    d = HeaderDecoder()
    enc = encode_mp4(
        width=320, height=240, timescale=1000, duration=5000,
        sample_tables=[
            {"handler": "vide", "codec": "hev1", "n_frames": 0xFFFF0000,
             "media_timescale": 90000, "mdhd_version": 1},
        ],
    )
    got = d.sniff_video_tracks(enc)
    assert got == {
        "video_codec": "hev1",
        "audio_codec": None,
        "n_video_frames": 0xFFFF0000,  # > int32 max: needs the bigint cols
        "video_timescale": 90000,
        "video_stts_duration": 0xFFFF0000,  # one default 1-tick run
    }
    for cut in range(0, len(enc), 13):
        d.sniff_video_tracks(enc[:cut])


def test_operators_respect_string_id_columns(spark):
    """r3 review finding: every Arrow-map operator derives its output id
    field's name AND type from the input schema — a string-keyed corpus
    (UUID doc ids) must work across the whole family, not just the
    fingerprint ops."""
    from gearpump_spark.operators.multimodal import (
        PixelDecoder,
        decode_image_metadata,
        gif_frame_stats,
        GifDecoder,
        pixel_stats,
    )

    bmp = PixelDecoder.encode_bmp([[[1, 2, 3], [4, 5, 6]]])
    gif = GifDecoder.encode_gif([[[9, 8, 7]]])
    df = spark.createDataFrame(
        [("a-1", bytearray(bmp)), ("b-2", bytearray(gif))],
        "uuid string, payload binary",
    )
    out = {r.uuid: r for r in pixel_stats(df, id_col="uuid").collect()}
    assert out["a-1"].px_sum == 1 + 2 + 3 + 4 + 5 + 6
    meta = {r.uuid: r for r in decode_image_metadata(df, id_col="uuid").collect()}
    assert meta["a-1"].format == "bmp" and meta["b-2"].format == "gif"
    frames = gif_frame_stats(df, id_col="uuid").collect()
    assert [r.uuid for r in frames] == ["b-2"]
    assert frames[0].px_sum == 9 + 8 + 7


def test_jpeg_12bit_extended_sequential_roundtrip():
    """SOF1 12-bit layout: 16-bit DQT entries (Pq=1), level shift 2048,
    extended DC table in the DHT; constant rasters reconstruct exactly
    (presented as the high 8 bits), noisy content stays within 1 8-bit
    step, 8-bit encode is byte-identical in behavior, truncation never
    raises."""
    import random

    from gearpump_spark.operators.multimodal import JpegDecoder

    d = JpegDecoder()
    for v12 in (0, 17, 2048, 3000, 4095):
        for w, h in ((3, 2), (8, 8), (11, 5)):
            enc = JpegDecoder.encode_jpeg_gray([[v12] * w for _ in range(h)], precision=12)
            img = d.decode_pixels(enc)
            assert img is not None
            assert all(
                px == [v12 >> 4] * 3 for row in img["rows"] for px in row
            ), (v12, w, h)
    rng = random.Random(5)
    g = [[2048 + rng.randrange(-200, 200) for _ in range(16)] for _ in range(16)]
    img = d.decode_pixels(JpegDecoder.encode_jpeg_gray(g, precision=12))
    errs = [abs(img["rows"][y][x][0] - (g[y][x] >> 4)) for y in range(16) for x in range(16)]
    assert max(errs) <= 1
    # 8-bit path unchanged; out-of-range samples and bad precision rejected
    assert d.decode_pixels(JpegDecoder.encode_jpeg_gray([[77] * 4 for _ in range(3)]))[
        "rows"
    ][0][0] == [77, 77, 77]
    import pytest as _pytest

    with _pytest.raises(ValueError):
        JpegDecoder.encode_jpeg_gray([[4096]], precision=12)
    with _pytest.raises(ValueError):
        JpegDecoder.encode_jpeg_gray([[1]], precision=10)
    enc = JpegDecoder.encode_jpeg_gray([[1234] * 8 for _ in range(8)], precision=12)
    for cut in range(0, len(enc), 13):
        d.decode_pixels(enc[:cut])


def test_null_payloads_yield_null_rows_across_operator_family(spark):
    """r3 review finding: a NULL payload anywhere in the corpus must
    yield a null/fallback row, never a mid-batch TypeError — uniformly
    across the Arrow-map family, not just the video ops."""
    from gearpump_spark.operators.multimodal import (
        audio_sample_stats,
        decode_audio_metadata,
        decode_image_metadata,
        extract_features,
        gif_frame_stats,
        pixel_stats,
        PixelDecoder,
        resize_images,
        sample_frames,
    )

    bmp = PixelDecoder.encode_bmp([[[1, 2, 3]]])
    df = spark.createDataFrame(
        [(0, bytearray(bmp)), (1, None)], "doc_id bigint, payload binary"
    )
    ps = {r.doc_id: r.px_sum for r in pixel_stats(df).collect()}
    assert ps == {0: 6, 1: None}
    im = {r.doc_id: r.byte_len for r in decode_image_metadata(df).collect()}
    assert im[0] == len(bmp) and im[1] == 0
    au = {r.doc_id: r.format for r in decode_audio_metadata(df).collect()}
    assert au[1] is None
    ss = {r.doc_id: r.n_samples for r in audio_sample_stats(df).collect()}
    assert ss[1] is None
    assert gif_frame_stats(df).count() == 0  # neither payload is a GIF
    # fallback-backed ops stay total functions on empty bytes
    assert resize_images(df, 4, 4).count() == 2
    assert extract_features(df, dim=4).count() == 2
    assert sample_frames(df, n_frames=2).count() == 4


# --- hypothesis fuzz: decoders are TOTAL functions over bytes --------------

from hypothesis import given, settings
from hypothesis import strategies as st


# derandomize: a random example stream twice found pathological decoder
# inputs mid-CI (multi-GB header-driven allocations, since capped) — a
# FIXED example stream keeps this suite's runtime and memory reproducible;
# exploration happens in dev runs (HYPOTHESIS_PROFILE), not the gate.
@settings(max_examples=200, deadline=None, derandomize=True)
@given(st.binary(max_size=400))
def test_decoders_never_raise_on_arbitrary_bytes(data):
    """Every sniffer/decoder returns a value or None for ANY byte string
    — no exception may escape (the mixed-corpus contract: one corrupt
    payload must never fail a 100 TB batch)."""
    from gearpump_spark.operators.multimodal import HeaderDecoder, JpegDecoder

    d = JpegDecoder()
    hd = HeaderDecoder()
    d.decode_pixels_arr(data)
    d.decode_audio_samples(data)
    d.decode_gif_frames_arr(data)
    hd.sniff_image(data)
    hd.sniff_audio(data)
    hd.sniff_video(data)
    hd.sniff_video_tracks(data)


import functools


@functools.lru_cache(maxsize=None)
def _fuzz_fixture(kind: str) -> bytes:
    """Deterministic valid container per format, built once per run."""
    from gearpump_spark.operators import multimodal as M

    rows = [[[7, 8, 9]] * 6 for _ in range(5)]
    if kind == "bmp":
        return M.PixelDecoder.encode_bmp(rows)
    if kind == "png":
        return M.PixelDecoder.encode_png(rows)
    if kind == "gif":
        return M.GifDecoder.encode_gif(rows)
    if kind == "jpeg":
        return M.encode_jpeg_color(rows, subsample=True, restart_interval=1)
    if kind == "jpeg12":
        return M.JpegDecoder.encode_jpeg_gray(
            [[3111] * 6 for _ in range(5)], precision=12
        )
    if kind == "prog":
        return M.encode_jpeg_progressive(rows, successive=True, restart_interval=1)
    if kind == "mp4":
        return M.encode_mp4(
            width=32, height=16, timescale=1000, duration=2000,
            sample_tables=[
                {"handler": "vide", "codec": "avc1", "n_frames": 10,
                 "media_timescale": 600}
            ],
        )
    data = bytes(8)  # wav
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 8000, 1, 8)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


@settings(max_examples=120, deadline=None, derandomize=True)
@given(
    st.sampled_from(["bmp", "png", "gif", "jpeg", "jpeg12", "prog", "wav", "mp4"]),
    st.integers(0, 3_000),
    st.integers(0, 255),
)
def test_decoders_never_raise_on_mutated_valid_containers(kind, pos, val):
    """Flip one byte anywhere in a VALID container: decode must still
    return a value or None, never raise — corrupt-but-plausible headers
    are the dangerous fuzz surface, not pure noise."""
    from gearpump_spark.operators import multimodal as M

    d = M.JpegDecoder()
    hd = M.HeaderDecoder()
    payload = bytearray(_fuzz_fixture(kind))
    payload[pos % len(payload)] ^= val or 0xFF
    payload = bytes(payload)
    d.decode_pixels_arr(payload)
    d.decode_audio_samples(payload)
    d.decode_gif_frames_arr(payload)
    hd.sniff_image(payload)
    hd.sniff_audio(payload)
    hd.sniff_video(payload)
    hd.sniff_video_tracks(payload)


def test_jpeg_411_and_440_one_axis_subsampling():
    """4:1:1 (chroma quartered horizontally, 32x8 MCUs) and 4:4:0
    (chroma halved vertically, 8x16 MCUs) complete the spec-legal
    one-axis layouts: constant color round-trips exactly (means preserve
    constants), restart intervals compose, truncation never raises."""
    from gearpump_spark.operators.multimodal import JpegDecoder, encode_jpeg_color

    d = JpegDecoder()
    for mode in ("411", "440"):
        for w, h in ((5, 3), (33, 17), (8, 16)):
            rows = [[[77, 140, 201]] * w for _ in range(h)]
            ref = d.decode_pixels(encode_jpeg_color(rows))
            got = d.decode_pixels(encode_jpeg_color(rows, subsample=mode))
            assert got is not None and got["rows"] == ref["rows"], (mode, w, h)
        rows = [[[10 * ((x + y) % 9)] * 3 for x in range(33)] for y in range(17)]
        base = d.decode_pixels(encode_jpeg_color(rows, subsample=mode))
        rst = d.decode_pixels(
            encode_jpeg_color(rows, subsample=mode, restart_interval=2)
        )
        assert rst is not None and rst["rows"] == base["rows"], mode
        enc = encode_jpeg_color(rows, subsample=mode)
        assert d.decode_pixels(enc[: len(enc) // 2]) is None


def test_ahash63_brightness_invariance_and_pairing(spark):
    """ahash63 must (a) be invariant under a uniform brightness shift,
    (b) group the LCG noise-pair fixture exactly 2-by-2 at Hamming 0 via
    the banded join, matching a brute-force popcount pairing."""
    import itertools

    from gearpump_spark.operators.multimodal import (
        ahash63,
        ahash_fingerprints,
        noise_pair_payload,
        phash_candidate_pairs,
        synthesize_payloads,
    )

    base = [[[40 + (i * 37 + j * 11) % 160] * 3 for j in range(24)] for i in range(16)]
    shifted = [[[v + 8 for v in px] for px in row] for row in base]
    assert ahash63(base) == ahash63(shifted)
    assert 0 <= ahash63(base) < 1 << 63

    docs = spark.createDataFrame([(i,) for i in range(40)], "doc_id bigint")
    fps = ahash_fingerprints(synthesize_payloads(docs, noise_pair_payload))
    rows = {r.doc_id: r.ahash for r in fps.collect()}
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in phash_candidate_pairs(fps, max_hamming=3, hash_col="ahash").collect()
    }
    brute = {
        (a, b): bin(rows[a] ^ rows[b]).count("1")
        for a, b in itertools.combinations(sorted(rows), 2)
        if bin(rows[a] ^ rows[b]).count("1") <= 3
    }
    assert got == brute
    assert got == {(2 * g, 2 * g + 1): 0 for g in range(20)}


def test_phash63_int_shift_invariance_and_twin_pairing(spark):
    """phash63_int must (a) be EXACTLY invariant under a uniform
    brightness shift (cross-multiplied mean removal cancels it
    identically — not just approximately like the float pHash's DC
    drop), (b) stay inside a signed 63-bit long, (c) separate the LCG
    noise groups while pairing twins at Hamming 0, and (d) agree with a
    from-scratch pure-python reimplementation (independent of numpy
    matmul) on the fixture."""
    import math

    from gearpump_spark.operators.multimodal import (
        _phash_int_basis,
        noise_pair_payload,
        phash63_int,
        phash_int_fingerprints,
        synthesize_payloads,
    )

    base = [[[40 + (i * 37 + j * 11) % 160] * 3 for j in range(24)] for i in range(16)]
    shifted = [[[v + 8 for v in px] for px in row] for row in base]
    assert phash63_int(base) == phash63_int(shifted)
    assert 0 <= phash63_int(base) < 1 << 63

    # (d) independent pure-python mirror (exact big-int arithmetic)
    def mirror(rows):
        h, w = len(rows), len(rows[0])
        sub = [
            [rows[y * h // 32][x * w // 32] for x in range(32)] for y in range(32)
        ]
        g = [[sum(px) // 3 for px in row] for row in sub]
        tot = sum(sum(row) for row in g)
        gp = [[1024 * v - tot for v in row] for row in g]
        B = _phash_int_basis()
        t1 = [
            [sum(B[k][y] * gp[y][x] for y in range(32)) for x in range(32)]
            for k in range(8)
        ]
        dct = [
            [sum(B[k2][x] * t1[k1][x] for x in range(32)) for k2 in range(8)]
            for k1 in range(8)
        ]
        low = [dct[i][j] for i in range(8) for j in range(8)][1:]
        med = sorted(low)[31]
        return sum(1 << i for i, c in enumerate(low) if c > med)

    assert phash63_int(base) == mirror(base)
    # basis sanity: row 0 is the constant 2^11 row (cos 0 = 1 exactly)
    assert _phash_int_basis()[0] == [2048] * 32
    assert _phash_int_basis()[1][0] == round(math.cos(math.pi / 64) * 2048)
    # deep-bit rasters must fail LOUDLY (the int64 bound assumes 8-bit
    # luminance; numpy would wrap silently past it)
    import pytest

    deep = [[[4095] * 3 for _ in range(24)] for _ in range(16)]
    with pytest.raises(ValueError, match="8-bit"):
        phash63_int(deep)

    docs = spark.createDataFrame([(i,) for i in range(40)], "doc_id bigint")
    fps = phash_int_fingerprints(synthesize_payloads(docs, noise_pair_payload))
    rows = {r.doc_id: r.phash for r in fps.collect()}
    for g in range(20):
        assert rows[2 * g] == rows[2 * g + 1], g  # twins collide exactly
    distinct = {rows[2 * g] for g in range(20)}
    assert len(distinct) == 20  # groups separate


def test_mp4_stts_multi_run_fps_walk():
    """stts extension: multi-run (count, delta) tables round-trip — the
    walker's video_stts_duration is Σ count·delta; counts that disagree
    with stsz are an encoder error; truncation never raises."""
    import pytest

    from gearpump_spark.operators.multimodal import HeaderDecoder, encode_mp4

    d = HeaderDecoder()
    enc = encode_mp4(
        width=64, height=64, timescale=1000, duration=1000,
        sample_tables=[
            {"handler": "vide", "codec": "avc1", "n_frames": 30,
             "media_timescale": 600,
             "stts_runs": [(10, 20), (15, 25), (5, 40)]},
        ],
    )
    got = d.sniff_video_tracks(enc)
    assert got["n_video_frames"] == 30
    assert got["video_stts_duration"] == 10 * 20 + 15 * 25 + 5 * 40
    # avg fps = timescale * frames / duration = 600*30/775 ≈ 23.2
    assert abs(600 * 30 / got["video_stts_duration"] - 23.2258) < 1e-3
    with pytest.raises(ValueError, match="sum to n_frames"):
        encode_mp4(
            width=64, height=64, timescale=1000, duration=1000,
            sample_tables=[
                {"handler": "vide", "codec": "avc1", "n_frames": 30,
                 "media_timescale": 600, "stts_runs": [(10, 20)]},
            ],
        )
    for cut in range(0, len(enc), 7):
        d.sniff_video_tracks(enc[:cut])


def test_jfif_app0_roundtrip_transparent_and_safe():
    """APP0/JFIF: density fields round-trip through real bytes; the
    segment is transparent to the pixel decoder (identical raster with
    and without); JFIF-less JPEGs yield all-None fields (not None
    result); non-JPEG yields None; truncation never raises; bad density
    params are encoder errors."""
    import pytest

    from gearpump_spark.operators.multimodal import HeaderDecoder, JpegDecoder

    d = HeaderDecoder()
    img = [[90] * 16] * 8
    enc = JpegDecoder.encode_jpeg_gray(img, jfif=(2, 300, 600))
    assert d.sniff_jfif(enc) == {
        "version_major": 1, "version_minor": 2,
        "units": 2, "xdensity": 300, "ydensity": 600,
    }
    # transparency: decoded pixels identical with/without the segment
    jd = JpegDecoder()
    import numpy as np

    assert np.array_equal(
        jd.decode_pixels_arr(enc)["arr"],
        jd.decode_pixels_arr(JpegDecoder.encode_jpeg_gray(img))["arr"],
    )
    # dimensions sniff still works through the extra segment
    assert d._sniff_jpeg(enc)["width"] == 16
    bare = JpegDecoder.encode_jpeg_gray(img)
    assert d.sniff_jfif(bare) == {
        "version_major": None, "version_minor": None,
        "units": None, "xdensity": None, "ydensity": None,
    }
    assert d.sniff_jfif(b"\x89PNG not a jpeg") is None
    for cut in range(0, len(enc), 7):
        d.sniff_jfif(enc[:cut])
    with pytest.raises(ValueError, match="JFIF"):
        JpegDecoder.encode_jpeg_gray(img, jfif=(3, 72, 72))


def test_exif_orientation_walk_both_endians_and_safe():
    """APP1/Exif: orientation round-trips through real TIFF bytes in
    BOTH byte orders, coexists with JFIF (APP0 first), is transparent
    to the pixel decoder, Exif-less JPEGs yield None fields, corrupt
    TIFF headers degrade to None fields, truncation never raises."""
    import numpy as np
    import pytest

    from gearpump_spark.operators.multimodal import HeaderDecoder, JpegDecoder

    d = HeaderDecoder()
    img = [[70] * 8] * 8
    for bo in ("II", "MM"):
        for o in (1, 5, 8):
            enc = JpegDecoder.encode_jpeg_gray(
                img, jfif=(1, 96, 96), exif_orientation=o, exif_byte_order=bo
            )
            assert d.sniff_exif_orientation(enc) == {
                "orientation": o, "byte_order": bo,
            }, (bo, o)
            assert d.sniff_jfif(enc)["xdensity"] == 96  # APP0 coexists
    enc = JpegDecoder.encode_jpeg_gray(img, exif_orientation=3)
    jd = JpegDecoder()
    assert np.array_equal(
        jd.decode_pixels_arr(enc)["arr"],
        jd.decode_pixels_arr(JpegDecoder.encode_jpeg_gray(img))["arr"],
    )
    assert d.sniff_exif_orientation(JpegDecoder.encode_jpeg_gray(img)) == {
        "orientation": None, "byte_order": None,
    }
    # corrupt TIFF magic -> graceful None fields
    bad = bytearray(enc)
    app1 = bad.find(b"Exif\x00\x00")
    bad[app1 + 6 : app1 + 8] = b"XX"
    assert d.sniff_exif_orientation(bytes(bad))["orientation"] is None
    for cut in range(0, len(enc), 7):
        d.sniff_exif_orientation(enc[:cut])
    with pytest.raises(ValueError, match="orientation"):
        JpegDecoder.encode_jpeg_gray(img, exif_orientation=9)


def test_mulaw_decode_matches_g711_table_values():
    """The integer expansion must reproduce ITU-T G.711 Table 2a anchor
    values: 0x00 -> -32124 (max negative), 0x80 -> +32124 (max positive),
    0x7F and 0xFF -> 0 (+0/-0 both decode to silence)."""
    import struct

    from gearpump_spark.operators.multimodal import PixelDecoder

    data = bytes([0x00, 0x80, 0x7F, 0xFF, 0x1A])
    fmt = struct.pack("<HHIIHH", 7, 1, 8000, 8000, 1, 8)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    payload = b"RIFF" + struct.pack("<I", len(body)) + body
    meta = PixelDecoder().sniff_audio(payload)
    assert meta["codec_tag"] == 7 and meta["bits_per_sample"] == 8
    vals = PixelDecoder().decode_audio_samples(payload)
    # 0x1A: u=0xE5 -> sign, exp=6, mant=5 -> t=(40+132)<<6=11008 -> -10876
    assert vals == [-32124, 32124, 0, 0, -10876]


def test_mulaw_truncated_container_yields_none():
    import struct

    from gearpump_spark.operators.multimodal import PixelDecoder

    fmt = struct.pack("<HHIIHH", 7, 1, 8000, 8000, 1, 8)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    payload = b"RIFF" + struct.pack("<I", len(body)) + body
    assert PixelDecoder().decode_audio_samples(payload) is None


def test_qoi_roundtrip_exercises_all_ops():
    """Encoder/decoder roundtrip over the synthetic corpus must be exact
    and the emitted streams must collectively exercise RUN, DIFF, LUMA,
    INDEX and RGB chunk types."""
    from gearpump_spark.operators.multimodal import PixelDecoder

    dec = PixelDecoder()
    ops_seen = set()
    for i in range(60):
        w, h = 2 + i % 5, 1 + i % 4
        rows = []
        for y in range(h):
            if (y + i) % 3 == 0:
                px = [(13 * i) % 256, (11 * i) % 256, (7 * i) % 256]
                rows.append([list(px) for _ in range(w)])
            elif i % 5 == 0:
                rows.append(
                    [[(i + x + y) % 256, (2 * i + x + y) % 256, (3 * i + x + y) % 256]
                     for x in range(w)]
                )
            else:
                rows.append(
                    [[(i + 3 * x + 7 * y) % 256, (2 * i + 5 * x + y) % 256,
                      (3 * i + x + 11 * y) % 256] for x in range(w)]
                )
        p = PixelDecoder.encode_qoi(rows)
        out = dec.decode_pixels_arr(p)
        assert out is not None and out["width"] == w and out["height"] == h
        assert out["arr"].tolist() == rows, i
        j = 14
        while j < len(p) - 8:
            b0 = p[j]
            if b0 == 0xFE:
                ops_seen.add("RGB"); j += 4
            elif b0 == 0xFF:
                ops_seen.add("RGBA"); j += 5
            else:
                t = b0 >> 6
                ops_seen.add(["INDEX", "DIFF", "LUMA", "RUN"][t])
                j += 2 if t == 2 else 1
    assert {"RUN", "DIFF", "LUMA", "INDEX", "RGB"} <= ops_seen, ops_seen


def test_tiff_decode_both_endians_photometric_and_strips(spark):
    """TIFF decode must normalize WhiteIsZero payloads to the same gray
    values as BlackIsZero, handle II and MM headers, and reassemble
    multi-strip rasters (RowsPerStrip=2)."""
    from gearpump_spark.operators.multimodal import (
        PixelDecoder,
        synthesize_payloads,
        tiff_payload,
    )

    docs = spark.createDataFrame([(i,) for i in range(24)], "doc_id long")
    rows = {
        r["doc_id"]: bytes(r["payload"])
        for r in synthesize_payloads(docs, tiff_payload).collect()
    }
    dec = PixelDecoder()
    for i in range(24):
        w, h = 2 + i % 6, 1 + i % 5
        out = dec.decode_pixels_arr(rows[i])
        assert out is not None and out["width"] == w and out["height"] == h, i
        expect = [
            [[(i + 5 * x + 3 * y) % 256] * 3 for x in range(w)] for y in range(h)
        ]
        assert out["arr"].tolist() == expect, i
        assert rows[i][:2] == (b"II" if i % 2 == 0 else b"MM")


def test_jpeg_lossless_roundtrip_all_predictors_both_precisions():
    """SOF3 encode/decode must be exact for random rasters under every
    spec predictor (1-7) at 8-bit and 12-bit precision (12-bit presents
    the high byte, like the rest of the codec family)."""
    import random

    import numpy as np

    from gearpump_spark.operators.multimodal import JpegDecoder

    dec = JpegDecoder()
    rng = random.Random(3)
    for trial in range(28):
        P = 8 if trial % 4 else 12
        maxv = (1 << P) - 1
        pred = 1 + trial % 7
        w, h = 2 + trial % 6, 1 + trial % 5
        gray = [[rng.randint(0, maxv) for _ in range(w)] for _ in range(h)]
        p = JpegDecoder.encode_jpeg_lossless_gray(gray, precision=P, predictor=pred)
        out = dec.decode_jpeg_arr(p)
        assert out is not None and out["width"] == w and out["height"] == h
        exp = np.array(gray) >> (P - 8)
        assert (out["arr"][:, :, 0] == exp).all(), (trial, P, pred)


def test_packbits_roundtrip_noop_and_truncation():
    """PackBits (TIFF 6.0 §9): encoder/decoder round-trip across packet
    types, replicate runs actually compress, the reserved -128 header is
    skipped, and truncated streams yield None (never raise)."""
    from gearpump_spark.operators.multimodal import PixelDecoder, _packbits_encode

    dec = PixelDecoder()
    rows = [
        b"\x05" * 300,                 # long replicate runs (chunked at 128)
        bytes(range(200)),             # pure literals (chunked at 128)
        b"aabbccddee",                 # length-2 replicates
        b"abcddddddefg",               # literal/run/literal boundary
        b"\x01",                       # single byte
    ]
    for row in rows:
        enc = _packbits_encode(row)
        assert dec._packbits_decode(enc, len(row)) == row
    assert len(_packbits_encode(b"\x05" * 300)) < 300  # RLE really happened
    # reserved no-op header is skipped mid-stream
    enc = _packbits_encode(b"xyz")
    assert dec._packbits_decode(b"\x80" + enc, 3) == b"xyz"
    # truncated replicate and literal streams -> None
    assert dec._packbits_decode(b"\xfe", 3) is None
    assert dec._packbits_decode(b"\x04ab", 5) is None
    assert dec._packbits_decode(b"", 1) is None


def test_tiff_packbits_decode_matches_formula(spark):
    """End-to-end: synthesized PackBits TIFFs decode back to the
    closed-form raster for all three raster classes, both byte orders,
    the WhiteIsZero inversion, and the planted no-op header (id 0 and 42
    are %7 == 0)."""
    from gearpump_spark.operators.multimodal import (
        pixel_stats,
        synthesize_payloads,
        tiff_packbits_payload,
    )

    ids = list(range(12)) + [42]
    df = spark.createDataFrame([(i,) for i in ids], "doc_id bigint")
    got = {
        r.doc_id: (r.width, r.height, r.px_sum)
        for r in pixel_stats(synthesize_payloads(df, tiff_packbits_payload)).collect()
    }
    for i in ids:
        w, h = 3 + i % 9, 1 + i % 6
        if i % 3 == 0:
            g = lambda x, y: (i + 7 * y) % 256
        elif i % 3 == 1:
            g = lambda x, y: (i + 5 * x + 3 * y) % 256
        else:
            g = lambda x, y: (i + 3 * y + x // 2) % 256
        want = 3 * sum(g(x, y) for y in range(h) for x in range(w))
        assert got[i] == (w, h, want), i


def test_bmp_rle8_decode_matches_formula(spark):
    """End-to-end: synthesized RLE8 BMPs decode back to the closed-form
    raster for all four packet classes (encoded runs, absolute mode,
    pair runs, delta jumps with zero-defined skipped pixels)."""
    from gearpump_spark.operators.multimodal import (
        bmp_rle8_payload,
        pixel_stats,
        synthesize_payloads,
    )

    ids = list(range(16))
    df = spark.createDataFrame([(i,) for i in ids], "doc_id bigint")
    got = {
        r.doc_id: (r.width, r.height, r.px_sum)
        for r in pixel_stats(synthesize_payloads(df, bmp_rle8_payload)).collect()
    }
    for i in ids:
        w, h = 4 + i % 8, 1 + i % 5
        cls = i % 4
        def g(x, y):
            if cls == 0:
                return (i + 9 * y) % 256
            if cls == 1:
                return (i + 5 * x + 3 * y) % 256
            if cls == 2:
                return (i + 3 * y + x // 2) % 256
            if x in (1, 2):
                return 0
            if x == 0:
                return (i + 11 * y) % 256
            return (i + 7 * x + 3 * y) % 256
        want = 3 * sum(g(x, y) for y in range(h) for x in range(w))
        assert got[i] == (w, h, want), i


def test_bmp_rle8_malformed_streams_yield_none():
    """Overruns, truncations, and out-of-bounds deltas return None —
    never raise, never loop."""
    from gearpump_spark.operators.multimodal import PixelDecoder

    dec = PixelDecoder()
    palette = b"".join(bytes([j, j, j, 0]) for j in range(256))

    def bmp(stream: bytes, w: int = 4, h: int = 2) -> bytes:
        off = 54 + len(palette)
        return (
            b"BM" + (off + len(stream)).to_bytes(4, "little")
            + b"\x00" * 4 + off.to_bytes(4, "little")
            + (40).to_bytes(4, "little")
            + w.to_bytes(4, "little", signed=True)
            + h.to_bytes(4, "little", signed=True)
            + (1).to_bytes(2, "little") + (8).to_bytes(2, "little")
            + (1).to_bytes(4, "little") + len(stream).to_bytes(4, "little")
            + b"\x00" * 16 + palette + stream
        )

    ok = bmp(b"\x04\x07\x00\x00\x04\x09\x00\x01")  # two encoded rows
    res = dec.decode_pixels_arr(ok)
    assert res is not None and res["width"] == 4 and res["height"] == 2
    assert int(res["arr"].sum()) == 3 * 4 * (7 + 9)
    assert dec.decode_pixels_arr(bmp(b"\x05\x07\x00\x01")) is None  # run > w
    assert dec.decode_pixels_arr(bmp(b"\x04\x07")) is None  # no EOB
    assert dec.decode_pixels_arr(bmp(b"\x00\x05abc")) is None  # abs overrun
    assert dec.decode_pixels_arr(bmp(b"\x00\x02\xff\xff\x00\x01")) is None  # delta oob
    assert (
        dec.decode_pixels_arr(bmp(b"\x00\x00\x00\x00\x02\x07\x00\x01")) is None
    )  # EOL past top row then more data


def test_bmp_rle8_trailing_eol_before_eob_is_legal():
    """Common Windows encoders emit an end-of-line escape after EVERY row
    including the last, then the end-of-bitmap marker — the cursor rests
    at y == h when EOB arrives. A delta may also land exactly on y == h.
    Both are spec-legal and must decode (r7 ADVICE #1: the old loop-top
    y >= h check rejected them)."""
    from gearpump_spark.operators.multimodal import PixelDecoder

    dec = PixelDecoder()
    palette = b"".join(bytes([j, j, j, 0]) for j in range(256))

    def bmp(stream: bytes, w: int = 4, h: int = 2) -> bytes:
        off = 54 + len(palette)
        return (
            b"BM" + (off + len(stream)).to_bytes(4, "little")
            + b"\x00" * 4 + off.to_bytes(4, "little")
            + (40).to_bytes(4, "little")
            + w.to_bytes(4, "little", signed=True)
            + h.to_bytes(4, "little", signed=True)
            + (1).to_bytes(2, "little") + (8).to_bytes(2, "little")
            + (1).to_bytes(4, "little") + len(stream).to_bytes(4, "little")
            + b"\x00" * 16 + palette + stream
        )

    # EOL after every row including the last, then EOB.
    res = dec.decode_pixels_arr(
        bmp(b"\x04\x07\x00\x00\x04\x09\x00\x00\x00\x01")
    )
    assert res is not None and (res["width"], res["height"]) == (4, 2)
    assert int(res["arr"].sum()) == 3 * 4 * (7 + 9)
    # Delta landing exactly on y == h, then EOB (skipped pixels zero).
    res = dec.decode_pixels_arr(bmp(b"\x04\x07\x00\x02\x00\x01\x00\x01"))
    assert res is not None and int(res["arr"].sum()) == 3 * 4 * 7
    # But a pixel-writing packet AT y == h still fails (encoded + absolute),
    # and a second EOL past the top row still fails.
    assert dec.decode_pixels_arr(
        bmp(b"\x04\x07\x00\x00\x04\x09\x00\x00\x01\x07\x00\x01")
    ) is None
    assert dec.decode_pixels_arr(
        bmp(b"\x04\x07\x00\x00\x04\x09\x00\x00\x00\x03abc\x00\x01")
    ) is None
    assert dec.decode_pixels_arr(
        bmp(b"\x04\x07\x00\x00\x04\x09\x00\x00\x00\x00\x00\x01")
    ) is None


def test_bmp_rle8_giant_header_rejected_fast():
    """RLE8 allows a 2-byte end-of-bitmap stream for ANY declared
    dimensions (skipped pixels are zero), so payload length does not
    bound w*h — a 100-byte payload declaring a 65535x65535 raster must
    be rejected by the 2^26-pixel cap, not decoded into gigabytes
    (hypothesis found this as a multi-GB allocation)."""
    from gearpump_spark.operators.multimodal import PixelDecoder

    palette = b"".join(bytes([j, j, j, 0]) for j in range(256))
    stream = b"\x00\x01"  # immediate EOB: a legal stream for any w*h
    off = 54 + len(palette)
    payload = (
        b"BM" + (off + len(stream)).to_bytes(4, "little")
        + b"\x00" * 4 + off.to_bytes(4, "little")
        + (40).to_bytes(4, "little")
        + (65535).to_bytes(4, "little", signed=True)
        + (65535).to_bytes(4, "little", signed=True)
        + (1).to_bytes(2, "little") + (8).to_bytes(2, "little")
        + (1).to_bytes(4, "little") + len(stream).to_bytes(4, "little")
        + b"\x00" * 16 + palette + stream
    )
    assert PixelDecoder().decode_pixels_arr(payload) is None


def test_tiff_giant_strip_count_rejected_fast():
    """A TIFF IFD can declare a 4-byte StripOffsets count up to 2^32;
    materializing that array is a multi-GB Python list from a 100-byte
    payload. The 4096-entry cap must reject it instantly."""
    from gearpump_spark.operators.multimodal import PixelDecoder

    bo = "little"

    def entry(tag, typ, cnt, valfield):
        return (
            tag.to_bytes(2, bo) + typ.to_bytes(2, bo)
            + cnt.to_bytes(4, bo) + valfield
        )

    def short_val(v):
        return v.to_bytes(2, bo) + b"\x00\x00"

    entries = (
        entry(256, 3, 1, short_val(4))
        + entry(257, 3, 1, short_val(2))
        + entry(258, 3, 1, short_val(8))
        + entry(259, 3, 1, short_val(1))
        + entry(262, 3, 1, short_val(1))
        + entry(273, 4, 0xFFFFFF, (200).to_bytes(4, bo))  # giant count
        + entry(277, 3, 1, short_val(1))
        + entry(278, 3, 1, short_val(2))
        + entry(279, 4, 0xFFFFFF, (204).to_bytes(4, bo))
    )
    ifd = (9).to_bytes(2, bo) + entries + (0).to_bytes(4, bo)
    payload = b"II*\x00" + (8).to_bytes(4, bo) + ifd + b"\x00" * 64
    import time

    t0 = time.time()
    assert PixelDecoder().decode_tiff_arr(payload) is None
    assert time.time() - t0 < 1.0


def test_qoi_giant_header_rejected_fast():
    """QOI w/h are 32-bit header fields and the raster is allocated
    before the op walk — a RUN op covers <= 62 px/byte, so any raster
    bigger than 62*len(payload) is undecodable and must be rejected
    before allocation."""
    from gearpump_spark.operators.multimodal import PixelDecoder

    payload = (
        b"qoif"
        + (65535).to_bytes(4, "big") + (65535).to_bytes(4, "big")
        + bytes([3, 0]) + b"\x00" * 16 + b"\x00" * 7 + b"\x01"
    )
    assert PixelDecoder().decode_pixels_arr(payload) is None


# --- encoder golden bytes ----------------------------------------------------

# md5 over the concatenated md5 digests of X_payload(i) for i = 0..63, one
# entry per per-id encoder. Recorded from the batch synthesizers these
# encoders replaced, so every format stays byte-identical — including the
# ones whose queries are rows-only or whose oracles never read the bytes.
ENCODER_GOLDEN_MD5 = {
    "animated_gif": "9e7c62cbdd7ad37ac36eb8d26d2ceeb7",
    "bmp": "6917a226158d24d0d28af50ef92b10cb",
    "bmp_rle8": "84dfc0ce8c40cbce2a482c5da1ee3303",
    "gif": "47d34ea77b4c9d83d18bdecf797cc44c",
    "jpeg": "17aa501ba790a42e86d1be96bfcb12e9",
    "jpeg12": "d69ca5f796bfcf832dd7a2b2918d3e6a",
    "jpeg_411": "f24142b211927af4e51eab585e66d257",
    "jpeg_420": "3ea108673f5f32dc41434b23e535d089",
    "jpeg_422": "f9fed583f65297ccd4b05014e8f4d79d",
    "jpeg_color": "0be4aa8b0d9b611d02f39fa910563358",
    "jpeg_dri": "04318b0bd20cee1ac05563db6ba8ee4e",
    "jpeg_exif": "8a6e6990a840cde32b216fa0062bf4aa",
    "jpeg_jfif": "f88a67ddd36c2e784751769e057caa29",
    "jpeg_lossless": "10b51c8f7ce4dfa4abbd1de927141613",
    "jpeg_progressive": "7a6631b5bad65397c6442e70c142a386",
    "jpeg_refined": "bd1f4c8bb584765cefa94dd8430d5274",
    "mp4": "bf39c770cf74dc0950fca0db99e89468",
    "mp4_fps": "4fe048bbd02e587373d9e2addec42c56",
    "mp4_stsd": "b176baa3f03012f7f6245b3584a41a3e",
    "multidepth_wav": "c9d77fe987026deae149000d1457bcd9",
    "multiformat": "15433dc2f7d92b2072568ad8e79a0a5f",
    "noise_pair": "13fe6c4e3d4ab00f7cb55838994b0136",
    "png": "ac721a1f607fcedd406e943d2e17519f",
    "png_adam7": "241808652db8c4a648a29f01e13a1e4c",
    "png_raster": "bf775413cfaec6d59bd3b6e3081f1eeb",
    "qoi": "98d7df03ee314a882736b0e17d90948b",
    "tiff": "8c8b2859d816082b892f1c7f500eafb1",
    "tiff_packbits": "11b4927543bea73b12893ed1f9e2562c",
    "wav": "a4c0dd0a2c3963efe3186b2d864d8be6",
    "wav_alaw": "b86493953ab76099a16e4a6d365af757",
    "wav_mulaw": "53a33f9a8d8f64b83196965a2df3ec51",
}


@pytest.mark.parametrize("fmt", sorted(ENCODER_GOLDEN_MD5))
def test_encoder_golden_bytes(fmt):
    """Every per-id encoder emits exactly the pinned bytes for ids 0..63
    (no Spark: the encoders are plain functions of the id)."""
    import hashlib

    import gearpump_spark.operators.multimodal as MM

    encode = getattr(MM, f"{fmt}_payload")
    digest = hashlib.md5(
        b"".join(hashlib.md5(encode(i)).digest() for i in range(64))
    ).hexdigest()
    assert digest == ENCODER_GOLDEN_MD5[fmt]


def test_malformed_payload_keeps_63bit_hashes_exact(spark):
    """One undecodable payload in an Arrow batch must not change the
    hashes of the valid images beside it: a null in a column of 63-bit
    ints must not send the batch through float64 (which would round away
    the low bits of every hash before the cast back to bigint)."""
    from gearpump_spark.operators.multimodal import (
        PixelDecoder,
        ahash63,
        ahash_fingerprints,
        noise_pair_payload,
        phash64,
        phash63_int,
        phash_fingerprints,
        phash_int_fingerprints,
    )

    payloads = {i: noise_pair_payload(i) for i in range(16)}
    payloads[16] = b"not an image"
    df = spark.createDataFrame(
        sorted((i, bytearray(p)) for i, p in payloads.items()),
        "doc_id bigint, payload binary",
    ).coalesce(1)  # one partition: the malformed row shares the batch
    dec = PixelDecoder()
    for op, col, hash_fn in (
        (phash_fingerprints, "phash", phash64),
        (ahash_fingerprints, "ahash", ahash63),
        (phash_int_fingerprints, "phash", phash63_int),
    ):
        want = {
            i: hash_fn(dec.decode_pixels_arr(p)["arr"])
            for i, p in payloads.items()
            if i != 16
        }
        # the fixture must hold hashes float64 cannot represent
        assert any(h != int(float(h)) for h in want.values()), col
        want[16] = None
        got = {r.doc_id: r[col] for r in op(df).collect()}
        assert got == want, col
