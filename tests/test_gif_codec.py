"""Stdlib GIF87a/89a codec (multimodal/ops.py, round 7): full LZW
decode (variable code width, CLEAR/END, compound codes, KwKwK),
interlaced frames, color tables; encode round-trips; exact
cross-container aHash parity with the BMP/PNG decoders; dead-letter
contract for corrupt streams — the third real image container behind
the media near-dup path (q383)."""

from __future__ import annotations

import pytest

from custom_python_etl_data_connector_keerthana2k4_tech_spark.multimodal import ASSET_SCHEMA, decode_assets
from custom_python_etl_data_connector_keerthana2k4_tech_spark.multimodal.ops import (
    _ahash_payload,
    _bmp_encode,
    _decode_payload,
    _gif_encode,
    _gif_gray_pixels,
    _gif_rgb_rows,
    _lzw_decode,
    _png_encode,
    ahash_assets,
)


def _pixels(w: int, h: int, ncolors: int = 200):
    pal = [((i * 7) % 256, (i * 11) % 256, (i * i) % 256) for i in range(ncolors)]
    return [[pal[(x * 3 + y * 5) % ncolors] for x in range(w)] for y in range(h)]


def test_gif_roundtrip_plain_and_interlaced():
    rows = _pixels(37, 23)
    for interlace in (False, True):
        raw = _gif_encode(rows, interlace=interlace)
        w, h, got = _gif_rgb_rows(raw)
        assert (w, h) == (37, 23) and got == rows


def test_gif_tiny_palette_and_single_color():
    rows = [[(5, 6, 7)] * 9] * 9
    assert _gif_rgb_rows(_gif_encode(rows))[2] == rows
    two = [[(0, 0, 0), (255, 255, 255)] * 4] * 3
    assert _gif_rgb_rows(_gif_encode(two))[2] == two


def test_lzw_compound_codes_and_kwkwk():
    """Hand-packed REAL LZW streams (the encoder above emits literals
    only, so the decoder's compression path needs its own evidence):
    min_code_size=2 -> clear=4, end=5, width 3.

    [4, 1, 6, 6, 5]: code 6 is first the fresh table entry [1,1]
    (compound), then reused -> [1,1,1,1,1]. [4, 1, 6, 5] exercises the
    KwKwK rule (code == len(table) at arrival)."""
    stream = bytes([0x8C, 0x5D])  # 4,1,6,6,5 LSB-first at width 3
    assert _lzw_decode(stream, 2, 5) == [1, 1, 1, 1, 1]
    kwk = 4 | (1 << 3) | (6 << 6) | (5 << 9)
    assert _lzw_decode(bytes([kwk & 0xFF, kwk >> 8]), 2, 3) == [1, 1, 1]
    with pytest.raises(ValueError):  # code beyond table: corrupt
        bad = 4 | (7 << 3)
        _lzw_decode(bytes([bad & 0xFF, bad >> 8]), 2, 3)
    with pytest.raises(ValueError):  # truncation: corrupt
        _lzw_decode(bytes([0x8C]), 2, 5)


def test_gif_cross_container_hash_parity():
    """The SAME pixels through BMP, PNG, and GIF must produce the SAME
    grayscale stream, decode summary, and aHash — container-independent
    fingerprints are what make the media near-dup join meaningful."""
    rows = _pixels(31, 17)
    bmp, png, gif = _bmp_encode(rows), _png_encode(rows), _gif_encode(rows)
    assert _gif_gray_pixels(gif)[2] == [
        (r + g + b) // 3 for row in rows for (r, g, b) in row
    ]
    assert _ahash_payload(bmp) == _ahash_payload(png) == _ahash_payload(gif)
    assert _decode_payload(bmp) == _decode_payload(png) == _decode_payload(gif)
    # interlacing is a storage order, not content: same fingerprint
    assert _ahash_payload(_gif_encode(rows, interlace=True)) == _ahash_payload(gif)


def test_png_adam7_interlace_roundtrip_and_filters():
    """Adam7 PNG decode (round 7 — the codec trend's last gap): the
    seven passes round-trip for edge sizes where some passes are empty,
    nontrivial scanline filters unfilter per pass, and interlacing is
    storage order, not content (same aHash)."""
    import struct
    import zlib

    from custom_python_etl_data_connector_keerthana2k4_tech_spark.multimodal.ops import (
        _ADAM7,
        _paeth,
        _png_encode,
        _png_rgb_rows,
    )

    rows = _pixels(37, 23)
    for tw, th in [(1, 1), (2, 2), (3, 5), (8, 6), (9, 1), (1, 9), (37, 23)]:
        r2 = [[rows[y % 23][x % 37] for x in range(tw)] for y in range(th)]
        raw = _png_encode(r2, interlace=True)
        w, h, got = _png_rgb_rows(raw)
        assert (w, h) == (tw, th) and got == r2, (tw, th)
    assert _ahash_payload(_png_encode(rows, interlace=True)) == _ahash_payload(
        _png_encode(rows)
    )

    # forward-filter every pass with cycling filter types (our encoder
    # only emits filter 0 — the decoder needs independent evidence for
    # Sub/Up/Average/Paeth inside interlace passes)
    h, w = len(rows), len(rows[0])
    body = bytearray()
    for x0, y0, dx, dy in _ADAM7:
        pw, ph = (w - x0 + dx - 1) // dx, (h - y0 + dy - 1) // dy
        if pw <= 0 or ph <= 0:
            continue
        prev = bytes(pw * 3)
        for j in range(ph):
            line = bytearray()
            for i in range(pw):
                line += bytes(rows[y0 + j * dy][x0 + i * dx])
            ft = (j % 4) + 1 if j % 5 else 0
            enc = bytearray()
            for i in range(len(line)):
                a = line[i - 3] if i >= 3 else 0
                c = prev[i - 3] if i >= 3 else 0
                pred = {0: 0, 1: a, 2: prev[i], 3: (a + prev[i]) // 2,
                        4: _paeth(a, prev[i], c)}[ft]
                enc.append((line[i] - pred) & 0xFF)
            body.append(ft)
            body += enc
            prev = bytes(line)

    def chunk(t, d):
        return (struct.pack(">I", len(d)) + t + d
                + struct.pack(">I", zlib.crc32(t + d) & 0xFFFFFFFF))

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 1)
    filtered = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
                + chunk(b"IDAT", zlib.compress(bytes(body)))
                + chunk(b"IEND", b""))
    assert _png_rgb_rows(filtered)[2] == rows

    # a flag flipped on non-interlaced data = corrupt stream, not a crash
    bad = bytearray(_png_encode(rows))
    bad[28] = 1
    with pytest.raises(ValueError):
        _png_rgb_rows(bytes(bad))


def test_gif_corrupt_payloads_raise_value_error():
    gif = _gif_encode(_pixels(12, 8))
    for bad in (
        gif[:20],                      # truncated mid color table
        gif[:6] + b"\x00" * 7,         # header only, no frame
        b"GIF89a" + b"\xff" * 40,      # garbage blocks
        gif[:-10],                     # truncated LZW data
    ):
        with pytest.raises(ValueError):
            _gif_rgb_rows(bad)


def test_gif_through_spark_stages(spark):
    """decode / ahash stages accept GIF payloads end to end;
    corrupt GIFs dead-letter per record, never fail the job."""
    rows = _pixels(20, 10)
    gif = _gif_encode(rows)
    bmp = _bmp_encode(rows)
    assets = spark.createDataFrame(
        [
            (1, "image", bytearray(gif), (20, 10, None, None, "gif")),
            (2, "image", bytearray(bmp), (20, 10, None, None, "bmp")),
            (3, "image", bytearray(gif[:15]), (20, 10, None, None, "gif")),
        ],
        ASSET_SCHEMA,
    )
    dec = {r.asset_id: r for r in decode_assets(assets).collect()}
    assert dec[1].decode_error is None and dec[1].decoded_width == 20
    assert (dec[1].decoded_width, dec[1].decoded_height, dec[1].mean_value) == (
        dec[2].decoded_width, dec[2].decoded_height, dec[2].mean_value
    )
    assert dec[3].decode_error is not None and dec[3].decoded_width is None
    hashes = {r.asset_id: r for r in ahash_assets(assets).collect()}
    assert hashes[1].ahash == hashes[2].ahash  # container-independent
    assert hashes[3].ahash is None and hashes[3].ahash_error is not None
