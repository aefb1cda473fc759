"""Multimodal column plumbing (SURVEY §2.3): binary payloads, Arrow-batched
decode, feature extraction, frame sampling."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from custom_python_etl_data_connector_keerthana2k4_tech_spark.multimodal import (
    ASSET_SCHEMA,
    FEATURE_DIM,
    assets_from_documents,
    decode_assets,
    extract_features,
    sample_frames,
)
from custom_python_etl_data_connector_keerthana2k4_tech_spark.tables import load


@pytest.fixture(scope="module")
def assets(spark, sf_dir):
    return assets_from_documents(load(spark, sf_dir, "documents").limit(60))


def test_asset_schema(assets):
    # simpleString drops nullability, which legitimately tightens for
    # computed columns (including nested struct fields)
    assert assets.schema.simpleString() == ASSET_SCHEMA.simpleString()
    mods = {r.modality for r in assets.select("modality").distinct().collect()}
    assert mods == {"image", "audio", "video"}


def test_decode_roundtrip(spark, assets):
    decoded = decode_assets(assets)
    rows = decoded.collect()
    assert all(r.decode_error is None for r in rows)
    for r in rows:
        assert r.decoded_width == r.meta.width  # header round-trips
        assert r.decoded_height == r.meta.height
        assert 0 <= r.mean_value <= 255


def test_decode_dead_letter(spark):
    """Unknown format -> per-record error column, not a job failure
    (reference R7 dead-letter semantics, etl_connector.py:199-202)."""
    bad = spark.createDataFrame(
        [(1, "image", bytearray(b"JPEG-not-really"), None)], ASSET_SCHEMA
    )
    row = decode_assets(bad).first()
    assert row.decode_error is not None and "PIL" in row.decode_error
    assert row.decoded_width is None


def test_feature_extraction_deterministic(spark, assets):
    f1 = {r.asset_id: r.feature for r in extract_features(assets).collect()}
    f2 = {r.asset_id: r.feature for r in extract_features(assets).collect()}
    assert f1 == f2
    assert all(len(v) == FEATURE_DIM for v in f1.values())
    assert all(0.0 <= x <= 1.0 for v in f1.values() for x in v)


def test_frame_sampling(assets):
    frames = sample_frames(assets, every_n=10)
    rows = frames.collect()
    assert rows and all(r.frame_idx % 10 == 0 for r in rows)
    per_asset = frames.groupBy("asset_id").agg(
        F.count(F.lit(1)).alias("n"), F.max("frame_idx").alias("mx")
    )
    for r in per_asset.collect():
        assert r.n >= 1 and r.mx <= 300


# -- perceptual-hash near-dup (round 5) ---------------------------------------


def _payload(text: str, w: int = 8, h: int = 6) -> bytes:
    return b"SGMM" + f"{w:05d}|{h:05d}|".encode() + text.encode()


def _mk_assets(spark, items):
    """items: list of (asset_id, modality, payload_bytes)."""
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.multimodal import ASSET_SCHEMA

    rows = [
        (i, m, p, {"width": 8, "height": 6, "sample_rate": 16000,
                   "n_frames": 1, "format": "sgmm"})
        for i, m, p in items
    ]
    return spark.createDataFrame(rows, ASSET_SCHEMA)


def test_ahash_planted_near_identical_media(spark):
    """Two images whose payloads differ by ONE byte must land within a
    tiny Hamming distance and be mined as a pair; an unrelated image must
    not pair with them at a tight threshold."""
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.multimodal import phash_neardup_pairs

    base = "the quick brown fox jumps over the lazy dog " * 8
    tweaked = base[:-5] + "cat  "
    noise = "".join(chr(33 + (i * 47) % 90) for i in range(len(base)))
    assets = _mk_assets(spark, [
        (1, "image", _payload(base)),
        (2, "image", _payload(tweaked)),
        (3, "image", _payload(noise)),
        (4, "audio", _payload(base)),  # non-image: excluded from hashing
    ])
    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in phash_neardup_pairs(assets, max_hamming=6).collect()}
    assert set(pairs) == {(1, 2)}
    assert pairs[(1, 2)] <= 4


def test_ahash_banding_equals_brute_force(spark, sf_dir):
    """Pigeonhole losslessness on the real fixture: the banded pair set
    equals brute force over the Python kernel's fingerprints."""
    from itertools import combinations

    from custom_python_etl_data_connector_keerthana2k4_tech_spark.multimodal import (
        ahash_assets,
        assets_from_documents,
        phash_neardup_pairs,
    )

    d = load(spark, sf_dir, "documents")
    assets = assets_from_documents(d)
    got = sorted(
        tuple(r)
        for r in phash_neardup_pairs(
            assets, max_hamming=16, min_band_bits=1  # wide-budget audit run
        ).collect()
    )
    fps = {
        r["asset_id"]: r["ahash"]
        for r in ahash_assets(assets).collect()
        if r["ahash"] is not None  # empty-content docs dead-letter (round 6)
    }
    exp = sorted(
        (a, b, bin(fps[a] ^ fps[b]).count("1"))
        for a, b in combinations(sorted(fps), 2)
        if bin(fps[a] ^ fps[b]).count("1") <= 16
    )
    assert got == exp and len(exp) > 0


def test_ahash_dead_letter_on_unknown_format(spark):
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.multimodal import ahash_assets

    assets = _mk_assets(spark, [
        (1, "image", b"\x89PNG not really"),
        (2, "image", _payload("hello world, a real sgmm payload")),
        (3, "image", None),
    ])
    rows = {r["asset_id"]: r for r in ahash_assets(assets).collect()}
    assert rows[1]["ahash"] is None and "PIL" in rows[1]["ahash_error"]
    assert rows[2]["ahash"] is not None and rows[2]["ahash_error"] is None
    assert rows[3]["ahash"] is None and rows[3]["ahash_error"] == "null payload"


# -- corrupt/empty payload dead-letter contract (round 6, ADVICE r5) -----------


def test_corrupt_bmp_wav_dead_letter_not_task_failure(spark):
    """A malformed 'BM'/'RIFF' payload (ValueError from the stdlib
    decoders) must quarantine per record exactly like an unknown format
    (NotImplementedError) — never fail the Spark task."""
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.multimodal import decode_assets
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.multimodal.ops import _bmp_encode

    good_bmp = _bmp_encode([[(10, 20, 30), (40, 50, 60)]] * 2)
    truncated_bmp = good_bmp[: len(good_bmp) // 2]
    compressed_bmp = bytearray(good_bmp)
    compressed_bmp[30] = 1  # BI_RLE8: unsupported compression
    bad_wav = b"RIFF" + b"\x00" * 4 + b"WAVE" + b"garbage-not-chunks"
    assets = _mk_assets(spark, [
        (1, "image", good_bmp),
        (2, "image", truncated_bmp),
        (3, "image", bytes(compressed_bmp)),
        (4, "audio", bad_wav),
        (5, "image", _payload("still fine after the corrupt rows")),
    ])
    rows = {r["asset_id"]: r for r in decode_assets(assets).collect()}
    assert rows[1]["decode_error"] is None and rows[1]["decoded_width"] == 2
    assert rows[2]["decode_error"] is not None and rows[2]["mean_value"] is None
    assert "compression" in rows[3]["decode_error"]
    assert rows[4]["decode_error"] is not None
    assert rows[5]["decode_error"] is None and rows[5]["mean_value"] is not None


def test_corrupt_and_empty_payload_ahash_dead_letter(spark):
    """ahash_assets shares the dead-letter contract: corrupt BMPs and
    EMPTY content quarantine per record (an empty asset must not hash to
    0 and pair with every other empty asset — the oracle's brute-force
    replay has no bytes to hash, so neither engine emits it)."""
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.multimodal import ahash_assets
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.multimodal.ops import _bmp_encode

    good_bmp = _bmp_encode([[(10, 20, 30), (40, 50, 60)]] * 2)
    assets = _mk_assets(spark, [
        (1, "image", good_bmp),
        (2, "image", good_bmp[:20]),          # truncated BMP
        (3, "image", _payload("")),            # empty SGMM content
        (4, "image", _payload("has content")),
    ])
    rows = {r["asset_id"]: r for r in ahash_assets(assets).collect()}
    assert rows[1]["ahash"] is not None and rows[1]["ahash_error"] is None
    assert rows[2]["ahash"] is None and rows[2]["ahash_error"] is not None
    assert rows[3]["ahash"] is None and "empty" in rows[3]["ahash_error"]
    assert rows[4]["ahash"] is not None


# -- stdlib PNG codec (round 6) -------------------------------------------------


def _ref_png(rows, color=2, filters=None):
    """Reference PNG encoder for tests: applies a CHOSEN filter type per
    scanline (forward-filtering by inverting ops.py's unfilter formulas),
    so the decoder's Sub/Up/Average/Paeth paths are all exercised against
    ground-truth pixels. rows: visual-order RGB tuples (color=2) or gray
    ints (color=0)."""
    import struct as _struct
    import zlib as _zlib

    from custom_python_etl_data_connector_keerthana2k4_tech_spark.multimodal.ops import _paeth

    ch = 3 if color == 2 else 1
    h, w = len(rows), len(rows[0])
    raw_lines = []
    for row in rows:
        if color == 2:
            raw_lines.append(bytearray(b for px in row for b in px))
        else:
            raw_lines.append(bytearray(row))
    stride = w * ch
    body = bytearray()
    prev = bytes(stride)
    for y, line in enumerate(raw_lines):
        ft = (filters or [0] * h)[y]
        out = bytearray(line)
        if ft == 1:
            for i in range(stride - 1, ch - 1, -1):
                out[i] = (line[i] - line[i - ch]) & 0xFF
        elif ft == 2:
            for i in range(stride):
                out[i] = (line[i] - prev[i]) & 0xFF
        elif ft == 3:
            for i in range(stride):
                a = line[i - ch] if i >= ch else 0
                out[i] = (line[i] - (a + prev[i]) // 2) & 0xFF
        elif ft == 4:
            for i in range(stride):
                a = line[i - ch] if i >= ch else 0
                c = prev[i - ch] if i >= ch else 0
                out[i] = (line[i] - _paeth(a, prev[i], c)) & 0xFF
        body += bytes([ft]) + bytes(out)
        prev = bytes(line)

    def chunk(ctype, data):
        return (
            _struct.pack(">I", len(data)) + ctype + data
            + _struct.pack(">I", _zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    sig = b"\x89PNG\r\n\x1a\n"
    ihdr = _struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    return sig + chunk(b"IHDR", ihdr) + chunk(b"IDAT", _zlib.compress(bytes(body))) + chunk(b"IEND", b"")


def test_png_decode_all_filter_types(spark):
    """Every scanline filter (None/Sub/Up/Average/Paeth) unfilters back
    to the ground-truth pixels; gray and RGB color types both decode."""
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.multimodal.ops import _png_rgb_rows

    rgb = [
        [((x * 37 + y * 91) % 256, (x * 11) % 256, (y * 53) % 256)
         for x in range(7)]
        for y in range(5)
    ]
    for filters in ([0] * 5, [1] * 5, [2] * 5, [3] * 5, [4] * 5,
                    [0, 1, 2, 3, 4]):
        w, h, rows = _png_rgb_rows(_ref_png(rgb, color=2, filters=filters))
        assert (w, h) == (7, 5) and rows == rgb, filters
    gray = [[(x * 29 + y * 17) % 256 for x in range(4)] for y in range(3)]
    w, h, rows = _png_rgb_rows(_ref_png(gray, color=0, filters=[0, 2, 4]))
    assert (w, h) == (4, 3)
    assert rows == [[(g, g, g) for g in row] for row in gray]


def test_png_roundtrip_and_bmp_parity(spark):
    """ops' own encoder roundtrips, and the SAME pixel content decodes
    to the SAME grayscale stream (hence the same aHash) through BMP and
    PNG containers."""
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.multimodal.ops import (
        _ahash_payload,
        _bmp_encode,
        _bmp_gray_pixels,
        _png_encode,
        _png_gray_pixels,
        _png_rgb_rows,
    )

    rgb = [
        [((x * 7 + y * 13) % 256, (x * 3 + 40) % 256, (y * 5 + 9) % 256)
         for x in range(9)]
        for y in range(6)
    ]
    png = _png_encode(rgb)
    assert _png_rgb_rows(png)[2] == rgb
    bmp = _bmp_encode(rgb)
    assert _png_gray_pixels(png) == _bmp_gray_pixels(bmp)
    assert _ahash_payload(png) == _ahash_payload(bmp)


def test_png_decode_resize_through_spark_stages(spark):
    """decode_assets / ahash_assets both serve PNG payloads ungated
    (no PIL), with the dead-letter contract intact for corrupt PNGs."""
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.multimodal import (
        ahash_assets,
        decode_assets,
    )
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.multimodal.ops import (
        _bmp_encode,
        _png_encode,
    )

    rgb = [
        [((x * 31 + y * 3) % 256, (y * 19) % 256, (x * 5) % 256)
         for x in range(8)]
        for y in range(6)
    ]
    png = _png_encode(rgb)
    bad = png[:40]  # truncated: IDAT lost
    # round 7: Adam7 is a REAL decode path now — a flag flipped on
    # non-interlaced data is a CORRUPT interlaced stream (wrong pass
    # byte counts) and must dead-letter, while a genuinely interlaced
    # encode decodes to the same pixels as the plain one
    corrupt_flag = bytearray(png)
    corrupt_flag[28] = 1
    adam7 = _png_encode(rgb, interlace=True)
    assets = _mk_assets(spark, [
        (1, "image", png),
        (2, "image", bad),
        (3, "image", bytes(corrupt_flag)),
        (4, "image", _bmp_encode(rgb)),
        (5, "image", adam7),
    ])
    dec = {r["asset_id"]: r for r in decode_assets(assets).collect()}
    assert dec[1]["decode_error"] is None
    assert (dec[1]["decoded_width"], dec[1]["decoded_height"]) == (8, 6)
    assert dec[2]["decode_error"] is not None and dec[2]["mean_value"] is None
    assert dec[3]["decode_error"] is not None and dec[3]["mean_value"] is None
    # identical pixel content -> identical decoded mean through either
    # container AND either interlacing
    assert dec[1]["mean_value"] == dec[4]["mean_value"] == dec[5]["mean_value"]
    assert dec[5]["decode_error"] is None

    ah = {r["asset_id"]: r for r in ahash_assets(assets).collect()}
    assert ah[1]["ahash"] is not None
    assert ah[1]["ahash"] == ah[4]["ahash"] == ah[5]["ahash"]
    assert ah[2]["ahash"] is None and ah[3]["ahash"] is None
