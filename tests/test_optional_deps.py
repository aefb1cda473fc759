"""Optional-dependency coverage: these tests SKIP in the stock image (no
PIL, no delta-spark) and run for real wherever the dependency exists —
so the gated branches in multimodal/ops.py and operators/upsert.py are
exercised instead of permanently excluded. The in-image fallbacks
(synthetic SGMM decode, upsert_parquet) are covered by
tests/test_multimodal.py and tests/test_upsert.py.
"""

from __future__ import annotations

import pytest


def test_pil_real_decode_path(spark):
    """With PIL installed, decode_assets must decode a REAL image payload
    (dimensions + mean from the actual pixels), while synthetic SGMM
    payloads still fall through to the fixture parser."""
    PIL = pytest.importorskip("PIL")  # noqa: F841
    import io

    from PIL import Image
    from pyspark.sql import functions as F

    from custom_python_etl_data_connector_keerthana2k4_tech_spark.multimodal.ops import (
        assets_from_documents,
        decode_assets,
    )

    buf = io.BytesIO()
    Image.new("L", (8, 4), color=200).save(buf, format="PNG")
    png = buf.getvalue()

    docs = spark.createDataFrame(
        [(1, "synthetic text body", 19)], "doc_id long, text string, n_chars long"
    )
    synthetic = assets_from_documents(docs)
    real = synthetic.limit(1).selectExpr(
        "asset_id", "'image' AS modality", "payload", "meta"
    ).withColumn("payload", F.lit(png))
    # decode both shapes through the same stage
    out_real = decode_assets(real).collect()[0]
    assert (out_real["decoded_width"], out_real["decoded_height"]) == (8, 4)
    assert out_real["mean_value"] == 200
    assert out_real["decode_error"] is None
    out_syn = decode_assets(synthetic).collect()[0]
    assert out_syn["decode_error"] is None  # SGMM fallback still works


def test_delta_upsert_path(tmp_path):
    """With delta-spark installed, upsert_delta must converge to
    last-write-wins via MERGE (its own session: Delta needs SQL extensions
    the shared fixture session doesn't load)."""
    delta = pytest.importorskip("delta")
    from pyspark.sql import SparkSession

    from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.upsert import upsert_delta

    builder = (
        SparkSession.builder.master("local[2]")
        .appName("delta-gate-test")
        .config("spark.sql.extensions", "io.delta.sql.DeltaSparkSessionExtension")
        .config(
            "spark.sql.catalog.spark_catalog",
            "org.apache.spark.sql.delta.catalog.DeltaCatalog",
        )
    )
    spark = delta.configure_spark_with_delta_pip(builder).getOrCreate()
    try:
        path = str(tmp_path / "dt")
        b1 = spark.createDataFrame(
            [("a", "v1", 1), ("b", "w1", 1)], "k string, v string, ts long"
        )
        b2 = spark.createDataFrame(
            [("a", "v2", 2), ("c", "x1", 1)], "k string, v string, ts long"
        )
        upsert_delta(spark, b1, path, "k", ["ts"])
        upsert_delta(spark, b2, path, "k", ["ts"])
        out = {r["k"]: r["v"] for r in spark.read.format("delta").load(path).collect()}
        assert out == {"a": "v2", "b": "w1", "c": "x1"}
    finally:
        spark.stop()


# -- UNGATED real formats (round 5): stdlib-only BMP and WAV decoders --------
# These run in the stock image — the dead-letter NotImplementedError path
# now has real-format siblings that need no optional dependency.


def _bmp_bytes(pixels: list[list[tuple[int, int, int]]]) -> bytes:
    """Minimal 24-bpp bottom-up BMP from rows of (r, g, b), via struct
    only — an independent writer so the decoder is tested against the
    spec, not against itself."""
    import struct as st

    h, w = len(pixels), len(pixels[0])
    stride = (w * 3 + 3) // 4 * 4
    body = b""
    for row in reversed(pixels):  # bottom-up storage
        line = b"".join(bytes((b, g, r)) for r, g, b in row)
        body += line + b"\x00" * (stride - len(line))
    header = st.pack("<2sIHHI", b"BM", 54 + len(body), 0, 0, 54)
    dib = st.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 2835, 2835, 0, 0)
    return header + dib + body


def _wav_bytes(samples: list[int], rate: int = 8000) -> bytes:
    import io
    import struct as st
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(rate)
        wf.writeframes(b"".join(st.pack("<h", s) for s in samples))
    return buf.getvalue()


def test_bmp_stdlib_decode_ungated(spark):
    from pyspark.sql import functions as F

    from custom_python_etl_data_connector_keerthana2k4_tech_spark.multimodal.ops import (
        ASSET_SCHEMA,
        decode_assets,
    )

    try:
        import PIL  # noqa: F401

        pytest.skip("PIL present: the real-image path takes precedence")
    except ImportError:
        pass

    px = [
        [(255, 0, 0), (0, 255, 0), (0, 0, 255)],   # grays: 85, 85, 85
        [(30, 60, 90), (200, 200, 200), (0, 0, 0)],  # grays: 60, 200, 0
    ]
    exp_mean = (85 * 3 + 60 + 200 + 0) // 6
    assets = spark.createDataFrame(
        [
            (1, "image", _bmp_bytes(px),
             {"width": 3, "height": 2, "sample_rate": 0, "n_frames": 1,
              "format": "bmp"}),
            # round 7: GIF is a supported stdlib codec now, so the
            # unknown-format probe is a JPEG-ish magic instead
            (2, "image", b"\xff\xd8\xff\xe0JPEG-not-really",
             {"width": 1, "height": 1, "sample_rate": 0, "n_frames": 1,
              "format": "jpg"}),
            # a CORRUPT GIF dead-letters with the codec's error, not the
            # PIL gate (it is a real format we decode)
            (3, "image", b"GIF89a not supported",
             {"width": 1, "height": 1, "sample_rate": 0, "n_frames": 1,
              "format": "gif"}),
        ],
        ASSET_SCHEMA,
    )
    rows = {r["asset_id"]: r for r in decode_assets(assets).collect()}
    assert rows[1]["decode_error"] is None
    assert (rows[1]["decoded_width"], rows[1]["decoded_height"]) == (3, 2)
    assert rows[1]["mean_value"] == exp_mean
    assert rows[2]["mean_value"] is None and "PIL" in rows[2]["decode_error"]
    assert rows[3]["mean_value"] is None
    assert "PIL" not in rows[3]["decode_error"]  # real codec path, corrupt data


def test_bmp_perceptual_hash_ungated(spark):
    """Two real BMPs differing in one pixel must pair tightly; a noise
    image must not."""
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.multimodal.ops import (
        ASSET_SCHEMA,
        phash_neardup_pairs,
    )

    w, h = 21, 9  # 189 pixels -> 3 per aHash cell
    base = [
        [((x * 7 + y * 13) % 256,) * 3 for x in range(w)] for y in range(h)
    ]
    tweak = [row[:] for row in base]
    tweak[4][10] = (255, 255, 255)
    noise = [
        [((x * 31 + y * 17 + 97) % 256,) * 3 for x in range(w)]
        for y in range(h)
    ]
    meta = {"width": w, "height": h, "sample_rate": 0, "n_frames": 1,
            "format": "bmp"}
    assets = spark.createDataFrame(
        [
            (1, "image", _bmp_bytes(base), meta),
            (2, "image", _bmp_bytes(tweak), meta),
            (3, "image", _bmp_bytes(noise), meta),
        ],
        ASSET_SCHEMA,
    )
    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in phash_neardup_pairs(assets, max_hamming=4).collect()}
    assert set(pairs) == {(1, 2)}
    assert pairs[(1, 2)] <= 2


def test_wav_stdlib_decode_ungated(spark):
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.multimodal.ops import (
        ASSET_SCHEMA,
        decode_assets,
    )

    samples = [0, 1000, -1000, 500, -2500, 3000]
    exp_mean = sum(abs(s) for s in samples) // len(samples)
    assets = spark.createDataFrame(
        [(1, "audio", _wav_bytes(samples),
          {"width": 0, "height": 0, "sample_rate": 8000,
           "n_frames": len(samples), "format": "wav"})],
        ASSET_SCHEMA,
    )
    r = decode_assets(assets).collect()[0]
    assert r["decode_error"] is None
    # audio decode surfaces (sample_rate, n_frames, mean |amplitude|)
    assert (r["decoded_width"], r["decoded_height"]) == (8000, len(samples))
    assert r["mean_value"] == exp_mean
