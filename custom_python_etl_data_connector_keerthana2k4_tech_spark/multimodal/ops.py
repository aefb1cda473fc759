"""Multimodal (image/audio/video) column plumbing (SURVEY §2.3 last row).

Design for 100 TB of opaque media:
- Payloads are ``BinaryType`` columns with a typed metadata struct — Spark
  shuffles/spills binary columns fine; never decode at the storage layer.
- Decode / feature-extract / frame-sample run as Arrow-batched
  ``mapInPandas`` stages: one Python worker per partition, zero-copy
  batches, decode stays colocated with the scan (no collect, no driver
  round-trip). Partition count (not row count) bounds peak memory:
  repartition so `rows_per_partition x payload_size` fits the worker.
- The actual codecs (PIL/librosa/ffmpeg) are NOT in this container. The
  decode kernel is stubbed: if PIL is importable it decodes for real,
  otherwise it falls back to a deterministic fake that parses our synthetic
  header format. The Spark-side plumbing — schema, batching, partitioning,
  UDF signatures — is real and tested (tests/test_multimodal.py).
"""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

FEATURE_DIM = 16

#: Canonical multimodal asset schema: opaque payload + typed metadata.
ASSET_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("modality", T.StringType(), False),  # image | audio | video
        T.StructField("payload", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("sample_rate", T.IntegerType(), True),
                    T.StructField("n_frames", T.IntegerType(), True),
                    T.StructField("format", T.StringType(), True),
                ]
            ),
            True,
        ),
    ]
)

_MAGIC = b"SGMM"  # synthetic header magic for the fake payload format


def assets_from_documents(docs: DataFrame) -> DataFrame:
    """Derive a deterministic multimodal asset table from the ``documents``
    fixture: payload = synthetic header + text bytes, modality by doc_id.

    Pure Column expressions (binary concat/cast) — this is the ingest shape
    a real pipeline would get from ``spark.read.format('binaryFile')``.
    """
    modality = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    width = (F.col("doc_id") % 64 + 1).cast("int")
    height = (F.col("doc_id") % 48 + 1).cast("int")
    payload = F.concat(
        F.lit(_MAGIC),
        F.encode(F.format_string("%05d|%05d|", width, height), "UTF-8"),
        F.encode(F.col("text"), "UTF-8"),
    )
    return docs.select(
        F.col("doc_id").alias("asset_id"),
        modality.alias("modality"),
        payload.alias("payload"),
        F.struct(
            width.alias("width"),
            height.alias("height"),
            F.lit(16000).cast("int").alias("sample_rate"),
            (F.col("n_chars") % 300 + 1).cast("int").alias("n_frames"),
            F.lit("sgmm").alias("format"),
        ).alias("meta"),
    )


def _bmp_gray_pixels(raw: bytes) -> tuple[int, int, list[int]]:
    """Pure-stdlib BMP decode (struct only — no PIL): uncompressed
    24/32-bpp BITMAPINFOHEADER files. Returns (width, height, grayscale
    pixels in visual row-major order, top row first); grayscale is the
    exact integer (r + g + b) // 3. BMP rows are stored bottom-up
    (positive height) with 4-byte row padding; a negative height means
    top-down. Raises ValueError on anything that is not such a BMP."""
    if len(raw) < 54 or raw[:2] != b"BM":
        raise ValueError("not a BMP payload")
    data_off = struct.unpack_from("<I", raw, 10)[0]
    hdr_size = struct.unpack_from("<I", raw, 14)[0]
    if hdr_size < 40:
        raise ValueError(f"unsupported BMP header size {hdr_size}")
    w, h_raw = struct.unpack_from("<ii", raw, 18)
    planes, bpp = struct.unpack_from("<HH", raw, 26)
    compression = struct.unpack_from("<I", raw, 30)[0]
    if compression != 0 or bpp not in (24, 32) or w <= 0 or h_raw == 0:
        raise ValueError(
            f"unsupported BMP variant (bpp={bpp}, compression={compression})"
        )
    top_down = h_raw < 0
    h = abs(h_raw)
    bytes_pp = bpp // 8
    stride = (w * bytes_pp + 3) // 4 * 4
    if data_off + stride * h > len(raw):
        raise ValueError("truncated BMP payload")
    rows = []
    for r in range(h):
        src_row = r if top_down else h - 1 - r
        base = data_off + src_row * stride
        row = []
        for c in range(w):
            o = base + c * bytes_pp
            b_, g_, r_ = raw[o], raw[o + 1], raw[o + 2]  # BGR(A) order
            row.append((r_ + g_ + b_) // 3)
        rows.append(row)
    return w, h, [px for row in rows for px in row]


def _wav_mean_abs(raw: bytes) -> tuple[int, int, int]:
    """Pure-stdlib WAV decode (wave module): returns (sample_rate,
    n_frames, mean absolute 16-bit PCM amplitude). Raises ValueError on
    non-WAV or non-16-bit payloads."""
    import array
    import io
    import wave

    try:
        with wave.open(io.BytesIO(raw)) as wf:
            if wf.getsampwidth() != 2:
                raise ValueError(
                    f"unsupported WAV sample width {wf.getsampwidth()}"
                )
            frames = wf.readframes(wf.getnframes())
            rate, n = wf.getframerate(), wf.getnframes()
    except wave.Error as exc:
        raise ValueError(f"not a WAV payload: {exc}") from exc
    samples = array.array("h")
    samples.frombytes(frames[: len(frames) // 2 * 2])  # WAV PCM is LE; so is the array on this platform
    mean = sum(abs(s) for s in samples) // max(len(samples), 1)
    return rate, n, mean


def _bmp_encode(rows: list[list[tuple[int, int, int]]]) -> bytes:
    """Minimal 24-bpp bottom-up BMP from visual-order RGB rows."""
    h, w = len(rows), len(rows[0])
    stride = (w * 3 + 3) // 4 * 4
    body = bytearray()
    for row in reversed(rows):
        for r, g, b in row:
            body += bytes((b, g, r))
        body += b"\x00" * (stride - w * 3)
    header = struct.pack("<2sIHHI", b"BM", 54 + len(body), 0, 0, 54)
    dib = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 2835, 2835, 0, 0
    )
    return header + dib + bytes(body)


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _paeth(a: int, b: int, c: int) -> int:
    """The PNG Paeth predictor (RFC 2083 §6.6)."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


_ADAM7 = (  # (x0, y0, dx, dy) per pass, RFC 2083 §2.6
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def _png_unfilter(
    data: bytes, pos: int, width: int, nrows: int, channels: int
) -> tuple[list[bytes], int]:
    """Unfilter ``nrows`` scanlines of ``width`` pixels starting at
    ``pos`` (all five filters per RFC 2083; the prior-row predictor
    resets to zeros at the start — each interlace pass filters
    independently). Returns (raw scanlines, next pos)."""
    stride = width * channels
    if len(data) < pos + (stride + 1) * nrows:
        raise ValueError("truncated PNG pixel data")
    out: list[bytes] = []
    prev = bytes(stride)
    for _y in range(nrows):
        ft = data[pos]
        line = bytearray(data[pos + 1 : pos + 1 + stride])
        pos += 1 + stride
        if ft == 1:  # Sub
            for i in range(channels, stride):
                line[i] = (line[i] + line[i - channels]) & 0xFF
        elif ft == 2:  # Up
            for i in range(stride):
                line[i] = (line[i] + prev[i]) & 0xFF
        elif ft == 3:  # Average
            for i in range(stride):
                a = line[i - channels] if i >= channels else 0
                line[i] = (line[i] + (a + prev[i]) // 2) & 0xFF
        elif ft == 4:  # Paeth
            for i in range(stride):
                a = line[i - channels] if i >= channels else 0
                c = prev[i - channels] if i >= channels else 0
                line[i] = (line[i] + _paeth(a, prev[i], c)) & 0xFF
        elif ft != 0:
            raise ValueError(f"unknown PNG filter type {ft}")
        prev = bytes(line)
        out.append(bytes(line))
    return out, pos


def _px_of(line: bytes, c: int, color: int, channels: int) -> tuple[int, int, int]:
    if color in (0, 4):  # gray / gray+alpha
        return (line[c * channels],) * 3
    return (
        line[c * channels], line[c * channels + 1], line[c * channels + 2]
    )


def _png_rgb_rows(raw: bytes) -> tuple[int, int, list[list[tuple[int, int, int]]]]:
    """Pure-stdlib PNG decode (zlib + struct — no PIL): 8-bit gray /
    gray+alpha / RGB / RGBA, BOTH non-interlaced and Adam7-interlaced
    (round 7 — each of the seven passes unfilters independently and
    scatters onto the (x0 + i*dx, y0 + j*dy) grid). Returns (width,
    height, RGB rows in visual order); gray samples replicate to
    (g, g, g); alpha is ignored. All five scanline filters
    (None/Sub/Up/Average/Paeth) per RFC 2083. Raises ValueError on
    anything that is not such a PNG."""
    import zlib

    if not raw.startswith(_PNG_SIG):
        raise ValueError("not a PNG payload")
    pos = len(_PNG_SIG)
    ihdr = None
    idat = bytearray()
    while pos + 8 <= len(raw):
        length, ctype = struct.unpack_from(">I4s", raw, pos)
        pos += 8
        if pos + length + 4 > len(raw):
            raise ValueError("truncated PNG chunk")
        body = raw[pos : pos + length]
        pos += length + 4  # skip CRC (payload integrity is parquet's job)
        if ctype == b"IHDR":
            ihdr = body
        elif ctype == b"IDAT":
            idat += body
        elif ctype == b"IEND":
            break
    if ihdr is None or len(ihdr) < 13 or not idat:
        raise ValueError("PNG missing IHDR/IDAT")
    w, h, depth, color, comp, filt, interlace = struct.unpack(">IIBBBBB", ihdr)
    channels = {0: 1, 2: 3, 4: 2, 6: 4}.get(color)
    if depth != 8 or channels is None or comp != 0 or filt != 0 or interlace not in (0, 1):
        raise ValueError(
            f"unsupported PNG variant (depth={depth}, color={color}, "
            f"interlace={interlace})"
        )
    if w <= 0 or h <= 0:
        raise ValueError("degenerate PNG dimensions")
    try:
        data = zlib.decompress(bytes(idat))
    except zlib.error as exc:
        raise ValueError(f"corrupt PNG stream: {exc}") from exc
    if interlace == 0:
        lines, _ = _png_unfilter(data, 0, w, h, channels)
        return w, h, [
            [_px_of(line, c, color, channels) for c in range(w)]
            for line in lines
        ]
    rows: list[list] = [[None] * w for _ in range(h)]
    pos = 0
    for x0, y0, dx, dy in _ADAM7:
        pw = (w - x0 + dx - 1) // dx
        ph = (h - y0 + dy - 1) // dy
        if pw <= 0 or ph <= 0:
            continue
        lines, pos = _png_unfilter(data, pos, pw, ph, channels)
        for j, line in enumerate(lines):
            y = y0 + j * dy
            for i in range(pw):
                rows[y][x0 + i * dx] = _px_of(line, i, color, channels)
    return w, h, rows


def _png_gray_pixels(raw: bytes) -> tuple[int, int, list[int]]:
    """(width, height, grayscale pixels in visual row-major order) —
    grayscale is the exact integer (r + g + b) // 3, matching the BMP
    decoder, so the SAME image content fingerprints identically through
    either container format."""
    w, h, rows = _png_rgb_rows(raw)
    return w, h, [(r + g + b) // 3 for row in rows for (r, g, b) in row]


def _png_encode(
    rows: list[list[tuple[int, int, int]]], interlace: bool = False
) -> bytes:
    """Minimal 8-bit RGB PNG from visual-order RGB rows (filter 0 per
    scanline, one IDAT). ``interlace=True`` serializes the seven Adam7
    passes with the flag set (decoder-coverage fixtures)."""
    import zlib

    h, w = len(rows), len(rows[0])
    body = bytearray()
    if interlace:
        for x0, y0, dx, dy in _ADAM7:
            pw = (w - x0 + dx - 1) // dx
            ph = (h - y0 + dy - 1) // dy
            if pw <= 0 or ph <= 0:
                continue
            for j in range(ph):
                body.append(0)
                for i in range(pw):
                    body += bytes(rows[y0 + j * dy][x0 + i * dx])
    else:
        for row in rows:
            body.append(0)
            for r, g, b in row:
                body += bytes((r, g, b))

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 1 if interlace else 0)
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(body)))
        + chunk(b"IEND", b"")
    )


_GIF_SIGS = (b"GIF87a", b"GIF89a")
_GIF_INTERLACE_STEP = ((0, 8), (4, 8), (2, 4), (1, 2))  # the four passes


def _lzw_decode(data: bytes, min_code_size: int, expected: int) -> list[int]:
    """GIF-flavor LZW decompression (variable code width 3..12 bits,
    LSB-first bit packing, CLEAR/END control codes) — pure stdlib.
    Stops after ``expected`` indices; raises ValueError on malformed
    streams (out-of-range code, truncation)."""
    if not 2 <= min_code_size <= 11:
        raise ValueError(f"bad LZW min code size {min_code_size}")
    clear, end = 1 << min_code_size, (1 << min_code_size) + 1

    def fresh() -> list[list[int] | None]:
        return [[i] for i in range(clear)] + [None, None]

    table = fresh()
    code_size = min_code_size + 1
    out: list[int] = []
    prev: list[int] | None = None
    acc = nbits = pos = 0
    while len(out) < expected:
        while nbits < code_size:
            if pos >= len(data):
                raise ValueError("truncated LZW stream")
            acc |= data[pos] << nbits
            nbits += 8
            pos += 1
        code = acc & ((1 << code_size) - 1)
        acc >>= code_size
        nbits -= code_size
        if code == clear:
            table = fresh()
            code_size = min_code_size + 1
            prev = None
            continue
        if code == end:
            break
        if prev is None:
            if code >= clear:
                raise ValueError("LZW stream starts with a non-literal code")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + [entry[0]])
        elif code == len(table):
            entry = prev + [prev[0]]
            table.append(entry)
        else:
            raise ValueError(f"LZW code {code} beyond table size {len(table)}")
        out.extend(entry)
        prev = entry
        if len(table) >= (1 << code_size) and code_size < 12:
            code_size += 1
    if len(out) < expected:
        raise ValueError("LZW stream ended before the frame was complete")
    return out[:expected]


def _gif_rgb_rows(raw: bytes) -> tuple[int, int, list[list[tuple[int, int, int]]]]:
    """Pure-stdlib GIF decode (GIF87a/GIF89a): global/local color tables,
    full LZW decompression, interlaced and non-interlaced frames; the
    FIRST image frame is the image (animation frames beyond it are a
    video concern — sample_frames). Returns (width, height, RGB rows in
    visual order). Raises ValueError on malformed payloads (dead-letter
    per record, the BMP/PNG contract)."""
    if raw[:6] not in _GIF_SIGS:
        raise ValueError("not a GIF payload")
    if len(raw) < 13:
        raise ValueError("truncated GIF header")
    packed = raw[10]
    pos = 13
    gct: list[tuple[int, int, int]] | None = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        if pos + 3 * n > len(raw):
            raise ValueError("truncated GIF global color table")
        gct = [tuple(raw[pos + 3 * i : pos + 3 * i + 3]) for i in range(n)]
        pos += 3 * n
    while pos < len(raw):
        b = raw[pos]
        pos += 1
        if b == 0x3B:  # trailer before any image
            raise ValueError("GIF has no image frame")
        if b == 0x21:  # extension: label + sub-blocks (skipped)
            pos += 1
            while pos < len(raw) and raw[pos] != 0:
                pos += raw[pos] + 1
            pos += 1
            continue
        if b != 0x2C:
            raise ValueError(f"unexpected GIF block 0x{b:02x}")
        if pos + 9 > len(raw):
            raise ValueError("truncated GIF image descriptor")
        iw, ih = struct.unpack_from("<HH", raw, pos + 4)
        ipacked = raw[pos + 8]
        pos += 9
        palette = gct
        if ipacked & 0x80:
            n = 2 << (ipacked & 0x07)
            if pos + 3 * n > len(raw):
                raise ValueError("truncated GIF local color table")
            palette = [tuple(raw[pos + 3 * i : pos + 3 * i + 3]) for i in range(n)]
            pos += 3 * n
        if palette is None:
            raise ValueError("GIF frame has no color table")
        if iw <= 0 or ih <= 0:
            raise ValueError("degenerate GIF dimensions")
        if pos >= len(raw):
            raise ValueError("truncated GIF image data")
        min_code_size = raw[pos]
        pos += 1
        data = bytearray()
        while pos < len(raw) and raw[pos] != 0:
            ln = raw[pos]
            if pos + 1 + ln > len(raw):
                raise ValueError("truncated GIF data sub-block")
            data += raw[pos + 1 : pos + 1 + ln]
            pos += 1 + ln
        idx = _lzw_decode(bytes(data), min_code_size, iw * ih)
        npal = len(palette)
        if any(i >= npal for i in idx):
            raise ValueError("GIF pixel index beyond the color table")
        flat = [palette[i] for i in idx]
        src_rows = [flat[r * iw : (r + 1) * iw] for r in range(ih)]
        if ipacked & 0x40:  # interlaced: pass order -> visual order
            rows: list = [None] * ih
            src = iter(src_rows)
            for start, step in _GIF_INTERLACE_STEP:
                for y in range(start, ih, step):
                    rows[y] = next(src)
        else:
            rows = src_rows
        return iw, ih, rows
    raise ValueError("GIF ended before an image frame")


def _gif_gray_pixels(raw: bytes) -> tuple[int, int, list[int]]:
    """(width, height, grayscale pixels) — the exact integer
    (r + g + b) // 3 of the BMP/PNG decoders, so the same image content
    fingerprints identically through any of the three containers."""
    w, h, rows = _gif_rgb_rows(raw)
    return w, h, [(r + g + b) // 3 for row in rows for (r, g, b) in row]


def _gif_encode(
    rows: list[list[tuple[int, int, int]]], interlace: bool = False
) -> bytes:
    """Minimal GIF89a from visual-order RGB rows (<= 256 distinct
    colors): one global color table, one frame, real LZW bit packing
    with a CLEAR emitted before the decoder's table would force a wider
    code (fixed-width literal coding — every conformant decoder reads
    it). ``interlace=True`` writes the frame in the four-pass interlaced
    row order with the flag set (decoder-coverage fixtures)."""
    h, w = len(rows), len(rows[0])
    palette = sorted({px for row in rows for px in row})
    if len(palette) > 256:
        raise ValueError("GIF encoder supports <= 256 distinct colors")
    index = {px: i for i, px in enumerate(palette)}
    bits = max(2, (len(palette) - 1).bit_length())
    table_n = 1 << bits
    clear, end = table_n, table_n + 1
    code_size = bits + 1
    if interlace:
        order = [
            y for start, step in _GIF_INTERLACE_STEP for y in range(start, h, step)
        ]
    else:
        order = list(range(h))
    codes: list[int] = [clear]
    budget = table_n - 2  # literals until the decoder's table would widen
    for y in order:
        for px in rows[y]:
            if budget == 0:
                codes.append(clear)
                budget = table_n - 2
            codes.append(index[px])
            budget -= 1
    codes.append(end)
    acc = nbits = 0
    packed = bytearray()
    for code in codes:
        acc |= code << nbits
        nbits += code_size
        while nbits >= 8:
            packed.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
    if nbits:
        packed.append(acc & 0xFF)
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0xF0 | (bits - 1), 0, 0)
    for i in range(table_n):
        out += bytes(palette[i]) if i < len(palette) else b"\x00\x00\x00"
    out += struct.pack("<BHHHHB", 0x2C, 0, 0, w, h, 0x40 if interlace else 0)
    out.append(bits)
    for i in range(0, len(packed), 255):
        chunk = packed[i : i + 255]
        out.append(len(chunk))
        out += chunk
    out += b"\x00\x3b"
    return bytes(out)


def _decode_payload(payload: bytes | None) -> tuple[int, int, int] | None:
    """Decode kernel: (width, height, mean_value).

    Real paths, tried in order: PIL when importable (any format it
    knows); a pure-stdlib BMP decoder (struct — runs in the stock
    container, no optional deps); a pure-stdlib WAV decoder (wave
    module; width/height have no meaning, so it returns
    (sample_rate, n_frames, mean |amplitude|) — the typed metadata the
    audio modality carries). Fallback: the synthetic SGMM header format.
    A genuinely unknown format raises NotImplementedError — surfaced
    per-record as NULLs by the mapInPandas wrapper (dead-letter
    semantics, reference R7).
    """
    if payload is None:
        return None
    raw = bytes(payload)
    try:
        from io import BytesIO

        from PIL import Image  # type: ignore

        try:
            img = Image.open(BytesIO(raw))
            w, h = img.size
            mean = int(sum(img.convert("L").getdata()) / (w * h))
            return (w, h, mean)
        except Exception:
            # PIL present but the payload is not a PIL-readable image —
            # fall through to the stdlib decoders
            pass
    except ImportError:
        pass
    if raw[:2] == b"BM":
        w, h, gray = _bmp_gray_pixels(raw)
        return (w, h, sum(gray) // max(len(gray), 1))
    if raw.startswith(_PNG_SIG):
        w, h, gray = _png_gray_pixels(raw)
        return (w, h, sum(gray) // max(len(gray), 1))
    if raw[:6] in _GIF_SIGS:
        w, h, gray = _gif_gray_pixels(raw)
        return (w, h, sum(gray) // max(len(gray), 1))
    if raw[:4] == b"RIFF" and raw[8:12] == b"WAVE":
        return _wav_mean_abs(raw)
    if not raw.startswith(_MAGIC):
        raise NotImplementedError(
            "real media decoding requires PIL/librosa/ffmpeg (not in this "
            "container) for formats beyond BMP/PNG/GIF/WAV/SGMM"
        )
    body = raw[len(_MAGIC) :]
    w = int(body[0:5])
    h = int(body[6:11])
    content = body[12:]
    mean = sum(content) // max(len(content), 1)
    return (w, h, mean)


def decode_assets(assets: DataFrame) -> DataFrame:
    """Arrow-batched decode stage: adds decoded_width/height/mean_value and
    a ``decode_error`` column (NULL on success — dead-letter friendly).

    ``mapInPandas``: the iterator sees one Arrow batch at a time, so peak
    memory is bounded by the batch, not the partition.
    """
    out_schema = T.StructType(
        list(ASSET_SCHEMA.fields)
        + [
            T.StructField("decoded_width", T.IntegerType(), True),
            T.StructField("decoded_height", T.IntegerType(), True),
            T.StructField("mean_value", T.IntegerType(), True),
            T.StructField("decode_error", T.StringType(), True),
        ]
    )

    def _decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            widths, heights, means, errs = [], [], [], []
            for payload in pdf["payload"]:
                try:
                    decoded = _decode_payload(payload)
                    if decoded is None:
                        widths.append(None), heights.append(None), means.append(None)
                        errs.append("null payload")
                    else:
                        w, h, m = decoded
                        widths.append(w), heights.append(h), means.append(m)
                        errs.append(None)
                except (NotImplementedError, ValueError) as exc:
                    # NotImplementedError = unknown format (codec gate);
                    # ValueError = corrupt/unsupported BMP/WAV from the
                    # stdlib decoders. Both are per-record dead letters —
                    # one malformed payload must never fail the task.
                    widths.append(None), heights.append(None), means.append(None)
                    errs.append(str(exc)[:120])
            yield pdf.assign(
                decoded_width=pd.array(widths, dtype="Int32"),
                decoded_height=pd.array(heights, dtype="Int32"),
                mean_value=pd.array(means, dtype="Int32"),
                decode_error=errs,
            )

    return assets.mapInPandas(_decode_batches, schema=out_schema)


def extract_features(assets: DataFrame) -> DataFrame:
    """Feature-extraction stage: deterministic FEATURE_DIM-float embedding
    per payload (md5-seeded fake — the real model call is the same plumbing:
    grouped Arrow batches into a Python worker, floats out)."""
    out_schema = T.StructType(
        [
            T.StructField("asset_id", T.LongType(), False),
            T.StructField("modality", T.StringType(), False),
            T.StructField("feature", T.ArrayType(T.FloatType()), True),
        ]
    )

    def _featurize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = []
            for payload in pdf["payload"]:
                if payload is None:
                    feats.append(None)
                    continue
                digest = hashlib.md5(bytes(payload)).digest()
                feats.append(
                    [struct.unpack(">H", digest[2 * i : 2 * i + 2])[0] / 65535.0 for i in range(FEATURE_DIM // 2)]
                    + [b / 255.0 for b in digest[:8]]
                )
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "modality": pdf["modality"],
                    "feature": feats,
                }
            )

    return assets.mapInPandas(_featurize, schema=out_schema)


#: perceptual-hash grid cells (9 x 7 keeps the fingerprint under the
#: BIGINT sign bit, so arithmetic shifts are safe in both engines)
AHASH_CELLS = 63


def _ahash_payload(payload: bytes | None) -> int | None:
    """Average-hash (aHash) of a decoded image: bin the grayscale stream
    into AHASH_CELLS cells (floor-average per cell), set bit k iff cell k
    is strictly above the global mean (compared exactly as
    ``cells * g_k > sum(g)`` — no division). The grayscale stream is a
    REAL decode for BMP payloads (the stdlib struct decoder — visual
    row-major (r+g+b)//3 pixels, so near-identical images land nearby);
    the deterministic SGMM fallback's "pixels" are the content bytes,
    which is what makes the fixture fingerprint replayable in SQL (the
    q50 device). Unknown formats raise NotImplementedError (dead-letter
    per record, reference R7)."""
    if payload is None:
        return None
    raw = bytes(payload)
    if raw[:2] == b"BM":
        _, _, content = _bmp_gray_pixels(raw)
    elif raw.startswith(_PNG_SIG):
        _, _, content = _png_gray_pixels(raw)
    elif raw[:6] in _GIF_SIGS:
        _, _, content = _gif_gray_pixels(raw)
    elif raw.startswith(_MAGIC):
        content = raw[len(_MAGIC) + 12 :]
    else:
        raise NotImplementedError(
            "real perceptual hashing requires PIL (not in this container) "
            "for formats beyond BMP/PNG/GIF/SGMM"
        )
    n = len(content)
    if n == 0:
        # Dead-letter rather than hash-to-0: an all-zero fingerprint would
        # pair every pair of empty assets at Hamming 0, while a brute-force
        # replay from the raw content (q383's oracle) has no rows to hash —
        # the engines must agree that empty media carries no fingerprint.
        raise ValueError("empty media content (no bits to hash)")
    sums = [0] * AHASH_CELLS
    counts = [0] * AHASH_CELLS
    for i, byte in enumerate(content):
        k = i * AHASH_CELLS // n
        sums[k] += byte
        counts[k] += 1
    g = [sums[k] // counts[k] if counts[k] else 0 for k in range(AHASH_CELLS)]
    total = sum(g)
    return sum(1 << k for k in range(AHASH_CELLS) if AHASH_CELLS * g[k] > total)


def ahash_assets(assets: DataFrame) -> DataFrame:
    """Arrow-batched perceptual-hash stage over IMAGE assets: one
    mapInPandas pass emitting (asset_id, ahash, ahash_error). The same
    bounded-batch contract as decode_assets — fingerprints are 8 bytes
    per image no matter the payload size, so this is the standard first
    step of multimodal corpus dedup at 100 TB: hash once, then all
    pairwise work happens on fingerprints, never on payloads."""
    out_schema = T.StructType(
        [
            T.StructField("asset_id", T.LongType(), False),
            T.StructField("ahash", T.LongType(), True),
            T.StructField("ahash_error", T.StringType(), True),
        ]
    )

    def _hash_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            hashes, errs = [], []
            for payload in pdf["payload"]:
                try:
                    h = _ahash_payload(payload)
                    hashes.append(h)
                    errs.append(None if h is not None else "null payload")
                except (NotImplementedError, ValueError) as exc:
                    # same dead-letter contract as decode_assets: corrupt
                    # BMP payloads (ValueError) quarantine per record
                    hashes.append(None)
                    errs.append(str(exc)[:120])
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "ahash": pd.array(hashes, dtype="Int64"),
                    "ahash_error": errs,
                }
            )

    return assets.filter(F.col("modality") == "image").select(
        "asset_id", "payload"
    ).mapInPandas(_hash_batches, schema=out_schema)


def phash_neardup_pairs(
    assets: DataFrame, max_hamming: int = 8, min_band_bits: int = 4
) -> DataFrame:
    """Perceptual near-duplicate IMAGE pairs: aHash fingerprints,
    Hamming-banded exactly like SimHash text near-dup
    (operators/dedup.hamming_band_pairs — balanced bands, pigeonhole-
    lossless, so the banded result equals brute force and sits under a
    brute-force oracle). ``min_band_bits`` forwards to the band guard
    (pass 1 for small audit runs with wide Hamming budgets).
    Returns (id_a, id_b, hamming), id_a < id_b."""
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.dedup import hamming_band_pairs

    hashes = ahash_assets(assets).filter(F.col("ahash").isNotNull())
    return hamming_band_pairs(
        hashes, "asset_id", "ahash", AHASH_CELLS, max_hamming,
        min_band_bits=min_band_bits,
    )


def sample_frames(assets: DataFrame, every_n: int = 10) -> DataFrame:
    """Frame-sampling stage for video assets: explode frame indices
    0, every_n, 2*every_n, ... from metadata — pure Column expressions
    (the heavy per-frame decode would then run through decode_assets)."""
    return (
        assets.filter(F.col("modality") == "video")
        .select(
            "asset_id",
            F.explode(
                F.sequence(
                    F.lit(0),
                    F.greatest(F.col("meta.n_frames") - 1, F.lit(0)),
                    F.lit(every_n),
                )
            ).alias("frame_idx"),
            "meta",
        )
    )
