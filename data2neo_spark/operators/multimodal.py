"""Multimodal columns: image/audio/video as opaque binary columns, with
REAL pure-stdlib decode wherever the format allows it.

* HEADER decode — PNG/JPEG/WAV container parsing (public file formats):
  width/height/sample-rate/duration are genuine parsed metadata.
* PNG PIXEL decode — zlib inflate of the IDAT stream + all five RFC 2083
  scanline filters (:func:`decode_png_pixels`), feeding pixel stats, real
  per-channel features, the pHash near-dup family, and exact pixel-level
  dedup (:func:`image_exact_duplicates` — catches re-encoded duplicates).
* WAV PCM SAMPLE decode — actual data-chunk samples
  (:func:`decode_wav_samples`) with exact integer signal statistics.
* BASELINE JPEG PIXEL decode — pure-python Huffman entropy decode +
  IDCT (:mod:`~data2neo_spark.operators.jpeg`), dispatched through
  :func:`decode_image` into the same stats/pHash/dedup paths;
  progressive/arithmetic streams raise, and the ``fake_feature``
  stand-in remains for payloads without a stdlib decode path.

The synth generators (``synth_media`` / ``synth_images`` /
``synth_audio``) emit payloads whose bytes are built from pure integer
Column expressions (complete PNGs with stored-deflate IDAT + genuine
adler32; WAVs with real s16le sample bytes) — the DuckDB oracle rebuilds
the identical hex per media_id and independently replays the pixel/sample
formulas, so the driver queries verify synth → real bytes → inflate →
unfilter/decode → stats end-to-end against independent SQL arithmetic.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("kind", T.StringType()),        # image | audio | video
    T.StructField("payload", T.BinaryType()),     # opaque bytes
    T.StructField("mime", T.StringType()),
])

FEATURE_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("kind", T.StringType()),
    T.StructField("n_bytes", T.LongType()),
    T.StructField("sha256", T.StringType()),
    T.StructField("format", T.StringType()),      # png | jpeg | wav | null
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("sample_rate", T.IntegerType()),
    T.StructField("duration_ms", T.LongType()),
    T.StructField("px_sum", T.LongType()),        # PNG pixel decode (real)
    T.StructField("px_min", T.IntegerType()),
    T.StructField("px_max", T.IntegerType()),
    T.StructField("feature", T.ArrayType(T.FloatType())),
])


def decode_image(payload: bytes):
    """Decode a PNG or baseline JPEG payload to raw pixels — pure python
    (PNG: zlib inflate + RFC 2083 unfilter; JPEG: Huffman entropy decode
    + IDCT, :mod:`~data2neo_spark.operators.jpeg`), no native imaging
    library.

    Returns ``(width, height, channels, bytes)`` where ``bytes`` is the
    row-major, channel-interleaved 8-bit pixel buffer. Raises
    ``ValueError`` for unrecognized payloads and for format features the
    decoders do not cover (16-bit PNG; progressive/arithmetic JPEG —
    Adam7-interlaced PNGs DO decode).
    """
    pixels = decode_png_pixels(payload)
    if pixels is None:
        from .jpeg import decode_jpeg_pixels

        pixels = decode_jpeg_pixels(payload)
    if pixels is None:
        raise ValueError(
            "decode_image: payload is neither a PNG nor a JPEG "
            "(headers for other containers parse via parse_header)"
        )
    return pixels


_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}  # greyscale, RGB, grey+A, RGBA


def _unfilter_lines(raw, pos, stride, height, bpp):
    """Unfilter ``height`` scanlines of ``stride`` packed bytes starting
    at ``raw[pos]`` (all five RFC 2083 filters); returns
    ``(next_pos, bytearray(height*stride))``."""
    out = bytearray(height * stride)
    for y in range(height):
        if pos >= len(raw):
            raise ValueError("PNG: raw stream truncated")
        f = raw[pos]
        line = bytearray(raw[pos + 1:pos + 1 + stride])
        if len(line) != stride:
            raise ValueError("PNG: raw stream truncated mid-scanline")
        pos += 1 + stride
        prev_off = (y - 1) * stride
        if f == 0:                      # None
            pass
        elif f == 1:                    # Sub
            for x in range(bpp, stride):
                line[x] = (line[x] + line[x - bpp]) & 0xFF
        elif f == 2:                    # Up
            if y > 0:
                for x in range(stride):
                    line[x] = (line[x] + out[prev_off + x]) & 0xFF
        elif f == 3:                    # Average
            for x in range(stride):
                left = line[x - bpp] if x >= bpp else 0
                up = out[prev_off + x] if y > 0 else 0
                line[x] = (line[x] + ((left + up) >> 1)) & 0xFF
        elif f == 4:                    # Paeth
            for x in range(stride):
                a = line[x - bpp] if x >= bpp else 0
                c_up = out[prev_off + x] if y > 0 else 0
                c_ul = out[prev_off + x - bpp] if (y > 0 and x >= bpp) else 0
                p = a + c_up - c_ul
                pa, pb, pc = abs(p - a), abs(p - c_up), abs(p - c_ul)
                if pa <= pb and pa <= pc:
                    pred = a
                elif pb <= pc:
                    pred = c_up
                else:
                    pred = c_ul
                line[x] = (line[x] + pred) & 0xFF
        else:
            raise ValueError(f"PNG: unknown filter type {f} on row {y}")
        out[y * stride:(y + 1) * stride] = line
    return pos, out


def _unpack_row(row, n_samples, bit_depth):
    """Packed scanline bytes → list of sample values (MSB-first within
    each byte for sub-8-bit depths)."""
    if bit_depth == 8:
        return list(row[:n_samples])
    vals = []
    mask = (1 << bit_depth) - 1
    per_byte = 8 // bit_depth
    for x in range(n_samples):
        byte = row[x // per_byte]
        shift = 8 - bit_depth * (x % per_byte + 1)
        vals.append((byte >> shift) & mask)
    return vals


# Adam7 pass grid: (x_start, y_start, x_step, y_step)
_ADAM7 = [(0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
          (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2)]


def decode_png_pixels(b: bytes):
    """Pure-python PNG pixel decode: chunk walk → zlib inflate of the
    concatenated IDAT stream → per-scanline unfilter (all five RFC 2083
    filter types: None/Sub/Up/Average/Paeth) → bit unpack / palette map,
    with Adam7 interlace de-interleaving.

    Returns ``(width, height, channels, pixel_bytes)`` — always 8 bits
    per sample (sub-8-bit greys scale to 0..255, palette indices map to
    their RGB entries) — or ``None`` if the payload is not a PNG. Covers
    the color types greyscale (1/2/4/8-bit), RGB, palette (1/2/4/8-bit +
    PLTE), grey+alpha, RGBA, progressive (Adam7) or not; raises
    ``ValueError`` on 16-bit depth. Chunk CRCs are not verified (the
    zlib adler32 already covers the pixel data).
    """
    import zlib

    if len(b) < 8 or b[:8] != b"\x89PNG\r\n\x1a\n":
        return None
    i = 8
    width = height = None
    bit_depth = color_type = interlace = None
    idat = bytearray()
    plte = None
    while i + 8 <= len(b):
        clen = _be(b, i, 4)
        ctype = b[i + 4:i + 8]
        data = b[i + 8:i + 8 + clen]
        if ctype == b"IHDR":
            if clen < 13:
                raise ValueError("PNG: truncated IHDR")
            width, height = _be(data, 0, 4), _be(data, 4, 4)
            bit_depth, color_type = data[8], data[9]
            interlace = data[12]
        elif ctype == b"PLTE":
            plte = data
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
        i += 12 + clen  # len + type + data + CRC (CRC not verified)
    if width is None:
        raise ValueError("PNG: missing IHDR")
    if not idat:
        raise ValueError("PNG: no IDAT data (header-only payload)")
    is_palette = color_type == 3
    if color_type not in _PNG_CHANNELS and not is_palette:
        raise ValueError(f"PNG: unsupported color type {color_type}")
    if is_palette or color_type == 0:
        if bit_depth not in (1, 2, 4, 8):
            raise ValueError(f"PNG: unsupported bit depth {bit_depth} "
                             f"for color type {color_type}")
    elif bit_depth != 8:
        raise ValueError(f"PNG: unsupported bit depth {bit_depth} "
                         f"(16-bit samples not implemented)")
    if is_palette and not plte:
        raise ValueError("PNG: palette image without PLTE chunk")
    if interlace not in (0, 1):
        raise ValueError(f"PNG: unknown interlace method {interlace}")
    spp = 1 if is_palette else _PNG_CHANNELS[color_type]
    bpp = max(1, (spp * bit_depth) // 8)
    raw = zlib.decompress(bytes(idat))

    # sample grid at full resolution (one int per sample)
    samples = [0] * (width * height * spp)
    if interlace == 0:
        stride = (width * spp * bit_depth + 7) // 8
        if len(raw) != height * (1 + stride):
            raise ValueError(
                f"PNG: raw stream is {len(raw)} bytes, expected "
                f"{height * (1 + stride)}"
            )
        _, packed = _unfilter_lines(raw, 0, stride, height, bpp)
        for y in range(height):
            row = packed[y * stride:(y + 1) * stride]
            samples[y * width * spp:(y + 1) * width * spp] = \
                _unpack_row(row, width * spp, bit_depth)
    else:
        # Adam7: seven independently-filtered sub-images, scattered back
        # onto the full grid
        pos = 0
        for x0, y0, dx, dy in _ADAM7:
            pw = (width - x0 + dx - 1) // dx
            ph = (height - y0 + dy - 1) // dy
            if pw <= 0 or ph <= 0:
                continue
            stride = (pw * spp * bit_depth + 7) // 8
            pos, packed = _unfilter_lines(raw, pos, stride, ph, bpp)
            for r in range(ph):
                vals = _unpack_row(
                    packed[r * stride:(r + 1) * stride], pw * spp, bit_depth)
                y = y0 + r * dy
                for c, v in enumerate(vals):
                    x = x0 + (c // spp) * dx
                    samples[(y * width + x) * spp + (c % spp)] = v
        if pos != len(raw):
            raise ValueError("PNG: interlaced stream has trailing bytes")

    if is_palette:
        px = bytearray()
        for v in samples:
            off = v * 3
            if off + 3 > len(plte):
                raise ValueError(f"PNG: palette index {v} out of range")
            px += plte[off:off + 3]
        return width, height, 3, bytes(px)
    if bit_depth == 8:
        return width, height, spp, bytes(samples)
    scale = 255 // ((1 << bit_depth) - 1)
    return width, height, 1, bytes(v * scale for v in samples)


def pixel_stats(b: bytes):
    """Pixel-level statistics of a decodable PNG or baseline-JPEG
    payload: dict with ``n_px`` (pixel count),
    ``px_sum``/``px_min``/``px_max`` (over all channel bytes) and
    ``channel_means`` (per-channel float means). Returns ``None`` when
    the payload carries no decodable pixel data (header-only synth rows,
    progressive JPEG, WAV, opaque)."""
    try:
        decoded = decode_image(b)
    except ValueError:
        return None
    if decoded is None:
        return None
    w, h, ch, px = decoded
    if not px:
        return None
    sums = [0] * ch
    for i, v in enumerate(px):
        sums[i % ch] += v
    n_px = w * h
    return {
        "n_px": n_px,
        "px_sum": sum(sums),
        "px_min": min(px),
        "px_max": max(px),
        "channel_means": [s / n_px for s in sums],
    }


def _be(b: bytes, off: int, n: int) -> int:
    return int.from_bytes(b[off:off + n], "big")


def _le(b: bytes, off: int, n: int) -> int:
    return int.from_bytes(b[off:off + n], "little")


def parse_png(b: bytes):
    """(width, height) from the IHDR chunk; None if not a PNG."""
    if len(b) < 24 or b[:8] != b"\x89PNG\r\n\x1a\n" or b[12:16] != b"IHDR":
        return None
    return _be(b, 16, 4), _be(b, 20, 4)


def parse_jpeg(b: bytes):
    """(width, height) from the first SOF0/SOF1/SOF2 frame header, found
    by walking the marker segments; None if not a JPEG."""
    if len(b) < 4 or b[0:2] != b"\xff\xd8":
        return None
    i = 2
    while i + 4 <= len(b):
        if b[i] != 0xFF:
            return None
        marker = b[i + 1]
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            i += 2
            continue
        if marker == 0xD9:          # EOI before any SOF
            return None
        seg_len = _be(b, i + 2, 2)
        if marker in (0xC0, 0xC1, 0xC2) and i + 9 <= len(b):
            return _be(b, i + 7, 2), _be(b, i + 5, 2)
        i += 2 + seg_len
    return None


def parse_wav(b: bytes):
    """(sample_rate, n_channels, bits, duration_ms) from the RIFF/fmt/data
    headers (duration from the DECLARED data size — header-only payloads
    parse fine); None if not a WAV."""
    if len(b) < 44 or b[0:4] != b"RIFF" or b[8:12] != b"WAVE":
        return None
    i = 12
    fmt = None
    data_size = None
    while i + 8 <= len(b):
        cid = b[i:i + 4]
        clen = _le(b, i + 4, 4)
        if cid == b"fmt " and i + 24 <= len(b):
            fmt = (_le(b, i + 10, 2), _le(b, i + 12, 4), _le(b, i + 22, 2))
        elif cid == b"data":
            data_size = clen
        i += 8 + clen
        if cid == b"data":
            break
    if fmt is None or data_size is None:
        return None
    channels, rate, bits = fmt
    byte_rate = rate * channels * (bits // 8)
    duration_ms = (data_size * 1000) // byte_rate if byte_rate else 0
    return rate, channels, bits, duration_ms


def parse_header(b: bytes) -> dict:
    """Dispatch on magic bytes → dict of parsed metadata (missing keys
    null): format, width, height, sample_rate, n_channels, duration_ms."""
    out = {"format": None, "width": None, "height": None,
           "sample_rate": None, "n_channels": None, "duration_ms": None}
    b = b or b""
    png = parse_png(b)
    if png is not None:
        out["format"] = "png"
        out["width"], out["height"] = png
        return out
    jpg = parse_jpeg(b)
    if jpg is not None:
        out["format"] = "jpeg"
        out["width"], out["height"] = jpg
        return out
    wav = parse_wav(b)
    if wav is not None:
        out["format"] = "wav"
        (out["sample_rate"], out["n_channels"], _bits,
         out["duration_ms"]) = wav
        return out
    return out


def extract_features(
    media: DataFrame, dim: int = 8, fake_feature: bool = True,
    passthrough: tuple = (),
) -> DataFrame:
    """mapInPandas feature + header + pixel extraction over binary payloads.

    Arrow moves the binary column in batches; per-batch python parses the
    REAL container headers (PNG/JPEG/WAV — :func:`parse_header`) and,
    for PNGs carrying IDAT data, runs the REAL pure-stdlib pixel decode
    (:func:`decode_png_pixels` — zlib inflate + RFC 2083 unfilter) to
    produce ``px_sum``/``px_min``/``px_max`` over all channel bytes.

    The feature vector: with ``fake_feature=True`` (default) it is the
    deterministic sha256-seeded stand-in; with ``fake_feature=False`` it
    is the REAL per-channel pixel means for decodable PNGs and null for
    payloads whose pixel/sample decode needs native codecs this container
    does not ship (JPEG entropy decode, compressed audio). The batch
    shape, schema, and partitioning are exactly what a CLIP/whisper
    extractor would use — swap the feature expression for the model call.

    ``passthrough`` names input columns copied verbatim to the output
    (appended after the feature columns) — carrying ids/URLs/precomputed
    hashes through the extractor without a re-join against the source
    frame (which would compile and scan the payload-synthesis plan twice).
    """
    schema = T.StructType(
        list(FEATURE_SCHEMA.fields)
        + [media.schema[c] for c in passthrough]
    )
    out_cols = [f.name for f in schema.fields]
    extra = list(passthrough)
    feat_dim = dim
    do_fake = fake_feature
    parse = parse_header
    stats = pixel_stats

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hashlib
        import pandas as _pd

        for pdf in batches:
            out = []
            for rec in pdf.to_dict("records"):
                payload = rec["payload"] or b""
                hdr = parse(payload)
                px = (stats(payload)
                      if hdr["format"] in ("png", "jpeg") else None)
                # sha256: oracle-reproducible (DuckDB has sha256, not sha1)
                digest = _hashlib.sha256(payload).digest()
                if do_fake:
                    feature = [b / 255.0 for b in digest[:feat_dim]]
                elif px is not None:
                    feature = [float(m) / 255.0 for m in px["channel_means"]]
                else:
                    feature = None
                row = {
                    "media_id": rec["media_id"],
                    "kind": rec["kind"],
                    "n_bytes": len(payload),
                    "sha256": digest.hex(),
                    "format": hdr["format"],
                    "width": hdr["width"],
                    "height": hdr["height"],
                    "sample_rate": hdr["sample_rate"],
                    "duration_ms": hdr["duration_ms"],
                    "px_sum": px["px_sum"] if px else None,
                    "px_min": px["px_min"] if px else None,
                    "px_max": px["px_max"] if px else None,
                    "feature": feature,
                }
                for c in extra:
                    row[c] = rec[c]
                out.append(row)
            yield _pd.DataFrame(out, columns=out_cols)

    return media.mapInPandas(_run, schema=schema)


def _hx(col, digits: int):
    """Zero-padded UPPERCASE hex of a non-negative int Column — identical
    output to DuckDB's lpad(hex(x), n, '0')."""
    return F.lpad(F.hex(col.cast("long")), digits, "0")


def _byte(col, i: int):
    return F.shiftrightunsigned(col.cast("long"), 8 * i).bitwiseAND(F.lit(255))


def _le16(col):
    return F.concat(_hx(_byte(col, 0), 2), _hx(_byte(col, 1), 2))


def _le32(col):
    return F.concat(*[_hx(_byte(col, i), 2) for i in range(4)])


def synth_media(spark, n: int = 100, seed: int = 42) -> DataFrame:
    """Deterministic synthetic media table with REAL container headers.

    Payloads are built as hex strings of pure integer expressions and
    unhex'd to binary, so the DuckDB oracle reconstructs the identical hex
    per media_id with the same arithmetic and verifies byte length,
    parsed dimensions, and a hash of the exact bytes:

    * ``image`` rows alternate a COMPLETE greyscale PNG — IHDR with small
      formula-derived dimensions plus an IDAT whose zlib stream is a
      stored (uncompressed) deflate block with a genuine adler32 computed
      as an integer aggregate, scanlines exercising the None/Sub/Up
      filters (chunk CRCs are zero placeholders; the pixel data is
      covered by the adler32, which :func:`decode_png_pixels` verifies
      via ``zlib.decompress``) — and a minimal JPEG (SOF0 frame header);
    * ``audio`` rows are a 44-byte WAV header (RIFF/fmt/data) with
      formula-derived sample rate / channels / declared data size;
    * ``video`` rows are opaque bytes (the sha256 digest of seed‖id) —
      the unknown-format path stays exercised.
    """
    rows = spark.range(n).select(F.col("id").alias("media_id"))
    mid = F.col("media_id")
    w = (F.lit(16) + (mid * 7) % 240).cast("long")
    h = (F.lit(16) + (mid * 11) % 240).cast("long")

    # --- complete greyscale PNG with real pixel data (small dims) ---
    pw = (F.lit(2) + (mid * 7) % 14).cast("long")    # 2..15
    ph = (F.lit(2) + (mid * 11) % 13).cast("long")   # 2..14

    def _px(x, y):
        """pixel(x, y) = (mid*31 + y*7 + x*13) % 256 — SQL-replayable."""
        return (mid * 31 + y * 7 + x * 13) % 256

    # scanlines: y=0 filter None (raw pixels), odd y filter Sub (delta of
    # the pixel formula along x is the constant 13), even y>0 filter Up
    # (delta along y is the constant 7) — all three unfilter paths real.
    scan_hex = F.transform(
        F.sequence(F.lit(0), (ph - 1).cast("int")),
        lambda y: F.when(
            y == 0,
            F.concat(
                F.lit("00"),
                F.array_join(
                    F.transform(
                        F.sequence(F.lit(0), (pw - 1).cast("int")),
                        lambda x: _hx(_px(x, y), 2),
                    ),
                    "",
                ),
            ),
        )
        .when(
            y % 2 == 1,
            F.concat(
                F.lit("01"), _hx(_px(F.lit(0), y), 2),
                F.repeat(F.lit("0D"), (pw - 1).cast("int")),
            ),
        )
        .otherwise(F.concat(F.lit("02"), F.repeat(F.lit("07"), pw.cast("int")))),
    )
    raw_hex = F.array_join(scan_hex, "")
    n_raw = ph * (pw + 1)

    def _raw_byte(i):
        """byte i of the filtered stream, from the same formulas."""
        y = F.floor(i / (pw + 1))
        r = i % (pw + 1)
        x = r - 1
        return (
            F.when(r == 0,
                   F.when(y == 0, F.lit(0))
                   .when(y % 2 == 1, F.lit(1)).otherwise(F.lit(2)))
            .when(y == 0, _px(x, y))
            .when(y % 2 == 1, F.when(x == 0, _px(F.lit(0), y)).otherwise(F.lit(13)))
            .otherwise(F.lit(7))
        ).cast("long")

    # adler32 of the raw stream: a = (1+Σd) mod 65521,
    # b = (n + Σ(n-i)·d_i) mod 65521. Both sums ride ONE long accumulator
    # (Σd in the low 32 bits, Σ(n-i)·d above — Σd ≤ 57k, Σ(n-i)·d ≤ 13M,
    # no overlap) so the per-byte CASE appears once in the plan: Spark's
    # codegen does no CSE across lambda bodies and the doubled expression
    # tree measurably slows compilation.
    packed = F.aggregate(
        F.sequence(F.lit(0), (n_raw - 1).cast("int")),
        F.lit(0).cast("long"),
        lambda acc, i: acc + _raw_byte(i) * (1 + (n_raw - i) * F.lit(4294967296)),
    )
    s1 = packed % F.lit(4294967296)
    sw = F.floor(packed / F.lit(4294967296))
    adler = ((n_raw + sw) % 65521) * 65536 + (1 + s1) % 65521
    zlib_hex = F.concat(
        F.lit("780101"),                       # zlib hdr + final stored block
        _le16(n_raw), _le16(F.lit(65535) - n_raw),
        raw_hex, _hx(adler, 8),
    )
    png_hex = F.concat(
        F.lit("89504E470D0A1A0A"),
        F.lit("0000000D49484452"), _hx(pw, 8), _hx(ph, 8),
        F.lit("080000000000000000"),           # grey/8-bit + CRC placeholder
        _hx(n_raw + 11, 8), F.lit("49444154"), zlib_hex, F.lit("00000000"),
        F.lit("0000000049454E44AE426082"),
    )
    jpeg_hex = F.concat(
        F.lit("FFD8FFC0001108"), _hx(h, 4), _hx(w, 4),
        F.lit("03"), F.lit("00" * 9), F.lit("FFD9"),
    )
    rate = (F.lit(8000) + (mid % 5) * 4000).cast("long")
    ch = (F.lit(1) + mid % 2).cast("long")
    data_size = ((mid % 50 + 1) * 1000).cast("long")
    byte_rate = rate * ch * 2
    block_align = ch * 2
    wav_hex = F.concat(
        F.lit("52494646"), _le32(data_size + 36), F.lit("57415645"),
        F.lit("666D7420"), F.lit("10000000"), F.lit("0100"),
        _le16(ch), _le32(rate), _le32(byte_rate), _le16(block_align),
        F.lit("1000"), F.lit("64617461"), _le32(data_size),
    )
    opaque_hex = F.upper(
        F.sha2(F.concat(F.lit(str(seed)), mid.cast("string")), 256)
    )
    hex_expr = (
        F.when((mid % 3 == 0) & ((mid / 3).cast("long") % 2 == 0), png_hex)
        .when(mid % 3 == 0, jpeg_hex)
        .when(mid % 3 == 1, wav_hex)
        .otherwise(opaque_hex)
    )
    kind = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (mid % 3 + 1).cast("int"),
    )
    mime = (
        F.when((mid % 3 == 0) & ((mid / 3).cast("long") % 2 == 0),
               F.lit("image/png"))
        .when(mid % 3 == 0, F.lit("image/jpeg"))
        .when(mid % 3 == 1, F.lit("audio/wav"))
        .otherwise(F.lit("application/octet-stream"))
    )
    return rows.select(
        "media_id",
        kind.alias("kind"),
        F.unhex(hex_expr).alias("payload"),
        mime.alias("mime"),
    )


# ---------------------------------------------------------------------------
# Perceptual hashing (pHash) — image near-duplicate detection
# ---------------------------------------------------------------------------

# DCT-II basis scaled to integers: round(cos(pi*(2n+1)*k/16) * 4096).
# An integer table makes the hash bit-identical across engines (the DuckDB
# oracle inlines the same constants) — float DCT would be summation-order
# sensitive.
PHASH_DCT_Q = (
    (4096, 4096, 4096, 4096, 4096, 4096, 4096, 4096),
    (4017, 3406, 2276, 799, -799, -2276, -3406, -4017),
    (3784, 1567, -1567, -3784, -3784, -1567, 1567, 3784),
    (3406, -799, -4017, -2276, 2276, 4017, 799, -3406),
    (2896, -2896, -2896, 2896, 2896, -2896, -2896, 2896),
    (2276, -4017, 799, 3406, -3406, -799, 4017, -2276),
    (1567, -3784, 3784, -1567, -1567, 3784, -3784, 1567),
    (799, -2276, 3406, -4017, 4017, -3406, 2276, -799),
)

PHASH_BITS = 63  # 8×8 DCT block minus the DC term — fits a signed long


def phash_py(width: int, height: int, channels: int, pixels: bytes) -> int:
    """63-bit perceptual hash of a decoded pixel buffer (pure integers).

    8×8 greyscale grid sampled nearest-neighbor (gray = floor-mean of the
    channel bytes), 2-D integer DCT with :data:`PHASH_DCT_Q`, then one bit
    per non-DC coefficient: 1 iff the coefficient exceeds the median of
    the 63 non-DC values (median = exact middle element — 63 is odd, no
    interpolation). Every step is integer arithmetic, so the DuckDB
    oracle replays it bit-for-bit."""
    grid = [[0] * 8 for _ in range(8)]
    for v in range(8):
        y = (v * height) // 8
        for u in range(8):
            x = (u * width) // 8
            off = (y * width + x) * channels
            grid[u][v] = sum(pixels[off:off + channels]) // channels
    vals = []
    for k in range(8):
        ck = PHASH_DCT_Q[k]
        for l in range(8):
            cl = PHASH_DCT_Q[l]
            vals.append(sum(
                ck[u] * cl[v] * grid[u][v] for u in range(8) for v in range(8)
            ))
    med = sorted(vals[1:])[31]
    h = 0
    for i in range(1, 64):
        if vals[i] > med:
            h |= 1 << (i - 1)
    return h


def with_phash(media: DataFrame) -> DataFrame:
    """(media_id, kind, phash) — pHash over every decodable PNG payload
    via Arrow ``mapInPandas`` (decode + hash are per-row python over
    batched binary columns; payloads needing native codecs get null)."""
    schema = T.StructType([
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("phash", T.LongType()),
    ])

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as _pd

        for pdf in batches:
            out = []
            for rec in pdf.to_dict("records"):
                payload = rec["payload"] or b""
                try:
                    decoded = decode_image(payload)   # PNG or baseline JPEG
                except ValueError:
                    decoded = None
                ph = phash_py(*decoded) if decoded else None
                out.append({"media_id": rec["media_id"],
                            "kind": rec["kind"], "phash": ph})
            yield _pd.DataFrame(out, columns=["media_id", "kind", "phash"])

    return media.mapInPandas(_run, schema=schema)


def phash_near_duplicates(
    media: DataFrame, max_hamming: int = 12, max_bucket_size=None,
    observation=None,
) -> DataFrame:
    """Near-duplicate image pairs: pHash signatures + the same pigeonhole
    Hamming-blocked join SimHash text dedup uses (exact recall, one
    groupBy — never all-pairs). Non-decodable payloads drop out before
    the join. Returns (id_a, id_b, hamming)."""
    from .dedup import hamming_near_duplicates

    sig = with_phash(media).where(F.col("phash").isNotNull())
    return hamming_near_duplicates(
        sig, "media_id", "phash", max_hamming=max_hamming, bits=PHASH_BITS,
        max_bucket_size=max_bucket_size, observation=observation,
    )


def synth_images(spark, n: int = 120, size: int = 16,
                 filter_mode: str = "none", id_offset: int = 0) -> DataFrame:
    """Deterministic textured greyscale PNGs with PLANTED near-duplicates:
    media_ids 2k and 2k+1 share base pixels (keyed by pair = id//2) and
    the odd twin adds +3 to a sparse pixel subset — a genuine
    perceptual-near-dup, while different pairs draw different textures.

    Same verifiable construction as :func:`synth_media`: payload hex is
    pure integer Column arithmetic (stored-deflate IDAT + real adler32),
    so the DuckDB oracle rebuilds the identical bytes AND replays the
    pixel formula into the same pHash.

    ``filter_mode``: scanline encoding — ``"none"`` (filter-0 raw rows)
    or ``"sub"`` (filter-1 delta rows). The PIXELS are identical either
    way while the BYTES differ — re-encoded duplicates, the case
    pixel-level dedup exists for. ``id_offset`` shifts media_ids so two
    encodings of the same image can coexist in one frame (the pixel
    formula uses ``media_id - id_offset``)."""
    rows = spark.range(n).select((F.col("id") + id_offset).alias("media_id"))
    mid = F.col("media_id") - F.lit(id_offset)
    pair = F.floor(mid / 2)
    w = h = size

    def _px(x, y):
        base = (pair * 37 + x * 11 + y * 17 + ((x * y + pair) % 5) * 23) % 256
        bump = F.when(
            (mid % 2 == 1) & ((x + y * w + pair) % 41 == 0), F.lit(3)
        ).otherwise(F.lit(0))
        return (base + bump) % 256

    if filter_mode == "none":
        def _scan_row(y):
            return F.concat(
                F.lit("00"),
                F.array_join(
                    F.transform(F.sequence(F.lit(0), F.lit(w - 1)),
                                lambda x: _hx(_px(x, y), 2)),
                    "",
                ),
            )
    elif filter_mode == "sub":
        def _scan_row(y):
            return F.concat(
                F.lit("01"), _hx(_px(F.lit(0), y), 2),
                F.array_join(
                    F.transform(
                        F.sequence(F.lit(1), F.lit(w - 1)),
                        lambda x: _hx((_px(x, y) - _px(x - 1, y) + 256) % 256, 2),
                    ),
                    "",
                ),
            )
    else:
        raise ValueError("filter_mode must be 'none' or 'sub'")

    raw_hex = F.array_join(
        F.transform(F.sequence(F.lit(0), F.lit(h - 1)), _scan_row), ""
    )
    n_raw = h * (w + 1)

    if filter_mode == "none":
        def _raw_byte(i):
            y = F.floor(i / (w + 1))
            r = i % (w + 1)
            return F.when(r == 0, F.lit(0)).otherwise(_px(r - 1, y)).cast("long")
    else:
        def _raw_byte(i):
            y = F.floor(i / (w + 1))
            r = i % (w + 1)
            x = r - 1
            return (
                F.when(r == 0, F.lit(1))
                .when(x == 0, _px(F.lit(0), y))
                .otherwise((_px(x, y) - _px(x - 1, y) + 256) % 256)
            ).cast("long")

    packed = F.aggregate(
        F.sequence(F.lit(0), F.lit(n_raw - 1)),
        F.lit(0).cast("long"),
        lambda acc, i: acc + _raw_byte(i) * (1 + (n_raw - i) * F.lit(4294967296)),
    )
    s1 = packed % F.lit(4294967296)
    sw = F.floor(packed / F.lit(4294967296))
    adler = ((n_raw + sw) % 65521) * 65536 + (1 + s1) % 65521
    png_hex = F.concat(
        F.lit("89504E470D0A1A0A"),
        F.lit("0000000D49484452"), _hx(F.lit(w), 8), _hx(F.lit(h), 8),
        F.lit("080000000000000000"),
        _hx(F.lit(n_raw + 11), 8), F.lit("49444154"), F.lit("780101"),
        _le16(F.lit(n_raw)), _le16(F.lit(65535 - n_raw)),
        raw_hex, _hx(adler, 8), F.lit("00000000"),
        F.lit("0000000049454E44AE426082"),
    )
    return rows.select(
        "media_id",
        F.lit("image").alias("kind"),
        F.unhex(png_hex).alias("payload"),
        F.lit("image/png").alias("mime"),
    )


# ---------------------------------------------------------------------------
# Audio: PCM sample decode + signal statistics
# ---------------------------------------------------------------------------

def decode_wav_samples(b: bytes):
    """Pure-stdlib WAV PCM decode: RIFF chunk walk → the data chunk's
    ACTUAL bytes as signed little-endian samples.

    Returns ``(sample_rate, n_channels, bits, samples)`` with ``samples``
    a flat, channel-interleaved list of ints, or ``None`` if the payload
    is not a WAV. Supports PCM (format tag 1) at 8 bits (unsigned,
    rebased to signed) and 16/32 bits (signed LE). A header-only payload
    (declared data size but no bytes — the synth_media audio rows)
    decodes to zero samples; compressed formats raise ``ValueError``."""
    if len(b) < 12 or b[0:4] != b"RIFF" or b[8:12] != b"WAVE":
        return None
    i = 12
    fmt = None
    data = b""
    while i + 8 <= len(b):
        cid = b[i:i + 4]
        clen = _le(b, i + 4, 4)
        if cid == b"fmt " and i + 24 <= len(b):
            tag = _le(b, i + 8, 2)
            fmt = (tag, _le(b, i + 10, 2), _le(b, i + 12, 4), _le(b, i + 22, 2))
        elif cid == b"data":
            data = b[i + 8:i + 8 + clen]
            break
        i += 8 + clen
    if fmt is None:
        return None
    tag, channels, rate, bits = fmt
    if tag != 1:
        raise ValueError(f"WAV: non-PCM format tag {tag} needs a codec")
    if bits not in (8, 16, 32):
        raise ValueError(f"WAV: unsupported bit depth {bits}")
    width = bits // 8
    n = len(data) // width
    samples = []
    for k in range(n):
        v = int.from_bytes(data[k * width:(k + 1) * width], "little",
                           signed=(bits != 8))
        if bits == 8:
            v -= 128
        samples.append(v)
    return rate, channels, bits, samples


def audio_stats(b: bytes):
    """Signal statistics of a PCM WAV payload: dict with ``sample_rate``,
    ``n_channels``, ``n_samples`` (per channel), ``duration_ms`` (from
    the ACTUAL samples, unlike the header's declared size),
    ``sum_samples``/``sum_sq`` (exact integer sums over all channel
    samples — rms = sqrt(sum_sq/n) when the caller wants floats) and
    ``peak`` (max |sample|). None for non-WAV or sample-less payloads."""
    try:
        decoded = decode_wav_samples(b)
    except ValueError:
        return None
    if decoded is None:
        return None
    rate, ch, _bits, samples = decoded
    if not samples:
        return None
    n_frames = len(samples) // ch
    return {
        "sample_rate": rate,
        "n_channels": ch,
        "n_samples": n_frames,
        "duration_ms": (n_frames * 1000) // rate if rate else 0,
        "sum_samples": sum(samples),
        "sum_sq": sum(v * v for v in samples),
        "peak": max(abs(v) for v in samples),
    }


def with_audio_stats(media: DataFrame) -> DataFrame:
    """(media_id, sample_rate, n_samples, duration_ms, sum_samples,
    sum_sq, peak) per decodable PCM payload via Arrow ``mapInPandas`` —
    nulls for payloads that aren't PCM WAVs."""
    schema = T.StructType([
        T.StructField("media_id", T.LongType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("sum_samples", T.LongType()),
        T.StructField("sum_sq", T.LongType()),
        T.StructField("peak", T.IntegerType()),
    ])
    cols = [f.name for f in schema.fields]

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as _pd

        for pdf in batches:
            out = []
            for rec in pdf.to_dict("records"):
                st = audio_stats(rec["payload"] or b"")
                row = {"media_id": rec["media_id"]}
                for c in cols[1:]:
                    row[c] = st[c] if st else None
                out.append(row)
            yield _pd.DataFrame(out, columns=cols)

    return media.mapInPandas(_run, schema=schema)


def synth_audio(spark, n: int = 100) -> DataFrame:
    """Deterministic WAVs with REAL PCM payloads (mono 16-bit): sample k
    of media_id m is ``((m*73 + k*129) % 4096) - 2048`` — SQL-replayable
    signed values encoded little-endian, 4..100 frames per file. Same
    verifiable construction as :func:`synth_media`/:func:`synth_images`:
    the hex is pure integer Column arithmetic the oracle rebuilds."""
    rows = spark.range(n).select(F.col("id").alias("media_id"))
    mid = F.col("media_id")
    rate = (F.lit(8000) + (mid % 5) * 4000).cast("long")
    n_frames = ((mid % 25) * 4 + 4).cast("long")           # 4..100
    data_size = n_frames * 2                                # mono s16le

    def _sample(k):
        return (mid * 73 + k * 129) % 4096 - 2048

    pcm_hex = F.array_join(
        F.transform(
            F.sequence(F.lit(0), (n_frames - 1).cast("int")),
            # signed → two's-complement 16-bit, little-endian
            lambda k: _le16((_sample(k) + 65536) % 65536),
        ),
        "",
    )
    wav_hex = F.concat(
        F.lit("52494646"), _le32(data_size + 36), F.lit("57415645"),
        F.lit("666D7420"), F.lit("10000000"), F.lit("0100"),
        _le16(F.lit(1)), _le32(rate), _le32(rate * 2), _le16(F.lit(2)),
        F.lit("1000"), F.lit("64617461"), _le32(data_size), pcm_hex,
    )
    return rows.select(
        "media_id",
        F.lit("audio").alias("kind"),
        F.unhex(wav_hex).alias("payload"),
        F.lit("audio/wav").alias("mime"),
    )


def with_pixel_hash(media: DataFrame) -> DataFrame:
    """(media_id, kind, px_sha) — sha256 over the DECODED pixel buffer's
    canonical string ``"{w}x{h}x{ch}:" + comma-joined pixel ints`` (a
    VARCHAR hash so the DuckDB oracle can replay it; DuckDB's sha256 is
    string-only). Identical pixels hash equal regardless of how the PNG
    was filtered/compressed — the signature for re-encoded-duplicate
    detection. Null for non-decodable payloads."""
    schema = T.StructType([
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("px_sha", T.StringType()),
    ])

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hashlib
        import pandas as _pd

        for pdf in batches:
            out = []
            for rec in pdf.to_dict("records"):
                payload = rec["payload"] or b""
                try:
                    decoded = decode_image(payload)   # PNG or baseline JPEG
                except ValueError:
                    decoded = None
                if decoded:
                    w, h, ch, px = decoded
                    canon = f"{w}x{h}x{ch}:" + ",".join(str(v) for v in px)
                    sha = _hashlib.sha256(canon.encode()).hexdigest()
                else:
                    sha = None
                out.append({"media_id": rec["media_id"],
                            "kind": rec["kind"], "px_sha": sha})
            yield _pd.DataFrame(out, columns=["media_id", "kind", "px_sha"])

    return media.mapInPandas(_run, schema=schema)


def image_exact_duplicates(media: DataFrame) -> DataFrame:
    """Exact PIXEL-level image dedup: (px_sha, keeper_id, n_dups) — one
    md5-class groupBy over decoded-pixel hashes, the image twin of
    ``dedup.exact_duplicates``. Catches re-encoded duplicates (same
    pixels, different PNG filters/compression) that byte-level hashing
    misses; non-decodable payloads drop out."""
    sig = with_pixel_hash(media).where(F.col("px_sha").isNotNull())
    return (
        sig.groupBy("px_sha")
        .agg(F.min("media_id").alias("keeper_id"),
             F.count(F.lit(1)).alias("n_dups"))
    )
