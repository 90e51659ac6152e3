"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video ride as ``binary`` columns with a metadata struct; decode /
feature-extract / resize / frame-sample are Arrow-batched ``mapInPandas``
stages. The Spark-side plumbing (schemas, partitioning, UDF signatures, batch
shapes) is real and tested.

Codecs: ``real_decoder`` (the ``strict_decoder`` default) is a genuine
pure-numpy decode for the real-world image/audio formats -- PNG (gray/RGB/
palette/alpha color types, bit depths 1-8, sequential AND Adam7
interlaced, PLTE+tRNS lookup: stdlib zlib inflate + numpy unfiltering of
all five scanline filters -- bit-exact against an independent reference
decoder on real palette/interlaced files), JPEG -- baseline AND progressive
(operators/jpeg.py: marker walk, tables read from the file, Huffman
entropy decode incl. the T.81 G.2 successive-approximation scans, matrix
IDCT, triangle chroma upsampling -- decodes real 4:2:0 and progressive
camera JPEGs, verified against Spark's ImageIO-backed image reader), BMP
(24-bit BI_RGB) and PPM/PGM binary for images, RIFF/WAVE PCM (8/16-bit)
for audio. No external codec library is involved. VIDEO remains honestly
stubbed: mp4 demuxing is rejected loudly, and ``fake_decoder`` is the
deterministic stand-in for tests.
"""

from __future__ import annotations

import struct
from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType(), False),
        T.StructField("kind", T.StringType(), False),  # image|audio|video
        T.StructField("mime", T.StringType(), True),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("meta", T.MapType(T.StringType(), T.StringType()), True),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("n_frames", T.IntegerType(), True),
        T.StructField("feature", T.ArrayType(T.FloatType()), True),
    ]
)


def fake_decoder(payload: bytes, kind: str) -> dict:
    """Deterministic stand-in for a real codec: 'decodes' the payload into
    (width, height, n_frames, feature[16]) derived purely from the bytes.
    Same bytes -> same output, so tests are stable."""
    if payload is None:
        payload = b""
    arr = np.frombuffer(payload[:4096], dtype=np.uint8)
    if arr.size == 0:
        arr = np.zeros(1, dtype=np.uint8)
    width = int(64 + (int(arr[: min(4, arr.size)].sum()) % 512))
    height = int(64 + (int(arr[-min(4, arr.size):].sum()) % 512))
    n_frames = 1 if kind == "image" else int(1 + (arr.size % 32))
    # 16-dim "feature": histogram of byte values bucketed into 16 bins, L1-normed
    hist, _ = np.histogram(arr, bins=16, range=(0, 256))
    feat = (hist / max(1, hist.sum())).astype(np.float32)
    return {"width": width, "height": height, "n_frames": n_frames, "feature": feat.tolist()}


# ---------------------------------------------------------------------------
# real codecs (pure numpy + struct -- no external library)
# ---------------------------------------------------------------------------


def encode_bmp(pixels: np.ndarray) -> bytes:
    """HxWx3 uint8 RGB -> 24-bit uncompressed (BI_RGB) bottom-up BMP."""
    if pixels.ndim != 3 or pixels.shape[2] != 3:
        raise ValueError("encode_bmp expects HxWx3 RGB")
    h, w = pixels.shape[:2]
    row_raw = w * 3
    pad = (4 - row_raw % 4) % 4
    stride = row_raw + pad
    rows = np.zeros((h, stride), dtype=np.uint8)
    rows[:, :row_raw] = pixels[::-1, :, ::-1].reshape(h, row_raw)  # bottom-up, BGR
    data = rows.tobytes()
    offset = 14 + 40
    header = struct.pack("<2sIHHI", b"BM", offset + len(data), 0, 0, offset)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(data), 2835, 2835, 0, 0)
    return header + info + data


def decode_bmp(payload: bytes) -> np.ndarray:
    """24-bit BI_RGB BMP -> HxWx3 uint8 RGB (top-down). Rejects palette /
    compressed variants explicitly rather than misreading them."""
    if payload is None or len(payload) < 54 or payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    offset = struct.unpack_from("<I", payload, 10)[0]
    w = struct.unpack_from("<i", payload, 18)[0]
    h = struct.unpack_from("<i", payload, 22)[0]
    bpp = struct.unpack_from("<H", payload, 28)[0]
    comp = struct.unpack_from("<I", payload, 30)[0]
    if bpp != 24 or comp != 0:
        raise ValueError(f"unsupported BMP variant (bpp={bpp}, compression={comp})")
    bottom_up = h > 0
    h = abs(h)
    if w <= 0 or h <= 0:
        raise ValueError("bad BMP dimensions")
    row_raw = w * 3
    stride = (row_raw + 3) // 4 * 4
    if len(payload) < offset + stride * h:
        raise ValueError("truncated BMP payload")
    rows = np.frombuffer(payload, np.uint8, stride * h, offset).reshape(h, stride)
    img = rows[:, :row_raw].reshape(h, w, 3)[:, :, ::-1]  # BGR -> RGB
    if bottom_up:
        img = img[::-1]
    return np.ascontiguousarray(img)


def encode_ppm(pixels: np.ndarray) -> bytes:
    """uint8 array -> binary netpbm: HxWx3 -> P6 (PPM), HxW -> P5 (PGM)."""
    if pixels.ndim == 3 and pixels.shape[2] == 3:
        magic = b"P6"
    elif pixels.ndim == 2:
        magic = b"P5"
    else:
        raise ValueError("encode_ppm expects HxWx3 (P6) or HxW (P5)")
    h, w = pixels.shape[:2]
    return magic + f"\n{w} {h}\n255\n".encode() + pixels.tobytes()


def decode_ppm(payload: bytes) -> np.ndarray:
    """Binary netpbm (P6/P5, maxval 255, '#' comments) -> uint8 array."""
    if payload is None or len(payload) < 2 or payload[:2] not in (b"P6", b"P5"):
        raise ValueError("not a binary PPM/PGM payload")
    magic = payload[:2]
    pos, tokens = 2, []
    while len(tokens) < 3:
        if pos >= len(payload):
            raise ValueError("truncated netpbm header")
        c = payload[pos:pos + 1]
        if c == b"#":  # comment to end-of-line
            while pos < len(payload) and payload[pos:pos + 1] != b"\n":
                pos += 1
        elif c.isspace():
            pos += 1
        else:
            start = pos
            while pos < len(payload) and not payload[pos:pos + 1].isspace():
                pos += 1
            tokens.append(int(payload[start:pos]))
    pos += 1  # single whitespace after maxval
    w, h, maxval = tokens
    if maxval != 255:
        raise ValueError("only maxval=255 netpbm supported")
    ch = 3 if magic == b"P6" else 1
    need = w * h * ch
    if len(payload) < pos + need:
        raise ValueError("truncated netpbm payload")
    arr = np.frombuffer(payload, np.uint8, need, pos)
    return arr.reshape((h, w, 3) if ch == 3 else (h, w)).copy()


_PNG_SIG = b"\x89PNG\r\n\x1a\n"
# Largest image decode_png accepts (8192 x 8192). IHDR's width and height
# size every buffer of the decode, so they are checked before any of them
# is allocated.
_PNG_MAX_PIXELS = 1 << 26


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    import zlib

    return (
        struct.pack(">I", len(data)) + ctype + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def _png_channels(color_type: int) -> int:
    try:
        # color type 3 (palette) carries ONE index sample per pixel
        return {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[color_type]
    except KeyError:
        raise ValueError(f"unsupported PNG color type {color_type}") from None


def _paeth(a: np.ndarray, b: np.ndarray, c: np.ndarray) -> np.ndarray:
    """Paeth predictor (PNG spec 9.4), vectorized over a pixel's bytes."""
    a = a.astype(np.int16)
    b = b.astype(np.int16)
    c = c.astype(np.int16)
    p = a + b - c
    pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
    out = np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))
    return out.astype(np.uint8)


def encode_png(pixels: np.ndarray, filter_type: int = 0) -> bytes:
    """uint8 array -> PNG (bit depth 8, no interlace): HxW -> grayscale,
    HxWx3 -> RGB, HxWx4 -> RGBA. ``filter_type`` (0..4) applies that scanline
    filter to every row -- 0 (None) is the fast path; the other four exist so
    the round-trip property tests exercise every unfilter branch of
    ``decode_png`` against an independent forward implementation."""
    import zlib

    if pixels.ndim == 2:
        color_type = 0
    elif pixels.ndim == 3 and pixels.shape[2] == 3:
        color_type = 2
    elif pixels.ndim == 3 and pixels.shape[2] == 4:
        color_type = 6
    else:
        raise ValueError("encode_png expects HxW, HxWx3 or HxWx4 uint8")
    if filter_type not in (0, 1, 2, 3, 4):
        raise ValueError(f"bad PNG filter {filter_type}")
    h, w = pixels.shape[:2]
    ch = _png_channels(color_type)
    raw = np.ascontiguousarray(pixels, dtype=np.uint8).reshape(h, w * ch)
    zero = np.zeros(w * ch, dtype=np.uint8)
    lines = bytearray()
    for y in range(h):
        cur = raw[y]
        up = raw[y - 1] if y else zero
        left = np.concatenate([np.zeros(ch, np.uint8), cur[:-ch]])
        upleft = np.concatenate([np.zeros(ch, np.uint8), up[:-ch]])
        if filter_type == 0:
            filt = cur
        elif filter_type == 1:  # Sub
            filt = cur - left
        elif filter_type == 2:  # Up
            filt = cur - up
        elif filter_type == 3:  # Average
            filt = cur - ((left.astype(np.uint16) + up) // 2).astype(np.uint8)
        else:  # Paeth
            filt = cur - _paeth(left, up, upleft)
        lines.append(filter_type)
        lines.extend(filt.tobytes())
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(lines)))
        + _png_chunk(b"IEND", b"")
    )


def _png_unfilter(raw: bytes, h: int, stride: int, bpp: int) -> np.ndarray:
    """h filtered scanlines (filter byte + stride bytes each) -> (h, stride)
    reconstructed bytes. ``bpp`` is the filter byte distance
    (max(1, bits_per_pixel // 8) per the spec -- 1 for sub-byte depths)."""
    if len(raw) != h * (stride + 1):
        raise ValueError("PNG scanline data size mismatch")
    scan = np.frombuffer(raw, np.uint8).reshape(h, stride + 1)
    out = np.zeros((h, stride), dtype=np.uint8)
    zero = np.zeros(stride, dtype=np.uint8)
    for y in range(h):
        f, row = int(scan[y, 0]), scan[y, 1:]
        up = out[y - 1] if y else zero
        if f == 0:
            out[y] = row
        elif f == 2:  # Up
            out[y] = row + up
        elif f == 1:  # Sub: sequential in pixels, vectorized over the bpp bytes
            acc = np.zeros(bpp, np.uint8)
            for x in range(0, stride, bpp):
                acc = row[x:x + bpp] + acc
                out[y, x:x + bpp] = acc
        elif f == 3:  # Average
            for x in range(0, stride, bpp):
                left = out[y, x - bpp:x] if x else np.zeros(bpp, np.uint8)
                avg = ((left.astype(np.uint16) + up[x:x + bpp]) // 2).astype(np.uint8)
                out[y, x:x + bpp] = row[x:x + bpp] + avg
        elif f == 4:  # Paeth
            for x in range(0, stride, bpp):
                left = out[y, x - bpp:x] if x else np.zeros(bpp, np.uint8)
                upleft = up[x - bpp:x] if x else np.zeros(bpp, np.uint8)
                out[y, x:x + bpp] = row[x:x + bpp] + _paeth(left, up[x:x + bpp], upleft)
        else:
            raise ValueError(f"bad PNG scanline filter {f}")
    return out


def _png_unpack_bits(rows: np.ndarray, w: int, depth: int) -> np.ndarray:
    """(h, stride) packed single-sample rows -> (h, w) values for bit depth
    1/2/4/8 (PNG packs sub-byte samples MSB-first)."""
    if depth == 8:
        return rows[:, :w]
    bits = np.unpackbits(rows, axis=1)[:, : w * depth]
    vals = bits.reshape(rows.shape[0], w, depth)
    weights = (1 << np.arange(depth - 1, -1, -1)).astype(np.uint8)
    return (vals * weights).sum(axis=2).astype(np.uint8)


# Adam7 interlace passes: (x_start, y_start, x_step, y_step)
_ADAM7 = [
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
]


def decode_png(payload: bytes) -> np.ndarray:
    """PNG -> uint8 array. Supported (the real-world PNG space): color
    types gray / RGB / palette / gray+alpha / RGBA; bit depths 1/2/4/8 for
    gray and palette, 8 for the multi-channel types; both progressive
    layouts -- sequential and Adam7 interlaced; PLTE lookup with optional
    tRNS (palette images with transparency decode to RGBA). 16-bit depth
    rejects loudly rather than being misread. Output shapes: HxW (gray),
    HxWx2 (gray+alpha), HxWx3 (RGB / opaque palette), HxWx4 (RGBA /
    palette+tRNS). Pure stdlib zlib + numpy; ancillary chunks are skipped
    by walking the chunk list, matching real-world files. Hostile headers
    fail with ValueError before the big allocations: an image over
    ``_PNG_MAX_PIXELS``, or image data that inflates past the size its
    IHDR implies (a zlib bomb is inflated to one byte past that size)."""
    import zlib

    if payload is None or len(payload) < len(_PNG_SIG) + 12 or payload[:8] != _PNG_SIG:
        raise ValueError("not a PNG payload")
    pos, ihdr, idat = 8, None, bytearray()
    plte, trns = None, None
    while pos + 8 <= len(payload):
        clen = struct.unpack_from(">I", payload, pos)[0]
        ctype = payload[pos + 4:pos + 8]
        body = payload[pos + 8:pos + 8 + clen]
        if len(body) < clen:
            raise ValueError("truncated PNG chunk")
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif ctype == b"PLTE":
            if clen % 3:
                raise ValueError("bad PNG PLTE length")
            plte = np.frombuffer(body, np.uint8).reshape(-1, 3)
        elif ctype == b"tRNS":
            trns = np.frombuffer(body, np.uint8)
        elif ctype == b"IDAT":
            idat.extend(body)
        elif ctype == b"IEND":
            break
        pos += 12 + clen  # len + type + data + crc
    if ihdr is None or not idat:
        raise ValueError("PNG missing IHDR/IDAT")
    w, h, depth, color_type, comp, filt, interlace = ihdr
    ch = _png_channels(color_type)
    if comp != 0 or filt != 0 or interlace not in (0, 1):
        raise ValueError("unsupported PNG compression/filter/interlace method")
    if depth not in ((1, 2, 4, 8) if color_type in (0, 3) else (8,)):
        raise ValueError(
            f"unsupported PNG bit depth {depth} for color type {color_type}"
        )
    if color_type == 3 and plte is None:
        raise ValueError("palette PNG missing PLTE chunk")
    if w <= 0 or h <= 0:
        raise ValueError("bad PNG dimensions")
    if w * h > _PNG_MAX_PIXELS:
        raise ValueError(
            f"PNG {w}x{h} exceeds the {_PNG_MAX_PIXELS}-pixel decode cap"
        )
    bits_pp = depth * ch
    bpp = max(1, bits_pp // 8)

    def _stride(width: int) -> int:
        return (width * bits_pp + 7) // 8

    # filtered scanline bytes the IHDR implies: one filter byte per row, of
    # the whole image or of each non-empty Adam7 pass
    passes = []
    for x0, y0, dx, dy in _ADAM7 if interlace else [(0, 0, 1, 1)]:
        pw = (w - x0 + dx - 1) // dx
        ph = (h - y0 + dy - 1) // dy
        if pw > 0 and ph > 0:
            passes.append((x0, y0, dx, dy, pw, ph, ph * (_stride(pw) + 1)))
    expected = sum(n for *_, n in passes)
    # inflate at most one byte past that, so a zlib bomb costs no more
    raw = zlib.decompressobj().decompress(bytes(idat), expected + 1)
    if len(raw) > expected:
        raise ValueError("PNG image data inflates past its IHDR size")

    def _read(sub: bytes, sw: int, sh: int) -> np.ndarray:
        rows = _png_unfilter(sub, sh, _stride(sw), bpp)
        if ch == 1:
            return _png_unpack_bits(rows, sw, depth)  # (sh, sw)
        return rows[:, : sw * ch].reshape(sh, sw, ch)

    if interlace == 0:
        samples = _read(raw, w, h)
    else:  # Adam7: seven sub-images concatenated in the one zlib stream
        if len(raw) != expected:
            raise ValueError("PNG interlaced scanline data size mismatch")
        samples = np.zeros((h, w) if ch == 1 else (h, w, ch), dtype=np.uint8)
        off = 0
        for x0, y0, dx, dy, pw, ph, n in passes:
            samples[y0::dy, x0::dx] = _read(raw[off:off + n], pw, ph)
            off += n

    if color_type == 3:
        if int(samples.max()) >= len(plte):
            raise ValueError("PNG palette index out of range")
        rgb = plte[samples]  # (h, w, 3)
        if trns is None:
            return np.ascontiguousarray(rgb)
        alpha = np.full(len(plte), 255, np.uint8)
        alpha[: len(trns)] = trns
        return np.ascontiguousarray(np.dstack([rgb, alpha[samples]]))
    if color_type == 0 and depth < 8:
        return (samples.astype(np.uint16) * (255 // ((1 << depth) - 1))).astype(
            np.uint8
        )
    return np.ascontiguousarray(samples) if ch > 1 else samples.copy()


def encode_wav(samples: np.ndarray, sample_rate: int = 8000) -> bytes:
    """int16 (n,) or (n, channels) PCM samples -> RIFF/WAVE."""
    s = np.asarray(samples, dtype="<i2")
    if s.ndim == 1:
        s = s[:, None]
    n, ch = s.shape
    block = ch * 2
    data = s.tobytes()
    fmt = struct.pack("<HHIIHH", 1, ch, sample_rate, sample_rate * block, block, 16)
    return (
        b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data)) + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )


def decode_wav(payload: bytes) -> tuple[np.ndarray, int]:
    """RIFF/WAVE PCM (8-bit unsigned or 16-bit signed) -> (int16 samples of
    shape (n_frames, channels), sample_rate). Walks the chunk list, so extra
    chunks (LIST/INFO) are skipped, matching real-world files."""
    if payload is None or len(payload) < 44 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos:pos + 4]
        size = struct.unpack_from("<I", payload, pos + 4)[0]
        body_at = pos + 8
        if cid == b"fmt " and size >= 16:
            fmt = struct.unpack_from("<HHIIHH", payload, body_at)
        elif cid == b"data":
            if body_at + size > len(payload):
                # reject-loudly contract, same as the image codecs: a size
                # field past the payload end is corruption, not fewer frames
                raise ValueError("truncated WAV payload")
            data = payload[body_at:body_at + size]
        pos = body_at + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("WAV missing fmt/data chunk")
    audio_format, ch, sample_rate, _, _, bits = fmt
    if audio_format != 1 or ch < 1:
        raise ValueError(f"unsupported WAV (format={audio_format}, channels={ch})")
    if bits == 16:
        s = np.frombuffer(data, dtype="<i2")
    elif bits == 8:
        s = (np.frombuffer(data, dtype=np.uint8).astype(np.int16) - 128) << 8
    else:
        raise ValueError(f"unsupported WAV bit depth {bits}")
    n = s.size // ch
    return s[: n * ch].reshape(n, ch), sample_rate


def _hist16_feature(values: np.ndarray) -> list[float]:
    """16-bin histogram over byte-range values, L1-normalized float32 --
    the shared feature contract of every decode path."""
    hist, _ = np.histogram(values, bins=16, range=(0, 256))
    return (hist / max(1, hist.sum())).astype(np.float32).tolist()


def real_decoder(payload: bytes, kind: str) -> dict:
    """Genuine decode for image (PNG / BMP / binary PPM / PGM, sniffed by
    magic) and audio (RIFF/WAVE PCM). Features: image -> 16-bin histogram of
    the integer channel-mean luma (alpha excluded); audio -> 16-bin
    histogram of samples mapped to byte range ((s + 32768) >> 8). Video
    raises: mp4/mkv demuxing needs a container library this environment
    does not provide."""
    if kind == "image":
        if payload is not None and payload[:8] == _PNG_SIG:
            img = decode_png(payload)
        elif payload is not None and payload[:2] == b"\xff\xd8":
            from .jpeg import decode_jpeg

            img = decode_jpeg(payload)
        elif payload is not None and payload[:2] == b"BM":
            img = decode_bmp(payload)
        else:
            img = decode_ppm(payload)
        h, w = img.shape[:2]
        if img.ndim == 3 and img.shape[2] in (2, 4):  # drop alpha for luma
            img = img[:, :, :-1]
        luma = (
            img if img.ndim == 2
            else img.astype(np.uint16).sum(axis=2) // img.shape[2]
        )
        return {"width": int(w), "height": int(h), "n_frames": 1,
                "feature": _hist16_feature(luma)}
    if kind == "audio":
        samples, _rate = decode_wav(payload)
        u8 = (samples.astype(np.int32) + 32768) >> 8
        return {"width": None, "height": None, "n_frames": int(samples.shape[0]),
                "feature": _hist16_feature(u8)}
    raise NotImplementedError(
        f"no pure-numpy demuxer for kind={kind!r}; inject a container-library "
        "decoder (ffmpeg/PyAV) on a real cluster"
    )


def strict_decoder() -> Callable[[bytes, str], dict]:
    """The production decode path: real pure-numpy codecs for image/audio,
    loud failure (NotImplementedError) for video -- never a silent fake."""
    return real_decoder


def extract_features(
    media: DataFrame,
    decoder: Callable[[bytes, str], dict] = fake_decoder,
    batch_size_hint: int = 256,
) -> DataFrame:
    """media table -> feature table via Arrow-batched mapInPandas. The decode
    loop is per-row inside a batch (codecs are per-payload by nature), but
    batches amortize serialization and the stage is embarrassingly parallel --
    repartition upstream if payload sizes are skewed."""
    cols = ["media_id", "kind", "payload"]
    field_names = [f.name for f in FEATURE_SCHEMA.fields]

    def _map_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for row in pdf[cols].to_dict("records"):
                d = decoder(row["payload"], row["kind"])
                out.append(
                    {
                        "media_id": row["media_id"],
                        "kind": row["kind"],
                        "width": d["width"],
                        "height": d["height"],
                        "n_frames": d["n_frames"],
                        "feature": d["feature"],
                    }
                )
            yield pd.DataFrame(out, columns=field_names)

    return media.select(*cols).mapInPandas(_map_batches, schema=FEATURE_SCHEMA)


def sample_frames(media: DataFrame, every_n: int = 8,
                  decoder: Callable[[bytes, str], dict] = fake_decoder) -> DataFrame:
    """Video frame sampling plumbing: one row per sampled frame index. The
    frame *content* extraction is the stubbed decode; the fan-out shape
    (1 video -> ceil(n_frames / every_n) rows) is the real contract."""
    feats = extract_features(media.filter(F.col("kind") == "video"), decoder=decoder)
    return feats.select(
        "media_id",
        F.explode(F.sequence(F.lit(0), F.col("n_frames") - 1, F.lit(every_n))).alias("frame_idx"),
    )


def synthetic_media(spark, n: int = 32, seed: int = 42) -> DataFrame:
    """Deterministic fake media table for tests/benches."""
    import random

    rng = random.Random(seed)
    rows = []
    kinds = ["image", "audio", "video"]
    for i in range(n):
        kind = kinds[i % 3]
        payload = bytes(rng.randrange(256) for _ in range(rng.randrange(64, 2048)))
        rows.append(
            {
                "media_id": f"m{i}",
                "kind": kind,
                "mime": {"image": "image/png", "audio": "audio/wav", "video": "video/mp4"}[kind],
                "payload": payload,
                "meta": {"source": f"cam{i % 4}"},
            }
        )
    return spark.createDataFrame(rows, schema=MEDIA_SCHEMA)
