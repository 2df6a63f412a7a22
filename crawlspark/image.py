"""Numpy-only image codecs + vectorized validation UDFs (no Pillow in env).

The reference's heavy per-row work is browser rendering/HTML parsing
(/root/reference/adapters/parsers/goqueryparser/goquery.go:17-24); the graft's
payload is image+caption rows (BASELINE.json input_hint), so the per-row work
here is decode + pixel validation, run as Arrow-batched pandas UDFs.

Formats (chosen to be numpy+zlib-codable, SURVEY.md §7.5):
  * ppm — binary P6, lossless (exact-decode invariant)
  * bmp — 24-bit bottom-up BGR, lossless (exact-decode invariant)
  * png — 8-bit RGB, zlib, filter 0 on encode / filters 0-4 on decode, lossless
  * qnt — 6-bit/channel quantized stand-in for a lossy codec
          (PSNR ≥ 40 dB invariant; actual ≈ 44-48 dB)
"""

from __future__ import annotations

import hashlib
import struct
import zlib
from functools import lru_cache

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

PSNR_EXACT = float("inf")

# ---------------------------------------------------------------------------
# deterministic reference pixels (shared by synth + validation)
# ---------------------------------------------------------------------------


@lru_cache(maxsize=16)
def _gradient_u16(w: int, h: int) -> np.ndarray:
    """The (h, w, 1) gradient overlay, cached per size.

    Every image in a crawl run shares one size, so the mgrid + integer-divide
    passes (5 full-frame array walks, the most expensive part of reference
    regeneration) run once per executor instead of once per row — a pure
    memory-bandwidth save that matters most on the wide-parallelism leg,
    where the payload stage is DRAM-bound (BENCH/BASELINE.md probe 7)."""
    yy, xx = np.mgrid[0:h, 0:w]
    grad = ((xx * 255 // max(w - 1, 1)) // 2 + (yy * 255 // max(h - 1, 1)) // 2).astype(
        np.uint8
    )
    return grad[..., None].astype(np.uint16)


def reference_pixels(image_id: str, w: int, h: int) -> np.ndarray:
    """The ground-truth pixels for an image_id — a per-id PRNG pattern.

    Validation regenerates these and compares against the decoded payload
    (the 'decoded-pixel allclose vs reference' invariant in input_hint).
    (base + grad) >> 1 on uint16 equals the original
    (base.astype(u16) + grad) // 2 bit-for-bit (non-negative ints), with the
    gradient overlay — deterministic so images aren't pure noise — cached.
    """
    seed = int.from_bytes(hashlib.md5(image_id.encode()).digest()[:8], "little")
    rng = np.random.Generator(np.random.PCG64(seed))
    base = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    t = base + _gradient_u16(w, h)  # broadcasts; upcasts to uint16
    np.right_shift(t, 1, out=t)
    return t.astype(np.uint8)


# ---------------------------------------------------------------------------
# codecs
# ---------------------------------------------------------------------------


def encode_ppm(px: np.ndarray) -> bytes:
    h, w, _ = px.shape
    return b"P6\n%d %d\n255\n" % (w, h) + px.tobytes()


def decode_ppm(data: bytes) -> np.ndarray:
    if not data.startswith(b"P6"):
        raise ValueError("not a P6 ppm")
    parts = data.split(b"\n", 3)
    w, h = (int(x) for x in parts[1].split())
    raw = parts[3]
    return np.frombuffer(raw, dtype=np.uint8, count=w * h * 3).reshape(h, w, 3)


def encode_bmp(px: np.ndarray) -> bytes:
    h, w, _ = px.shape
    row_raw = w * 3
    pad = (4 - row_raw % 4) % 4
    img_size = (row_raw + pad) * h
    header = struct.pack("<2sIHHI", b"BM", 54 + img_size, 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, img_size, 2835, 2835, 0, 0)
    bgr = px[::-1, :, ::-1]  # bottom-up, BGR
    if pad:
        rows = np.zeros((h, row_raw + pad), dtype=np.uint8)
        rows[:, :row_raw] = bgr.reshape(h, row_raw)
        body = rows.tobytes()
    else:
        body = bgr.tobytes()
    return header + info + body


def decode_bmp(data: bytes) -> np.ndarray:
    if data[:2] != b"BM":
        raise ValueError("not a BMP")
    offset = struct.unpack_from("<I", data, 10)[0]
    w = struct.unpack_from("<i", data, 18)[0]
    h = struct.unpack_from("<i", data, 22)[0]
    bpp = struct.unpack_from("<H", data, 28)[0]
    if bpp != 24:
        raise ValueError(f"unsupported bpp {bpp}")
    row_raw = w * 3
    stride = (row_raw + 3) & ~3
    rows = np.frombuffer(data, dtype=np.uint8, count=stride * abs(h), offset=offset)
    rows = rows.reshape(abs(h), stride)[:, :row_raw].reshape(abs(h), w, 3)
    if h > 0:
        rows = rows[::-1]
    return rows[:, :, ::-1].copy()  # BGR → RGB


QNT_MAGIC = b"QNT1"


def encode_qnt(px: np.ndarray) -> bytes:
    """Quantized 'lossy' format: 6 bits/channel (max abs error 2 → ≥44 dB)."""
    h, w, _ = px.shape
    q = (px >> 2).astype(np.uint8)
    return QNT_MAGIC + struct.pack("<II", w, h) + q.tobytes()


def decode_qnt(data: bytes) -> np.ndarray:
    if data[:4] != QNT_MAGIC:
        raise ValueError("not a QNT")
    w, h = struct.unpack_from("<II", data, 4)
    q = np.frombuffer(data, dtype=np.uint8, count=w * h * 3, offset=12).reshape(h, w, 3)
    return np.minimum(q.astype(np.uint16) * 4 + 2, 255).astype(np.uint8)


def _png_chunk(tag: bytes, payload: bytes) -> bytes:
    crc = zlib.crc32(tag + payload) & 0xFFFFFFFF
    return struct.pack(">I", len(payload)) + tag + payload + struct.pack(">I", crc)


def encode_png(px: np.ndarray) -> bytes:
    h, w, _ = px.shape
    sig = b"\x89PNG\r\n\x1a\n"
    ihdr = _png_chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
    raw = np.zeros((h, 1 + w * 3), dtype=np.uint8)
    raw[:, 1:] = px.reshape(h, w * 3)  # filter type 0 per row
    idat = _png_chunk(b"IDAT", zlib.compress(raw.tobytes(), 6))
    return sig + ihdr + idat + _png_chunk(b"IEND", b"")


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def decode_png(data: bytes) -> np.ndarray:
    if data[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG")
    pos, w, h, idat = 8, 0, 0, b""
    while pos < len(data):
        (ln,) = struct.unpack_from(">I", data, pos)
        tag = data[pos + 4 : pos + 8]
        payload = data[pos + 8 : pos + 8 + ln]
        if tag == b"IHDR":
            w, h, depth, ctype = struct.unpack_from(">IIBB", payload, 0)
            if depth != 8 or ctype != 2:
                raise ValueError("only 8-bit RGB supported")
        elif tag == b"IDAT":
            idat += payload
        elif tag == b"IEND":
            break
        pos += 12 + ln
    raw = zlib.decompress(idat)
    stride = w * 3
    out = np.zeros((h, stride), dtype=np.uint8)
    bpp = 3
    for y in range(h):
        ftype = raw[y * (stride + 1)]
        line = np.frombuffer(raw, dtype=np.uint8, count=stride, offset=y * (stride + 1) + 1)
        if ftype == 0:
            out[y] = line
        elif ftype == 1:  # Sub
            cur = line.copy()
            for x in range(bpp, stride):
                cur[x] = (cur[x] + cur[x - bpp]) & 0xFF
            out[y] = cur
        elif ftype == 2:  # Up
            out[y] = (line + (out[y - 1] if y else 0)) & 0xFF
        elif ftype == 3:  # Average
            cur = line.copy()
            prev = out[y - 1] if y else np.zeros(stride, dtype=np.uint8)
            for x in range(stride):
                left = cur[x - bpp] if x >= bpp else 0
                cur[x] = (cur[x] + ((int(left) + int(prev[x])) >> 1)) & 0xFF
            out[y] = cur
        elif ftype == 4:  # Paeth
            cur = line.copy()
            prev = out[y - 1] if y else np.zeros(stride, dtype=np.uint8)
            for x in range(stride):
                left = int(cur[x - bpp]) if x >= bpp else 0
                ul = int(prev[x - bpp]) if x >= bpp else 0
                cur[x] = (cur[x] + _paeth(left, int(prev[x]), ul)) & 0xFF
            out[y] = cur
        else:
            raise ValueError(f"bad filter {ftype}")
    return out.reshape(h, w, 3)


ENCODERS = {"ppm": encode_ppm, "bmp": encode_bmp, "png": encode_png, "qnt": encode_qnt}
DECODERS = {"ppm": decode_ppm, "bmp": decode_bmp, "png": decode_png, "qnt": decode_qnt}
LOSSLESS = {"ppm", "bmp", "png"}


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------


def psnr_db(a: np.ndarray, b: np.ndarray) -> float:
    # All-integer SSE: d fits int16, d² fits int32, the sum fits int64, and
    # every partial is an exact integer < 2^53 — so ssq/n is the one float64
    # rounding in the whole computation, bit-identical to the float64-square
    # np.mean it replaces, at ~2.5× less DRAM traffic (the f64 temp alone was
    # 8 B/px; this phase is memory-bandwidth-bound on the wide leg).
    # uint8-input contract: the in-place int16 subtract would silently wrap
    # for uint16 inputs and raise an opaque UFuncTypeError for float/int32 —
    # fail loudly instead (all internal callers pass decoded uint8 pixels).
    if a.dtype != np.uint8 or b.dtype != np.uint8:
        raise TypeError(f"psnr_db expects uint8 arrays, got {a.dtype}/{b.dtype}")
    d = a.astype(np.int16)
    np.subtract(d, b, out=d)
    ssq = int(np.square(d, dtype=np.int32).sum(dtype=np.int64))
    if ssq == 0:
        return PSNR_EXACT
    mse = ssq / d.size
    return float(10.0 * np.log10(255.0**2 / mse))


def average_hash(px: np.ndarray) -> int:
    """64-bit perceptual average-hash (8×8 block-mean, DCT-free).

    Returned as a signed int64 so it fits a Spark LongType column.
    """
    gray = px.mean(axis=2)
    h, w = gray.shape
    bh, bw = max(h // 8, 1), max(w // 8, 1)
    small = gray[: bh * 8, : bw * 8].reshape(8, bh, 8, bw).mean(axis=(1, 3))
    bits = (small > small.mean()).flatten()
    val = 0
    for bit in bits:
        val = (val << 1) | int(bit)
    return val - (1 << 64) if val >= (1 << 63) else val


# ---------------------------------------------------------------------------
# Spark-facing vectorized UDFs
# ---------------------------------------------------------------------------

VALIDATE_SCHEMA = T.StructType(
    [
        T.StructField("psnr_db", T.DoubleType()),
        T.StructField("pixels_ok", T.BooleanType()),
        T.StructField("phash", T.LongType()),
    ]
)


@F.pandas_udf(VALIDATE_SCHEMA)
def validate_image_udf(
    image_id: pd.Series, data: pd.Series, fmt: pd.Series
) -> pd.DataFrame:
    """Decode payload bytes, compare to the regenerated reference pixels.

    pixels_ok: exact equality for lossless fmts, PSNR ≥ 40 dB for lossy
    (the input_hint invariant). Heavy lifting is numpy per row inside an
    Arrow batch — no per-row Python serde.
    """
    psnrs, oks, hashes = [], [], []
    for iid, raw, f in zip(image_id, data, fmt):
        try:
            px = DECODERS[f](bytes(raw))
            ref = reference_pixels(iid, px.shape[1], px.shape[0])
            p = psnr_db(px, ref)
            # lossless: PSNR_EXACT ⟺ mse == 0 ⟺ arrays equal — no second pass
            ok = (p == PSNR_EXACT) if f in LOSSLESS else bool(p >= 40.0)
            psnrs.append(1e9 if p == PSNR_EXACT else p)
            oks.append(ok)
            hashes.append(average_hash(px))
        except Exception:
            psnrs.append(0.0)
            oks.append(False)
            hashes.append(0)
    return pd.DataFrame({"psnr_db": psnrs, "pixels_ok": oks, "phash": hashes})


@F.pandas_udf(VALIDATE_SCHEMA)
def fetch_validate_udf(image_id: pd.Series, px_size: pd.Series) -> pd.DataFrame:
    """Fused fetch-payload + validate stage for UNIQUE-per-URL images.

    Synthesizes the page's image payload (what the network would return),
    encodes it in an id-derived format, then decodes and validates against
    the regenerated reference — all inside one Arrow batch, so payload bytes
    NEVER cross a stage boundary. This is the plan shape a real crawler needs
    at 10^10 scale: fetch and decode colocated in one task; only the small
    validation verdict (psnr/ok/phash) flows on (SURVEY.md §4.4).

    The broadcast-join + validate path (validate_image_udf) remains for
    dimension-table payloads; shipping per-row megabyte payloads through a
    join measurably anti-scales (memory-bandwidth bound — see BENCH notes).
    """
    fmts = ("ppm", "bmp", "qnt", "png")
    psnrs, oks, hashes = [], [], []
    for iid, px in zip(image_id, px_size):
        try:
            size = int(px)
            # md5-derived, NOT python hash() (which is salted per process)
            fsel = hashlib.md5(iid.encode()).digest()[0] % 3
            fmt = fmts[fsel]  # ppm/bmp/qnt (png decode is the slow path)
            ref = reference_pixels(iid, size, size)
            payload = ENCODERS[fmt](ref)  # the simulated network response
            decoded = DECODERS[fmt](payload)
            p = psnr_db(decoded, ref)
            # lossless: PSNR_EXACT ⟺ mse == 0 ⟺ arrays equal — no second pass
            ok = (p == PSNR_EXACT) if fmt in LOSSLESS else bool(p >= 40.0)
            psnrs.append(1e9 if p == PSNR_EXACT else p)
            oks.append(ok)
            hashes.append(average_hash(decoded))
        except Exception:
            psnrs.append(0.0)
            oks.append(False)
            hashes.append(0)
    return pd.DataFrame({"psnr_db": psnrs, "pixels_ok": oks, "phash": hashes})
