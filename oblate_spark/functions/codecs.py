"""Pure-numpy image codecs + perceptual hash (Axis A of the north rule).

The sandbox has no PIL/opencv, so the engine ships its own codecs for
three formats that are fully decodable with stdlib+numpy:

* BMP — 24-bit uncompressed BGR, bottom-up rows, 4-byte row padding
* PNG — 8-bit RGB, zlib deflate, filter types 0-4 supported on decode
  (encoder emits filter 0)
* PPM — binary P6

plus a 64-bit DCT perceptual hash (classic pHash construction: resize
to 32x32 grayscale by area averaging, 2D DCT-II, top-left 8x8 block
minus DC, median threshold) and PSNR for the pixel-fidelity invariant
(BASELINE.json input_hint: allclose / PSNR >= 40 dB).

If Pillow is importable these same entry points could delegate to it;
the interface (bytes -> HxWx3 uint8 array) is codec-agnostic.
"""

from __future__ import annotations

import functools
import struct
import zlib

import numpy as np

__all__ = [
    "encode_image",
    "decode_image",
    "detect_format",
    "phash64",
    "psnr",
    "ImageDecodeError",
]


class ImageDecodeError(ValueError):
    pass


# ---------------------------------------------------------------------------
# PPM (P6)
# ---------------------------------------------------------------------------


def _encode_ppm(pixels: np.ndarray) -> bytes:
    h, w, _ = pixels.shape
    return b"P6\n%d %d\n255\n" % (w, h) + pixels.astype(np.uint8).tobytes()


def _decode_ppm(data: bytes) -> np.ndarray:
    if not data.startswith(b"P6"):
        raise ImageDecodeError("not a P6 PPM")
    # header: magic, width, height, maxval — whitespace separated
    parts: list[bytes] = []
    idx = 2
    while len(parts) < 3:
        while idx < len(data) and data[idx : idx + 1].isspace():
            idx += 1
        if idx < len(data) and data[idx : idx + 1] == b"#":  # comment line
            while idx < len(data) and data[idx : idx + 1] != b"\n":
                idx += 1
            continue
        start = idx
        while idx < len(data) and not data[idx : idx + 1].isspace():
            idx += 1
        if start == idx:
            raise ImageDecodeError("truncated PPM header")
        parts.append(data[start:idx])
    idx += 1  # single whitespace after maxval
    try:
        w, h, maxval = int(parts[0]), int(parts[1]), int(parts[2])
    except ValueError as e:
        raise ImageDecodeError(f"bad PPM header: {e}") from None
    if maxval != 255 or w <= 0 or h <= 0:
        raise ImageDecodeError("unsupported PPM parameters")
    need = w * h * 3
    raw = data[idx : idx + need]
    if len(raw) < need:
        raise ImageDecodeError("truncated PPM payload")
    return np.frombuffer(raw, dtype=np.uint8).reshape(h, w, 3).copy()


# ---------------------------------------------------------------------------
# BMP (24-bit, BI_RGB)
# ---------------------------------------------------------------------------


def _encode_bmp(pixels: np.ndarray) -> bytes:
    h, w, _ = pixels.shape
    row_size = (w * 3 + 3) & ~3
    image_size = row_size * h
    offset = 14 + 40
    header = struct.pack("<2sIHHI", b"BM", offset + image_size, 0, 0, offset)
    dib = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, image_size, 2835, 2835, 0, 0)
    bgr = pixels[:, :, ::-1].astype(np.uint8)  # RGB -> BGR
    rows = np.zeros((h, row_size), dtype=np.uint8)
    rows[:, : w * 3] = bgr.reshape(h, w * 3)
    return header + dib + rows[::-1].tobytes()  # bottom-up


def _decode_bmp(data: bytes) -> np.ndarray:
    if len(data) < 54 or data[:2] != b"BM":
        raise ImageDecodeError("not a BMP")
    offset = struct.unpack_from("<I", data, 10)[0]
    dib_size = struct.unpack_from("<I", data, 14)[0]
    if dib_size < 40:
        raise ImageDecodeError("unsupported BMP DIB header")
    w, h = struct.unpack_from("<ii", data, 18)
    planes, bpp = struct.unpack_from("<HH", data, 26)
    compression = struct.unpack_from("<I", data, 30)[0]
    if bpp != 24 or compression != 0 or w <= 0 or h == 0:
        raise ImageDecodeError("unsupported BMP variant")
    flipped = h > 0
    h = abs(h)
    row_size = (w * 3 + 3) & ~3
    need = row_size * h
    raw = data[offset : offset + need]
    if len(raw) < need:
        raise ImageDecodeError("truncated BMP payload")
    rows = np.frombuffer(raw, dtype=np.uint8).reshape(h, row_size)
    if flipped:
        rows = rows[::-1]  # bottom-up rows: a view
    bgr = rows[:, : w * 3].reshape(h, w, 3)
    img = np.empty((h, w, 3), dtype=np.uint8)
    img[:, :, 0] = bgr[:, :, 2]  # BGR -> RGB
    img[:, :, 1] = bgr[:, :, 1]
    img[:, :, 2] = bgr[:, :, 0]
    return img


# ---------------------------------------------------------------------------
# PNG (8-bit RGB)
# ---------------------------------------------------------------------------

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _chunk(tag: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + tag
        + payload
        + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
    )


def _encode_png(pixels: np.ndarray) -> bytes:
    h, w, _ = pixels.shape
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)  # 8-bit RGB
    raw = pixels.astype(np.uint8)
    scanlines = np.zeros((h, 1 + w * 3), dtype=np.uint8)
    scanlines[:, 1:] = raw.reshape(h, w * 3)  # filter type 0 per row
    idat = zlib.compress(scanlines.tobytes(), 6)
    return _PNG_SIG + _chunk(b"IHDR", ihdr) + _chunk(b"IDAT", idat) + _chunk(b"IEND", b"")


def _unfilter_png(scan: np.ndarray, h: int, w: int) -> np.ndarray:
    """Undo PNG per-row filters (types 0-4) for 3-byte RGB pixels.

    Fast paths (bit-exact — the filters are integer arithmetic mod 256,
    so any evaluation strategy yields identical bytes):

    * all rows type 0 (what our encoder emits): a pure reshape, no
      arithmetic at all;
    * rows only types 0/2 (None/Up): type-2 runs are per-column prefix
      sums mod 256, evaluated with one uint8 ``add.accumulate`` per run.

    Types 1/3/4 (Sub/Average/Paeth) carry a left-neighbor data
    dependence and fall back to the scalar loop."""
    stride = w * 3
    ftypes = scan[:, 0]
    if not ftypes.any():  # all type 0: no arithmetic
        return scan[:, 1:].reshape(h, w, 3).copy()
    if np.isin(ftypes, (0, 2)).all():  # None/Up only: prefix sums mod 256
        out = scan[:, 1:].copy()
        starts = np.flatnonzero(ftypes == 0)
        if starts.size == 0 or starts[0] != 0:
            starts = np.concatenate(([0], starts))
        bounds = np.concatenate((starts, [h]))
        for s, e in zip(bounds[:-1], bounds[1:]):
            if e - s > 1:
                np.add.accumulate(out[s:e], axis=0, dtype=np.uint8, out=out[s:e])
        return out.reshape(h, w, 3)
    out = np.zeros((h, stride), dtype=np.uint8)
    bpp = 3
    for y in range(h):
        ftype = scan[y, 0]
        row = scan[y, 1:].astype(np.int32)
        prev = out[y - 1].astype(np.int32) if y > 0 else np.zeros(stride, dtype=np.int32)
        if ftype == 0:
            cur = row
        elif ftype == 2:  # Up
            cur = (row + prev) & 0xFF
        elif ftype in (1, 3, 4):  # Sub/Average/Paeth need left-neighbor scan
            cur = np.zeros(stride, dtype=np.int32)
            for x in range(stride):
                a = cur[x - bpp] if x >= bpp else 0
                b = prev[x]
                if ftype == 1:
                    cur[x] = (row[x] + a) & 0xFF
                elif ftype == 3:
                    cur[x] = (row[x] + ((a + b) >> 1)) & 0xFF
                else:  # Paeth
                    c = prev[x - bpp] if x >= bpp else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    cur[x] = (row[x] + pred) & 0xFF
        else:
            raise ImageDecodeError(f"unsupported PNG filter {ftype}")
        out[y] = cur.astype(np.uint8)
    return out.reshape(h, w, 3)


def _decode_png(data: bytes) -> np.ndarray:
    if not data.startswith(_PNG_SIG):
        raise ImageDecodeError("not a PNG")
    idx = 8
    ihdr = None
    idat = b""
    while idx + 8 <= len(data):
        length = struct.unpack_from(">I", data, idx)[0]
        tag = data[idx + 4 : idx + 8]
        payload = data[idx + 8 : idx + 8 + length]
        if len(payload) < length or idx + 12 + length > len(data):
            raise ImageDecodeError("truncated PNG chunk")
        crc = struct.unpack_from(">I", data, idx + 8 + length)[0]
        if crc != (zlib.crc32(tag + payload) & 0xFFFFFFFF):
            raise ImageDecodeError("PNG CRC mismatch")
        if tag == b"IHDR":
            ihdr = payload
        elif tag == b"IDAT":
            idat += payload
        elif tag == b"IEND":
            break
        idx += 12 + length
    if ihdr is None or not idat:
        raise ImageDecodeError("missing PNG chunks")
    w, h, depth, ctype, comp, filt, interlace = struct.unpack(">IIBBBBB", ihdr)
    if depth != 8 or ctype != 2 or comp != 0 or filt != 0 or interlace != 0:
        raise ImageDecodeError("unsupported PNG variant")
    if w <= 0 or h <= 0:
        raise ImageDecodeError("zero-dimension PNG")
    try:
        raw = zlib.decompress(idat)
    except zlib.error as e:
        raise ImageDecodeError(f"PNG inflate failed: {e}") from None
    stride = 1 + w * 3
    if len(raw) < stride * h:
        raise ImageDecodeError("truncated PNG payload")
    scan = np.frombuffer(raw[: stride * h], dtype=np.uint8).reshape(h, stride)
    return _unfilter_png(scan, h, w)


# ---------------------------------------------------------------------------
# dispatch
# ---------------------------------------------------------------------------

_ENCODERS = {"bmp": _encode_bmp, "png": _encode_png, "ppm": _encode_ppm}
_DECODERS = {"bmp": _decode_bmp, "png": _decode_png, "ppm": _decode_ppm}


def detect_format(data: bytes) -> str | None:
    if data.startswith(_PNG_SIG):
        return "png"
    if data.startswith(b"BM"):
        return "bmp"
    if data.startswith(b"P6"):
        return "ppm"
    return None


def encode_image(pixels: np.ndarray, fmt: str) -> bytes:
    """HxWx3 uint8 RGB -> encoded bytes."""
    if pixels.ndim != 3 or pixels.shape[2] != 3:
        raise ValueError("expected HxWx3 RGB array")
    try:
        return _ENCODERS[fmt](pixels)
    except KeyError:
        raise ValueError(f"unsupported format {fmt!r}") from None


def decode_image(data: bytes, fmt: str | None = None) -> np.ndarray:
    """Encoded bytes -> HxWx3 uint8 RGB. Raises ImageDecodeError."""
    actual = detect_format(data or b"")
    if actual is None:
        raise ImageDecodeError("unrecognized image signature")
    return _DECODERS[actual](data)


# ---------------------------------------------------------------------------
# perceptual hash + fidelity
# ---------------------------------------------------------------------------


def _dct_matrix(n: int) -> np.ndarray:
    k = np.arange(n)
    m = np.cos(np.pi * (2 * k[None, :] + 1) * k[:, None] / (2 * n))
    m[0] *= 1 / np.sqrt(2)
    return m * np.sqrt(2 / n)


_DCT32 = _dct_matrix(32)
_GRAY601 = np.array([0.299, 0.587, 0.114])


@functools.lru_cache(maxsize=4096)
def _cell_edges(n: int, cells: int) -> tuple[np.ndarray, ...]:
    """Area cells of ``cells`` equal parts over ``n`` pixels, each at
    least one pixel wide: integral-image line indices ``lo``/``hi`` per
    cell, the sorted distinct ``lines`` they touch, and each cell's
    ``lo``/``hi`` position in ``lines``."""
    e = (np.arange(cells + 1) * n // cells).astype(np.int64)
    lo, hi = e[:-1], np.maximum(e[1:], e[:-1] + 1)
    lines = np.union1d(lo, hi)
    out = (lo, hi, lines, np.searchsorted(lines, lo), np.searchsorted(lines, hi))
    for a in out:
        a.setflags(write=False)
    return out


def _resize_area(gray: np.ndarray, size: int = 32, out_h: int | None = None) -> np.ndarray:
    """Area-average resize to ``out_h x size`` (``size x size`` when
    ``out_h`` is omitted; exact for integer factors, integral-image box
    sums otherwise — deterministic either way). Fully vectorized: the
    box-sum is evaluated for all output cells with one fancy-indexing
    expression. The integral image is summed along rows only on the
    lines the boxes touch (out_h + 1 or fewer of the h + 1); each line
    is the same sequential sum as over the full image, so the result is
    bit-identical to it."""
    h, w = gray.shape
    out_h = size if out_h is None else out_h
    y0, y1, lines, iy0, iy1 = _cell_edges(h, out_h)
    x0, x1 = _cell_edges(w, size)[:2]
    col = np.cumsum(gray, axis=0, dtype=np.float64)  # integral line r = col[r - 1]
    csum = np.zeros((len(lines), w + 1), dtype=np.float64)  # line 0 is all zeros
    first = int(lines[0] == 0)
    np.cumsum(col[lines[first:] - 1], axis=1, out=csum[first:, 1:])
    y0c, y1c = iy0[:, None], iy1[:, None]  # same cells as np.ix_, less overhead
    box = csum[y1c, x1] - csum[y0c, x1] - csum[y1c, x0] + csum[y0c, x0]
    area = (y1 - y0)[:, None] * (x1 - x0)[None, :]
    return box / area


def phash64(pixels: np.ndarray) -> int:
    """Classic 64-bit DCT pHash, signed-int64 representation (matches a
    BIGINT ``phash`` column). Deterministic pure-numpy pipeline:
    grayscale (ITU-R 601) -> 32x32 area resize -> DCT-II -> top-left 8x8
    sans DC -> median threshold.

    Bit-exact micro-optimizations vs the original formulation (matmul
    promotion replaces the explicit astype copy; the median of 63
    elements IS element 31 of the partition, which is precisely what
    ``np.median`` computes for odd n minus its dispatch overhead; the
    bit pack is ``packbits`` little-endian instead of a Python loop —
    all produce the identical integer)."""
    gray = pixels @ _GRAY601  # uint8 @ float64 promotes to float64
    small = _resize_area(gray, 32)
    d = _DCT32 @ small @ _DCT32.T
    block = d[:8, :8].ravel()[1:]  # drop DC
    med = np.partition(block, 31)[31]  # median of 63 = rank-31 element
    bits = block > med
    val = int.from_bytes(np.packbits(bits, bitorder="little").tobytes(), "little")
    # wrap into signed 64-bit so it round-trips through a BIGINT column
    if val >= 1 << 63:
        val -= 1 << 64
    return int(val)


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    """Peak signal-to-noise ratio in dB (fidelity invariant: >= 40 dB
    for lossy formats; inf for exact)."""
    diff = a.astype(np.float64) - b.astype(np.float64)
    mse = float(np.mean(diff * diff))
    if mse == 0:
        return float("inf")
    return 10.0 * np.log10(255.0 * 255.0 / mse)
