"""Pure-numpy image codecs (PPM / BMP / PNG via stdlib zlib / baseline JPEG).

No PIL/opencv in this environment (SURVEY §7), so the engine ships minimal
deterministic codecs. PPM/BMP are exact (lossless, byte-stable); PNG
writes zlib level 6, filter 0 (lossless, byte-stable) and DECODES the full
baseline spec (functions/png.py: all filters, color types, depths 1-16,
PLTE/tRNS, Adam7); "jpg" is the real DCT/Huffman baseline
JFIF codec (functions/jpeg.py) at quality 98 — the compressed-format path.
The dependency-free lossy transform for the PSNR>=40dB invariant is
bit-depth quantization (``quantize``); the jpg default quality holds the
same invariant on the fixture corpus. All functions operate on uint8 RGB
arrays of shape (h, w, 3).
"""

from __future__ import annotations

import struct

import numpy as np


# ---------------------------------------------------------------- PPM (P6)

def encode_ppm(img: np.ndarray) -> bytes:
    h, w, _ = img.shape
    return b"P6\n%d %d\n255\n" % (w, h) + img.astype(np.uint8).tobytes()


def decode_ppm(data: bytes) -> np.ndarray:
    if not data.startswith(b"P6"):
        raise ValueError("not a P6 ppm")
    parts = data.split(b"\n", 3)
    w, h = (int(v) for v in parts[1].split())
    raw = parts[3]
    return np.frombuffer(raw[: w * h * 3], dtype=np.uint8).reshape(h, w, 3)


# ------------------------------------------------------------ BMP (24-bit)

def encode_bmp(img: np.ndarray) -> bytes:
    h, w, _ = img.shape
    row = w * 3
    pad = (4 - row % 4) % 4
    body = bytearray()
    bgr = img[::-1, :, ::-1].astype(np.uint8)  # bottom-up, BGR
    for r in range(h):
        body += bgr[r].tobytes() + b"\x00" * pad
    size = 14 + 40 + len(body)
    header = struct.pack("<2sIHHI", b"BM", size, 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 2835, 2835, 0, 0)
    return header + info + bytes(body)


def decode_bmp(data: bytes) -> np.ndarray:
    if data[:2] != b"BM":
        raise ValueError("not a bmp")
    off = struct.unpack("<I", data[10:14])[0]
    w, h = struct.unpack("<ii", data[18:26])[0:2]
    bpp = struct.unpack("<H", data[28:30])[0]
    if bpp != 24:
        raise ValueError("only 24-bit bmp supported")
    row = w * 3
    pad = (4 - row % 4) % 4
    out = np.empty((h, w, 3), dtype=np.uint8)
    pos = off
    for r in range(h):
        line = np.frombuffer(data[pos : pos + row], dtype=np.uint8).reshape(w, 3)
        out[h - 1 - r] = line[:, ::-1]
        pos += row + pad
    return out


# ------------------------------------------------------------- PNG (zlib)

def encode_png(img: np.ndarray) -> bytes:
    """8-bit RGB, filter 0, non-interlaced — the engine's byte-stable
    default layout. Full-spec layouts (palette, alpha, 16-bit, adaptive
    filters, Adam7) via functions/png.py:encode_ex."""
    from . import png as _png

    return _png.encode_ex(img, color_type=2, depth=8, filters=0)


def decode_png(data: bytes) -> np.ndarray:
    """Full baseline-spec decode (functions/png.py — all five filters,
    color types 0/2/3/4/6, depths 1-16, PLTE/tRNS, Adam7; round-5 wall
    removal: real crawled PNGs are adaptively filtered and frequently
    paletted/alpha'd, which the previous RGB/filter-0/2-only reader
    rejected). Canonical uint8 RGB out; alpha composites over white."""
    from . import png as _png

    return _png.decode(data)


def encode_jpg(img: np.ndarray) -> bytes:
    """Baseline JFIF (functions/jpeg.py — real DCT/Huffman compression, the
    round-3 'compressed codecs are stubs' wall removed). Default quality 98
    keeps the engine's lossy invariant (PSNR >= 40 dB) on the worst-case
    per-pixel-noise fixtures; call jpeg.encode_jpeg directly for other
    qualities."""
    from . import jpeg as _jpeg

    return _jpeg.encode_jpeg(img, quality=98)


def decode_jpg(data: bytes) -> np.ndarray:
    from . import jpeg as _jpeg

    return _jpeg.decode_jpeg(data)


def encode_jpg420(img: np.ndarray) -> bytes:
    """4:2:0 chroma-subsampled baseline JFIF — the near-universal layout of
    crawled web JPEGs (round-5 decoder wall removal). Luminance rides the
    same quality-98 path as "jpg" (the phash/luma invariant is unchanged);
    chroma is 2x2 box-averaged, so chroma DETAIL is discarded by design —
    the full-RGB PSNR >= 40 dB invariant holds on smooth-chroma content,
    the LUMA PSNR >= 40 dB invariant on any content."""
    from . import jpeg as _jpeg

    return _jpeg.encode_jpeg(img, quality=98, subsampling="420")


def encode_jpgprog(img: np.ndarray) -> bytes:
    """Progressive (SOF2) 4:2:0 JFIF — the other common crawled-web layout
    (round-5 decoder wall removal, completing the JPEG surface). Same
    quantized coefficients as "jpg420", delivered over the conventional
    10-scan spectral-selection + successive-approximation script, so it
    decodes bit-identically to its baseline twin."""
    from . import jpeg as _jpeg

    return _jpeg.encode_jpeg(img, quality=98, subsampling="420", progressive=True)


def encode_gif(img: np.ndarray) -> bytes:
    """Single-frame GIF (functions/gif.py). Indexed-color format: a
    <=256-distinct-color image is required (np.unique builds the global
    palette deterministically) — GIF's color-quantization step is out of
    scope, so rich-color content must be quantized first. Lossless on any
    palette-friendly image."""
    from . import gif as _gif

    idx, pal = _gif.palettize(img)
    return _gif.encode_gif(idx, pal)


def decode_gif(data: bytes) -> np.ndarray:
    """First composited frame, canonical uint8 RGB (full 87a/89a surface:
    LZW, local palettes, interlace, transparency over white)."""
    from . import gif as _gif

    return _gif.decode(data)


CODECS = {
    "ppm": (encode_ppm, decode_ppm),
    "bmp": (encode_bmp, decode_bmp),
    "png": (encode_png, decode_png),
    "jpg": (encode_jpg, decode_jpg),
    # decode_jpg reads the sampling layout (and scan mode) from the stream
    "jpg420": (encode_jpg420, decode_jpg),
    "jpgprog": (encode_jpgprog, decode_jpg),
    "gif": (encode_gif, decode_gif),
}

#: formats where decode(encode(img)) != img; consumers that maintain the
#: "phash matches a fresh decode of bytes" invariant must re-decode after
#: encoding to these (operators/images.py:reencode does)
LOSSY = {"jpg", "jpg420", "jpgprog"}


def encode(img: np.ndarray, fmt: str) -> bytes:
    return CODECS[fmt][0](img)


def decode(data: bytes, fmt: str) -> np.ndarray:
    return CODECS[fmt][1](data)


# ------------------------------------------------------------- transforms

def quantize(img: np.ndarray, bits: int = 5) -> np.ndarray:
    """Deterministic lossy re-encode: keep the top ``bits`` bits per channel
    (mid-rise requantization). bits=5 => PSNR ≈ 41 dB, the engine's standard
    lossy setting for the >=40 dB invariant."""
    shift = 8 - bits
    q = (img.astype(np.uint16) >> shift) << shift
    return (q + (1 << (shift - 1))).clip(0, 255).astype(np.uint8)


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    mse = np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2)
    if mse == 0:
        return float("inf")
    return float(10.0 * np.log10(255.0**2 / mse))


def average_hash(img: np.ndarray) -> int:
    """64-bit average hash (deterministic, DCT-free): 8x8 block-mean
    luminance thresholded at its mean. Signed int64 (parquet-friendly).
    Under 8 px on a side, each block keeps at least one row and one
    column (neighbouring blocks then share pixels) instead of averaging
    an empty slice; 8 px or more, the blocks tile the image."""
    lum = img.astype(np.float64) @ np.array([0.299, 0.587, 0.114])
    h, w = lum.shape
    ys = (np.arange(8) * h) // 8
    xs = (np.arange(8) * w) // 8
    ye = np.maximum(np.append(ys[1:], h), ys + 1)
    xe = np.maximum(np.append(xs[1:], w), xs + 1)
    blocks = np.empty((8, 8))
    for i in range(8):
        for j in range(8):
            blocks[i, j] = lum[ys[i] : ye[i], xs[j] : xe[j]].mean()
    bits = (blocks > blocks.mean()).flatten()
    val = 0
    for b in bits:
        val = (val << 1) | int(b)
    return val - (1 << 64) if val >= (1 << 63) else val
