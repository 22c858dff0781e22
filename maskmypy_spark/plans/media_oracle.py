"""Independent derivations for the media contract oracles — the street
pick-table pattern (plans/contract.py:_street_resolved) applied to the
binary-payload entries that were rows-only through round 3
(`image_phash_dedup`, `audio_stats`, `video_frame_stats`, plus the new
`image_resize` gate).

DuckDB cannot decode image/audio bytes, so each oracle is a VALUES table
whose rows are re-derived here by an INDEPENDENT pure-numpy path — sharing
only the corpus *definition* (the hash-RNG formulas of sources/fixtures.py,
exactly as the street oracle shares functions/rng.py) while replacing every
engine algorithm with a different one:

- perceptual hash: integer-exact luminance/block-mean comparison
  (cross-multiplied int64 sums) vs the engine's float64 block means
  (functions/imagecodec.py:average_hash). Equivalence is *proved* whenever
  the integer gap is nonzero (asserted per block) — no float path at all.
- codecs: skipped entirely. Every fixture format (ppm/bmp/png) is lossless
  (decode(encode(img)) == img, pinned by tests/test_images.py), so the
  oracle works on raw pixel arrays and never touches functions/imagecodec.
- near-dup pairs: brute-force all-pairs hamming (O(n^2) ground truth) vs
  the engine's banded pigeonhole join (operators/dedup.py:hamming_pairs).
- clustering: a per-edge dict union-find with path halving vs the
  engine's dedup_clusters (operators/dedup.py), which resolves a bounded
  pair graph by vectorised numpy root hooking and a larger one by
  iterative min-label propagation — the oracle shares neither.
- audio resample: direct floor/lerp indexing vs the engine's np.interp
  binary-search path (operators/media.py:audio_resample). On the integer
  sample grid np.interp's slope division is by exactly 1.0, so both routes
  compose the identical float ops (the Bellman-Ford-vs-Dijkstra argument
  of _street_resolved) — bit-equal doubles by construction.
- video frames: closed-form gradient synthesis + the same numpy reductions
  on an identical C-contiguous float64 array (integer-valued sums < 2^53
  are exact, so the means are order-independent anyway).

The rendered VALUES strings are pinned by tests/frozen_oracles.json, and
tests/test_media_oracle.py cross-checks every derived row against the live
engine operators so a drift in either path fails loudly.
"""

from __future__ import annotations

from functools import lru_cache

import numpy as np

from ..functions.rng import u_np

SEED = 42
_SIZES = (16, 32, 64)

# fixture draw tags (sources/fixtures.py:29-31 — the corpus definition)
_T_W, _T_H, _T_PIX = 210, 211, 212
_T_SW, _T_SH, _T_SG = 214, 215, 216
_T_AU_LEN, _T_AU_FREQ, _T_AU_NOISE = 231, 232, 233


# ------------------------------------------------------------------ images

def fixture_image(i: int, seed: int = SEED) -> np.ndarray:
    """Raw pixels of fixture image ``i`` (sources/fixtures.py:make_image's
    published formula, codec-free — all fixture formats are lossless)."""
    one = np.array([i], dtype=np.int64)
    w = _SIZES[int(u_np(one, _T_W, seed)[0] * len(_SIZES)) % len(_SIZES)]
    h = _SIZES[int(u_np(one, _T_H, seed)[0] * len(_SIZES)) % len(_SIZES)]
    yy, xx = np.mgrid[0:h, 0:w]
    base = (xx * 3 + yy * 7 + i * 13) % 256
    noise_keys = (np.arange(h * w, dtype=np.int64) * 977 + i) % (1 << 31)
    noise = (u_np(noise_keys, _T_PIX, seed) * 64).astype(np.uint8).reshape(h, w)
    return np.stack(
        [
            (base + noise) % 256,
            (base * 2 + noise) % 256,
            (base * 3 + noise // 2) % 256,
        ],
        axis=2,
    ).astype(np.uint8)


def avg_hash_exact(img: np.ndarray) -> int:
    """Integer-exact re-derivation of imagecodec.average_hash: luminance
    scaled by 1000 stays integral; with 8 | h and 8 | w (true for every
    fixture and resize size) all 64 blocks are equal-sized, so
    ``block_mean > mean_of_block_means``  <=>  ``64 * block_sum > total``
    in exact arithmetic. The engine's float64 rounding error (~1e-11 on
    these magnitudes) is far below the minimum nonzero integer gap
    (~3.8e-9 in block-mean units), so the two paths can only disagree on
    an exact tie — asserted absent."""
    v = img.astype(np.int64)
    lum = 299 * v[:, :, 0] + 587 * v[:, :, 1] + 114 * v[:, :, 2]
    h, w = lum.shape
    if h % 8 or w % 8:
        raise ValueError(f"avg_hash_exact needs 8|h and 8|w, got {h}x{w}")
    bs = lum.reshape(8, h // 8, 8, w // 8).sum(axis=(1, 3))
    total = int(bs.sum())
    gap = bs * 64 - total
    if (gap == 0).any():
        raise AssertionError(
            "exact block-mean tie: integer oracle cannot prove the float "
            "comparison's direction for this image"
        )
    val = 0
    for b in (gap > 0).flatten():
        val = (val << 1) | int(b)
    return val - (1 << 64) if val >= (1 << 63) else val


def _quantize5(img: np.ndarray) -> np.ndarray:
    # imagecodec.quantize(bits=5): keep top 5 bits, add the mid-rise half
    # step (max 248 + 4 = 252, never clips)
    return ((img.astype(np.int64) // 8) * 8 + 4).astype(np.uint8)


_N_IMAGES = 120
_HAMMING_T = 6


def _hamming64(a: int, b: int) -> int:
    return ((a ^ b) & ((1 << 64) - 1)).bit_count()


@lru_cache(maxsize=1)
def phash_dedup_rows() -> tuple[tuple[str, str, int], ...]:
    """(image_id, cluster_id, keep) for the 120-image fixture corpus plus
    its planted 5-bit re-encodes — brute-force pairs + dict union-find
    (vs the engine's banded join + dedup_clusters)."""
    hashes: dict[str, int] = {}
    for i in range(_N_IMAGES):
        img = fixture_image(i)
        hashes[f"img{i:08d}"] = avg_hash_exact(img)
        hashes[f"img{i:08d}_q"] = avg_hash_exact(_quantize5(img))
    ids = sorted(hashes)
    parent = {k: k for k in ids}

    def find(a: str) -> str:
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    for ai in range(len(ids)):
        for bi in range(ai + 1, len(ids)):
            if _hamming64(hashes[ids[ai]], hashes[ids[bi]]) <= _HAMMING_T:
                ra, rb = find(ids[ai]), find(ids[bi])
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
    return tuple((k, find(k), int(k == find(k))) for k in ids)


def fixture_tile_image(i: int, seed: int = SEED) -> np.ndarray:
    """Raw pixels of flat-tile fixture image ``i``
    (sources/fixtures.py:make_tile_image's published formula, codec-free).
    Constant 16x16 tiles aligned to the 4:2:0 MCU lattice: chroma is
    constant within every 2x2 subsampling neighborhood and each 8x8 DCT
    block is DC-only with a quality-98 quant step of 1, so the engine's
    jpg420 round trip of this corpus is pixel-exact — which is what lets
    the phash-of-ORIGINAL oracle below pin the full 4:2:0 decode chain."""
    one = np.array([i], dtype=np.int64)
    w = (32, 64)[int(u_np(one, _T_SW, seed)[0] * 2) % 2]
    h = (32, 64)[int(u_np(one, _T_SH, seed)[0] * 2) % 2]
    tw, th = w // 16, h // 16
    u = u_np(np.arange(3 * tw * th, dtype=np.int64) + i * 97, _T_SG, seed)
    vals = np.floor(u * 256.0).astype(np.int64).reshape(th, tw, 3)
    return (
        np.repeat(np.repeat(vals, 16, axis=0), 16, axis=1)
        .clip(0, 255)
        .astype(np.uint8)
    )


_N_TILE = 80


@lru_cache(maxsize=1)
def image_420_rows() -> tuple[tuple[str, str, int, int, int], ...]:
    """(image_id, fmt, w, h, phash) after the engine re-encodes the
    flat-tile corpus to 4:2:0 baseline JPEG and refreshes phash from a
    fresh decode of those bytes. The oracle rows hash the ORIGINAL pixels
    by the integer-exact path — equality holds iff the engine's whole
    jpg420 encode -> decode -> hash chain is pixel-faithful on this
    corpus (proved: DC-only blocks, quant step 1, constant chroma per
    subsampling neighborhood)."""
    rows = []
    for i in range(_N_TILE):
        img = fixture_tile_image(i)
        h, w = img.shape[:2]
        rows.append((f"til{i:08d}", "jpg420", w, h, avg_hash_exact(img)))
    return tuple(rows)


@lru_cache(maxsize=1)
def image_prog_rows() -> tuple[tuple[str, str, int, int, int], ...]:
    """(image_id, fmt, w, h, phash) after the engine re-encodes the
    flat-tile corpus to PROGRESSIVE (SOF2) 4:2:0 JPEG — fmt "jpgprog" —
    and refreshes phash from a fresh decode. Progressive is a lossless
    re-coding of the same quantized coefficients as "jpg420"
    (functions/jpeg.py: both writers share _quantize_planes), so the
    pixel-exactness proof of :func:`image_420_rows` carries over verbatim
    and the same phash-of-ORIGINAL oracle pins the whole 10-scan
    spectral-selection + successive-approximation decode chain."""
    rows = []
    for i in range(_N_TILE):
        img = fixture_tile_image(i)
        h, w = img.shape[:2]
        rows.append((f"til{i:08d}", "jpgprog", w, h, avg_hash_exact(img)))
    return tuple(rows)


_T_PW, _T_PH, _T_PPIX = 240, 241, 242
_N_PNG = 90

_PNG_LAYOUTS = (
    "rgb8", "rgba8", "pal8", "gray8", "rgb16", "gray4", "rgb8i", "graya8",
    "pal4i",
)


def _png_canonical(i: int, seed: int = SEED) -> tuple[str, np.ndarray]:
    """(layout, canonical uint8 RGB) of web-PNG fixture ``i`` — the corpus
    definition of sources/fixtures.py:_png_planes/make_web_png re-derived
    codec-free. The engine path goes sample-array -> encode_ex (adaptive
    filters / palette / Adam7 / zlib) -> functions/png.py full decode ->
    canonical RGB; this path never touches a byte of PNG stream and builds
    the canonical image directly from the layout semantics:

    - palette lookup + tRNS alpha as int64 fancy indexing
    - alpha-over-white with the documented integer formula
      (c*a + 255*(255-a) + 127) // 255
    - 4-bit gray expansion as v*17 (== v*255//15 exactly — bit replication)
    - 16-bit reduction: samples are planted as v*257, whose high byte is v

    Equality of the engine's phash (hash of a fresh decode of the bytes)
    with avg_hash_exact of THIS image therefore proves the whole
    filter/interlace/palette/alpha/depth decode chain pixel-faithful."""
    one = np.array([i], dtype=np.int64)
    w = _SIZES[int(u_np(one, _T_PW, seed)[0] * len(_SIZES)) % len(_SIZES)]
    h = _SIZES[int(u_np(one, _T_PH, seed)[0] * len(_SIZES)) % len(_SIZES)]
    yy, xx = np.mgrid[0:h, 0:w]
    base = (xx * 5 + yy * 11 + i * 7) % 256
    keys = (np.arange(h * w, dtype=np.int64) * 997 + i) % (1 << 31)
    noise = (u_np(keys, _T_PPIX, seed) * 96).astype(np.int64).reshape(h, w)
    r = (base + noise) % 256
    g = (base * 3 + noise) % 256
    b = (base * 5 + noise // 3) % 256
    a = (base * 7 + noise * 2) % 256
    layout = _PNG_LAYOUTS[i % len(_PNG_LAYOUTS)]

    def over_white(rgb: np.ndarray, alpha: np.ndarray) -> np.ndarray:
        al = alpha[..., None]
        return (rgb * al + 255 * (255 - al) + 127) // 255

    if layout in ("rgb8", "rgb8i", "rgb16"):
        canon = np.stack([r, g, b], axis=2)
    elif layout == "rgba8":
        canon = over_white(np.stack([r, g, b], axis=2), a)
    elif layout == "pal8":
        j = np.arange(256, dtype=np.int64)
        pal = np.stack(
            [(j * 37) % 256, (j * 73 + 11) % 256, (j * 151 + 29) % 256], axis=1
        )
        pal_a = np.full(256, 255, dtype=np.int64)
        pal_a[:64] = (j[:64] * 16) % 256
        idx = (r + a) % 256
        canon = over_white(pal[idx], pal_a[idx])
    elif layout == "gray8":
        canon = np.repeat(g[:, :, None], 3, axis=2)
    elif layout == "gray4":
        canon = np.repeat(((g % 16) * 17)[:, :, None], 3, axis=2)
    elif layout == "graya8":
        canon = over_white(np.repeat(g[:, :, None], 3, axis=2), a)
    else:  # pal4i
        j = np.arange(16, dtype=np.int64)
        pal = np.stack(
            [(j * 53) % 256, (j * 97 + 5) % 256, (j * 29 + 160) % 256], axis=1
        )
        pal_a = np.full(16, 255, dtype=np.int64)
        pal_a[:8] = (j[:8] * 32) % 256
        idx = (r + a) % 16
        canon = over_white(pal[idx], pal_a[idx])
    return layout, canon.astype(np.uint8)


@lru_cache(maxsize=1)
def png_rows() -> tuple[tuple[str, str, int, int, int], ...]:
    """(image_id, layout, w, h, phash) for the 90-image full-spec web-PNG
    corpus — phash of the codec-free canonical RGB by the integer-exact
    path. Matches the engine iff decode(encode_ex(...)) is pixel-exact for
    every layout (all five filters, palette+tRNS, alpha, 16-bit, 4-bit,
    Adam7)."""
    rows = []
    for i in range(_N_PNG):
        layout, canon = _png_canonical(i)
        h, w = canon.shape[:2]
        rows.append((f"web{i:08d}", layout, w, h, avg_hash_exact(canon)))
    return tuple(rows)


_RS_W = _RS_H = 24  # resize contract target (8 | 24, so phash stays exact)


@lru_cache(maxsize=1)
def image_resize_rows() -> tuple[tuple[str, int, int, int], ...]:
    """(image_id, w, h, phash) after nearest-neighbor resize to 24x24 —
    the index arithmetic of operators/images.py:image_resize re-applied to
    the codec-free pixels, hashed by the integer-exact path."""
    rows = []
    for i in range(_N_IMAGES):
        img = fixture_image(i)
        h, w = img.shape[:2]
        ri = (np.arange(_RS_H) * h // _RS_H).astype(np.int64)
        ci = (np.arange(_RS_W) * w // _RS_W).astype(np.int64)
        rows.append(
            (f"img{i:08d}", _RS_W, _RS_H, avg_hash_exact(img[ri][:, ci]))
        )
    return tuple(rows)


# ------------------------------------------------------------------- audio

_N_AUDIO = 100
_AU_TARGET = 16000


@lru_cache(maxsize=1)
def audio_stats_rows() -> tuple[tuple[str, float, float], ...]:
    """(audio_id, rms, duration_sec) of the 100-clip fixture after the
    16 kHz resample — clip synthesis per sources/fixtures.py:audio_clips
    (the corpus definition), resample via direct floor/lerp indexing."""
    rows = []
    for i in range(_N_AUDIO):
        one = np.array([i], dtype=np.int64)
        sr = (8000, 16000, 22050)[i % 3]
        n_s = 400 + int(u_np(one, _T_AU_LEN, SEED)[0] * 1200)
        t = np.arange(n_s, dtype=np.float64)
        freq = 100.0 + float(u_np(one, _T_AU_FREQ, SEED)[0]) * 800.0
        noise = (
            u_np((t.astype(np.int64) * 131 + i) % (1 << 31), _T_AU_NOISE, SEED)
            - 0.5
        ) * 2000
        x = 8000.0 * np.sin(2 * np.pi * freq * t / sr) + noise
        s = np.round(x).astype("<i2").astype(np.float64)  # pcm16 round-trip
        n_out = max(1, int(round(n_s * _AU_TARGET / sr)))
        tt = np.linspace(0.0, n_s - 1.0, n_out)
        lo = np.minimum(np.floor(tt).astype(np.int64), n_s - 1)
        hi = np.minimum(lo + 1, n_s - 1)
        y = s[lo] + (s[hi] - s[lo]) * (tt - lo)
        q = np.clip(np.round(y), -32768, 32767).astype("<i2").astype(np.float64)
        rows.append(
            (
                f"aud{i:06d}",
                float(np.sqrt(np.mean(q * q))),
                n_out / float(_AU_TARGET),
            )
        )
    return tuple(rows)


def _clip_samples(i: int) -> tuple[np.ndarray, int]:
    """(pcm16 samples as int array, sample_rate) of fixture clip i —
    the corpus definition (sources/fixtures.py:audio_clips)."""
    one = np.array([i], dtype=np.int64)
    sr = (8000, 16000, 22050)[i % 3]
    n_s = 400 + int(u_np(one, _T_AU_LEN, SEED)[0] * 1200)
    t = np.arange(n_s, dtype=np.float64)
    freq = 100.0 + float(u_np(one, _T_AU_FREQ, SEED)[0]) * 800.0
    noise = (
        u_np((t.astype(np.int64) * 131 + i) % (1 << 31), _T_AU_NOISE, SEED) - 0.5
    ) * 2000
    x = 8000.0 * np.sin(2 * np.pi * freq * t / sr) + noise
    return np.round(x).astype("<i2").astype(np.int64), sr


# IMA step-size table (public: IMA ADPCM spec / RFC 3551 DVI4) — duplicated
# here on purpose: the oracle encoder below shares NOTHING with
# functions/adpcm.py but the published standard.
_IMA_STEPS = (
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
)
_IMA_INDEX = (-1, -1, -1, -1, 2, 4, 6, 8)


def _ima_encode(x: np.ndarray) -> bytes:
    """Independently re-coded IMA ADPCM encoder. The spec's quantizer IS
    the greedy threshold cascade (step, step>>1, step>>2 on the residual —
    a genuinely different algorithm would encode a different stream), so
    unlike the phash/pairs/clusters oracles this one shares the published
    algorithm and differs only in derivation route (precomputed threshold
    tuple + accumulated delta vs functions/adpcm.py's subtract-and-set-bit
    helper). tests/test_media_oracle.py cross-checks byte equality on the
    corpus so either implementation drifting fails loudly."""
    pred, idx = 0, 0
    nibbles = []
    for v in x:
        step = _IMA_STEPS[idx]
        diff = int(v) - pred
        sign = 8 if diff < 0 else 0
        residual = -diff if diff < 0 else diff
        m = 0
        delta = step >> 3
        for bit, share in ((4, step), (2, step >> 1), (1, step >> 2)):
            if residual >= share:
                m |= bit
                residual -= share
                delta += share
        pred = pred - delta if sign else pred + delta
        pred = max(-32768, min(32767, pred))
        idx = max(0, min(88, idx + _IMA_INDEX[m]))
        nibbles.append(sign | m)
    if len(nibbles) % 2:
        nibbles.append(0)
    return bytes(
        (nibbles[j + 1] << 4) | nibbles[j] for j in range(0, len(nibbles), 2)
    )


_N_TRANSCODE = 50


@lru_cache(maxsize=1)
def audio_transcode_rows() -> tuple[tuple[str, str, int, str], ...]:
    """(audio_id, fmt, n_bytes, md5hex) of the adpcm transcode of the
    50-clip corpus — bytes re-derived by the independent encoder above,
    digested with stdlib hashlib (vs Spark's md5 over the operator's
    output)."""
    import hashlib

    rows = []
    for i in range(_N_TRANSCODE):
        x, _sr = _clip_samples(i)
        data = _ima_encode(x)
        rows.append(
            (f"aud{i:06d}", "adpcm", len(data), hashlib.md5(data).hexdigest())
        )
    return tuple(rows)


# ------------------------------------------------------------------- video

_N_VIDEO = 60
_VID_EVERY = 2


@lru_cache(maxsize=1)
def video_frame_stats_rows() -> tuple[tuple[str, float, float, float, float, float], ...]:
    """(image_id, brightness, contrast, mean_r, mean_g, mean_b) for every
    2nd frame of the 60-clip fixture — closed-form gradient frames
    (sources/fixtures.py:video_clips) + the image_stats reductions on an
    identical C-contiguous float64 array."""
    rows = []
    w, h = 16, 12
    for i in range(_N_VIDEO):
        n_f = 4 + i % 5
        for f in range(0, n_f, _VID_EVERY):
            yy, xx = np.mgrid[0:h, 0:w]
            base = (xx * 5 + yy * 3 + i * 7 + f * 11) % 256
            img = np.ascontiguousarray(
                np.stack([base, (base * 2) % 256, (base * 3) % 256], axis=-1)
            ).astype(np.float64)
            rows.append(
                (
                    f"vid{i:06d}_f{f:05d}",
                    float(img.mean()),
                    float(img.std()),
                    float(img[:, :, 0].mean()),
                    float(img[:, :, 1].mean()),
                    float(img[:, :, 2].mean()),
                )
            )
    return tuple(rows)


# -------------------------------------------------------------------- gifs

_T_GW, _T_GH, _T_GPIX = 250, 251, 252
_N_GIF = 90

_GIF_LAYOUTS = ("gp8", "lp16", "tr", "il", "off", "lzw12")
_GIF_TR_IDX = 5


def _gif_pal256() -> np.ndarray:
    j = np.arange(256, dtype=np.int64)
    return np.stack([(j * 41) % 256, (j * 89 + 17) % 256, (j * 139 + 51) % 256], axis=1)


def _gif_pal16() -> np.ndarray:
    j = np.arange(16, dtype=np.int64)
    return np.stack([(j * 61 + 7) % 256, (j * 113 + 29) % 256, (j * 31 + 180) % 256], axis=1)


def _gif_canonical(i: int, seed: int = SEED) -> tuple[str, np.ndarray]:
    """(layout, canonical uint8 RGB on the logical screen) of web-GIF
    fixture ``i`` — the corpus definition of sources/fixtures.py:
    _gif_indices/make_web_gif re-derived codec-free. The engine path goes
    index-plane -> gif.encode_ex (LZW sub-blocks / local tables /
    interlace / GCE) -> functions/gif.py full decode -> composited screen;
    this path never touches a byte of GIF stream and builds the canonical
    image directly from the layout semantics: palette lookup as int64
    fancy indexing, transparent and undrawn pixels opaque white (the
    engine's alpha-over-white convention). Equality of the engine's phash
    (hash of a fresh decode of the bytes) with avg_hash_exact of THIS
    image therefore proves the whole LZW/interlace/local-table/
    transparency decode chain pixel-faithful — including the 12-bit
    dictionary-growth + mid-stream-clear edge the 96x96 'lzw12' layout
    forces."""
    layout = _GIF_LAYOUTS[i % len(_GIF_LAYOUTS)]
    one = np.array([i], dtype=np.int64)
    if layout == "lzw12":
        w = h = 96
    else:
        w = _SIZES[int(u_np(one, _T_GW, seed)[0] * len(_SIZES)) % len(_SIZES)]
        h = _SIZES[int(u_np(one, _T_GH, seed)[0] * len(_SIZES)) % len(_SIZES)]
    yy, xx = np.mgrid[0:h, 0:w]
    base = (xx * 7 + yy * 13 + i * 5) % 256
    keys = (np.arange(h * w, dtype=np.int64) * 1009 + i) % (1 << 31)
    noise = (u_np(keys, _T_GPIX, seed) * 128).astype(np.int64).reshape(h, w)
    idx = (base + noise) % 256
    if layout in ("gp8", "lzw12"):
        canon = _gif_pal256()[idx]
    elif layout in ("lp16", "il"):
        canon = _gif_pal16()[idx % 16]
    elif layout == "tr":
        canon = _gif_pal16()[idx % 16]
        canon[idx % 16 == _GIF_TR_IDX] = 255
    else:  # off: frame rect centered on a white screen
        fh, fw = h // 2, w // 2
        fy, fx = h // 4, w // 4
        canon = np.full((h, w, 3), 255, dtype=np.int64)
        canon[fy : fy + fh, fx : fx + fw] = _gif_pal256()[
            idx[fy : fy + fh, fx : fx + fw]
        ]
    return layout, canon.astype(np.uint8)


@lru_cache(maxsize=1)
def gif_rows() -> tuple[tuple[str, str, int, int, int], ...]:
    """(image_id, layout, w, h, phash) for the 90-image full-spec web-GIF
    corpus — phash of the codec-free canonical RGB by the integer-exact
    path. Matches the engine iff decode(encode_ex(...)) is pixel-exact for
    every layout (global/local tables, transparency, interlace, offset
    rects, 12-bit LZW with deferred clear)."""
    rows = []
    for i in range(_N_GIF):
        layout, canon = _gif_canonical(i)
        h, w = canon.shape[:2]
        rows.append((f"gif{i:08d}", layout, w, h, avg_hash_exact(canon)))
    return tuple(rows)


_N_GIF_ANIM = 40
_GIF_ANIM_W, _GIF_ANIM_H, _GIF_ANIM_FRAMES = 20, 16, 4
_GIF_ANIM_RECTS = ((2, 1, 10, 8), (8, 6, 10, 8), (4, 3, 10, 8))
_GIF_ANIM_SCENARIOS = ("d0", "d2", "d3", "mix")


def _gif_pal16b() -> np.ndarray:
    j = np.arange(16, dtype=np.int64)
    return np.stack([(j * 19 + 33) % 256, (j * 47 + 90) % 256, (j * 71 + 12) % 256], axis=1)


def _gif_anim_frames(i: int) -> np.ndarray:
    """All composited frames of animation fixture ``i`` (uint8, (4, 16,
    20, 3)) — the GIF89a disposal/transparency semantics applied directly
    to the closed-form index planes of sources/fixtures.py:
    make_gif_animation, never touching the encoded bytes: paint frame 0
    full-screen, then each partial rect (skipping transparent indices),
    recording the screen after each frame and then disposing the rect
    (2 -> white, 3 -> the pixels saved before the paint)."""
    scen = _GIF_ANIM_SCENARIOS[i % 4]
    w, h, k = _GIF_ANIM_W, _GIF_ANIM_H, _GIF_ANIM_FRAMES
    disposals = {
        "d0": (0, 0, 0, 0),
        "d2": (0, 2, 2, 0),
        "d3": (0, 3, 3, 0),
        "mix": (0, 2, 3, 0),
    }[scen]
    canvas = np.full((h, w, 3), 255, dtype=np.uint8)
    out = []
    for f in range(k):
        if f == 0:
            fx, fy, fw, fh = 0, 0, w, h
        else:
            fx, fy, fw, fh = _GIF_ANIM_RECTS[f - 1]
        yy, xx = np.mgrid[0:fh, 0:fw]
        idx = ((xx * 3 + yy * 5 + i * 7 + f * 11) % 16).astype(np.int64)
        pal = _gif_pal16b() if (scen == "mix" and f == 2) else _gif_pal16()
        rgb = pal[idx].astype(np.uint8)
        saved = canvas[fy : fy + fh, fx : fx + fw].copy()
        target = canvas[fy : fy + fh, fx : fx + fw]
        if scen == "mix" and f in (1, 2):
            opaque = idx != _GIF_TR_IDX
            target[opaque] = rgb[opaque]
        else:
            target[:] = rgb
        out.append(canvas.copy())
        if disposals[f] == 2:
            canvas[fy : fy + fh, fx : fx + fw] = 255
        elif disposals[f] == 3:
            canvas[fy : fy + fh, fx : fx + fw] = saved
    return np.stack(out)


@lru_cache(maxsize=1)
def gif_frame_stats_rows() -> tuple[tuple[str, float, float, float, float, float], ...]:
    """(image_id, brightness, contrast, mean_r, mean_g, mean_b) for every
    frame of the 40-animation fixture — independent compositing
    (_gif_anim_frames) + the image_stats reductions on an identical
    C-contiguous float64 array."""
    rows = []
    for i in range(_N_GIF_ANIM):
        frames = _gif_anim_frames(i)
        for f in range(_GIF_ANIM_FRAMES):
            img = np.ascontiguousarray(frames[f]).astype(np.float64)
            rows.append(
                (
                    f"gan{i:06d}_f{f:05d}",
                    float(img.mean()),
                    float(img.std()),
                    float(img[:, :, 0].mean()),
                    float(img[:, :, 1].mean()),
                    float(img[:, :, 2].mean()),
                )
            )
    return tuple(rows)


_N_VID_GIF = 40


@lru_cache(maxsize=1)
def video_gif_stats_rows() -> tuple[tuple[str, float, float], ...]:
    """(video_id, brightness, duration_sec) for the first 40 rawrgb clips
    AFTER an animated-GIF transcode — closed-form gradient synthesis
    (sources/fixtures.py:video_clips) + the video_stats reductions. The
    oracle can be exact because the transcode is LOSSLESS by construction:
    every clip's colors are (v, 2v%256, 3v%256) for v in 0..255 — at most
    256 distinct — so the indexed-color write loses nothing, each frame
    paints the full screen (no disposal residue), and the decoded frames
    are bit-equal to the raws (pinned by tests/test_gif.py). A GIF writer
    or LZW bug changes the decoded pixels and the brightness stops
    matching."""
    rows = []
    w, h = 16, 12
    for i in range(_N_VID_GIF):
        n_f = 4 + i % 5
        yy, xx = np.mgrid[0:h, 0:w]
        frames = np.stack(
            [
                np.stack(
                    [
                        (xx * 5 + yy * 3 + i * 7 + f * 11) % 256,
                        ((xx * 5 + yy * 3 + i * 7 + f * 11) % 256 * 2) % 256,
                        ((xx * 5 + yy * 3 + i * 7 + f * 11) % 256 * 3) % 256,
                    ],
                    axis=-1,
                )
                for f in range(n_f)
            ]
        ).astype(np.float64)
        rows.append((f"vid{i:06d}", float(frames.mean()), n_f / 10.0))
    return tuple(rows)
