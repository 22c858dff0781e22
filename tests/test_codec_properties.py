"""Property-based tests (hypothesis) for the pure-numpy codec layer —
adversarial shapes and values the fixture corpus never produces. No Spark
session needed; each property runs in milliseconds."""

import numpy as np
from hypothesis import example, given, settings
from hypothesis import strategies as st

from maskmypy_spark.functions import adpcm, imagecodec, jpeg


def _rand_img(draw_h, draw_w, seed):
    rs = np.random.RandomState(seed)
    return rs.randint(0, 256, (draw_h, draw_w, 3), dtype=np.uint8)


@settings(max_examples=25, deadline=None)
@given(
    h=st.integers(1, 40),
    w=st.integers(1, 40),
    seed=st.integers(0, 2**31 - 1),
    quality=st.sampled_from([50, 75, 90, 98, 100]),
)
def test_jpeg_roundtrip_any_shape(h, w, seed, quality):
    img = _rand_img(h, w, seed)
    data = jpeg.encode_jpeg(img, quality)
    assert data[:2] == b"\xff\xd8" and data[-2:] == b"\xff\xd9"
    back = jpeg.decode_jpeg(data)
    assert back.shape == img.shape
    if quality == 100:
        # all-ones quant tables: only DCT rounding error remains
        assert imagecodec.psnr(img, back) > 40.0


@settings(max_examples=15, deadline=None)
@given(
    h=st.integers(8, 32),
    w=st.integers(8, 48),
    seed=st.integers(0, 2**31 - 1),
    ri=st.integers(1, 9),
)
def test_jpeg_restart_interval_equals_plain(h, w, seed, ri):
    img = _rand_img(h, w, seed)
    plain = jpeg.decode_jpeg(jpeg.encode_jpeg(img, 95))
    with_rst = jpeg.decode_jpeg(jpeg.encode_jpeg(img, 95, restart_interval=ri))
    assert np.array_equal(plain, with_rst)


@settings(max_examples=25, deadline=None)
@given(
    h=st.integers(1, 40),
    w=st.integers(1, 40),
    seed=st.integers(0, 2**31 - 1),
    quality=st.sampled_from([50, 75, 90, 98, 100]),
    ss=st.sampled_from(["444", "422", "420"]),
)
def test_jpeg_progressive_equals_baseline(h, w, seed, quality, ss):
    """Progressive (SOF2) is a lossless re-coding of the same quantized
    coefficients, so its decode must be BIT-IDENTICAL to the baseline
    twin's — an exact property with no lossy tolerance, for every shape,
    quality, and subsampling (partial MCUs exercise the non-interleaved
    AC-scan geometry, which differs from the lattice)."""
    img = _rand_img(h, w, seed)
    base = jpeg.decode_jpeg(jpeg.encode_jpeg(img, quality, subsampling=ss))
    prog_bytes = jpeg.encode_jpeg(img, quality, subsampling=ss, progressive=True)
    assert b"\xff\xc2" in prog_bytes[:256]
    assert np.array_equal(base, jpeg.decode_jpeg(prog_bytes))


def test_jpeg_progressive_eobn_runs_decode():
    """Our writer caps EOB runs at one block (EOB0), but external encoders
    emit EOBn runs spanning up to 2^14 blocks (T.81 G.1.2.2) — exercise the
    decoder's run paths directly with hand-built single-component scans:
    a first scan whose EOBn(r=2)+extra covers six trailing blocks, then a
    refinement scan that places a new coefficient, applies a buffered
    correction bit, and rides an EOBn over the all-zero tail."""
    # the Annex-K typical tables have NO EOBn symbols (that's why the writer
    # caps runs) — build the tiny custom table an external encoder would
    # have emitted via DHT: 5 flat 3-bit codes for exactly the symbols used
    bits = [0, 0, 5] + [0] * 13
    vals = [0x00, 0x01, 0x10, 0x11, 0x20]
    atree = jpeg._decode_tree(bits, vals)
    codes = jpeg._assign_codes(bits, vals)

    # --- first scan at Al=1, band Ss=1..Se=3: blk0 codes true values
    # [_, 3, 0, -1] point-transformed to [_, 1, 0, 0] (3>>1=1, 1>>1=0);
    # blocks 1..7 are one EOBn: r=2, extra=0b11 -> eobrun = (1<<2)-1+3 = 6
    # more blocks after the one that read the symbol
    bw = jpeg._BitWriter()
    s, extra = jpeg._mag_bits(1)
    c, ln = codes[(0 << 4) | s]  # run 0, the transformed 3 -> 1
    bw.write(c, ln)
    bw.write(extra, s)
    c, ln = codes[0x00]  # rest of blk0's band is zero at this Al
    bw.write(c, ln)
    c, ln = codes[(2 << 4) | 0]  # EOBn: r=2 + 2 extra bits
    bw.write(c, ln)
    bw.write(0b11, 2)
    blocks = np.zeros((8, 64), dtype=np.int64)
    br = jpeg._BitReader(bw.flush() + b"\xff\xd9")
    eobrun = 0
    for b in range(8):
        eobrun = jpeg._dec_ac_first(br, blocks[b], atree, 1, 3, 1, eobrun)
    assert list(blocks[0][:4]) == [0, 2, 0, 0]  # 1 << Al
    assert not blocks[1:].any()
    assert eobrun == 0  # 1 break block + 6 run = blocks 1..7 all consumed

    # --- refinement scan at Al=0 (p1=1) toward true [_, 3, 0, -1]:
    # position 3 becomes newly significant (run/1 symbol, run=1 zero-history
    # position, sign bit 0 = negative), position 1 is history and its
    # correction bit (3 & 1 = 1) rides buffered after that symbol, growing
    # 2 -> 3; blocks 1..3 are an EOBn r=1 + extra 1 -> eobrun = 2+1 = 3
    bw = jpeg._BitWriter()
    c, ln = codes[(1 << 4) | 1]
    bw.write(c, ln)
    bw.write(0, 1)  # sign: negative
    bw.write(1, 1)  # buffered correction bit for the history 2 at pos 1
    c, ln = codes[(1 << 4) | 0]  # EOBn r=1 + 1 extra bit
    bw.write(c, ln)
    bw.write(1, 1)
    br = jpeg._BitReader(bw.flush() + b"\xff\xd9")
    eobrun = 0
    for b in range(4):
        eobrun = jpeg._dec_ac_refine(br, blocks[b], atree, 1, 3, 0, eobrun)
    assert list(blocks[0][:4]) == [0, 3, 0, -1]
    assert eobrun == 0  # blocks 1..3 consumed by the run (all-zero: no bits)


@settings(max_examples=25, deadline=None)
@given(
    h=st.integers(1, 40),
    w=st.integers(1, 40),
    seed=st.integers(0, 2**31 - 1),
    quality=st.sampled_from([50, 75, 90, 98, 100]),
    ss=st.sampled_from(["420", "422"]),
)
# out-of-range colors from averaged noise chroma: a per-channel clamp lost
# ~11 dB of luma here (39.4 dB)
@example(h=2, w=32, seed=6935, quality=98, ss="422")
def test_jpeg_subsampled_roundtrip_any_shape(h, w, seed, quality, ss):
    """4:2:0 / 4:2:2 layouts survive any shape (odd dims, sub-MCU images)
    and keep the LUMA channel within the same fidelity as 4:4:4 — chroma
    detail is discarded by design on noisy content."""
    img = _rand_img(h, w, seed)
    data = jpeg.encode_jpeg(img, quality, subsampling=ss)
    back = jpeg.decode_jpeg(data)
    assert back.shape == img.shape
    if quality >= 98 and h * w >= 64:
        lum = lambda a: a.astype(np.float64) @ np.array([0.299, 0.587, 0.114])
        mse = np.mean((lum(img) - lum(back)) ** 2)
        assert mse == 0 or 10 * np.log10(255.0**2 / mse) > 40.0


@settings(max_examples=15, deadline=None)
@given(
    h=st.integers(1, 40),
    w=st.integers(1, 40),
    seed=st.integers(0, 2**31 - 1),
)
@example(h=2, w=2, seed=182)  # came back 2 off the source with edge padding
def test_jpeg_420_gray_equals_444_within_rounding(h, w, seed):
    """Constant-chroma (grayscale) content: subsampling is lossless, so the
    4:2:0 decode must agree with the 4:4:4 decode at quality 100 up to the
    final-rounding tie (decoded chroma carries ~1e-13 float epsilon that
    differs between layouts; a luma reconstruction landing exactly on an
    x.5 boundary can tip either way — both roundings are within 1 of the
    source). A wrong MCU walk or chroma upsample scrambles whole blocks,
    so the <=1 envelope plus a near-zero mean is still a structural
    proof. The tie-DENSITY bound only applies to images with a real
    interior: below 8x8 every pixel sits in the differently-padded edge
    blocks (444 pads to 8-multiples, 420 luma to 16-multiples), where
    boundary ringing makes x.5 ties common — there the <=1 envelope plus
    the within-1-of-source check below carry the whole proof (hypothesis
    found 3x11 at tie density 0.09)."""
    rs = np.random.RandomState(seed)
    g = rs.randint(0, 256, (h, w), dtype=np.uint8)
    gray = np.stack([g, g, g], axis=2)
    d444 = jpeg.decode_jpeg(jpeg.encode_jpeg(gray, 100, subsampling="444"))
    d420 = jpeg.decode_jpeg(jpeg.encode_jpeg(gray, 100, subsampling="420"))
    diff = np.abs(d444.astype(np.int64) - d420.astype(np.int64))
    assert diff.max() <= 1
    if h >= 8 and w >= 8:
        assert diff.mean() < 0.05
    assert np.abs(d420.astype(np.int64) - gray.astype(np.int64)).max() <= 1


@settings(max_examples=15, deadline=None)
@given(
    h=st.integers(8, 40),
    w=st.integers(8, 48),
    seed=st.integers(0, 2**31 - 1),
    ri=st.integers(1, 9),
)
def test_jpeg_420_restart_interval_equals_plain(h, w, seed, ri):
    img = _rand_img(h, w, seed)
    plain = jpeg.decode_jpeg(jpeg.encode_jpeg(img, 95, subsampling="420"))
    with_rst = jpeg.decode_jpeg(
        jpeg.encode_jpeg(img, 95, restart_interval=ri, subsampling="420")
    )
    assert np.array_equal(plain, with_rst)


def test_jpeg_fill_bytes_before_markers():
    """ADVICE r04: T.81 B.1.1.2 allows any number of 0xFF fill bytes before
    a marker. Plant fills before a header marker and before every restart
    marker; the decode must be bit-identical to the unpadded file."""
    img = _rand_img(24, 40, seed=123)
    data = jpeg.encode_jpeg(img, 95, restart_interval=2)
    ref = jpeg.decode_jpeg(data)
    # fill before the first header marker after SOI
    padded = data[:2] + b"\xff" + data[2:]
    # fill before each RSTn marker in the stream
    out = bytearray()
    i = 0
    while i < len(padded):
        b = padded[i]
        if b == 0xFF and i + 1 < len(padded) and 0xD0 <= padded[i + 1] <= 0xD7:
            out += b"\xff\xff"
        out.append(b)
        i += 1
    back = jpeg.decode_jpeg(bytes(out))
    assert np.array_equal(ref, back)


@settings(max_examples=25, deadline=None)
@given(
    n=st.integers(0, 3000),
    seed=st.integers(0, 2**31 - 1),
)
def test_adpcm_roundtrip_any_samples(n, seed):
    rs = np.random.RandomState(seed)
    x = rs.randint(-32768, 32768, n).astype(np.int64)
    data = adpcm.encode_adpcm(x)
    assert len(data) == (n + 1) // 2
    back = adpcm.decode_adpcm(data, n)
    assert len(back) == n
    assert back.dtype == np.int16
    # determinism
    assert adpcm.encode_adpcm(x) == data


@settings(max_examples=20, deadline=None)
@given(
    freq=st.floats(50.0, 2000.0),
    amp=st.floats(500.0, 20000.0),
    n=st.integers(400, 2000),
)
def test_adpcm_tracks_tones(freq, amp, n):
    # the codec's quality contract on audio-like signals
    t = np.arange(n, dtype=np.float64)
    x = np.round(amp * np.sin(2 * np.pi * freq * t / 16000.0)).astype(np.int64)
    back = adpcm.decode_adpcm(adpcm.encode_adpcm(x), n)
    assert adpcm.snr_db(x, back) > 10.0


@settings(max_examples=25, deadline=None)
@given(
    h=st.sampled_from([8, 16, 24, 32, 64]),
    w=st.sampled_from([8, 16, 24, 32, 64]),
    seed=st.integers(0, 2**31 - 1),
)
def test_integer_exact_hash_matches_float_hash(h, w, seed):
    """The media-oracle integer phash equals the engine's float phash on
    arbitrary images with 8|h, 8|w — not just the fixture corpus."""
    from maskmypy_spark.plans import media_oracle

    img = _rand_img(h, w, seed)
    assert media_oracle.avg_hash_exact(img) == imagecodec.average_hash(img)
