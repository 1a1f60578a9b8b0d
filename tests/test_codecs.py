import numpy as np
import pytest

from torscrapper_spark.functions import codecs


def _img(seed=0, side=16):
    rng = np.random.default_rng(seed)
    return rng.integers(0, 256, (side, side, 3), dtype=np.uint8)


@pytest.mark.parametrize("fmt", codecs.LOSSLESS_FMTS)
def test_lossless_roundtrip_bit_exact(fmt):
    px = _img(1)
    out = codecs.decode(codecs.encode(px, fmt), fmt, 16, 16)
    assert np.array_equal(px, out)
    assert codecs.psnr(px, out) == float("inf")


def test_quant6_lossy_psnr_between_40_and_inf():
    px = _img(2, 32)
    out = codecs.decode(codecs.encode(px, "quant6"), "quant6", 32, 32)
    p = codecs.psnr(px, out)
    assert 40.0 <= p < 60.0
    assert not np.array_equal(px, out)


def test_psnr_degrades_with_noise():
    px = _img(3)
    noisy = px.copy()
    noisy[0, 0] = 255 - noisy[0, 0]
    assert codecs.psnr(px, noisy) < float("inf")


def test_phash_stable_and_discriminative():
    a, b = _img(4), _img(5)
    assert codecs.avg_phash(a) == codecs.avg_phash(a)
    assert codecs.avg_phash(a) != codecs.avg_phash(b)
    assert -(1 << 63) <= codecs.avg_phash(a) < (1 << 63)


def test_phash_survives_quant6_within_hamming_bound():
    # validation recomputes phash on the lossy decode; 6-bit quantization
    # may flip threshold-adjacent bits but must stay within the bound
    for seed in range(25):
        px = _img(100 + seed, 32)
        dec = codecs.decode(codecs.encode(px, "quant6"), "quant6", 32, 32)
        d = codecs.hamming64(codecs.avg_phash(px), codecs.avg_phash(dec))
        assert d <= codecs.PHASH_LOSSY_HAMMING, (seed, d)


def test_hamming64():
    assert codecs.hamming64(0, 0) == 0
    assert codecs.hamming64(-1, 0) == 64
    assert codecs.hamming64(0b1011, 0b0001) == 2


def test_unknown_fmt_raises():
    with pytest.raises(ValueError):
        codecs.encode(_img(), "jpeg")
    with pytest.raises(ValueError):
        codecs.decode(b"", "jpeg", 1, 1)


def test_decode_rejects_nonpositive_dims():
    """Dims are untrusted row data: h=-1 must raise, not silently hand
    numpy a -1 to INFER the shape from (code-review r5)."""
    raw = bytes(range(96)) * 1  # 96 bytes = 2x16x3
    for w, h in ((16, -1), (-1, 2), (0, 4), (4, 0)):
        with pytest.raises(ValueError, match="invalid image dimensions"):
            codecs.decode(raw, "rgb8", w, h)


def test_decode_ppm_validates_header():
    """PPM magic, maxval, and header-vs-metadata dims are validated —
    a mismatched header must be a loud decode error, not a silently
    reinterpreted payload (code-review r5)."""
    px = np.zeros((2, 2, 3), dtype=np.uint8)
    good = codecs.encode(px, "ppm")
    assert codecs.decode(good, "ppm", 2, 2).shape == (2, 2, 3)
    bad_magic = b"X9" + good[2:]
    with pytest.raises(ValueError, match="ppm magic"):
        codecs.decode(bad_magic, "ppm", 2, 2)
    with pytest.raises(ValueError, match="header declares"):
        codecs.decode(good, "ppm", 4, 1)  # metadata disagrees
    bad_max = good.replace(b"\n255\n", b"\n127\n")
    with pytest.raises(ValueError, match="ppm maxval"):
        codecs.decode(bad_max, "ppm", 2, 2)
    with pytest.raises(ValueError, match="missing header"):
        codecs.decode(b"P6 2 2 255", "ppm", 2, 2)


def _slow_phash(px):
    """Independent avg_phash: per-block Python-int sums, bit k set iff
    64·block_k > total, bit 0 the most significant."""
    h, w = px.shape[:2]
    bh, bw = h // 8, w // 8
    blocks = [
        sum(px[by * bh:(by + 1) * bh, bx * bw:(bx + 1) * bw].ravel().tolist())
        for by in range(8) for bx in range(8)
    ]
    total = sum(blocks)
    v = 0
    for b in blocks:
        v = (v << 1) | (64 * b > total)
    return v - (1 << 64) if v >= (1 << 63) else v


def test_phash_matches_slow_reference():
    rng = np.random.default_rng(20)
    shapes = [(8, 8), (16, 8), (8, 64), (24, 40), (256, 256), (256, 128),
              (512, 512), (512, 1024), (1024, 512)]
    shapes += [(8 * int(rng.integers(1, 65)), 8 * int(rng.integers(1, 65)))
               for _ in range(12)]
    imgs = [rng.integers(0, 256, (h, w, 3), dtype=np.uint8) for h, w in shapes]
    # low-contrast images put many blocks right at the threshold
    imgs += [rng.integers(127, 129, (h, w, 3), dtype=np.uint8)
             for h, w in shapes[:6]]
    imgs += [np.zeros((64, 32, 3), np.uint8),
             np.full((512, 1024, 3), 255, np.uint8),
             np.full((40, 8, 3), 255, np.uint8)]
    for px in imgs:
        assert codecs.avg_phash(px) == _slow_phash(px), px.shape
