"""numpy-only image codecs, PSNR, and perceptual hash.

The sandbox has no PIL/opencv (SURVEY.md §7), so the fixture images use
numpy-decodable formats behind a codec registry. On a real cluster the
registry is extended with real codecs (JPEG/PNG via pillow-simd etc.) —
the engine only ever calls :func:`decode`/:func:`encode`, so that is a
config change, not a code change.

Formats:
  rgb8     raw interleaved uint8 RGB, bit-exact
  ppm      binary PPM (P6) with header, bit-exact
  zlib-rgb zlib-compressed raw RGB, bit-exact (lossless)
  quant6   6-bit/channel quantization — LOSSY; reconstruction error ~2 LSB,
           so PSNR lands ≈ 44 dB: comfortably over the 40 dB gate
           (BASELINE.json:15) but failing if decode is wrong.
  zlib-quant6
           zlib-compressed quant6 — LOSSY with a real compressed wire
           format (quantize then deflate). Same PSNR envelope as quant6;
           used by the large bench graphs where raw-byte lossy payloads
           would dominate storage.

All functions operate on ``np.ndarray[h, w, 3] dtype=uint8``.
"""

from __future__ import annotations

import zlib

import numpy as np

LOSSLESS_FMTS = ("rgb8", "ppm", "zlib-rgb")
LOSSY_FMTS = ("quant6", "zlib-quant6")
ALL_FMTS = LOSSLESS_FMTS + LOSSY_FMTS


def encode(pixels: np.ndarray, fmt: str) -> bytes:
    """Encode an (h, w, 3) uint8 pixel array into ``fmt`` bytes."""
    if pixels.dtype != np.uint8 or pixels.ndim != 3 or pixels.shape[2] != 3:
        raise ValueError(f"expected (h,w,3) uint8, got {pixels.shape} {pixels.dtype}")
    h, w = pixels.shape[:2]
    raw = pixels.tobytes()
    if fmt == "rgb8":
        return raw
    if fmt == "ppm":
        return b"P6\n%d %d\n255\n" % (w, h) + raw
    if fmt == "zlib-rgb":
        return zlib.compress(raw, 6)
    if fmt == "quant6":
        return (pixels >> 2).tobytes()
    if fmt == "zlib-quant6":
        return zlib.compress((pixels >> 2).tobytes(), 6)
    raise ValueError(f"unknown fmt {fmt!r}")


def _bounded_decompress(data: bytes, expect: int) -> bytes:
    """zlib-decompress untrusted ``data`` that must inflate to EXACTLY
    ``expect`` bytes. The expansion is capped at ``expect + 1`` bytes
    BEFORE any size check, so a crafted decompression bomb (zlib
    ratios reach ~1000:1) costs one frame of memory, not the whole
    expansion; under- and over-sized streams, truncated streams, and
    trailing garbage all raise ValueError (the codec contract — never
    a bare zlib.error)."""
    d = zlib.decompressobj()
    try:
        raw = d.decompress(data, expect + 1)
    except zlib.error as e:
        raise ValueError(f"corrupt zlib payload: {e}") from e
    if len(raw) != expect or not d.eof or d.unused_data:
        # when the cap stopped inflation, len(raw) == expect + 1 is a
        # LOWER bound on the true inflated size, hence ">="
        raise ValueError(
            f"zlib payload inflates to {'>=' if len(raw) > expect else ''}"
            f"{len(raw)} bytes (expected {expect})"
            + (", with trailing data" if d.unused_data else "")
            + ("" if d.eof or len(raw) > expect else ", stream truncated")
        )
    return raw


def decode(data: bytes, fmt: str, w: int, h: int) -> np.ndarray:
    """Decode ``fmt`` bytes back to an (h, w, 3) uint8 pixel array.

    Malformed payloads raise ValueError (compressed fmts via
    :func:`_bounded_decompress`, so a decompression bomb cannot
    exhaust worker memory). Dimensions are untrusted row DATA, not
    config: non-positive w/h raise instead of reaching numpy, where a
    ``-1`` would silently trigger reshape's dimension INFERENCE and
    return a wrong-shaped 'successful' decode (code-review r5)."""
    if w <= 0 or h <= 0:
        raise ValueError(f"invalid image dimensions {w}x{h}")
    if fmt == "rgb8":
        return np.frombuffer(data, dtype=np.uint8).reshape(h, w, 3)
    if fmt == "ppm":
        # header: P6\n<w> <h>\n255\n — validated, not skipped: a wrong
        # magic/maxval or header dims disagreeing with the row's w/h
        # metadata must be a loud decode error here, not a confusing
        # PSNR failure two stages later (code-review r5)
        idx = 0
        parts = []
        try:
            for _ in range(3):
                nxt = data.index(b"\n", idx)
                parts.append(data[idx:nxt])
                idx = nxt + 1
        except ValueError:
            raise ValueError("ppm payload missing header lines") from None
        if parts[0] != b"P6":
            raise ValueError(f"ppm magic {parts[0]!r}, expected b'P6'")
        try:
            hw, hh = (int(x) for x in parts[1].split())
        except ValueError:
            raise ValueError(
                f"ppm header dims {parts[1]!r} unparseable"
            ) from None
        if (hw, hh) != (w, h):
            raise ValueError(
                f"ppm header declares {hw}x{hh} but row metadata says "
                f"{w}x{h}"
            )
        if parts[2] != b"255":
            raise ValueError(f"ppm maxval {parts[2]!r}, expected b'255'")
        return np.frombuffer(data, dtype=np.uint8, offset=idx).reshape(h, w, 3)
    if fmt == "zlib-rgb":
        raw = _bounded_decompress(data, w * h * 3)
        return np.frombuffer(raw, dtype=np.uint8).reshape(h, w, 3)
    if fmt == "quant6":
        q = np.frombuffer(data, dtype=np.uint8).reshape(h, w, 3)
        # rescale 6-bit value to full 8-bit range: v*255/63 ≈ (v<<2)|(v>>4)
        return ((q << 2) | (q >> 4)).astype(np.uint8)
    if fmt == "zlib-quant6":
        raw = _bounded_decompress(data, w * h * 3)
        q = np.frombuffer(raw, dtype=np.uint8).reshape(h, w, 3)
        return ((q << 2) | (q >> 4)).astype(np.uint8)
    raise ValueError(f"unknown fmt {fmt!r}")


def resize_area(pixels: np.ndarray, factor: int) -> np.ndarray:
    """Area-average downsample by an integer ``factor`` — EXACT integer
    arithmetic (block sum // factor², no float means), so the result is
    bit-identical regardless of summation order, platform, or batch
    boundaries: the same determinism contract as :func:`avg_phash`,
    which lets tests pin the operator against an independent closed
    form. h and w must be multiples of ``factor``.
    """
    if pixels.dtype != np.uint8 or pixels.ndim != 3 or pixels.shape[2] != 3:
        raise ValueError(f"expected (h,w,3) uint8, got {pixels.shape} {pixels.dtype}")
    h, w = pixels.shape[:2]
    if factor < 1 or h % factor or w % factor:
        raise ValueError(f"factor {factor} must divide ({h}, {w})")
    if factor == 1:
        return pixels.copy()
    blocks = pixels.astype(np.int64).reshape(
        h // factor, factor, w // factor, factor, 3
    ).sum(axis=(1, 3))
    return (blocks // (factor * factor)).astype(np.uint8)


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    """Peak signal-to-noise ratio in dB between two uint8 images.

    Returns ``inf`` for bit-identical images.
    """
    diff = a.astype(np.float64) - b.astype(np.float64)
    mse = float(np.mean(diff * diff))
    if mse == 0.0:
        return float("inf")
    return 20.0 * np.log10(255.0) - 10.0 * np.log10(mse)


def avg_phash(pixels: np.ndarray) -> int:
    """64-bit average perceptual hash (8×8 block means vs their mean).

    Deterministic, numpy-only, EXACT integer arithmetic throughout:
    bit_i = (block_mean_i > global_mean) is evaluated as
    (64 · block_sum_i > total_sum) over integer channel sums, so the
    result cannot depend on float rounding or summation order — the
    property that lets the batched validator
    (``operators.fetch._validate_group``) reproduce stored hashes
    bit-exactly. h and w must be multiples of 8. Returned as a signed
    int64 (two's complement) so it round-trips through a Spark
    LongType column.

    Reduction order: each pixel row's 8 column blocks are contiguous
    runs of (w/8)·3 uint8 values, summed straight from the pixels in
    uint32 (at most 765·w/8 per row block, exact for any w below 2^24);
    the h/8 row blocks of each block row are then summed in int64.
    """
    h, w = pixels.shape[:2]
    rows = pixels.reshape(h, 8, (w // 8) * 3).sum(axis=2, dtype=np.uint32)
    blocks = rows.reshape(8, h // 8, 8).sum(axis=1, dtype=np.int64)
    bits = ((blocks * 64) > blocks.sum()).astype(np.uint8).ravel()
    v = int.from_bytes(np.packbits(bits).tobytes(), "big")
    return v - (1 << 64) if v >= (1 << 63) else v


# lossy decode may flip block-mean bits that sit on the threshold, so the
# perceptual-hash invariant is Hamming-bounded for lossy fmts, exact for
# lossless
PHASH_LOSSY_HAMMING = 8


# ------------------------------------------------------------- video
# Video containers behind the same registry pattern as the image fmts:
# the frame-sample operator only calls VIDEO_DEMUXERS[fmt], so a real
# demuxer (mp4/mkv via pyav etc.) on a cluster is a registry entry,
# not a code change. Two container classes cover both stride regimes:
#
#   rgb8  all frames raw rgb8 concatenated — FIXED stride w*h*3; the
#         demuxer seeks straight to each selected frame (O(sampled)).
#   zvid  b"ZV1\n" + u32 nframes, then per frame u32 payload length +
#         zlib-compressed rgb8 payload — VARIABLE stride (compressed
#         size depends on content); the demuxer walks the length
#         prefixes (O(nframes) header hops) but decompresses ONLY the
#         selected frames (O(sampled) byte work — pinned by test).
#
# Every demuxer has the signature (buf, w, h, nframes, every) and
# yields (frame_idx, raw_rgb8_bytes) for frames 0, every, 2·every, …;
# malformed containers raise ValueError loudly (a silent skip would
# undercount frames downstream).

ZVID_MAGIC = b"ZV1\n"


def mux_video(frame_bytes: list[bytes], fmt: str) -> bytes:
    """Concatenate raw rgb8 frame payloads into a ``fmt`` container."""
    if fmt == "rgb8":
        return b"".join(frame_bytes)
    if fmt == "zvid":
        parts = [ZVID_MAGIC, len(frame_bytes).to_bytes(4, "big")]
        for fb in frame_bytes:
            comp = zlib.compress(fb, 6)
            parts.append(len(comp).to_bytes(4, "big"))
            parts.append(comp)
        return b"".join(parts)
    raise ValueError(f"unknown video fmt {fmt!r}")


def _demux_rgb8(buf: bytes, w: int, h: int, nframes: int, every: int):
    stride = w * h * 3
    if len(buf) != nframes * stride:
        raise ValueError(
            f"rgb8 video: {len(buf)} bytes != {nframes} frames × {stride}"
        )
    for f in range(0, nframes, every):
        yield f, buf[f * stride:(f + 1) * stride]


def _demux_zvid(buf: bytes, w: int, h: int, nframes: int, every: int):
    stride = w * h * 3
    if buf[:4] != ZVID_MAGIC:
        raise ValueError(f"zvid: bad magic {buf[:4]!r}")
    n = int.from_bytes(buf[4:8], "big")
    if n != nframes:
        raise ValueError(f"zvid header: {n} frames, metadata says {nframes}")
    off = 8
    for f in range(nframes):
        if off + 4 > len(buf):
            raise ValueError(f"zvid: truncated at frame {f} length prefix")
        ln = int.from_bytes(buf[off:off + 4], "big")
        off += 4
        if off + ln > len(buf):
            raise ValueError(f"zvid: truncated inside frame {f} payload")
        if f % every == 0:
            try:
                raw = _bounded_decompress(buf[off:off + ln], stride)
            except ValueError as e:
                raise ValueError(f"zvid: frame {f}: {e}") from e
            yield f, raw
        off += ln
    if off != len(buf):
        raise ValueError(f"zvid: {len(buf) - off} trailing bytes")


VIDEO_DEMUXERS = {"rgb8": _demux_rgb8, "zvid": _demux_zvid}
VIDEO_FMTS = tuple(VIDEO_DEMUXERS)


def hamming64(a: int, b: int) -> int:
    """Bit distance between two signed-int64 hashes."""
    return ((a ^ b) & ((1 << 64) - 1)).bit_count()
