"""Negative tests for the decode/validate operator: corrupted payloads
must be flagged, not silently passed (BASELINE.json:15 invariants)."""

import hashlib
import zlib

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from torscrapper_spark import fixtures
from torscrapper_spark.functions.codecs import avg_phash, decode, encode
from torscrapper_spark.operators.fetch import (
    FETCH_COLS,
    _validate_pdf,
    decode_validate,
)


def _rows(tiny_tables, n=8):
    ps = tiny_tables["pagestore"].head(n).copy()
    ps["url_hash"] = range(n)
    ps["depth"] = 0
    ps["discovered_wave"] = 0
    ps["domain"] = "d.onion"
    ps["status"] = 200
    return ps


def _validate(spark, pdf):
    sdf = spark.createDataFrame(
        pdf[FETCH_COLS],
        "url string, url_hash long, domain string, depth int, discovered_wave int, "
        "status int, image_id string, bytes binary, w int, h int, fmt string, "
        "caption string, ref_caption string, phash long, ref_bytes binary, html string",
    )
    return decode_validate(sdf).toPandas()


def _by_hash(out):
    return out.sort_values("url_hash").reset_index(drop=True)


def _zlib_rgb_row(pdf):
    """Index of the first zlib-rgb row (its fetched bytes and ref_bytes
    are the same encoding, so validation skips the reference decode)."""
    i = pdf.index[pdf["fmt"] == "zlib-rgb"][0]
    assert pdf.loc[i, "bytes"] == pdf.loc[i, "ref_bytes"]
    return i


def test_clean_rows_all_valid(spark, tiny_tables):
    out = _validate(spark, _rows(tiny_tables))
    assert out["valid"].all()
    assert out["decode_ok"].all() and out["caption_ok"].all() and out["phash_match"].all()


def test_corrupted_caption_flagged(spark, tiny_tables):
    pdf = _rows(tiny_tables)
    pdf.loc[pdf.index[0], "caption"] = "tampered"
    out = _validate(spark, pdf).sort_values("url_hash").reset_index(drop=True)
    assert not out.loc[0, "caption_ok"] and not out.loc[0, "valid"]
    assert out.loc[1:, "valid"].all()


def test_corrupted_pixels_fail_psnr(spark, tiny_tables):
    import numpy as np

    pdf = _rows(tiny_tables)
    i = pdf.index[0]
    w, h = int(pdf.loc[i, "w"]), int(pdf.loc[i, "h"])
    rng = np.random.default_rng(0)
    other = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
    pdf.loc[i, "bytes"] = encode(other, pdf.loc[i, "fmt"])
    out = _validate(spark, pdf).sort_values("url_hash").reset_index(drop=True)
    assert out.loc[0, "decode_ok"]          # decodes fine…
    assert not out.loc[0, "psnr_ok"]        # …but fails the reference compare
    assert not out.loc[0, "valid"]


def test_truncated_bytes_fail_decode(spark, tiny_tables):
    pdf = _rows(tiny_tables)
    i = pdf.index[0]
    pdf.loc[i, "bytes"] = bytes(pdf.loc[i, "bytes"])[:7]
    out = _validate(spark, pdf).sort_values("url_hash").reset_index(drop=True)
    assert not out.loc[0, "decode_ok"] and not out.loc[0, "valid"]


def test_missing_page_is_404_not_crash(spark, tiny_tables):
    pdf = _rows(tiny_tables, 2)
    i = pdf.index[0]
    pdf.loc[i, "status"] = 404
    for c in ["bytes", "ref_bytes", "image_id", "caption", "ref_caption", "fmt", "html"]:
        pdf.loc[i, c] = None
    pdf.loc[i, ["w", "h", "phash"]] = 0
    out = _validate(spark, pdf).sort_values("url_hash").reset_index(drop=True)
    assert out.loc[0, "status"] == 404 and not out.loc[0, "valid"]
    assert out.loc[1, "valid"]


def test_null_ref_bytes_invalidates_row_not_task(spark, tiny_tables):
    """A hostile/real fetcher can emit status-200 rows whose REFERENCE
    side is missing or corrupt; both decodes sit inside the per-row try
    so the row is invalidated instead of the mapInPandas task dying."""
    pdf = _rows(tiny_tables)
    i = pdf.index[0]
    pdf.loc[i, "ref_bytes"] = None  # status stays 200
    out = _validate(spark, pdf).sort_values("url_hash").reset_index(drop=True)
    assert not out.loc[0, "decode_ok"] and not out.loc[0, "valid"]
    assert out.loc[1:, "valid"].all()


def test_offgrid_dimensions_fail_phash_not_task(spark, tiny_tables):
    """avg_phash's precondition is h, w multiples of 8; fetched
    dimensions are untrusted, so an off-grid size must fail the phash
    GATE (row invalid) rather than crash the batched reshape."""
    import numpy as np

    pdf = _rows(tiny_tables, 2)
    i = pdf.index[0]
    rng = np.random.default_rng(1)
    px = rng.integers(0, 256, (12, 12, 3), dtype=np.uint8)
    pdf.loc[i, "bytes"] = encode(px, "zlib-rgb")
    pdf.loc[i, "ref_bytes"] = encode(px, "zlib-rgb")
    pdf.loc[i, "fmt"] = "zlib-rgb"
    pdf.loc[i, ["w", "h"]] = 12
    out = _validate(spark, pdf).sort_values("url_hash").reset_index(drop=True)
    assert out.loc[0, "decode_ok"] and out.loc[0, "psnr_ok"]
    assert not out.loc[0, "phash_match"] and not out.loc[0, "valid"]
    assert out.loc[1, "valid"]


def test_hostile_dimensions_invalidate_rows_not_task(spark, tiny_tables):
    """Dimensions are untrusted data: negative, zero, or absurd (h, w)
    must mark the ROWS invalid without killing the task — np.zeros on a
    negative or multi-GB scratch shape would die before any per-row
    decode try could fire."""
    pdf = _rows(tiny_tables, 5)
    pdf.loc[pdf.index[0], ["w", "h"]] = [-8, 8]
    pdf.loc[pdf.index[1], ["w", "h"]] = [0, 0]
    pdf.loc[pdf.index[2], ["w", "h"]] = [1 << 16, 1 << 16]  # 4 TB scratch
    # over the byte-cap-derived pixel ceiling but under the old 2^24
    # standalone one: at chunk floor 1 this would pin ~400 MB of
    # scratch (24·h·w), 3× the stated 128 MB per-entry cap
    pdf.loc[pdf.index[3], ["w", "h"]] = [4096, 4095]
    out = _validate(spark, pdf).sort_values("url_hash").reset_index(drop=True)
    assert not out.loc[0, "valid"] and not out.loc[0, "decode_ok"]
    assert not out.loc[1, "valid"] and not out.loc[1, "decode_ok"]
    assert not out.loc[2, "valid"] and not out.loc[2, "decode_ok"]
    assert not out.loc[3, "valid"] and not out.loc[3, "decode_ok"]
    assert out.loc[4, "valid"]  # the clean row in the same batch


def test_scratch_chunk_shrinks_for_large_images():
    """The per-(h, w) scratch entry is byte-capped: large images shrink
    the chunk (floor 1) instead of pinning 24·64·h·w bytes. Grid and
    off-grid entries hold the same four buffers: the phash reads the
    decoded uint8 stack directly."""
    from torscrapper_spark.operators import fetch as FT

    FT._SCRATCH.clear()
    small = FT._bufs(16, 16)
    assert small["a"].shape[0] == FT._CHUNK
    big = FT._bufs(2048, 2048)
    assert big["a"].shape[0] == 1  # 24·64·2048² would be ~6 GB
    offgrid = FT._bufs(12, 12)
    for b in (small, big, offgrid):
        assert set(b) == {"a", "r", "d", "sq"}
        assert sum(x[0].nbytes for x in b.values()) == (
            FT._SCRATCH_PIXEL_BYTES * b["a"].shape[1] * b["a"].shape[2]
        )
    FT._SCRATCH.clear()
    # the cap must hold at the chunk floor too: the dims gate's pixel
    # ceiling is derived from the byte cap, so no admissible (h, w) can
    # allocate an over-cap entry even at chunk 1
    assert 26 * FT._MAX_PIXELS <= FT._SCRATCH_ENTRY_BYTES
    assert FT._SCRATCH_PIXEL_BYTES * FT._MAX_PIXELS <= FT._SCRATCH_ENTRY_BYTES


def test_fetch_join_status_matches_refsim_on_half_null_rows(spark):
    """The hit/miss rule is the refsim's exact one — status 200 iff the
    store row's html is non-null: a present row with NULL html must
    trace 404 (the simulator's pages.get returns None), and a NULL
    image_id with html present must trace 200. Keying status on any
    other nullable payload column silently diverges the trace."""
    from torscrapper_spark.operators.fetch import fetch_join

    store = spark.createDataFrame(
        pd.DataFrame({
            "url": ["http://a.onion/1", "http://a.onion/2"],
            "url_hash": pd.Series([1, 2], dtype="int64"),
            "image_id": ["img-1", None],
            "bytes": [b"", b""],
            "w": pd.Series([8, 8], dtype="int32"),
            "h": pd.Series([8, 8], dtype="int32"),
            "fmt": ["rgb8", "rgb8"],
            "caption": ["c", "c"],
            "ref_caption": ["c", "c"],
            "phash": pd.Series([0, 0], dtype="int64"),
            "ref_bytes": [b"", b""],
            "html": [None, "<a href='x'></a>"],
        })
    )
    wave = spark.createDataFrame(
        pd.DataFrame({
            "url": ["http://a.onion/1", "http://a.onion/2",
                    "http://a.onion/3"],
            "url_hash": pd.Series([1, 2, 3], dtype="int64"),
            "domain": ["a.onion"] * 3,
            "depth": pd.Series([0, 0, 0], dtype="int32"),
            "discovered_wave": pd.Series([0, 0, 0], dtype="int32"),
        })
    )
    out = fetch_join(wave, store).select("url_hash", "status").toPandas()
    status = dict(zip(out["url_hash"], out["status"]))
    assert status == {1: 404,   # present but html NULL — refsim says 404
                      2: 200,   # image_id NULL but html present — 200
                      3: 404}   # true miss


def test_identical_truncated_lossless_bytes_fail_decode(spark, tiny_tables):
    """bytes == ref_bytes skips only the reference decode: the fetched
    bytes still go through the bounded decompress, so a truncated
    payload on both sides is a decode failure, not a pass."""
    pdf = _rows(tiny_tables)
    i = _zlib_rgb_row(pdf)
    cut = bytes(pdf.loc[i, "bytes"])[:-5]
    pdf.loc[i, "bytes"] = cut
    pdf.loc[i, "ref_bytes"] = cut
    out = _by_hash(_validate(spark, pdf))
    k = pdf.index.get_loc(i)
    assert not out.loc[k, "decode_ok"] and not out.loc[k, "valid"]
    assert out.drop(index=k)["valid"].all()


def test_reencoded_lossless_bytes_are_valid_through_mse(spark, tiny_tables):
    """Different bytes for the same pixels (zlib level 1 vs the
    reference's level 6) take the decode-and-compare path and pass."""
    pdf = _rows(tiny_tables)
    i = _zlib_rgb_row(pdf)
    w, h = int(pdf.loc[i, "w"]), int(pdf.loc[i, "h"])
    px = decode(bytes(pdf.loc[i, "ref_bytes"]), "zlib-rgb", w, h)
    pdf.loc[i, "bytes"] = zlib.compress(px.tobytes(), 1)
    assert pdf.loc[i, "bytes"] != pdf.loc[i, "ref_bytes"]
    out = _by_hash(_validate(spark, pdf))
    k = pdf.index.get_loc(i)
    assert out.loc[k, "valid"] and out.loc[k, "psnr"] == 99.0
    assert out["valid"].all()


def test_reference_one_value_off_fails_lossless_psnr(spark, tiny_tables):
    pdf = _rows(tiny_tables)
    i = _zlib_rgb_row(pdf)
    w, h = int(pdf.loc[i, "w"]), int(pdf.loc[i, "h"])
    px = decode(bytes(pdf.loc[i, "ref_bytes"]), "zlib-rgb", w, h).copy()
    px[h // 2, w // 3, 1] ^= 1
    pdf.loc[i, "ref_bytes"] = encode(px, "zlib-rgb")
    out = _by_hash(_validate(spark, pdf))
    k = pdf.index.get_loc(i)
    assert out.loc[k, "decode_ok"] and out.loc[k, "phash_match"]
    assert not out.loc[k, "psnr_ok"] and not out.loc[k, "valid"]
    assert out.loc[k, "psnr"] < 99.0
    assert out.drop(index=k)["valid"].all()


def test_null_lossless_ref_bytes_invalidates_row_not_task(spark, tiny_tables):
    pdf = _rows(tiny_tables)
    i = _zlib_rgb_row(pdf)
    pdf.loc[i, "ref_bytes"] = None  # status stays 200
    out = _by_hash(_validate(spark, pdf))
    k = pdf.index.get_loc(i)
    assert not out.loc[k, "decode_ok"] and not out.loc[k, "valid"]
    assert out.drop(index=k)["valid"].all()


def test_phash_match_is_exact_on_lossless_rows(tiny_tables):
    """phash_match holds iff the stored hash is avg_phash of the decoded
    pixels; one flipped bit on a lossless row fails it."""
    pdf = _rows(tiny_tables, 10)
    pdf = pdf[~pdf["fmt"].isin(["quant6", "zlib-quant6"])]
    want = [avg_phash(decode(bytes(b), f, int(w), int(h)))
            for f, w, h, b in zip(pdf["fmt"], pdf["w"], pdf["h"], pdf["bytes"])]
    assert pdf["phash"].tolist() == want
    assert _validate_pdf(pdf)["phash_match"].all()
    stored = pdf["phash"].to_numpy().view(np.uint64)
    for bit in (0, 17, 63):
        flipped = pdf.copy()
        flipped["phash"] = (stored ^ np.uint64(1 << bit)).view(np.int64)
        out = _validate_pdf(flipped)
        assert not out["phash_match"].any() and not out["valid"].any()
        assert out["psnr_ok"].all()


def test_batched_phash_exact_on_wide_images():
    """Wide rows put each row block's sum (765·w/8 at most) past 2^16;
    the batched phash must still equal codecs.avg_phash."""
    rng = np.random.default_rng(9)
    rows = []
    for k, (h, w) in enumerate([(8, 2048), (8, 2048), (16, 1536), (24, 4096)]):
        px = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        px[:, : w // 3] |= 0xC0  # a bright band, so blocks differ
        data = encode(px, "zlib-rgb")
        rows.append({
            "url": f"u{k}", "url_hash": k, "domain": "d", "depth": 0,
            "discovered_wave": 0, "status": 200, "image_id": f"i{k}",
            "bytes": data, "w": w, "h": h, "fmt": "zlib-rgb",
            "caption": "c", "ref_caption": "c", "phash": avg_phash(px),
            "ref_bytes": data, "html": "",
        })
    out = _validate_pdf(pd.DataFrame(rows)[FETCH_COLS])
    assert out["phash_match"].all() and out["valid"].all()


_MIXED_CFG = fixtures.GraphConfig(
    img_sizes=(16, 32), fmts=("zlib-rgb", "zlib-rgb", "zlib-quant6", "rgb8")
)


def _mixed_batch() -> pd.DataFrame:
    """One fetched batch mixing byte-identical lossless rows, lossless
    rows that need the reference decode, lossy rows, other fmts, and
    every failure the skip must keep reporting."""
    pages = [fixtures.generate_page(_MIXED_CFG, 4, j) for j in range(16)]
    pdf = pd.DataFrame(pages)
    pdf["url_hash"] = np.arange(16, dtype=np.int64)
    pdf["domain"] = "d0004.onion"
    pdf["depth"] = np.int32(1)
    pdf["discovered_wave"] = np.int32(0)
    pdf["status"] = np.int32(200)
    pdf["w"] = pdf["w"].astype("int32")
    pdf["h"] = pdf["h"].astype("int32")
    pdf["phash"] = pdf["phash"].astype("int64")
    assert pdf["fmt"].tolist()[:4] == list(_MIXED_CFG.fmts)
    px4 = decode(pages[4]["ref_bytes"], "zlib-rgb", 16, 16)
    pdf.at[4, "bytes"] = zlib.compress(px4.tobytes(), 1)   # same pixels
    px8 = decode(pages[8]["ref_bytes"], "zlib-rgb", 16, 16).copy()
    px8[3, 5, 0] ^= 4
    pdf.at[8, "ref_bytes"] = encode(px8, "zlib-rgb")       # ref 1 value off
    cut = pages[12]["bytes"][:-3]
    pdf.at[12, "bytes"] = cut                              # both truncated
    pdf.at[12, "ref_bytes"] = cut
    pdf.at[5, "ref_bytes"] = None                          # no reference
    pdf.at[9, "phash"] = pages[9]["phash"] ^ 1             # phash 1 bit off
    pdf.at[13, "caption"] = "tampered"
    pdf.at[11, "ref_bytes"] = pages[11]["bytes"]           # rgb8 as ref
    for c in ("bytes", "ref_bytes", "image_id", "caption", "ref_caption",
              "fmt", "html"):
        pdf.at[15, c] = None                               # 404
    pdf.loc[15, ["w", "h", "phash", "status"]] = [0, 0, 0, 404]
    return pdf[FETCH_COLS]


# digest of _validate_pdf(_mixed_batch()) before the lossless-skip and
# phash kernels were rewritten
_MIXED_GOLDEN = (
    "99ac3145318055801b2b3deefb486f1e0b39783f2fcfea90b512cb1b17c1d317"
)


def _frame_digest(out: pd.DataFrame) -> str:
    h = hashlib.sha256(repr(out.dtypes.tolist()).encode())
    h.update(out.to_csv(index=False).encode())
    return h.hexdigest()


def test_mixed_batch_frame_matches_golden():
    out = _validate_pdf(_mixed_batch())
    assert out["valid"].tolist() == [
        j in (0, 1, 2, 3, 4, 6, 7, 10, 14) for j in range(16)
    ]
    assert _frame_digest(out) == _MIXED_GOLDEN
