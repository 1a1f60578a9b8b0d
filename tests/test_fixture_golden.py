"""Byte-level golden for the synthetic network.

The page generator stands in for the web: the crawl goldens, the
perfbench pins and every stored phash assume its output never changes.
These digests were taken before the pixel-synthesis, encode and phash
kernels were rewritten, so any change to what a page carries fails here
even when the crawl trace happens to survive it.
"""

import hashlib

import numpy as np
import pytest

from torscrapper_spark import fixtures

COORDS = [(i, j) for i in (0, 1, 2, 3, 5, 17) for j in range(6)]

CONFIGS = {
    # all five fmts, 16/32 px
    "default": fixtures.GraphConfig(),
    # the synth-256px benchmark's image shape
    "z256": fixtures.GraphConfig(
        seed=7, img_sizes=(256,),
        fmts=("zlib-rgb", "zlib-rgb", "zlib-rgb", "zlib-quant6"),
    ),
    "large": fixtures.LARGE,
}

GOLDEN = {
    "default": "f79e0b6159f21b5c271b2bb230d012af126fcecc0429a33e7a5e94118bc3df8e",
    "z256": "d44ef19fc03f7d74e17937d0c646a4339698dbfcd7fa25669fe2e2862f60292b",
    "large": "72529017119c5b110694741ac4d4b4c13d9ff90e2123f27008e51fa1fa7e1a0d",
}

# _pixels on shapes no GraphConfig emits today: h != w and sizes that
# are not multiples of the 8×8 block grid
PIXEL_SHAPES = [(256, 256), (255, 256), (13, 21), (8, 8), (40, 24)]
PIXEL_GOLDEN = (
    "aa39fdc2387b65f5eb9d05e769a81611cd701e873922a15dd94edca24986136f"
)


def _page_digest(cfg) -> str:
    h = hashlib.sha256()
    for i, j in COORDS:
        p = fixtures.generate_page(cfg, i, j)
        for b in (p["bytes"], p["ref_bytes"]):
            h.update(len(b).to_bytes(8, "big"))
            h.update(b)
        h.update(int(p["phash"]).to_bytes(8, "big", signed=True))
        h.update(p["html"].encode())
        h.update("\n".join(p["out_links"]).encode() + b"\0")
    return h.hexdigest()


@pytest.mark.parametrize("name", sorted(CONFIGS))
def test_generate_page_bytes_match_golden(name):
    assert _page_digest(CONFIGS[name]) == GOLDEN[name]


def test_pixels_match_golden():
    h = hashlib.sha256()
    for k, (ph, pw) in enumerate(PIXEL_SHAPES):
        px = fixtures._pixels(np.random.default_rng([3, k]), ph, pw)
        assert px.shape == (ph, pw, 3) and px.dtype == np.uint8
        h.update(px.tobytes())
    assert h.hexdigest() == PIXEL_GOLDEN
