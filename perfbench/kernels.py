"""Per-row kernels timed in this process, without Spark.

A fixed, seeded sample of the workload's pages goes through the page
generator that stands in for the network (reported apart from the
engine), the image codecs the validator runs, and the URL kernels the
link extractor runs. Each figure is the median over rounds of the mean
per-call time.
"""

from __future__ import annotations

import statistics
import time

import numpy as np
import pandas as pd

from torscrapper_spark import fixtures
from torscrapper_spark.functions import codecs, urls

SAMPLE = 24
ROUNDS = 5


def _per_call(fn, items, rounds=ROUNDS) -> float:
    """Median over rounds of the mean seconds per ``fn(item)``."""
    per = []
    for _ in range(rounds):
        t = time.perf_counter()
        for it in items:
            fn(it)
        per.append((time.perf_counter() - t) / len(items))
    return statistics.median(per)


def kernels(graph, seed: int) -> dict:
    rng = np.random.default_rng([int(seed), 4242])
    coords = [(int(rng.integers(0, graph.n_domains)),
               int(rng.integers(0, graph.pages_per_domain)))
              for _ in range(SAMPLE)]
    gen_s = _per_call(lambda ij: fixtures.generate_page(graph, *ij), coords,
                      rounds=3)
    pages = [fixtures.generate_page(graph, i, j) for i, j in coords]
    imgs = [(p["bytes"], p["fmt"], p["w"], p["h"]) for p in pages]
    pixels = [codecs.decode(*im) for im in imgs]
    refs = [codecs.decode(p["ref_bytes"], "zlib-rgb", p["w"], p["h"])
            for p in pages]
    pairs = list(zip(pixels, refs))
    fmts = list(zip(pixels, (p["fmt"] for p in pages)))
    html = pd.Series([p["html"] for p in pages])
    hrefs = pd.Series([u for ls in urls.extract_links_series(html)
                       for u in ls])
    return {
        "fixtures.generate_page_ms": gen_s * 1e3,
        "codecs.decode_ms": _per_call(lambda a: codecs.decode(*a), imgs) * 1e3,
        "codecs.psnr_ms": _per_call(lambda ab: codecs.psnr(*ab), pairs) * 1e3,
        "codecs.avg_phash_ms": _per_call(codecs.avg_phash, pixels) * 1e3,
        "codecs.encode_ms": _per_call(lambda pf: codecs.encode(*pf), fmts)
        * 1e3,
        "urls.extract_links_us_per_page": _per_call(
            urls.extract_links_series, [html] * 10) / len(html) * 1e6,
        "urls.canonicalize_us_per_url": _per_call(
            urls.canonicalize_series, [hrefs] * 10) / max(len(hrefs), 1)
        * 1e6,
    }
