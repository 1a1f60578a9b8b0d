"""Deterministic synthetic onion-graph fixtures (FIXTURES.md §A).

Everything is a pure function of a :class:`GraphConfig` — the reference
simulator and the Spark engine consume byte-identical inputs, and no
external data is used (north rule: "synthesise it deterministically at
small scale"). numpy Generator seeding is hierarchical per PAGE
(``default_rng([seed, domain_idx, page_idx])``) so content depends on
nothing but the page's own coordinates — any page is randomly
accessible, which the mapInPandas fetch path exploits.

Produced tables (pandas DataFrames; Spark-free so the pure-Python
reference simulator can share them):

  pagestore   the synthetic onion web — exactly the input_hint payload
              shape (image_id, bytes, w, h, fmt, caption, phash;
              BASELINE.json:15) plus crawl-graph columns
              (url, html, out_links) and ``ref_bytes`` (lossless
              encoding of the ORIGINAL pixels, the "reference pixels"
              the PSNR≥40dB validation compares against)
  seeds       (seq, url) — noisy URL variants; seq = file position,
              the crawl-order tiebreak root
  robots      (domain, disallow array<string>)
  politeness  (domain, budget_per_wave); domains absent from the table
              use DEFAULT_BUDGET
"""

from __future__ import annotations

import functools
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from .functions.codecs import ALL_FMTS, avg_phash, encode

DEFAULT_BUDGET = 5


@dataclass(frozen=True)
class GraphConfig:
    seed: int = 42
    n_domains: int = 50
    pages_per_domain: int = 20
    links_per_page: int = 5
    n_hot: int = 3            # hot domains: receive hot_frac of all in-links
    hot_frac: float = 0.30    # BASELINE.json:6 "hot onion domains" skew
    n_seeds: int = 10
    hot_budget: int = 2
    dangling_frac: float = 0.05
    noise_frac: float = 0.40  # fraction of hrefs emitted as noisy variants
    img_sizes: tuple = (16, 32)
    query_every: int = 5      # every Nth page has a canonical query string
    fmts: tuple = ALL_FMTS    # codec rotation; large bench graphs restrict
                              # to compressed fmts to keep storage bounded


def domain_name(i: int) -> str:
    return f"d{i:04d}.onion"


def page_url(i: int, j: int, query_every: int) -> str:
    """Canonical URL of page j of domain i."""
    base = f"http://{domain_name(i)}/p/{j}"
    if query_every and j % query_every == 0:
        base += "?a=1&sid=4"  # already in canonical (sorted) form
    return base


def _noisy(url: str, kind: int) -> str:
    """Emit a noise variant that canonicalizes back to ``url``."""
    scheme, rest = url.split("://", 1)
    slash = rest.find("/")
    host, tail = rest[:slash], rest[slash:]
    if kind == 0:
        return f"{scheme}://{host.upper()}{tail}"
    if kind == 1:
        return f"{scheme}://{host}:80{tail}"
    if kind == 2:
        return f"{url}#frag"
    # kind 3: unsort the query string (or add a fragment when none)
    if "?" in tail:
        path, q = tail.split("?", 1)
        parts = q.split("&")
        return f"{scheme}://{host}{path}?{'&'.join(reversed(parts))}"
    return f"{url}#x"


@functools.lru_cache(maxsize=16)
def _gradient(h: int, w: int) -> np.ndarray:
    """Smooth luminance gradient of an (h, w) image, shared read-only by
    every page of that size: uint8 (it peaks at 255), zero-padded to
    whole 8×8 tiles and shaped (h/8, 8, w/8, 8, 1) so it broadcasts
    against the per-tile texture."""
    yy = np.arange(h, dtype=np.int32)[:, None]
    xx = np.arange(w, dtype=np.int32)[None, :]
    bh, bw = (h + 7) // 8, (w + 7) // 8
    g = np.zeros((bh * 8, bw * 8), np.uint8)
    g[:h, :w] = (yy * 255 // max(h - 1, 1) + xx * 255 // max(w - 1, 1)) // 2
    g = g.reshape(bh, 8, bw, 8, 1)
    g.flags.writeable = False
    return g


def _pixels(rng: np.random.Generator, h: int, w: int) -> np.ndarray:
    """Natural-ish synthetic image: smooth luminance gradient + random
    8×8 block texture + per-channel phase. Unlike uniform noise (which
    is incompressible and unlike any real photo), this compresses under
    zlib the way real images do, while still varying per image so PSNR,
    phash, and dedup checks stay meaningful.

    The RNG draws stay int32 and in this order (the bit-stream
    consumption, and therefore the image content, must not change).
    The phase is added on the (h/8, w/8, 3) tile grid (at most
    95 + 63 = 158, so uint8), and the one full-resolution operation is
    a uint8 add of the tiles broadcast over the cached gradient, whose
    wrap-around is the ``% 256`` of the pixel formula."""
    bh, bw = (h + 7) // 8, (w + 7) // 8
    block = rng.integers(0, 96, (bh, bw, 3), dtype=np.int32)
    phase = rng.integers(0, 64, (1, 1, 3), dtype=np.int32)
    tiles = (block + phase).astype(np.uint8)
    px = np.empty((bh, 8, bw, 8, 3), np.uint8)
    np.add(_gradient(h, w), tiles[:, None, :, None, :], out=px)
    return np.ascontiguousarray(px.reshape(bh * 8, bw * 8, 3)[:h, :w])


def generate_page(cfg: GraphConfig, i: int, j: int) -> dict:
    """Pagestore row for ONE page — a pure function of (cfg, i, j) via
    its own RNG stream ``default_rng([seed, i, j])``. Random access is
    what lets the production-shaped fetch path (``synthetic_fetch``, a
    mapInPandas "network") serve any URL in O(1) without replaying a
    per-domain sequential stream, and content cannot depend on the
    order anything is generated in."""
    rng = np.random.default_rng([cfg.seed, i, j])
    url = page_url(i, j, cfg.query_every)
    # --- out-links (Zipf-ish skew toward hot domains) ---
    links = []
    for _ in range(cfg.links_per_page):
        if rng.random() < cfg.hot_frac:
            ti = int(rng.integers(0, cfg.n_hot))
        else:
            ti = int(rng.integers(0, cfg.n_domains))
        if rng.random() < cfg.dangling_frac:
            tj = int(cfg.pages_per_domain + rng.integers(0, cfg.pages_per_domain))
            target = f"http://{domain_name(ti)}/p/{tj}"
        else:
            tj = int(rng.integers(0, cfg.pages_per_domain))
            target = page_url(ti, tj, cfg.query_every)
        if rng.random() < cfg.noise_frac:
            target = _noisy(target, int(rng.integers(0, 4)))
        links.append(target)
    html = "<html><body>" + "".join(
        f'<a href="{u}">t</a>' for u in links
    ) + "</body></html>"
    # --- image payload (input_hint shape, BASELINE.json:15) ---
    side = int(cfg.img_sizes[(i + j) % len(cfg.img_sizes)])
    w = h = side
    fmt = cfg.fmts[(i * 7 + j) % len(cfg.fmts)]
    pixels = _pixels(rng, h, w)
    data = encode(pixels, fmt)
    image_id = f"{domain_name(i)}/p{j}"
    return {
        "url": url,
        "image_id": image_id,
        "bytes": data,
        "w": w,
        "h": h,
        "fmt": fmt,
        "caption": f"img {image_id} tok {(i * 131 + j * 17) % 997}",
        # reference caption for the exact-equality invariant
        # (BASELINE.json:15); equal by construction, negative
        # tests corrupt one side
        "ref_caption": f"img {image_id} tok {(i * 131 + j * 17) % 997}",
        "phash": avg_phash(pixels),
        # a zlib-rgb page's reference IS its payload: one encode, and
        # validation can skip decoding a reference it already decoded
        "ref_bytes": data if fmt == "zlib-rgb" else encode(pixels, "zlib-rgb"),
        "html": html,
        "out_links": links,
    }


def generate_pagestore_domain(cfg: GraphConfig, i: int) -> pd.DataFrame:
    """Pagestore rows for ONE domain — each page an independent RNG
    stream (:func:`generate_page`), so generation distributes
    embarrassingly: ``bench.py`` fans domains out over a Spark
    ``mapInPandas`` job for large graphs while small/test graphs use
    the driver-side :func:`generate_pagestore`; both produce
    byte-identical rows."""
    rows = [generate_page(cfg, i, j) for j in range(cfg.pages_per_domain)]
    df = pd.DataFrame(rows)
    df["w"] = df["w"].astype("int32")
    df["h"] = df["h"].astype("int32")
    df["phash"] = df["phash"].astype("int64")
    return df


def generate_pagestore(cfg: GraphConfig) -> pd.DataFrame:
    return pd.concat(
        [generate_pagestore_domain(cfg, i) for i in range(cfg.n_domains)],
        ignore_index=True,
    )


def generate_seeds(cfg: GraphConfig) -> pd.DataFrame:
    rng = np.random.default_rng([cfg.seed, 999_999])
    urls = []
    for k in range(cfg.n_seeds):
        i = int(rng.integers(0, cfg.n_domains))
        j = int(rng.integers(0, cfg.pages_per_domain))
        u = page_url(i, j, cfg.query_every)
        if rng.random() < 0.5:
            u = _noisy(u, int(rng.integers(0, 4)))
        urls.append(u)
    if cfg.n_seeds >= 2:
        # deliberate duplicate: last seed canonicalizes to the same URL
        # as the first — exercises seed dedup (keep lowest seq)
        from .functions.urls import canonicalize_one

        urls[-1] = _noisy(canonicalize_one(urls[0]), 1)
    return pd.DataFrame({"seq": np.arange(len(urls), dtype="int64"), "url": urls})


def generate_robots(cfg: GraphConfig) -> pd.DataFrame:
    rng = np.random.default_rng([cfg.seed, 888_888])
    rows = []
    for i in range(cfg.n_domains):
        r = rng.random()
        if r < 0.05:
            dis = ["/"]                # disallow everything
        elif r < 0.25:
            dis = ["/p/1"]             # prefix: pages 1, 10-19, 100-199, …
        else:
            dis = []
        rows.append({"domain": domain_name(i), "disallow": dis})
    return pd.DataFrame(rows)


def generate_politeness(cfg: GraphConfig) -> pd.DataFrame:
    rows = []
    for i in range(cfg.n_domains):
        if i < cfg.n_hot:
            rows.append({"domain": domain_name(i), "budget_per_wave": cfg.hot_budget})
        elif i % 7 == 0:
            rows.append({"domain": domain_name(i), "budget_per_wave": 3})
        # other domains: no row → engine + refsim both use DEFAULT_BUDGET
    df = pd.DataFrame(rows, columns=["domain", "budget_per_wave"])
    df["budget_per_wave"] = df["budget_per_wave"].astype("int32")
    return df


def generate_all(cfg: GraphConfig) -> dict[str, pd.DataFrame]:
    return {
        "pagestore": generate_pagestore(cfg),
        "seeds": generate_seeds(cfg),
        "robots": generate_robots(cfg),
        "politeness": generate_politeness(cfg),
    }


def write_parquet(tables: dict[str, pd.DataFrame], out_dir: str) -> None:
    """Write fixture tables as parquet (pyarrow; Spark/DuckDB-readable)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    for name, df in tables.items():
        pq.write_table(
            pa.Table.from_pandas(df, preserve_index=False),
            os.path.join(out_dir, f"{name}.parquet"),
        )


# Preset tiers (SURVEY.md §5.3: 3 graph sizes × 2 politeness budgets)
TINY = GraphConfig(n_domains=20, pages_per_domain=10, links_per_page=4, n_seeds=6)
SMALL = GraphConfig(n_domains=60, pages_per_domain=25, links_per_page=5, n_seeds=12)
MEDIUM = GraphConfig(n_domains=150, pages_per_domain=40, links_per_page=6, n_seeds=20)
# third golden axis (SURVEY.md §5.2 item 3; VERDICT.md r3 next-round #8):
# wide enough that every filter shard/politeness bucket carries real load;
# small 8px images + compressed fmts keep generation/runtime in budget
LARGE = GraphConfig(
    n_domains=600, pages_per_domain=60, links_per_page=6, n_seeds=60,
    img_sizes=(8,), fmts=("zlib-rgb", "zlib-quant6"),
)
