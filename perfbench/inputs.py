"""Seeded inputs and their expected crawl outputs, cached by content hash.

Everything here runs before the Spark session starts, so it is outside
both the timed window and ``setup_s``. Two cache levels live under
``.perfbench_cache/`` at the repository root:

* ``graph-<hash>/`` — the workload's page graph: the page table
  (``pages/``, the materialized store a store-join crawl fetches from)
  or, for a synthetic-network crawl, the same graph at 8 px (only its
  ``url``/``html`` columns feed the reference simulator);
* ``seed-<hash>/`` — the seed list, robots and politeness tables, the
  takedown list and the reference simulator's expected trace.

A hash covers the workload's parameters and the source of every module
that shapes the inputs, so an engine change that alters page bytes or
the reference semantics regenerates them.
"""

from __future__ import annotations

import hashlib
import json
import multiprocessing
import os
import shutil
from dataclasses import replace

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from torscrapper_spark import fixtures, refsim

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE = os.path.join(ROOT, ".perfbench_cache")
FORMAT = "1"
PAGE_COLS = [
    "url", "image_id", "bytes", "w", "h", "fmt", "caption",
    "ref_caption", "phash", "ref_bytes", "html",
]
# source files whose code decides page bytes, seeds or the reference trace
_SOURCES = [
    "torscrapper_spark/fixtures.py",
    "torscrapper_spark/refsim.py",
    "torscrapper_spark/functions/codecs.py",
    "torscrapper_spark/functions/urls.py",
]
_DOMAINS_PER_FILE = 100
_GEN_PROCS = 3


def _key(*parts) -> str:
    h = hashlib.sha256(FORMAT.encode())
    for rel in _SOURCES:
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(f.read())
    h.update(repr(parts).encode())
    return h.hexdigest()[:16]


def fingerprint(trace: pd.DataFrame) -> dict:
    """Row count and an order-sensitive hash of (wave, seq, url, depth,
    status), rows taken in (wave, seq) order."""
    t = trace.sort_values(["wave", "seq"])
    h = hashlib.sha256()
    for row in zip(t["wave"], t["seq"], t["url"], t["depth"], t["status"]):
        h.update(("%d|%d|%s|%d|%d\n" % row).encode())
    return {"rows": int(len(t)), "hash": h.hexdigest()[:16]}


def _write_domains(cfg, lo: int, hi: int, path: str) -> None:
    df = pd.concat(
        [fixtures.generate_pagestore_domain(cfg, i)[PAGE_COLS]
         for i in range(lo, hi)],
        ignore_index=True,
    )
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)


def _publish(tmp: str, final: str) -> None:
    with open(os.path.join(tmp, "_DONE"), "w") as f:
        f.write("ok")
    shutil.rmtree(final, ignore_errors=True)
    os.replace(tmp, final)


def graph_dir(cfg) -> str:
    """Page table of ``cfg`` (``<dir>/pages``), generated once."""
    d = os.path.join(CACHE, "graph-" + _key("graph", cfg))
    if os.path.exists(os.path.join(d, "_DONE")):
        return d
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "pages"))
    jobs = [
        (cfg, lo, min(lo + _DOMAINS_PER_FILE, cfg.n_domains),
         os.path.join(tmp, "pages", f"part-{lo:06d}.parquet"))
        for lo in range(0, cfg.n_domains, _DOMAINS_PER_FILE)
    ]
    if len(jobs) == 1:
        _write_domains(*jobs[0])
    else:
        with multiprocessing.get_context("spawn").Pool(_GEN_PROCS) as pool:
            pool.starmap(_write_domains, jobs)
    _publish(tmp, d)
    return d


def oracle_graph(w) -> object:
    """The graph whose page table feeds the reference simulator: the
    workload's own, or — when the crawl fetches from the synthetic
    network and never reads a table — the same graph at 8 px. Links and
    html come from the page's RNG stream before any pixel is drawn, so
    image size cannot change them."""
    if w.store_join:
        return w.graph
    return replace(w.graph, img_sizes=(8,), fmts=("rgb8",))


def seed_graph(w, seed: int):
    """Graph config whose seed list is the run's: same pages, seeds drawn
    from the run seed."""
    return replace(w.graph, seed=(w.graph.seed << 20) + int(seed))


def _takedown(w, seed: int, seeds: pd.DataFrame) -> pd.DataFrame:
    """``(step, url)``: for each revoke step, half seed URLs (always in
    the seen set) and half random canonical pages."""
    from torscrapper_spark.functions.urls import canonicalize_series

    n_rev = sum(1 for s in w.prefix + w.steps if s[0] == "revoke")
    if n_rev == 0 or w.takedown == 0:
        return pd.DataFrame({"step": pd.Series([], dtype="int32"),
                             "url": pd.Series([], dtype="object")})
    rng = np.random.default_rng([int(seed), 777])
    canon = sorted(set(canonicalize_series(seeds["url"])))
    rows = []
    for k in range(n_rev):
        half = w.takedown // 2
        pick = rng.choice(len(canon), size=min(half, len(canon)),
                          replace=False)
        rows += [(k, canon[i]) for i in sorted(pick)]
        g = w.graph
        for _ in range(w.takedown - half):
            i = int(rng.integers(0, g.n_domains))
            j = int(rng.integers(0, g.pages_per_domain))
            rows.append((k, fixtures.page_url(i, j, g.query_every)))
    df = pd.DataFrame(rows, columns=["step", "url"])
    df["step"] = df["step"].astype("int32")
    return df


def _oracle_waves(w) -> int:
    """Waves the reference simulator can check: the whole crawl, or the
    waves before the first revocation (the simulator has none)."""
    n = 0
    for s in w.prefix + w.steps:
        if s[0] != "crawl":
            break
        n += s[1]
    return n


def seed_dir(w, seed: int) -> tuple[str, dict]:
    """Per-seed tables and the expected output; returns (dir, expected)."""
    d = os.path.join(CACHE, "seed-" + _key("seed", w, int(seed)))
    if not os.path.exists(os.path.join(d, "_DONE")):
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        sg = seed_graph(w, seed)
        tables = {
            "seeds": fixtures.generate_seeds(sg),
            "robots": fixtures.generate_robots(w.graph),
            "politeness": fixtures.generate_politeness(w.graph),
        }
        tables["takedown"] = _takedown(w, seed, tables["seeds"])
        fixtures.write_parquet(tables, tmp)
        pages = pq.read_table(
            os.path.join(graph_dir(oracle_graph(w)), "pages"),
            columns=["url", "html"],
        ).to_pandas()
        waves = _oracle_waves(w)
        sim = refsim.simulate(
            pages, tables["seeds"], tables["robots"], tables["politeness"],
            max_waves=waves, default_budget=w.crawl["default_budget"],
        )
        expected = {
            "waves": waves,
            "trace": fingerprint(sim.trace),
            "seen_total": len(sim.seen),
            "fetched_total": int(len(sim.trace)),
        }
        with open(os.path.join(tmp, "expected.json"), "w") as f:
            json.dump(expected, f, sort_keys=True)
        _publish(tmp, d)
    with open(os.path.join(d, "expected.json")) as f:
        return d, json.load(f)
