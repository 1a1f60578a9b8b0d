"""Workload definitions: graph shape, crawl shape and step schedule.

A workload fixes only the crawl's shape — graph, seed-list size, waves,
politeness budget, filter sizing and maintenance cadence. Everything
else (frontier representation, seen-filter kind, trace-sequencing
thresholds) stays at the engine's ``CrawlConfig`` defaults, so a later
change to those defaults is what the benchmark measures.

The page graph of a workload is fixed; ``--seed`` picks the seed list
(which pages the crawl starts from) and the takedown list, so one
cached page table serves every seed.
"""

from __future__ import annotations

import dataclasses
from dataclasses import dataclass, replace

from torscrapper_spark.fixtures import GraphConfig

@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    graph: GraphConfig
    store_join: bool          # True: fetch_join over a pinned page table
    # Spark task slots (local[slots]), below the 4 cores of the machine
    # the workloads were sized on, leaving the rest to the driver, the
    # JVM's own threads and the machine's other tenants (DESIGN.md,
    # "Session")
    slots: int
    crawl: dict               # CrawlConfig fields (max_waves comes from steps)
    # steps: ("crawl", n_waves) or ("revoke", "forget" | "reseed")
    prefix: tuple             # untimed start of the crawl
    steps: tuple              # the timed rest of the crawl
    takedown: int = 0         # URLs per revocation
    # about how long the timed steps take, in seconds, on the machine the
    # workloads were sized on; a window of --seconds holds
    # round(seconds / crawl_s) crawls, at least one
    crawl_s: float = 16.0
    # a traced run's untimed warm-up crawl runs the steps after the
    # prefix too, so the first untraced crawl of its window is as warm
    # as the ones after it (see DESIGN.md, "Load model"); an untraced
    # run always warms up with the prefix alone
    warm_traced: bool = True


SYNTH = Workload(
    name="synth-256px",
    why=(
        "synthetic-network fetch of 256 px zlib images: the fused "
        "fetch+validate Python stage does most of the work while the "
        "state layer idles"
    ),
    graph=GraphConfig(
        seed=7, n_domains=160, pages_per_domain=60, links_per_page=6,
        n_hot=3, hot_frac=0.3, n_seeds=160, img_sizes=(256,),
        fmts=("zlib-rgb", "zlib-rgb", "zlib-rgb", "zlib-quant6"),
    ),
    store_join=False,
    slots=1,
    crawl=dict(default_budget=2, bloom_shards=8, bloom_bits=1 << 16),
    prefix=(("crawl", 1),),
    steps=(("crawl", 2),),
    crawl_s=20.0,
    # its traced run would otherwise take too long at one slot
    warm_traced=False,
)

REVOKE = Workload(
    name="revoke-compact",
    why=(
        "fetch_join over a pinned 8 px page table with politeness-bound "
        "waves, compaction, snapshot expiry and seeded takedowns revoked "
        "between waves: the state and store layers do the work"
    ),
    graph=GraphConfig(
        seed=11, n_domains=1000, pages_per_domain=40, links_per_page=6,
        n_hot=10, hot_frac=0.3, n_seeds=1000, img_sizes=(8,),
        fmts=("zlib-rgb", "zlib-quant6"),
    ),
    store_join=True,
    slots=2,
    crawl=dict(default_budget=3, bloom_shards=16, bloom_bits=1 << 18,
               compact_every=2, retain_state_snapshots=2),
    prefix=(("crawl", 1),),
    steps=(("revoke", "forget"), ("crawl", 1), ("revoke", "reseed"),
           ("crawl", 1)),
    takedown=200,
    crawl_s=14.0,
)

WORKLOADS = {w.name: w for w in (SYNTH, REVOKE)}


def tiny(w: Workload) -> Workload:
    """The same workload on a graph small enough for a smoke test."""
    return replace(
        w,
        graph=replace(w.graph, n_domains=12, pages_per_domain=10,
                      n_hot=2, n_seeds=12,
                      img_sizes=tuple(min(s, 16) for s in w.graph.img_sizes)),
        takedown=min(w.takedown, 4),
    )


def crawl_config(w: Workload, max_waves: int):
    """``CrawlConfig`` from the workload's fields that the engine still
    has; a field the engine dropped is skipped, not an error."""
    from torscrapper_spark.plans.crawl import CrawlConfig

    known = {f.name for f in dataclasses.fields(CrawlConfig)}
    kw = {k: v for k, v in w.crawl.items() if k in known}
    if "max_waves" in known:
        kw["max_waves"] = max_waves
    return CrawlConfig(**kw)
