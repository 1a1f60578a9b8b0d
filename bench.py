"""Benchmark: crawl throughput + headline query suite, and the (N, 4N)
scaling pair.

Default mode (what the driver runs):
    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 python bench.py
prints ONE JSON line:
    {"metric": "frontier_urls_fetched_deduped_per_sec", "value": ...,
     "unit": "sec", "queries": {name: sec, ...}, "sf": 0.1, "crawl": {...}}
The crawl figure is the best of CRAWL_REPEAT crawls and each query time
the fastest of QUERY_REPEAT runs, after an untimed warm-up.

Scaling mode (the two-cluster-size criterion):
    python bench.py --scaling
runs the SAME crawl on the SAME input at local[N] and local[4N]
(N = TS_SCALE_NS, default 4), each leg launched as
`spark-submit --py-files torscrapper_spark.zip` with this script staged
outside the repo, so the package can only import from the shipped zip.
It prints ONE JSON line with efficiency = (T_4N / T_N) / 4, both legs'
fetched+deduped URLs/s, and whether the two traces' fingerprints are
identical. On a real cluster executors at N and 4N have identical
per-executor core budgets; a local-mode "cluster" runs its Python
workers and JVM threads on the same cores, so 4N must fit the box.

The scaling graph is heavier than the default-mode graph (500k pages,
256px images, fetched through the synthetic-network fetcher): the
criterion measures how the engine scales when compute dominates, which
is the regime a 10^10-URL crawl runs in. Both legs get an untimed
warm-up crawl first.

All graphs are generated deterministically from the sf tier / config
(no external data) and cached under .cache/. Pagestore generation fans
out over a Spark mapInPandas job (per-domain RNG streams make domains
independent), so it is byte-identical however many tasks build it.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

HEADLINE_QUERIES = [
    "q01_scan_filter_project",
    "q02_tpch_q1",
    "q04_shuffle_join_agg",
    "q05_multi_join",
    "q12_window_rank",
    "q24_json_funcs",
    "q31_dedup_minhash_lsh",
    "q34_ann_cosine_topk",
]

# default mode: best-of crawls, min-of query runs
CRAWL_REPEAT = 3
QUERY_REPEAT = 3

# bump when the fixture generator changes so stale cached graphs rebuild
GEN_V = "v3"

# graph/fixture cache — overridable so a spark-submit leg run from a
# staged copy of this script reuses the repo's generated graphs
CACHE_DIR = os.environ.get("TS_CACHE_DIR", os.path.join(REPO, ".cache"))

PS_COLS = [
    "url", "image_id", "bytes", "w", "h", "fmt", "caption",
    "ref_caption", "phash", "ref_bytes", "html", "out_links",
]
PS_SCHEMA = (
    "url string, image_id string, bytes binary, w int, h int, fmt string, "
    "caption string, ref_caption string, phash long, ref_bytes binary, "
    "html string, out_links array<string>"
)


def sf_of(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return 0.1


def _env_int(name: str, default: int) -> int:
    return int(os.environ.get(name, default))


def default_graph_cfg(sf: float):
    """Default-mode graph: sized off the sf tier."""
    from torscrapper_spark.fixtures import GraphConfig

    n_domains = _env_int("TS_BENCH_DOMAINS", max(50, min(4000, int(2000 * sf / 0.1))))
    # seed list scales with the graph so waves reach politeness-bounded
    # width quickly (throughput is measured on saturated waves, not the
    # ramp-up from a handful of seeds)
    return GraphConfig(
        seed=42, n_domains=n_domains,
        pages_per_domain=_env_int("TS_BENCH_PPD", 100),
        links_per_page=6, n_hot=max(3, n_domains // 100), hot_frac=0.3,
        n_seeds=n_domains,
        img_sizes=(_env_int("TS_BENCH_IMG", 16),),
    )


def scaling_graph_cfg():
    """Scaling-mode graph: compute-dominant (500k pages, 256px images).

    The scaling crawl fetches through the production-shaped mapInPandas
    fetcher (``SyntheticPagestore``): each wave costs O(wave) — fetch
    (deterministic page generation standing in for network+server),
    decode, PSNR, phash — instead of an O(store) scan of a materialized
    table, which is how a 10^10-URL crawl must behave (no crawler scans
    the whole web per wave). Only compressed codecs — they deflate like
    real photos do.
    """
    from torscrapper_spark.fixtures import GraphConfig

    return GraphConfig(
        seed=42,
        n_domains=_env_int("TS_SCALE_DOMAINS", 2500),
        pages_per_domain=_env_int("TS_SCALE_PPD", 200),
        links_per_page=6,
        n_hot=25, hot_frac=0.3,
        n_seeds=_env_int("TS_SCALE_SEEDS", 50000),
        img_sizes=(_env_int("TS_SCALE_IMG", 256),),
        fmts=("zlib-rgb", "zlib-rgb", "zlib-rgb", "zlib-quant6"),
    )


def crawl_cfg_for(mode: str, pagestore_buckets: int):
    """CrawlConfig of a bench crawl; ``mode`` is "scaling" or "default"."""
    from torscrapper_spark.plans.crawl import CrawlConfig

    if mode == "scaling":
        # salt_buckets=8 arms the two-phase salted budget top-k, but it
        # never engages here: the default graph's 2,500 × 200 = 500k
        # pages keep the frontier below salt_min_frontier_rows (5M), so
        # both legs run the unsalted window
        return CrawlConfig(
            max_waves=_env_int("TS_SCALE_WAVES", 4),
            default_budget=_env_int("TS_SCALE_BUDGET", 128),
            # seen ≤ 2 × 500k (pages + dangling targets): load ≤ 0.48
            bloom_shards=64, cuckoo_buckets=1 << 13,
            salt_buckets=8,
            pagestore_buckets=pagestore_buckets,
        )
    return CrawlConfig(
        max_waves=_env_int("TS_BENCH_WAVES", 4),
        default_budget=_env_int("TS_BENCH_BUDGET", 8),
        # seen ≤ 2 × 400k (pages + dangling targets): load ≤ 0.39
        bloom_shards=16, cuckoo_buckets=1 << 15,
        salt_buckets=0, pagestore_buckets=pagestore_buckets,
    )


def buckets_for(cfg) -> int:
    n_pages = cfg.n_domains * cfg.pages_per_domain
    return 32 if n_pages > 500_000 else 16


def prepare_graph(spark, cfg, with_pagestore: bool = True) -> str:
    """Generate (once) a bench graph; returns its directory.

    ``with_pagestore=False`` writes only the small driver-side tables
    (seeds/robots/politeness) — the scaling bench fetches through the
    synthetic-network mapInPandas fetcher and needs no materialized
    store.

    Small tables are built driver-side; the pagestore fans out over a
    Spark mapInPandas job keyed by domain id (deterministic per-domain
    RNG streams) and each generation task writes its rows STRAIGHT to
    parquet — no repartition, no ``partitionBy``. A hash-bucketed
    layout was measured and rejected: with ~65 KB payload rows the
    ``partitionBy`` write forces a dynamic-partition sort that
    spill-thrashed, and bucket-dir pruning buys nothing for the wave
    fetch join (xxhash64 spreads every wave over all buckets — the join
    carries a *logical* bucket column computed at scan time instead;
    see ``plans/crawl.py``).
    """
    from torscrapper_spark import fixtures

    tag = hashlib.md5(
        (repr(cfg) + GEN_V + ("+ps" if with_pagestore else "")).encode()
    ).hexdigest()[:8]
    cache = os.path.join(CACHE_DIR, f"bench_graph_{tag}")
    marker = os.path.join(cache, "_DONE")
    if not os.path.exists(marker):
        tmp = cache + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        small = {
            "seeds": fixtures.generate_seeds(cfg),
            "robots": fixtures.generate_robots(cfg),
            "politeness": fixtures.generate_politeness(cfg),
        }
        fixtures.write_parquet(small, tmp)

        if with_pagestore:
            def gen(batches):
                for pdf in batches:
                    for i in pdf["id"].tolist():
                        yield fixtures.generate_pagestore_domain(cfg, int(i))[PS_COLS]

            n_tasks = min(cfg.n_domains, 256)
            (
                spark.range(cfg.n_domains)
                .repartition(n_tasks)
                .mapInPandas(gen, PS_SCHEMA)
                .write.mode("overwrite")
                .parquet(f"{tmp}/pagestore")
            )
        with open(os.path.join(tmp, "_DONE"), "w") as f:
            f.write("ok")
        shutil.rmtree(cache, ignore_errors=True)
        os.replace(tmp, cache)
    return cache


def warmup_crawl(spark, synthetic: bool = False, like=None) -> None:
    """Untimed mini-crawl: spins up Python UDF workers, JIT-compiles the
    codegen stages, and touches every operator on the timed path
    (including the synthetic-network fetcher when that is the timed
    fetch path).

    ``like``: the timed run's GraphConfig. The warmup graph copies its
    image sizes/codecs so every Python worker allocates AND
    first-touches its per-(h,w) validation scratch (operators/fetch.py)
    and the big-batch Arrow/codegen paths compile BEFORE the timed
    window; a 16px warmup left all of that cold and the timed wave 0
    paid for it, more so at the larger master."""
    from dataclasses import replace

    from torscrapper_spark import fixtures
    from torscrapper_spark.operators.fetch import SyntheticPagestore
    from torscrapper_spark.plans import crawl as C
    from torscrapper_spark.sources.tableio import SnapshotStore

    wcfg = fixtures.TINY
    if like is not None:
        wcfg = replace(
            fixtures.TINY,
            img_sizes=like.img_sizes,
            fmts=like.fmts,
            n_domains=40, pages_per_domain=12, n_seeds=40,
        )
    tables = fixtures.generate_all(wcfg)
    tmp = tempfile.mkdtemp(prefix="benchwarm_")
    fixtures.write_parquet(tables, tmp)
    if synthetic:
        ps = SyntheticPagestore(wcfg)
    else:
        ps = C.load_pagestore(spark, f"{tmp}/pagestore.parquet")
    cfg = C.CrawlConfig(max_waves=2, default_budget=8,
                        bloom_shards=4, cuckoo_buckets=1 << 10)
    C.run_crawl(
        spark,
        SnapshotStore(os.path.join(tmp, "snap")),
        ps,
        spark.read.parquet(f"{tmp}/seeds.parquet"),
        spark.read.parquet(f"{tmp}/robots.parquet"),
        spark.read.parquet(f"{tmp}/politeness.parquet"),
        cfg,
    )
    shutil.rmtree(tmp, ignore_errors=True)


def run_crawl_bench(spark, graph_dir: str, crawl_cfg, synthetic_cfg=None) -> dict:
    """One timed crawl. The crawl-state store is left in ``snap_dir``
    for the caller to fingerprint and delete."""
    from torscrapper_spark.operators.fetch import SyntheticPagestore
    from torscrapper_spark.plans import crawl as C
    from torscrapper_spark.sources.tableio import SnapshotStore

    from pyspark import StorageLevel

    if synthetic_cfg is not None:
        # production fetch shape: mapInPandas synthetic network,
        # O(wave) per wave — no materialized store to warm or pin
        ps = SyntheticPagestore(synthetic_cfg)
    else:
        ps = C.load_pagestore(
            spark, f"{graph_dir}/pagestore",
            buckets=crawl_cfg.pagestore_buckets,
        )
        # warm and pin the store BEFORE the timed window: the metric is
        # steady-state crawl throughput (at real scale the store is hot
        # storage / the network, not a cold scan per wave)
        ps = ps.persist(StorageLevel.MEMORY_AND_DISK)
        # count() alone is answered from parquet stats and does NOT
        # touch the payload columns; scan them so the warmup happens
        # here
        from pyspark.sql import functions as F

        ps.select(F.sum(F.length("bytes")).alias("b")).collect()
    seeds = spark.read.parquet(f"{graph_dir}/seeds.parquet")
    robots = spark.read.parquet(f"{graph_dir}/robots.parquet")
    pol = spark.read.parquet(f"{graph_dir}/politeness.parquet")
    snap_dir = tempfile.mkdtemp(prefix="benchsnap_")
    store = SnapshotStore(snap_dir)
    t0 = time.time()
    summary = C.run_crawl(spark, store, ps, seeds, robots, pol, crawl_cfg)
    wall = time.time() - t0
    fetched = summary["fetched_total"]
    deduped = summary["seen_total"]
    if synthetic_cfg is None:
        ps.unpersist()
    return {
        "wall_sec": round(wall, 2),
        "fetched_total": fetched,
        "seen_total": deduped,
        "waves": summary["waves_run"],
        "urls_per_sec": round((fetched + deduped) / wall, 1),
        "fetched_per_sec": round(fetched / wall, 1),
        "wave_secs": summary["wave_secs"],
        "snap_dir": snap_dir,
    }


def warm_sf_tables(spark, sf_dir: str) -> None:
    """Untimed full scan of every fixture table the headline queries
    read, so query timings measure plan execution, not cold parquet
    reads."""
    from torscrapper_spark.queries import TABLES

    for name in TABLES:
        spark.read.parquet(f"{sf_dir}/{name}.parquet").write.mode(
            "overwrite"
        ).format("noop").save()


def run_headline_queries(spark, sf_dir: str) -> dict:
    """Each query runs QUERY_REPEAT times and reports the fastest:
    min-of-k tracks plan cost on a box whose single samples swing."""
    from torscrapper_spark.queries import registry

    reg = registry()
    out = {}
    for name in HEADLINE_QUERIES:
        fn, _sql = reg[name]
        best = None
        for _ in range(QUERY_REPEAT):
            t0 = time.time()
            df = fn(spark, sf_dir)
            df.write.mode("overwrite").format("noop").save()
            dt = round(time.time() - t0, 3)
            best = dt if best is None else min(best, dt)
        out[name] = best
    return out


def trace_fingerprint(spark, snap_dir: str) -> tuple[int, int]:
    """(row_count, order-sensitive hash) of the crawl trace."""
    from pyspark.sql import functions as F

    from torscrapper_spark.sources.tableio import SnapshotStore

    store = SnapshotStore(snap_dir)
    tr = store.read_outputs(spark, "trace")
    h = (
        tr.select(
            F.xxhash64(
                F.concat_ws("|", "wave", "seq", "url", "depth", "status")
            ).alias("h")
        )
        .agg(F.expr("bit_xor(h)").alias("s"), F.count("*").alias("n"))
        .collect()[0]
    )
    return int(h["n"]), int(h["s"])


def package_zip() -> str:
    """Zip the package for --py-files shipping."""
    pkg = os.path.join(CACHE_DIR, "torscrapper_spark_pkg")
    return shutil.make_archive(
        pkg, "zip", root_dir=REPO, base_dir="torscrapper_spark"
    )


def submit_leg_cmd(n: int, out: str, zip_path: str, stage: str) -> list:
    """spark-submit invocation for one `--one` scaling leg, with the
    driver script STAGED OUTSIDE the repo (the package import can only
    resolve from the shipped zip). --driver-memory must be a CLI flag:
    under spark-submit the driver JVM is up before any in-session conf
    is read. It caps the heap without committing it: the payload lives
    in the Python workers, not the JVM, and each leg's untimed warm-up
    crawl grows the heap before the timed one."""
    script = os.path.join(stage, "bench_submit.py")
    shutil.copy(os.path.abspath(__file__), script)
    return [
        shutil.which("spark-submit") or "spark-submit",
        "--master", f"local[{n}]",
        "--driver-memory", "8g",
        "--py-files", zip_path,
        script, "--one", str(n), out,
    ]


def run_leg(n: int) -> dict:
    """One scaling leg at local[n] crawling the scaling graph: runs this
    script as a staged copy under spark-submit --py-files, so a
    torscrapper_spark import succeeding proves the zip path works
    (sys.path[0] is the staging dir; the repo is neither the cwd nor on
    sys.path). Graphs are shared with the repo through TS_CACHE_DIR."""
    fd, out = tempfile.mkstemp(suffix=".json")
    os.close(fd)
    stage = tempfile.mkdtemp(prefix="ts_submit_")
    env = dict(os.environ, TS_CACHE_DIR=CACHE_DIR)
    try:
        subprocess.run(submit_leg_cmd(n, out, package_zip(), stage),
                       check=True, env=env, cwd=stage)
        with open(out) as f:
            return json.load(f)
    finally:
        os.unlink(out)
        shutil.rmtree(stage, ignore_errors=True)


def one_leg(n: int, out_path: str) -> None:
    """Body of `--one`: warm up, time one scaling crawl at local[n] and
    write its throughput and trace fingerprint to ``out_path``. Shuffle
    partitions are pinned identically at both sizes."""
    from torscrapper_spark.session import get_spark

    spark = get_spark(f"local[{n}]", shuffle_partitions=64)
    cfg = scaling_graph_cfg()
    graph_dir = prepare_graph(spark, cfg, with_pagestore=False)
    warmup_crawl(spark, synthetic=True, like=cfg)
    r = run_crawl_bench(spark, graph_dir, crawl_cfg_for("scaling", buckets_for(cfg)),
                        synthetic_cfg=cfg)
    snap_dir = r.pop("snap_dir")
    r["trace_fp"] = trace_fingerprint(spark, snap_dir)
    # the crawl-state store is evidence-free once fingerprinted
    shutil.rmtree(snap_dir, ignore_errors=True)
    spark.stop()
    with open(out_path, "w") as f:
        json.dump(r, f)


def scaling_pair() -> dict:
    """Run the (N, 4N) pair once, one leg after the other, each in its
    own spark-submit JVM so neither inherits the other's heap."""
    small = _env_int("TS_SCALE_NS", 4)
    big = 4 * small
    legs = {n: run_leg(n) for n in (small, big)}
    return {
        "metric": f"scaling_efficiency_{small}_to_{big}",
        "value": round(
            legs[big]["urls_per_sec"] / legs[small]["urls_per_sec"] / 4, 3
        ),
        "unit": "ratio",
        f"urls_per_sec_local{small}": legs[small]["urls_per_sec"],
        f"urls_per_sec_local{big}": legs[big]["urls_per_sec"],
        "trace_rows": legs[small]["trace_fp"][0],
        "traces_identical": legs[small]["trace_fp"] == legs[big]["trace_fp"],
    }


def default_bench() -> dict:
    """The driver's JSON line: headline queries, then the default crawl."""
    from torscrapper_spark.session import get_spark

    # local mode: one JVM hosts every executor thread; 16g covers the
    # pinned pagestore cache with room to spare
    os.environ.setdefault("SPARK_DRIVER_MEM", "16g")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = sf_of(sf_dir)
    spark = get_spark(f"local[{cpus}]", shuffle_partitions=max(16, cpus * 2))
    # headline queries run FIRST (fresh JVM, warmed file cache) so their
    # timings measure plan execution, not cold-disk reads or post-crawl
    # JVM state
    warm_sf_tables(spark, sf_dir)
    queries = run_headline_queries(spark, sf_dir)
    cfg = default_graph_cfg(sf)
    graph_dir = prepare_graph(spark, cfg)
    warmup_crawl(spark, like=cfg)
    crawl = None
    crawl_repeats = []
    for _ in range(CRAWL_REPEAT):
        r = run_crawl_bench(
            spark, graph_dir, crawl_cfg_for("default", buckets_for(cfg))
        )
        shutil.rmtree(r.pop("snap_dir"), ignore_errors=True)
        crawl_repeats.append(r["urls_per_sec"])
        if crawl is None or r["urls_per_sec"] > crawl["urls_per_sec"]:
            crawl = r
    return {
        "metric": "frontier_urls_fetched_deduped_per_sec",
        "value": crawl["urls_per_sec"],
        "unit": "sec",
        "queries": queries,
        "sf": sf,
        "crawl": {
            k: crawl[k]
            for k in ("wall_sec", "fetched_total", "seen_total", "waves",
                       "fetched_per_sec", "wave_secs")
        },
        "crawl_repeats_urls_per_sec": crawl_repeats,
        "query_total_sec": round(sum(queries.values()), 3),
        "cpus": cpus,
    }


def main():
    if "--one" in sys.argv:
        i = sys.argv.index("--one")
        one_leg(int(sys.argv[i + 1]), sys.argv[i + 2])
    elif "--scaling" in sys.argv:
        print(json.dumps(scaling_pair()))
    else:
        print(json.dumps(default_bench()))


if __name__ == "__main__":
    main()
