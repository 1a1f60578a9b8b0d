"""Golden-trace equivalence: Spark engine vs pure-Python reference
simulator (BASELINE.json:14 — exact crawl ordering + final seen set
under the same seed list and politeness budget)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from torscrapper_spark import refsim
from torscrapper_spark.plans import crawl as C
from torscrapper_spark.sources.tableio import SnapshotStore

TRACE_COLS = ["wave", "seq", "url", "depth", "status"]


def _run_engine(spark, tiny_dir, store_dir, cfg):
    store = SnapshotStore(store_dir)
    ps = C.load_pagestore(spark, f"{tiny_dir}/pagestore.parquet")
    C.run_crawl(
        spark,
        store,
        ps,
        spark.read.parquet(f"{tiny_dir}/seeds.parquet"),
        spark.read.parquet(f"{tiny_dir}/robots.parquet"),
        spark.read.parquet(f"{tiny_dir}/politeness.parquet"),
        cfg,
    )
    return store


def _engine_trace(spark, store):
    pdf = store.read_outputs(spark, "trace").orderBy("wave", "seq").toPandas()
    return pdf[TRACE_COLS].astype(
        {"wave": "int64", "seq": "int64", "depth": "int64", "status": "int64"}
    ).reset_index(drop=True)


def _golden_trace(res):
    return res.trace[TRACE_COLS].astype(
        {"wave": "int64", "seq": "int64", "depth": "int64", "status": "int64"}
    ).reset_index(drop=True)


# The ids keep the names they had while the bloom filter was the
# prefilter, so a case's history stays under one name; the filter
# is now the cuckoo one and the goldens are unchanged.
@pytest.mark.parametrize("budget", [5, 2], ids=["b5_bloom", "b2_bloom"])
def test_trace_and_seen_match_golden(
    spark, tiny_tables, tiny_dir, tmp_store_dir, budget
):
    t = tiny_tables
    gold = refsim.simulate(
        t["pagestore"], t["seeds"], t["robots"], t["politeness"],
        max_waves=3, default_budget=budget,
    )
    cfg = C.CrawlConfig(
        max_waves=3, default_budget=budget,
        bloom_shards=4, cuckoo_buckets=1 << 10, salt_buckets=4,
        salt_min_frontier_rows=0,  # force the salted phase at tiny scale
    )
    store = _run_engine(spark, tiny_dir, tmp_store_dir, cfg)

    assert _engine_trace(spark, store).equals(_golden_trace(gold))

    # final URL-seen set: hash the golden canonical URLs with the
    # engine's hash (xxhash64) and compare sets exactly
    eng_seen = {
        r.url_hash
        for r in store.read_upto(spark, "seen", store.last_wave()).collect()
    }
    gold_urls = spark.createDataFrame(pd.DataFrame({"url": sorted(gold.seen)}))
    gold_seen = {
        r.h for r in gold_urls.select(F.xxhash64("url").alias("h")).collect()
    }
    assert eng_seen == gold_seen


def test_large_tier_trace_and_seen_match_golden(
    spark, large_tables, large_dir, tmp_store_dir
):
    """Third golden axis (SURVEY.md §5.2 item 3 / VERDICT.md r3
    next-round #8): fixtures.LARGE — 600 domains × 60 pages = 36 000
    pages, ~10× the medium tier. One budget, 2 waves: the tier's job
    is shard-level load (every one of the 16 shards carries thousands
    of keys; the data-proportional snapshot widths exercise multi-file
    writes), not re-proving the budget axis the smaller tiers already
    pin."""
    t = large_tables
    gold = refsim.simulate(
        t["pagestore"], t["seeds"], t["robots"], t["politeness"],
        max_waves=2, default_budget=5,
    )
    cfg = C.CrawlConfig(
        max_waves=2, default_budget=5,
        bloom_shards=16, cuckoo_buckets=1 << 11, salt_buckets=4,
        salt_min_frontier_rows=0,  # force the salted phase at this scale
        state_rows_per_file=2_000,  # force multi-file snapshot writes
    )
    store = _run_engine(spark, large_dir, tmp_store_dir, cfg)

    assert _engine_trace(spark, store).equals(_golden_trace(gold))

    # snapshot file counts are DATA-proportional, not task-proportional
    # (VERDICT.md r3 next-round #2): seen deltas stay ≤ bloom_shards
    # files, frontier stays within the width formula's row-estimate
    # bound — independent of spark.sql.shuffle.partitions
    import glob
    import os

    for w in range(store.last_wave() + 1):
        seen_files = glob.glob(
            os.path.join(store.table_path("seen", w), "pid=*", "*.parquet")
        )
        assert 0 < len(seen_files) <= cfg.bloom_shards, (w, len(seen_files))
        fdir = store.table_path("frontier", w)
        if os.path.isdir(fdir):
            n_rows = store.read(spark, "frontier", w).count()
            n_files = len(glob.glob(os.path.join(fdir, "*.parquet")))
            # estimate overshoots actual rows by ≤ ~9× (candidate
            # ceiling 8 links/fetch); allow that plus one
            bound = 9 * max(n_rows, 1) // cfg.state_rows_per_file + 2
            assert 0 < n_files <= bound, (w, n_files, n_rows)

    eng_seen = {
        r.url_hash
        for r in store.read_upto(spark, "seen", store.last_wave()).collect()
    }
    gold_urls = spark.createDataFrame(pd.DataFrame({"url": sorted(gold.seen)}))
    gold_seen = {
        r.h for r in gold_urls.select(F.xxhash64("url").alias("h")).collect()
    }
    assert eng_seen == gold_seen


def test_metrics_match_golden_wave_stats(
    spark, tiny_tables, tiny_dir, tmp_store_dir
):
    """A18: the per-partition metrics table, rolled up per wave, must
    equal the golden simulator's wave_stats (fetched/ok/missing), and
    each wave's manifest new_urls must equal the simulator's links_new
    (VERDICT.md next-round #7 — round 1 wrote the metrics every wave
    but never asserted the values)."""
    t = tiny_tables
    gold = refsim.simulate(
        t["pagestore"], t["seeds"], t["robots"], t["politeness"],
        max_waves=3, default_budget=5,
    )
    cfg = C.CrawlConfig(
        max_waves=3, default_budget=5,
        bloom_shards=4, cuckoo_buckets=1 << 10,
    )
    store = _run_engine(spark, tiny_dir, tmp_store_dir, cfg)
    m = (
        C.read_metrics(spark, store)
        .groupBy("wave")
        .agg(
            F.sum("fetched").alias("fetched"),
            F.sum("ok").alias("ok"),
            F.sum("missing").alias("missing"),
            F.sum("decoded").alias("decoded"),
        )
        .orderBy("wave")
        .toPandas()
    )
    gs = gold.wave_stats.sort_values("wave").reset_index(drop=True)
    assert list(m["wave"]) == list(gs["wave"])
    for col in ("fetched", "ok", "missing"):
        assert list(m[col].astype(int)) == list(gs[col].astype(int)), col
    # every fetched-200 page decodes in this fixture graph
    assert list(m["decoded"].astype(int)) == list(gs["ok"].astype(int))
    for w, links_new in zip(gs["wave"], gs["links_new"]):
        assert store.manifest(int(w) + 1)["new_urls"] == int(links_new)


def test_text_seed_ingestion_equivalent(spark, tiny_tables, tiny_dir):
    """A1 via ``spark.read.text``: a seed-list text file (one URL per
    line, duplicates included) must canonicalize to the exact frontier
    the parquet seed table produces."""
    import os
    import tempfile

    seeds_pdf = tiny_tables["seeds"].sort_values("seq")
    txt_dir = tempfile.mkdtemp(prefix="tseeds_")
    with open(os.path.join(txt_dir, "seeds.txt"), "w") as f:
        for u in seeds_pdf["url"]:
            f.write(u + "\n")
        f.write("\n")  # blank line must be ignored
    from_text = C.canonical_seeds(
        C.load_seeds_text(spark, os.path.join(txt_dir, "seeds.txt"))
    )
    from_parquet = C.canonical_seeds(
        spark.read.parquet(f"{tiny_dir}/seeds.parquet")
    )
    a = from_text.orderBy("url").toPandas()
    b = from_parquet.orderBy("url").toPandas()
    pd.testing.assert_frame_equal(a, b)


def test_multi_file_seed_list_equivalent(spark, tiny_tables, tiny_dir):
    """A1 guard (VERDICT.md r4 next-round #7): a seed list split over
    TWO text files — with a duplicate URL straddling the file boundary
    — must canonicalize to the exact frontier the parquet seed table
    produces. Dedup is keyed wholly on the canonical URL (no order
    column exists to tiebreak — code-review r5), so Spark's
    size-ordered multi-file split packing cannot affect the result;
    this test pins that order-independence."""
    import os
    import tempfile

    seeds_pdf = tiny_tables["seeds"].sort_values("seq")
    urls = list(seeds_pdf["url"])
    half = len(urls) // 2
    txt_dir = tempfile.mkdtemp(prefix="tseeds_multi_")
    with open(os.path.join(txt_dir, "seeds_a.txt"), "w") as f:
        for u in urls[:half]:
            f.write(u + "\n")
        f.write(urls[-1] + "\n")  # dup straddling the boundary
    with open(os.path.join(txt_dir, "seeds_b.txt"), "w") as f:
        for u in urls[half:]:
            f.write(u + "\n")
        f.write("\n")
    from_text = C.canonical_seeds(C.load_seeds_text(spark, txt_dir))
    from_parquet = C.canonical_seeds(
        spark.read.parquet(f"{tiny_dir}/seeds.parquet")
    )
    a = from_text.orderBy("url").toPandas()
    b = from_parquet.orderBy("url").toPandas()
    pd.testing.assert_frame_equal(a, b)


def test_image_invariants_on_fetched_pages(spark, tiny_dir, tmp_store_dir):
    """Every successfully fetched page passes the per-row invariant
    (decode ok, PSNR≥40dB lossy / bit-exact lossless, phash match,
    caption equality — BASELINE.json:15)."""
    cfg = C.CrawlConfig(max_waves=2)
    store = _run_engine(spark, tiny_dir, tmp_store_dir, cfg)
    pages = C.read_pages(spark, store).filter(F.col("status") == 200)
    n = pages.count()
    assert n > 0
    assert pages.filter(~F.col("valid")).count() == 0
    from torscrapper_spark.functions.codecs import LOSSY_FMTS

    lossless = pages.filter(~F.col("fmt").isin(*LOSSY_FMTS))
    assert lossless.filter(F.col("psnr") != 99.0).count() == 0  # 99.0 == inf marker
    lossy = pages.filter(F.col("fmt").isin(*LOSSY_FMTS))
    assert lossy.filter(F.col("psnr") < 40.0).count() == 0
    assert lossy.filter(F.col("psnr") > 60.0).count() == 0


def test_trace_invariant_across_parallelism(spark, tiny_dir, tmp_store_dir):
    """BASELINE.md's core determinism claim at pytest scale: the same
    crawl at different shuffle-partition counts produces bit-identical
    traces (every ordering sits on a total order, so the physical
    partitioning cannot leak into results)."""
    import os

    cfg = C.CrawlConfig(
        max_waves=3, bloom_shards=4, cuckoo_buckets=1 << 10
    )
    orig = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        a_store = _run_engine(spark, tiny_dir, tmp_store_dir, cfg)
        spark.conf.set("spark.sql.shuffle.partitions", "13")
        b_dir = tmp_store_dir + "_p13"
        os.makedirs(b_dir, exist_ok=True)
        b_store = _run_engine(spark, tiny_dir, b_dir, cfg)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", orig)
    assert _engine_trace(spark, a_store).equals(_engine_trace(spark, b_store))


def test_empty_seed_list(spark, tiny_dir, tmp_store_dir):
    """Zero seeds → zero waves, no crash, clean summary."""
    import pandas as pd

    empty = spark.createDataFrame(
        pd.DataFrame({"seq": pd.Series([], dtype="int64"),
                      "url": pd.Series([], dtype="object")}),
        "seq long, url string",
    )
    store = SnapshotStore(tmp_store_dir)
    out = C.run_crawl(
        spark, store,
        C.load_pagestore(spark, f"{tiny_dir}/pagestore.parquet"),
        empty,
        spark.read.parquet(f"{tiny_dir}/robots.parquet"),
        spark.read.parquet(f"{tiny_dir}/politeness.parquet"),
        C.CrawlConfig(max_waves=3),
    )
    assert out["waves_run"] == 0
    assert out["fetched_total"] == 0


def test_synthetic_fetcher_matches_store_join(
    spark, tiny_tables, tiny_dir, tmp_store_dir
):
    """The production-shaped mapInPandas fetcher (SyntheticPagestore)
    must produce the exact crawl the store-join fetch path produces:
    same trace, same seen set. This pins the two A13 implementations
    (sandbox join vs O(wave) fetcher) to identical semantics."""
    import os

    from torscrapper_spark import fixtures
    from torscrapper_spark.operators.fetch import SyntheticPagestore

    cfg = C.CrawlConfig(
        max_waves=3, bloom_shards=4, cuckoo_buckets=1 << 10
    )
    join_store = _run_engine(spark, tiny_dir, tmp_store_dir, cfg)

    synth_dir = tmp_store_dir + "_synth"
    os.makedirs(synth_dir, exist_ok=True)
    synth_store = SnapshotStore(synth_dir)
    C.run_crawl(
        spark,
        synth_store,
        SyntheticPagestore(fixtures.TINY),
        spark.read.parquet(f"{tiny_dir}/seeds.parquet"),
        spark.read.parquet(f"{tiny_dir}/robots.parquet"),
        spark.read.parquet(f"{tiny_dir}/politeness.parquet"),
        cfg,
    )
    assert _engine_trace(spark, join_store).equals(
        _engine_trace(spark, synth_store)
    )
    j_seen = {
        r.url_hash
        for r in join_store.read_upto(
            spark, "seen", join_store.last_wave()
        ).collect()
    }
    s_seen = {
        r.url_hash
        for r in synth_store.read_upto(
            spark, "seen", synth_store.last_wave()
        ).collect()
    }
    assert j_seen == s_seen


# ids: see test_trace_and_seen_match_golden
@pytest.mark.parametrize("budget", [5, 2], ids=["b5_bloom", "b2_bloom"])
def test_medium_tier_trace_and_seen_match_golden(
    spark, medium_tables, medium_dir, tmp_store_dir, budget
):
    """SURVEY.md §5.2 item 3 / VERDICT.md r2 next-round #6: the golden
    matrix's middle tier — fixtures.MEDIUM (150 domains × 40 pages =
    6000 pages) sits between the 480-page tiny graph and the 500k-page
    bench graph (where only engine-vs-engine invariance is asserted).
    2 waves keeps the suite under the runtime budget while still
    exercising seed wave + link-extraction wave + in-wave dedup +
    politeness at a graph wide enough to spread over every shard."""
    t = medium_tables
    gold = refsim.simulate(
        t["pagestore"], t["seeds"], t["robots"], t["politeness"],
        max_waves=2, default_budget=budget,
    )
    cfg = C.CrawlConfig(
        max_waves=2, default_budget=budget,
        bloom_shards=8, cuckoo_buckets=1 << 10, salt_buckets=4,
        salt_min_frontier_rows=0,  # force the salted phase at this scale
    )
    store = _run_engine(spark, medium_dir, tmp_store_dir, cfg)

    assert _engine_trace(spark, store).equals(_golden_trace(gold))

    eng_seen = {
        r.url_hash
        for r in store.read_upto(spark, "seen", store.last_wave()).collect()
    }
    gold_urls = spark.createDataFrame(pd.DataFrame({"url": sorted(gold.seen)}))
    gold_seen = {
        r.h for r in gold_urls.select(F.xxhash64("url").alias("h")).collect()
    }
    assert eng_seen == gold_seen
