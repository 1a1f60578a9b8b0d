import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from torscrapper_spark.operators import seen as seen_op
from torscrapper_spark.operators.politeness import budget_select, robots_gate
from torscrapper_spark.operators.seq import with_global_seq


def _frontier(spark, rows):
    pdf = pd.DataFrame(rows, columns=["url", "url_hash", "domain", "depth", "discovered_wave"])
    return spark.createDataFrame(
        pdf, "url string, url_hash long, domain string, depth int, discovered_wave int"
    )


def test_robots_gate(spark):
    f = _frontier(spark, [
        ("http://a.onion/p/1", 1, "a.onion", 0, 0),
        ("http://a.onion/p/10", 2, "a.onion", 0, 0),
        ("http://a.onion/q/1", 3, "a.onion", 0, 0),
        ("http://b.onion/p/1", 4, "b.onion", 0, 0),
        ("http://c.onion/x", 5, "c.onion", 0, 0),
    ])
    robots = spark.createDataFrame(
        pd.DataFrame({"domain": ["a.onion", "b.onion"], "disallow": [["/p/1"], ["/"]]}),
        "domain string, disallow array<string>",
    )
    kept = sorted(r.url for r in robots_gate(f, robots).collect())
    assert kept == ["http://a.onion/q/1", "http://c.onion/x"]


def test_budget_select_exact_and_salted_agree(spark):
    rows = []
    k = 0
    for dom, n in [("hot.onion", 40), ("cold.onion", 3)]:
        for i in range(n):
            rows.append((f"http://{dom}/p/{i:03d}", k, dom, i % 3, 0))
            k += 1
    f = _frontier(spark, rows)
    pol = spark.createDataFrame(
        [("hot.onion", 4)], "domain string, budget_per_wave int"
    )
    plain = budget_select(f, pol, default_budget=2, salt_buckets=0)
    salted = budget_select(f, pol, default_budget=2, salt_buckets=4)
    key = lambda df: sorted((r.domain, r.url) for r in df.collect())
    assert key(plain) == key(salted)
    per_dom = pd.DataFrame(key(plain), columns=["domain", "url"]).groupby("domain").size()
    assert per_dom["hot.onion"] == 4 and per_dom["cold.onion"] == 2
    # priority order: lowest depth first, then url
    urls_hot = [u for d, u in key(plain) if d == "hot.onion"]
    expect = sorted(
        [r[0] for r in rows if r[2] == "hot.onion"],
        key=lambda u: (int(u[-3:]) % 3, u),
    )[:4]
    assert sorted(urls_hot) == sorted(expect)


def test_with_global_seq_matches_sorted_enumerate(spark):
    rng = np.random.default_rng(3)
    pdf = pd.DataFrame({
        "url": [f"http://x.onion/{i:04d}" for i in rng.permutation(500)],
        "depth": rng.integers(0, 4, 500),
        "discovered_wave": rng.integers(0, 3, 500),
    })
    df = spark.createDataFrame(pdf, "url string, depth int, discovered_wave int")
    out = with_global_seq(df, ["depth", "discovered_wave", "url"], num_partitions=7)
    got = out.orderBy("seq").toPandas()
    exp = pdf.sort_values(["depth", "discovered_wave", "url"]).reset_index(drop=True)
    assert list(got["url"]) == list(exp["url"])
    assert list(got["seq"]) == list(range(1, 501))
    getattr(out, "_seq_cache").unpersist()


def test_seen_scan_partition_prunes_to_positive_pids(spark, tmp_path):
    """VERDICT.md r2 next-round #3: with the seen table bucket-
    partitioned by pid, the residual dup-check must SCAN only the
    buckets the wave's filter-positives touch. Catalyst DPP declines
    this join (bare-boolean build-side filter fails isLikelySelective),
    so new_candidates plants a static ``pid IN (…)`` — assert it shows
    up as a PartitionFilter on the seen FileScan, and that the result
    still equals the exact anti-join."""
    from torscrapper_spark.operators import cuckoo
    from torscrapper_spark.sources.tableio import SnapshotStore

    shards = 8
    store = SnapshotStore(str(tmp_path / "snap"))
    seen_hashes = np.arange(0, 4000, dtype=np.int64)
    seen_df = seen_op.with_pid(
        spark.createDataFrame(
            pd.DataFrame({"url_hash": seen_hashes}), "url_hash long"
        ),
        shards,
    )
    store.write(seen_df, "seen", 0, partition_by="pid")
    seen_rd = store.read_upto(spark, "seen", 0)
    # candidates: two dups (pids 1, 2) + two fresh
    cand = spark.createDataFrame(
        pd.DataFrame({
            "url_hash": np.array([1, 2, 5001, 6002], dtype=np.int64),
            "url": ["a", "b", "c", "d"],
        }),
        "url_hash long, url string",
    )
    flt = cuckoo.update_cuckoo(
        cuckoo.empty_cuckoo(spark, shards, 1 << 10), seen_df, shards
    )
    new, probe_cache = seen_op.new_candidates(
        cand, seen_rd, flt, shards, use_bloom=True,
        probe_fn=cuckoo.probe_cuckoo,
    )
    plan = new._jdf.queryExecution().executedPlan().toString()
    # NB: plan toString truncates the Location path, so match on the
    # FileScan + PartitionFilters shape (the only FileScan in this plan
    # is the seen snapshot — candidates/filter are in-memory frames)
    scan_lines = [
        ln for ln in plan.splitlines()
        if "FileScan" in ln and "PartitionFilters:" in ln
    ]
    assert scan_lines, plan
    assert any("pid#" in ln.split("PartitionFilters:")[1]
               and " IN " in ln.split("PartitionFilters:")[1]
               for ln in scan_lines), scan_lines
    exact = seen_op.exact_new(cand, seen_rd.select("url_hash"))
    assert sorted(r.url for r in new.collect()) == sorted(
        r.url for r in exact.collect()
    )
    if probe_cache is not None:
        probe_cache.unpersist()


def test_robots_gate_newline_path_matches_refsim(spark):
    """HREF_RE's [^"]+ and the canonicalizer's [^?#]* both pass an
    embedded newline through; the engine's JVM path regex runs DOTALL
    so its robots gate agrees with the refsim's string-slice path_of —
    without it the Java `.*` stopped at the newline, the path degraded
    to "/", and a disallowed URL was crawled (trace divergence)."""
    from torscrapper_spark.functions.urls import path_of, robots_disallowed

    url = "http://a.onion/p\n/x"
    assert robots_disallowed(path_of(url), ["/p"])  # refsim blocks it
    f = _frontier(spark, [(url, 1, "a.onion", 0, 0)])
    robots = spark.createDataFrame(
        pd.DataFrame({"domain": ["a.onion"], "disallow": [["/p"]]}),
        "domain string, disallow array<string>",
    )
    assert robots_gate(f, robots).count() == 0  # engine agrees


def test_fetch_join_bucketed_store_unbucketed_wave(spark, tiny_dir):
    """A bucketed store paired with an unbucketed wave (the two are
    configured independently) must degrade to the unbucketed join, not
    throw an unresolved-column error from the store's bucket column
    leaking into the hits/misses union."""
    from torscrapper_spark.operators.fetch import fetch_join
    from torscrapper_spark.plans.crawl import load_pagestore

    ps = load_pagestore(spark, f"{tiny_dir}/pagestore.parquet", buckets=8)
    assert "bucket" in ps.columns
    some = ps.select("url", "url_hash").limit(3).toPandas()
    rows = [
        (u, int(h), "d.onion", 0, 0)
        for u, h in zip(some["url"], some["url_hash"])
    ]
    rows.append(("http://missing.onion/x", 999, "missing.onion", 0, 0))
    out = fetch_join(_frontier(spark, rows), ps).toPandas()
    assert len(out) == 4
    assert sorted(out["status"]) == [200, 200, 200, 404]


def test_run_crawl_rejects_duplicate_dimension_domains(spark, tiny_dir):
    """The refsim's dicts keep one entry per domain; the engine's
    broadcast joins would fan out every frontier row of a duplicated
    domain (duplicate fetches, trace divergence). Malformed dimension
    tables must fail LOUDLY at crawl entry."""
    import tempfile

    import pytest

    from torscrapper_spark.plans import crawl as C
    from torscrapper_spark.sources.tableio import SnapshotStore

    ps = C.load_pagestore(spark, f"{tiny_dir}/pagestore.parquet")
    seeds = spark.read.parquet(f"{tiny_dir}/seeds.parquet")
    robots = spark.read.parquet(f"{tiny_dir}/robots.parquet")
    pol = spark.read.parquet(f"{tiny_dir}/politeness.parquet")
    with pytest.raises(ValueError, match="robots table has"):
        C.run_crawl(
            spark, SnapshotStore(tempfile.mkdtemp()), ps, seeds,
            robots.unionByName(robots.limit(1)), pol,
            C.CrawlConfig(max_waves=1),
        )
    with pytest.raises(ValueError, match="politeness table has"):
        C.run_crawl(
            spark, SnapshotStore(tempfile.mkdtemp()), ps, seeds,
            robots, pol.unionByName(pol.limit(1)),
            C.CrawlConfig(max_waves=1),
        )


def test_empty_filters_are_built_on_the_executors(spark):
    """The wave-0 cuckoo tables are generated over ``spark.range`` on
    the executors: a driver-side frame is a LocalTableScan that
    serializes every zeroed shard into its tasks (~1 MB per task for a
    4 MB filter over 4 tasks). The rows stay one zeroed shard per pid
    with the configured sizes."""
    from torscrapper_spark.operators import cuckoo

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    cf = cuckoo.empty_cuckoo(spark, 8, 1 << 12)
    assert "LocalTableScan" not in plan(cf)
    assert cf.schema.simpleString() == (
        "struct<pid:int,table:binary,nbuckets:int,degraded:boolean>"
    )
    rows = cf.collect()
    assert sorted(r.pid for r in rows) == list(range(8))
    for r in rows:
        assert bytes(r.table) == bytes((1 << 12) * 4 * 2)
        assert (r.nbuckets, r.degraded) == (1 << 12, False)
