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


def test_bloom_no_false_negatives_and_exactness(spark):
    rng = np.random.default_rng(11)
    seen_hashes = rng.integers(-(1 << 62), 1 << 62, 2000, dtype=np.int64)
    cand_hashes = np.concatenate([seen_hashes[:500], rng.integers(-(1 << 62), 1 << 62, 1500, dtype=np.int64)])
    seen_df = spark.createDataFrame(pd.DataFrame({"url_hash": seen_hashes}), "url_hash long")
    cand_df = spark.createDataFrame(
        pd.DataFrame({"url_hash": cand_hashes, "url": [f"u{i}" for i in range(len(cand_hashes))]}),
        "url_hash long, url string",
    )
    shards, nbits, k = 4, 1 << 15, 5
    bloom = seen_op.update_bloom(
        seen_op.empty_bloom(spark, shards, nbits, k), seen_df, shards
    )
    probed = seen_op.probe_bloom(cand_df, bloom, shards).toPandas()
    seen_set = set(int(h) for h in seen_hashes)
    truly_seen = probed["url_hash"].astype("int64").map(lambda h: h in seen_set)
    # no false negatives: everything seen must be flagged maybe_seen
    assert probed.loc[truly_seen.values, "maybe_seen"].all()
    # fast path == exact path
    fast, probe_cache = seen_op.new_candidates(
        cand_df, seen_df, bloom, shards, use_bloom=True
    )
    exact = seen_op.exact_new(cand_df, seen_df)
    assert sorted(r.url for r in fast.collect()) == sorted(r.url for r in exact.collect())
    if probe_cache is not None:
        probe_cache.unpersist()


def test_bloom_incremental_update_covers_both_deltas(spark):
    a = spark.createDataFrame(pd.DataFrame({"url_hash": np.arange(0, 100, dtype=np.int64)}), "url_hash long")
    b = spark.createDataFrame(pd.DataFrame({"url_hash": np.arange(100, 200, dtype=np.int64)}), "url_hash long")
    shards, nbits, k = 2, 1 << 12, 4
    bloom = seen_op.update_bloom(seen_op.empty_bloom(spark, shards, nbits, k), a, shards)
    bloom = seen_op.update_bloom(bloom, b, shards)
    cand = spark.createDataFrame(
        pd.DataFrame({"url_hash": np.arange(0, 200, dtype=np.int64), "url": [f"u{i}" for i in range(200)]}),
        "url_hash long, url string",
    )
    probed = seen_op.probe_bloom(cand, bloom, shards).toPandas()
    assert probed["maybe_seen"].all()


def test_seen_scan_partition_prunes_to_positive_pids(spark, tmp_path):
    """VERDICT.md r2 next-round #3: with the seen table bucket-
    partitioned by pid, the residual dup-check must SCAN only the
    buckets the wave's bloom-positives touch. Catalyst DPP declines
    this join (bare-boolean build-side filter fails isLikelySelective),
    so new_candidates plants a static ``pid IN (…)`` — assert it shows
    up as a PartitionFilter on the seen FileScan, and that the result
    still equals the exact anti-join."""
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
    bloom = seen_op.update_bloom(
        seen_op.empty_bloom(spark, shards, 1 << 14, 5), seen_df, shards
    )
    new, probe_cache = seen_op.new_candidates(
        cand, seen_rd, bloom, shards, use_bloom=True
    )
    plan = new._jdf.queryExecution().executedPlan().toString()
    # NB: plan toString truncates the Location path, so match on the
    # FileScan + PartitionFilters shape (the only FileScan in this plan
    # is the seen snapshot — candidates/bloom are in-memory frames)
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


def test_bloom_saturation_guard_bounds_fp_rate(spark):
    """VERDICT.md r3 next-round #3: grow the seen set to 10× the
    configured shard capacity; the saturation guard must rebuild
    saturated shards at grown nbits so the measured false-positive rate
    stays < 2% (and the no-false-negative invariant keeps holding).
    Without the guard, 10× over-capacity at k=5 saturates the bitmap
    (fill → ~1.0) and nearly every fresh candidate turns bloom-positive."""
    shards, nbits0, k = 2, 1 << 10, 5
    # configured capacity ≈ load 0.3 → nbits*0.3/k ≈ 102 keys/shard;
    # insert ~10× that (2048 keys over 2 shards) in 8 delta waves
    rng = np.random.default_rng(23)
    all_keys = np.unique(
        rng.integers(0, 1 << 40, 4096, dtype=np.int64)
    )[:2048]
    bloom = seen_op.empty_bloom(spark, shards, nbits0, k)
    seen_so_far = None
    for w in range(8):
        delta_keys = all_keys[w * 256:(w + 1) * 256]
        delta = spark.createDataFrame(
            pd.DataFrame({"url_hash": delta_keys}), "url_hash long"
        )
        seen_prev = seen_so_far if seen_so_far is not None else (
            spark.createDataFrame(
                pd.DataFrame({"url_hash": np.array([], dtype=np.int64)}),
                "url_hash long",
            )
        )
        bloom = seen_op.update_bloom(bloom, delta, shards)
        bloom = seen_op.grow_saturated_shards(
            spark, bloom, seen_prev, delta, shards
        )
        seen_so_far = seen_prev.unionByName(delta)
    fills = seen_op.bloom_fill(bloom).collect()
    # the guard actually fired: shards grew past the configured nbits
    assert all(r.nbits > nbits0 for r in fills), fills
    assert all(r.set_bits <= 0.4 * r.nbits for r in fills), fills
    # no false negatives on every inserted key
    ins = spark.createDataFrame(
        pd.DataFrame({
            "url_hash": all_keys,
            "url": [f"i{i}" for i in range(len(all_keys))],
        }),
        "url_hash long, url string",
    )
    probed_in = seen_op.probe_bloom(ins, bloom, shards).toPandas()
    assert probed_in["maybe_seen"].all()
    # measured FP rate on 4000 disjoint fresh keys < 2%
    fresh_keys = np.unique(
        rng.integers(0, 1 << 40, 8192, dtype=np.int64)
    )[:4096] + (1 << 41)
    fresh = spark.createDataFrame(
        pd.DataFrame({
            "url_hash": fresh_keys,
            "url": [f"f{i}" for i in range(len(fresh_keys))],
        }),
        "url_hash long, url string",
    )
    probed = seen_op.probe_bloom(fresh, bloom, shards).toPandas()
    fp_rate = float(probed["maybe_seen"].mean())
    assert fp_rate < 0.02, fp_rate


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


def test_grow_bloom_keeps_empty_saturated_shard(spark):
    """Bloom twin of the cuckoo empty-rebuild guard: a saturated shard
    whose full key set is empty must come back as a fresh empty bitmap,
    not vanish (probe would answer maybe_seen=True for that pid
    forever)."""
    nbits = 64
    full = np.full(nbits // 8, 0xFF, np.uint8).tobytes()
    empty_bm = np.zeros(nbits // 8, np.uint8).tobytes()
    bloom = spark.createDataFrame(
        pd.DataFrame({
            "pid": pd.Series([0, 1], dtype="int32"),
            "bitmap": [empty_bm, full],
            "nbits": pd.Series([nbits, nbits], dtype="int32"),
            "k": pd.Series([3, 3], dtype="int32"),
        }),
        seen_op.BLOOM_SCHEMA,
    )
    empty = spark.createDataFrame(
        pd.DataFrame({"url_hash": pd.Series([], dtype="int64")}),
        "url_hash long",
    )
    grown = seen_op.grow_saturated_shards(spark, bloom, empty, empty, 2)
    out = grown.toPandas()
    bloom.unpersist()
    grown._keys_cache.unpersist()  # the guard's shared key-scan cache
    assert sorted(out["pid"]) == [0, 1]
    row = out[out["pid"] == 1].iloc[0]
    assert bytes(row.bitmap) == empty_bm  # rebuilt fresh-empty
    assert int(row.nbits) == nbits and int(row.k) == 3


def test_empty_filters_are_built_on_the_executors(spark):
    """The wave-0 bloom and cuckoo tables are generated over
    ``spark.range`` on the executors: a driver-side frame is a
    LocalTableScan that serializes every zeroed shard into its tasks
    (~1 MB per task at 16 shards × 2^21 bits). The rows stay one zeroed
    shard per pid with the configured sizes."""
    from torscrapper_spark.operators import cuckoo

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    bloom = seen_op.empty_bloom(spark, 16, 1 << 21, 5)
    assert "LocalTableScan" not in plan(bloom)
    assert bloom.schema.simpleString() == (
        "struct<pid:int,bitmap:binary,nbits:int,k:int>"
    )
    rows = bloom.collect()
    assert sorted(r.pid for r in rows) == list(range(16))
    for r in rows:
        assert bytes(r.bitmap) == bytes(1 << 18)
        assert (r.nbits, r.k) == (1 << 21, 5)

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
