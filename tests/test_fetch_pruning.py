"""Bucketed-pagestore pruning (VERDICT.md r3 next-round #6).

The fetch docstring has claimed since round 2 that a bucket-partitioned
store prunes to the wave's buckets; this pins it the same way the seen
scan is pinned (test_operators.py): a static ``bucket IN`` planted by
``fetch_join`` must surface as a PartitionFilter on the store FileScan,
and a crawl over a physically bucketed store must produce the identical
trace to the flat-store crawl.
"""

import os
import tempfile

import pandas as pd
from pyspark.sql import functions as F

from torscrapper_spark.operators.fetch import fetch_join
from torscrapper_spark.plans import crawl as C
from torscrapper_spark.sources.tableio import SnapshotStore

NB = 8


def _bucketed_store_dir(spark, tiny_dir):
    """Materialize the tiny pagestore hive-partitioned by
    bucket = pmod(xxhash64(url), NB) — the layout an Iceberg
    ``bucket(NB, url_hash)`` partition transform declares."""
    out = tempfile.mkdtemp(prefix="tsps_bucketed_")
    ps = spark.read.parquet(f"{tiny_dir}/pagestore.parquet")
    (
        ps.withColumn(
            "bucket",
            F.pmod(F.xxhash64("url"), F.lit(NB)).cast("int"),
        )
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(out)
    )
    return out


def test_fetch_join_plan_carries_bucket_partition_filter(spark, tiny_dir):
    bdir = _bucketed_store_dir(spark, tiny_dir)
    ps = C.load_pagestore(spark, bdir, buckets=NB)
    flat = C.load_pagestore(spark, f"{tiny_dir}/pagestore.parquet")
    # a politeness-bounded wave touching a strict subset of buckets
    urls = [r.url for r in flat.select("url").limit(3).collect()]
    sel = spark.createDataFrame(
        pd.DataFrame({"url": urls}), "url string"
    ).select(
        "url",
        F.xxhash64("url").alias("url_hash"),
        F.lit("d0.onion").alias("domain"),
        F.lit(0).cast("int").alias("depth"),
        F.lit(0).cast("int").alias("discovered_wave"),
        F.pmod(F.xxhash64("url"), F.lit(NB)).cast("int").alias("bucket"),
    ).persist()
    fetched = fetch_join(sel, ps)
    plan = fetched._jdf.queryExecution().executedPlan().toString()
    scan_lines = [
        ln for ln in plan.splitlines()
        if "FileScan" in ln and "PartitionFilters:" in ln
    ]
    assert scan_lines, plan
    assert any(
        "bucket#" in ln.split("PartitionFilters:")[1]
        and " IN " in ln.split("PartitionFilters:")[1]
        for ln in scan_lines
    ), scan_lines
    # pruning must not change fetch semantics vs the flat store
    flat_sel = sel.drop("bucket").persist()
    a = sorted(
        (r.url, r.status) for r in fetched.select("url", "status").collect()
    )
    b = sorted(
        (r.url, r.status)
        for r in fetch_join(flat_sel, flat).select("url", "status").collect()
    )
    assert a == b
    sel.unpersist()
    flat_sel.unpersist()


def test_crawl_trace_identical_on_bucketed_store(spark, tiny_dir):
    """End-to-end: same crawl, flat store vs bucketed store with
    pagestore_buckets=NB — bit-identical traces."""
    seeds = spark.read.parquet(f"{tiny_dir}/seeds.parquet")
    robots = spark.read.parquet(f"{tiny_dir}/robots.parquet")
    pol = spark.read.parquet(f"{tiny_dir}/politeness.parquet")

    def run(ps, cfg):
        store = SnapshotStore(tempfile.mkdtemp(prefix="tsnap_bk_"))
        C.run_crawl(spark, store, ps, seeds, robots, pol, cfg)
        return (
            store.read_outputs(spark, "trace").orderBy("wave", "seq")
            .select("wave", "seq", "url", "depth", "status").toPandas()
        )

    base_cfg = dict(max_waves=2, bloom_shards=4,
                    cuckoo_buckets=1 << 10)
    flat = run(
        C.load_pagestore(spark, f"{tiny_dir}/pagestore.parquet"),
        C.CrawlConfig(**base_cfg),
    )
    bdir = _bucketed_store_dir(spark, tiny_dir)
    bucketed = run(
        C.load_pagestore(spark, bdir, buckets=NB),
        C.CrawlConfig(**base_cfg, pagestore_buckets=NB),
    )
    assert flat.equals(bucketed)
