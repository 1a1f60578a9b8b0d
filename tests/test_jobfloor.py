"""Per-wave fixed-cost floor (VERDICT.md r4 next-round #1).

The crawl's scale-killer class at high parallelism is the FIXED number
of driver actions and snapshot writes per wave — scheduler round-trips
and commit fsyncs that do not shrink with cores. The steady-wave design
is pinned here:

  1 materialize action (fetch+validate+probe, pid collect piggybacked)
  4 snapshot writes: seen (n_new rides an observe), frontier (count
    rides an observe), cuckoo, ONE combined output (trace ⊇ pages ⊇
    metrics — the old separate pages/metrics writes are gone)
  1 warm-cache count inside the output job (partition-count scan)

Two assertions:

* exactly 4 ``SnapshotStore.write`` calls per steady wave (3 at init,
  which has no output table) — fails if anyone reintroduces a separate
  pages or metrics write;
* a total Spark-job ceiling measured with AQE off. Jobs ≠ actions even
  then (every broadcast exchange submits its own collect job — this
  wave plan carries ~7: robots, politeness, selected-removal, pos_keys,
  hits, seq offsets), so the ceiling is an empirical regression bound:
  measured 48 for init+3 waves; a reintroduced per-wave count job or
  split output write adds ≥ 3.
"""

import os
import tempfile

from torscrapper_spark.plans import crawl as C
from torscrapper_spark.sources.tableio import SnapshotStore

# measured 48 + 2 per-RUN dimension-validation jobs (run_crawl's
# duplicate-domain check — once per call, not per wave); headroom < one
# reintroduced write/wave
JOB_CEILING = 52


class _CountingStore(SnapshotStore):
    def __init__(self, root):
        super().__init__(root)
        self.writes: list[tuple[str, int]] = []

    def write(self, df, table, wave, partition_by=None):
        self.writes.append((table, wave))
        super().write(df, table, wave, partition_by)


def test_steady_wave_write_and_job_floor(spark, tiny_dir):
    sc = spark.sparkContext

    def jobs():
        return set(sc.statusTracker().getJobIdsForGroup(None))

    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        store = _CountingStore(tempfile.mkdtemp())
        before = jobs()
        C.run_crawl(
            spark,
            store,
            C.load_pagestore(spark, f"{tiny_dir}/pagestore.parquet"),
            spark.read.parquet(f"{tiny_dir}/seeds.parquet"),
            spark.read.parquet(f"{tiny_dir}/robots.parquet"),
            spark.read.parquet(f"{tiny_dir}/politeness.parquet"),
            C.CrawlConfig(
                max_waves=3, bloom_shards=4,
                cuckoo_buckets=1 << 10,
            ),
        )
        n_jobs = len(jobs() - before)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    waves = store.last_wave()
    assert waves == 3

    # exactly 4 writes per steady wave, 3 at init (wave-0 state only)
    per_wave: dict[int, list[str]] = {}
    for table, w in store.writes:
        per_wave.setdefault(w, []).append(table)
    assert sorted(per_wave[0]) == ["cuckoo", "frontier", "seen", "trace"], (
        per_wave
    )  # wave 0: init state (3) + wave 0's combined output (1)
    for w in range(1, waves):
        assert sorted(per_wave[w]) == [
            "cuckoo", "frontier", "seen", "trace"
        ], (w, per_wave)
    assert sorted(per_wave[waves]) == ["cuckoo", "frontier", "seen"], (
        per_wave
    )  # final state snapshot; wave N's output table would be wave N's
    for tbl in ("pages", "metrics"):
        assert not os.path.isdir(os.path.join(store.root, tbl)), tbl

    assert n_jobs <= JOB_CEILING, (
        f"{n_jobs} Spark jobs for init+{waves} waves exceeds the "
        f"measured ceiling {JOB_CEILING} — a per-wave fixed job crept "
        "back in (see module docstring)"
    )


def _crawl(spark, tiny_dir):
    C.run_crawl(
        spark,
        SnapshotStore(tempfile.mkdtemp()),
        C.load_pagestore(spark, f"{tiny_dir}/pagestore.parquet"),
        spark.read.parquet(f"{tiny_dir}/seeds.parquet"),
        spark.read.parquet(f"{tiny_dir}/robots.parquet"),
        spark.read.parquet(f"{tiny_dir}/politeness.parquet"),
        C.CrawlConfig(max_waves=3, bloom_shards=4, cuckoo_buckets=1 << 10),
    )


def test_repeat_crawl_compiles_almost_nothing(spark, tiny_dir):
    """A crawl's generated classes fit Spark's codegen cache
    (``session.get_spark`` sizes it), so the same crawl run again in
    the same session compiles next to nothing. With Spark's default
    100-entry cache, eviction made every wave recompile ~100 classes."""
    compiles = (
        spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME()
    )
    _crawl(spark, tiny_dir)
    before = compiles.getCount()
    _crawl(spark, tiny_dir)
    assert compiles.getCount() - before <= 5


def test_repeat_crawls_start_no_driver_threads(spark, tiny_dir, monkeypatch):
    """The crawl's driver threads are long-lived: after a first crawl has
    started them, later crawls start no Python thread (each new thread
    that calls into the JVM opens its own py4j connection and JVM
    thread). A pool per wave and per crawl started 2 threads a wave and
    one a crawl."""
    import threading

    _crawl(spark, tiny_dir)
    started = []
    start = threading.Thread.start

    def counting_start(self):
        started.append(self.name)
        start(self)

    monkeypatch.setattr(threading.Thread, "start", counting_start)
    _crawl(spark, tiny_dir)
    _crawl(spark, tiny_dir)
    assert started == []
