"""Resumable restarts (BASELINE.json:14): killing the loop after any
committed wave and re-running continues to an identical final state —
including crashes INSIDE the uncommitted window between the state
writes and the manifest commit (VERDICT.md r3 next-round #5)."""

import tempfile

import pytest

from torscrapper_spark.plans import crawl as C
from torscrapper_spark.sources.tableio import SnapshotStore


def _inputs(spark, tiny_dir):
    return (
        C.load_pagestore(spark, f"{tiny_dir}/pagestore.parquet"),
        spark.read.parquet(f"{tiny_dir}/seeds.parquet"),
        spark.read.parquet(f"{tiny_dir}/robots.parquet"),
        spark.read.parquet(f"{tiny_dir}/politeness.parquet"),
    )


def _trace(spark, store):
    return (
        store.read_outputs(spark, "trace")
        .orderBy("wave", "seq")
        .select("wave", "seq", "url", "depth", "status")
        .toPandas()
    )


def test_resume_equals_uninterrupted(spark, tiny_dir):
    ps, seeds, robots, pol = _inputs(spark, tiny_dir)
    full_cfg = C.CrawlConfig(max_waves=3, bloom_shards=4, cuckoo_buckets=1 << 10)

    s_full = SnapshotStore(tempfile.mkdtemp())
    C.run_crawl(spark, s_full, ps, seeds, robots, pol, full_cfg)

    s_part = SnapshotStore(tempfile.mkdtemp())
    # "crash" after wave 1's commit…
    C.run_crawl(spark, s_part, ps, seeds, robots, pol,
                C.CrawlConfig(max_waves=1, bloom_shards=4, cuckoo_buckets=1 << 10))
    assert s_part.last_wave() == 1
    # …and resume to completion
    C.run_crawl(spark, s_part, ps, seeds, robots, pol, full_cfg)

    assert _trace(spark, s_full).equals(_trace(spark, s_part))
    m_full = s_full.manifest(s_full.last_wave())
    m_part = s_part.manifest(s_part.last_wave())
    assert m_full == m_part


class _CrashingStore(SnapshotStore):
    """Dies at a configurable point inside wave `crash_wave`'s
    uncommitted window: either while writing one of that wave's output
    tables (state snapshots already landed, outputs partial, no
    manifest) or at the commit call itself (state + outputs landed,
    manifest absent). Both leave stale uncommitted `wave=N` dirs that
    resume MUST overwrite and re-publish identically."""

    def __init__(self, root, crash_point, crash_wave):
        super().__init__(root)
        self.crash_point = crash_point
        self.crash_wave = crash_wave

    def write(self, df, table, wave, partition_by=None):
        if self.crash_point == ("write", table) and wave == self.crash_wave:
            raise RuntimeError("injected crash before manifest commit")
        super().write(df, table, wave, partition_by)

    def commit(self, wave, info):
        if self.crash_point == ("commit",) and wave == self.crash_wave:
            raise RuntimeError("injected crash at commit point")
        super().commit(wave, info)


@pytest.mark.parametrize(
    # state snapshots land at version w+1, outputs at version w, then
    # commit(w+1): crashing trace-write v1 or commit(2) both leave wave
    # 2's state dirs orphaned with manifest_2 absent
    "crash_point,crash_wave",
    [(("commit",), 2), (("write", "trace"), 1)],
    ids=["at_commit", "mid_outputs"],
)
def test_resume_from_uncommitted_window(spark, tiny_dir, crash_point,
                                        crash_wave):
    """Crash AFTER wave 1's seen/frontier/cuckoo snapshots land but
    BEFORE manifest_2 exists (the hole the commit-point design claims
    to close): last_wave() must still read 1, resume must overwrite the
    orphaned wave=2 state dirs, and the finished crawl must be
    bit-identical to an uninterrupted one."""
    ps, seeds, robots, pol = _inputs(spark, tiny_dir)
    cfg = C.CrawlConfig(
        max_waves=3, bloom_shards=4, cuckoo_buckets=1 << 10
    )

    s_full = SnapshotStore(tempfile.mkdtemp())
    C.run_crawl(spark, s_full, ps, seeds, robots, pol, cfg)

    root = tempfile.mkdtemp()
    crash_store = _CrashingStore(root, crash_point, crash_wave)
    with pytest.raises(RuntimeError, match="injected crash"):
        C.run_crawl(spark, crash_store, ps, seeds, robots, pol, cfg)
    assert crash_store.last_wave() == 1  # manifest_2 must NOT exist
    # the orphaned uncommitted state snapshots DO exist on disk
    # (crash at commit) or partially exist (crash mid-outputs) —
    # resume may not read them
    C.run_crawl(
        spark, SnapshotStore(root), ps, seeds, robots, pol, cfg
    )
    assert _trace(spark, s_full).equals(_trace(spark, SnapshotStore(root)))
    assert s_full.manifest(s_full.last_wave()) == SnapshotStore(root).manifest(
        SnapshotStore(root).last_wave()
    )
