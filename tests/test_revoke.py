"""Delta compaction (Iceberg rewrite_data_files/expire_snapshots
analogue) and seed revocation — the end-to-end consumer of the cuckoo
filter's deletion capability (BASELINE.json:6 "cuckoo/bloom").

Invariants pinned here:
  * compaction changes WHERE the seen set lives (one base dir instead of
    O(waves) delta dirs), never WHAT it contains — a resumed crawl over
    a compacted store produces a bit-identical trace;
  * forget-mode revocation removes keys from the seen set and the
    filter together (filter ⊇ seen must survive, else a false negative
    double-queues a URL), and every remaining key still probes positive;
  * reseed-mode revocation re-queues without touching seen/filter
    (frontier ⊆ seen must survive), and the revoked URLs — and ONLY
    they — are fetched a second time.
"""

import tempfile

import pandas as pd
import pytest

from torscrapper_spark.functions.spark_udfs import url_hash_col
from torscrapper_spark.operators.cuckoo import probe_cuckoo
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


def _cfg(**kw):
    base = dict(
        max_waves=3, default_budget=5,
        bloom_shards=4, cuckoo_buckets=1 << 10,
    )
    base.update(kw)
    return C.CrawlConfig(**base)


def _seen_pdf(seen, wave, pid_mod):
    return pd.DataFrame({
        "url_hash": pd.Series(seen, dtype="int64"),
        "wave_added": pd.Series([wave] * len(seen), dtype="int32"),
        "pid": pd.Series([h % pid_mod for h in seen], dtype="int32"),
    })


# ---------------------------------------------------------------- compaction

def test_compact_union_expiry_and_time_travel_floor(spark):
    import os

    st = SnapshotStore(tempfile.mkdtemp(prefix="tsio_c_"))
    for w, hashes in enumerate([[1, 2, 3], [10, 11], [20]]):
        st.write(
            spark.createDataFrame(_seen_pdf(hashes, w, 4)),
            "seen", w, partition_by="pid",
        )
        st.commit(w, {"n": len(hashes)})
    before = {r.url_hash for r in st.read_upto(spark, "seen", 2).collect()}
    info = st.compact(spark, "seen", 2, width=2)
    assert info["base"] == 2 and info["expired_versions"] == 3
    # content identical, delta dirs expired, base dir live
    assert {r.url_hash for r in st.read_upto(spark, "seen", 2).collect()} \
        == before
    for w in range(3):
        assert not os.path.isdir(st.table_path("seen", w))
    assert st.base_wave("seen") == 2
    # pid bucket pruning still reaches the compacted scan
    got = st.read_upto(spark, "seen", 2).filter("pid = 2")
    assert {r.url_hash for r in got.collect()} == {2, 10}
    # time travel below the base raises (Iceberg expire_snapshots)
    with pytest.raises(ValueError, match="compacted/expired"):
        st.read_upto(spark, "seen", 1)
    # a later delta unions on top of the base …
    st.write(
        spark.createDataFrame(_seen_pdf([30, 31], 3, 4)),
        "seen", 3, partition_by="pid",
    )
    st.commit(3, {"n": 2})
    assert {r.url_hash for r in st.read_upto(spark, "seen", 3).collect()} \
        == before | {30, 31}
    # … and re-compaction (new generation dir) folds it in
    info2 = st.compact(spark, "seen", 3)
    assert info2["base"] == 3 and info2["dir"] != info["dir"]
    assert {r.url_hash for r in st.read_upto(spark, "seen", 3).collect()} \
        == before | {30, 31}


def test_compaction_is_invisible_to_resume(spark, tiny_dir):
    ps, seeds, robots, pol = _inputs(spark, tiny_dir)
    s_full = SnapshotStore(tempfile.mkdtemp())
    C.run_crawl(spark, s_full, ps, seeds, robots, pol, _cfg(max_waves=3))

    s_cmp = SnapshotStore(tempfile.mkdtemp())
    C.run_crawl(spark, s_cmp, ps, seeds, robots, pol, _cfg(max_waves=1))
    s_cmp.compact(spark, "seen", s_cmp.last_wave())
    C.run_crawl(spark, s_cmp, ps, seeds, robots, pol, _cfg(max_waves=3))

    assert _trace(spark, s_full).equals(_trace(spark, s_cmp))
    m_full = s_full.manifest(s_full.last_wave())
    m_cmp = s_cmp.manifest(s_cmp.last_wave())
    assert m_full == m_cmp


def test_compact_crash_states_recover(spark):
    """The two on-disk states a crash can leave behind:

    (a) base dir written, marker NOT flipped — the orphan dir must be
        invisible to reads (the delta chain is still authoritative) and
        a retried compaction must converge, not collide with it;
    (b) marker flipped, expiry interrupted — a surviving wave dir ≤ base
        must be ignored by reads (the marker already supersedes it) and
        swept by the next compaction.
    """
    import os

    st = SnapshotStore(tempfile.mkdtemp(prefix="tsio_crash_"))
    for w, hashes in enumerate([[1, 2], [10], [20, 21]]):
        st.write(
            spark.createDataFrame(_seen_pdf(hashes, w, 4)),
            "seen", w, partition_by="pid",
        )
        st.commit(w, {"n": len(hashes)})
    all_keys = {1, 2, 10, 20, 21}

    # (a) orphaned base dir, no marker
    orphan = os.path.join(st.root, "seen", "base=2-0")
    os.makedirs(os.path.join(orphan, "pid=0"))
    with open(os.path.join(orphan, "pid=0", "junk"), "w") as f:
        f.write("not parquet")
    assert st.base_wave("seen") is None
    got = {r.url_hash for r in st.read_upto(spark, "seen", 2).collect()}
    assert got == all_keys
    info = st.compact(spark, "seen", 2)
    assert info["dir"] != "base=2-0"  # skipped past the orphan…
    assert not os.path.isdir(orphan)  # …and expired it
    assert {r.url_hash for r in st.read_upto(spark, "seen", 2).collect()} \
        == all_keys

    # (b) marker live, one superseded wave dir survived the expiry
    stale = st.table_path("seen", 1)
    os.makedirs(os.path.join(stale, "pid=0"))
    with open(os.path.join(stale, "pid=0", "junk"), "w") as f:
        f.write("not parquet")
    assert {r.url_hash for r in st.read_upto(spark, "seen", 2).collect()} \
        == all_keys
    assert st.delta_dirs_above_base("seen", 2) == 0
    # next delta + compaction sweeps the garbage
    st.write(
        spark.createDataFrame(_seen_pdf([30], 3, 4)),
        "seen", 3, partition_by="pid",
    )
    st.commit(3, {"n": 1})
    st.compact(spark, "seen", 3)
    assert not os.path.isdir(stale)
    assert {r.url_hash for r in st.read_upto(spark, "seen", 3).collect()} \
        == all_keys | {30}


def test_auto_compaction_bounds_chain_and_preserves_trace(spark, tiny_dir):
    import os

    ps, seeds, robots, pol = _inputs(spark, tiny_dir)
    s_plain = SnapshotStore(tempfile.mkdtemp())
    C.run_crawl(spark, s_plain, ps, seeds, robots, pol, _cfg(max_waves=4))

    s_auto = SnapshotStore(tempfile.mkdtemp())
    cfg = _cfg(max_waves=4, compact_every=2, retain_state_snapshots=2)
    C.run_crawl(spark, s_auto, ps, seeds, robots, pol, cfg)

    # same crawl, byte-for-byte
    assert _trace(spark, s_plain).equals(_trace(spark, s_auto))
    last = s_auto.last_wave()
    assert s_plain.manifest(s_plain.last_wave()) == s_auto.manifest(last)

    # the seen delta chain stayed bounded by the threshold
    assert s_auto.base_wave("seen") is not None
    assert s_auto.delta_dirs_above_base("seen", last) <= cfg.compact_every
    # state snapshots older than the trailing window are expired,
    # the trailing ones live (resume reads only last_wave)
    for t in ("frontier", "cuckoo"):
        for w in range(last - 1):
            assert not os.path.isdir(s_auto.table_path(t, w)), (t, w)
        assert os.path.isdir(s_auto.table_path(t, last))
    # manifests (history/metrics) are kept for every wave
    for w in range(last + 1):
        assert s_auto.manifest(w)["wave"] == w

    # and the maintained store still resumes into an identical crawl
    C.run_crawl(spark, s_plain, ps, seeds, robots, pol, _cfg(max_waves=6))
    C.run_crawl(spark, s_auto, ps, seeds, robots, pol,
                _cfg(max_waves=6, compact_every=2, retain_state_snapshots=2))
    assert _trace(spark, s_plain).equals(_trace(spark, s_auto))


# ---------------------------------------------------------------- revocation

def test_revoke_forget_removes_from_seen_and_cuckoo(spark, tiny_dir):
    ps, seeds, robots, pol = _inputs(spark, tiny_dir)
    cfg = _cfg(max_waves=2)
    store = SnapshotStore(tempfile.mkdtemp())
    C.run_crawl(spark, store, ps, seeds, robots, pol, cfg)
    w = store.last_wave()

    fetched = (
        store.read_outputs(spark, "trace")
        .filter("status = 200").select("url").distinct().limit(3).toPandas()
    )
    assert len(fetched) == 3
    out = C.revoke_urls(
        spark, store, spark.createDataFrame(fetched), cfg
    )
    assert out["revoked"] == 3 and out["wave"] == w + 1
    assert store.last_wave() == w + 1

    # seen no longer contains the revoked hashes; everything else kept
    rev_hashes = {
        r.h for r in spark.createDataFrame(fetched)
        .select(url_hash_col("url").alias("h")).collect()
    }
    seen_now = {
        r.url_hash
        for r in store.read_upto(spark, "seen", w + 1).collect()
    }
    assert not (seen_now & rev_hashes)
    assert out["seen_total"] == len(seen_now)
    m = store.manifest(w + 1)
    assert m["revoked"] == 3 and m["seen_total"] == len(seen_now)
    # the compaction rode along: the delta chain is one base dir now
    assert store.base_wave("seen") == w

    # the cuckoo filter unlearned the keys but every remaining seen key
    # still probes positive (filter ⊇ seen — no false negatives)
    flt = store.read(spark, "cuckoo", w + 1)
    kept = spark.createDataFrame(
        pd.DataFrame({"url_hash": pd.Series(sorted(seen_now), dtype="int64")})
    )
    probed = probe_cuckoo(kept, flt, cfg.bloom_shards).toPandas()
    assert probed["maybe_seen"].all()

    # and the crawl resumes from the revocation snapshot with no
    # special casing
    C.run_crawl(spark, store, ps, seeds, robots, pol,
                _cfg(max_waves=w + 3))
    tr = _trace(spark, store)
    dup = tr.groupby("url").size()
    # a non-revoked URL is never fetched twice; a revoked one may be
    # re-fetched only if rediscovered via links
    multi = set(dup[dup > 1].index)
    rev_urls = set(fetched["url"])
    assert multi <= rev_urls


@pytest.mark.parametrize("filt", [C.CrawlConfig.seen_filter])
def test_revoke_reseed_refetches_exactly_the_revoked(spark, tiny_dir, filt):
    ps, seeds, robots, pol = _inputs(spark, tiny_dir)
    cfg = _cfg(max_waves=2)
    store = SnapshotStore(tempfile.mkdtemp())
    C.run_crawl(spark, store, ps, seeds, robots, pol, cfg)
    w = store.last_wave()
    pre_seen = store.manifest(w)["seen_total"]

    fetched = (
        store.read_outputs(spark, "trace")
        .filter("status = 200").select("url").distinct().limit(3).toPandas()
    )
    out = C.revoke_urls(
        spark, store, spark.createDataFrame(fetched), cfg, reseed=True
    )
    assert out["revoked"] == 3
    # reseed mode touches neither the seen set nor the filter
    assert out["seen_total"] == pre_seen
    assert store.base_wave("seen") is None
    assert (sorted(map(tuple, store.read(spark, filt, w + 1).collect()))
            == sorted(map(tuple, store.read(spark, filt, w).collect())))

    C.run_crawl(spark, store, ps, seeds, robots, pol,
                _cfg(max_waves=w + 4))
    tr = _trace(spark, store)
    counts = tr.groupby("url").size()
    rev_urls = set(fetched["url"])
    for u in rev_urls:
        assert counts[u] == 2, f"{u} fetched {counts[u]}×, expected 2"
    others = counts[~counts.index.isin(rev_urls)]
    assert (others == 1).all()


@pytest.mark.parametrize("filt", [C.CrawlConfig.seen_filter])
def test_revoke_forget_unqueues_a_frontier_url(spark, tiny_dir, filt):
    """Forget-mode revocation of a URL that is still QUEUED (in the
    frontier, not yet fetched) must remove it from the frontier in the
    same step it leaves seen — left behind it would fetch the
    just-revoked content next wave, and (absent from seen) links could
    re-queue it while queued, the exact double-queue the
    ``frontier ⊆ seen`` invariant exists to prevent."""
    ps, seeds, robots, pol = _inputs(spark, tiny_dir)
    cfg = _cfg(max_waves=2)
    store = SnapshotStore(tempfile.mkdtemp())
    C.run_crawl(spark, store, ps, seeds, robots, pol, cfg)
    w = store.last_wave()

    queued = (
        store.read(spark, "frontier", w)
        .select("url", "url_hash").limit(2).toPandas()
    )
    assert len(queued) == 2, "fixture must leave a non-empty frontier"
    out = C.revoke_urls(
        spark, store, spark.createDataFrame(queued[["url"]]), cfg
    )
    assert out["revoked"] == 2  # queued URLs are in seen (frontier ⊆ seen)

    rev_hashes = set(queued["url_hash"])
    front_now = {
        r.url_hash
        for r in store.read(spark, "frontier", w + 1)
        .select("url_hash").collect()
    }
    seen_now = {
        r.url_hash
        for r in store.read_upto(spark, "seen", w + 1).collect()
    }
    assert not (front_now & rev_hashes)  # unqueued
    assert not (seen_now & rev_hashes)   # forgotten
    assert front_now <= seen_now         # invariant survives
    assert out["frontier_count"] == len(front_now)
    kept = spark.createDataFrame(
        pd.DataFrame({"url_hash": pd.Series(sorted(seen_now), dtype="int64")})
    )
    probed = probe_cuckoo(
        kept, store.read(spark, filt, w + 1), cfg.bloom_shards
    ).toPandas()
    assert probed["maybe_seen"].all()    # filter ⊇ seen survives

    # the resumed crawl never fetches any URL twice: the revoked ones
    # were never fetched, so even link-rediscovery queues them once
    C.run_crawl(spark, store, ps, seeds, robots, pol,
                _cfg(max_waves=w + 3))
    tr = _trace(spark, store)
    assert (tr.groupby("url").size() == 1).all()


def test_revoke_forget_crash_between_compact_and_commit_repairs(
    spark, tiny_dir
):
    """Forget-mode revocation has exactly one dangerous crash window:
    the seen compaction's base-dir publish is durable BEFORE the w+1
    frontier write and manifest commit. A crash in between leaves the
    store committed at wave ``w`` with the revoked keys gone from seen
    but still queued (``frontier ⊆ seen`` broken) — and a re-run's
    seen-membership gate sees zero matches. The re-run must detect the
    still-queued keys and republish ``w+1`` with them unqueued
    (``repaired`` audit field), not early-return as a no-op."""
    ps, seeds, robots, pol = _inputs(spark, tiny_dir)
    cfg = _cfg(max_waves=2)
    store = SnapshotStore(tempfile.mkdtemp())
    C.run_crawl(spark, store, ps, seeds, robots, pol, cfg)
    w = store.last_wave()

    queued = (
        store.read(spark, "frontier", w)
        .select("url", "url_hash").limit(2).toPandas()
    )
    assert len(queued) == 2
    rev_df = spark.createDataFrame(queued[["url"]])

    # crash injection: die on the frontier write — after the durable
    # seen compaction (and the cuckoo delete's w+1 write), before commit
    orig_write = store.write

    def boom(df, table, wave, **kw):
        if table == "frontier":
            raise RuntimeError("injected crash before frontier write")
        return orig_write(df, table, wave, **kw)

    store.write = boom
    try:
        with pytest.raises(RuntimeError, match="injected crash"):
            C.revoke_urls(spark, store, rev_df, cfg)
    finally:
        store.write = orig_write

    # the crashed state: still committed at w, keys gone from seen but
    # still queued — the exact invariant breach the repair exists for
    rev_hashes = set(queued["url_hash"])
    assert store.last_wave() == w
    seen_mid = {
        r.url_hash for r in store.read_upto(spark, "seen", w).collect()
    }
    front_mid = {
        r.url_hash
        for r in store.read(spark, "frontier", w).select("url_hash").collect()
    }
    assert not (seen_mid & rev_hashes)
    assert rev_hashes <= front_mid  # broken: queued but not seen

    # re-running the SAME revocation converges instead of no-opping
    out = C.revoke_urls(spark, store, rev_df, cfg)
    assert out["revoked"] == 0 and out["repaired"] == 2
    assert out["wave"] == w + 1 and store.last_wave() == w + 1
    m = store.manifest(w + 1)
    assert m["repaired"] == 2 and m["revoked"] == 0

    front_now = {
        r.url_hash
        for r in store.read(spark, "frontier", w + 1)
        .select("url_hash").collect()
    }
    seen_now = {
        r.url_hash
        for r in store.read_upto(spark, "seen", w + 1).collect()
    }
    assert not (front_now & rev_hashes)
    assert front_now <= seen_now  # invariant restored
    assert out["frontier_count"] == len(front_now)

    # a third run of the same revocation is now a true no-op
    out2 = C.revoke_urls(spark, store, rev_df, cfg)
    assert out2["revoked"] == 0 and "repaired" not in out2
    assert store.last_wave() == w + 1

    # and the crawl resumes cleanly: nothing is ever fetched twice
    C.run_crawl(spark, store, ps, seeds, robots, pol, _cfg(max_waves=w + 3))
    tr = _trace(spark, store)
    assert (tr.groupby("url").size() == 1).all()


def test_revoke_unknown_urls_is_a_noop(spark, tiny_dir):
    ps, seeds, robots, pol = _inputs(spark, tiny_dir)
    cfg = _cfg(max_waves=2)
    store = SnapshotStore(tempfile.mkdtemp())
    C.run_crawl(spark, store, ps, seeds, robots, pol, cfg)
    w = store.last_wave()
    out = C.revoke_urls(
        spark, store,
        spark.createDataFrame(
            pd.DataFrame({"url": ["http://never-crawled.onion/x"]})
        ),
        cfg,
    )
    assert out["revoked"] == 0
    assert store.last_wave() == w  # no snapshot published


def test_revoke_reseed_applies_robots_gate(spark, tiny_dir):
    """Reseed is a frontier insert, and every frontier-insert path
    applies the A10 robots gate: a reseeded URL whose rules now
    disallow it must stay OUT of the queue (and stay in seen)."""
    ps, seeds, robots, pol = _inputs(spark, tiny_dir)
    cfg = _cfg(max_waves=2)
    store = SnapshotStore(tempfile.mkdtemp())
    C.run_crawl(spark, store, ps, seeds, robots, pol, cfg)
    w = store.last_wave()

    fetched = (
        store.read_outputs(spark, "trace")
        .filter("status = 200").select("url").distinct().limit(20).toPandas()
    )
    doms = fetched["url"].str.extract(r"^http://([^/]+)/")[0]
    # two fetched URLs from two different domains
    pick = fetched[~doms.duplicated()].head(2).reset_index(drop=True)
    assert len(pick) == 2
    blocked_url, allowed_url = pick["url"][0], pick["url"][1]
    blocked_dom = doms[~doms.duplicated()].reset_index(drop=True)[0]
    new_rules = spark.createDataFrame(
        pd.DataFrame({"domain": [blocked_dom], "disallow": [["/"]]})
    )
    out = C.revoke_urls(
        spark, store, spark.createDataFrame(pick[["url"]]), cfg,
        reseed=True, robots=new_rules,
    )
    assert out["revoked"] == 2  # both were in seen — both count
    front = set(
        r.url for r in store.read(spark, "frontier", w + 1)
        .select("url").collect()
    )
    assert allowed_url in front
    assert blocked_url not in front  # gated out, stays in seen
    C.run_crawl(spark, store, ps, seeds, robots, pol,
                _cfg(max_waves=w + 4))
    counts = _trace(spark, store).groupby("url").size()
    assert counts[allowed_url] == 2
    assert counts[blocked_url] == 1


def test_revoke_reseed_on_crashed_forget_raises(spark, tiny_dir):
    """Queued-but-not-seen is the crashed-forget state; a reseed over it
    must refuse loudly (silently unqueueing would execute the OPPOSITE
    of the request and mislabel the audit), and the documented repair
    (re-running with reseed=False) must still converge afterwards."""
    ps, seeds, robots, pol = _inputs(spark, tiny_dir)
    cfg = _cfg(max_waves=2)
    store = SnapshotStore(tempfile.mkdtemp())
    C.run_crawl(spark, store, ps, seeds, robots, pol, cfg)
    w = store.last_wave()
    queued = (
        store.read(spark, "frontier", w)
        .select("url", "url_hash").limit(2).toPandas()
    )
    rev_df = spark.createDataFrame(queued[["url"]])
    orig_write = store.write

    def boom(df, table, wave, **kw):
        if table == "frontier":
            raise RuntimeError("injected crash before frontier write")
        return orig_write(df, table, wave, **kw)

    store.write = boom
    try:
        with pytest.raises(RuntimeError, match="injected crash"):
            C.revoke_urls(spark, store, rev_df, cfg)
    finally:
        store.write = orig_write

    with pytest.raises(ValueError, match="crashed forget"):
        C.revoke_urls(spark, store, rev_df, cfg, reseed=True)
    assert store.last_wave() == w  # the refusal published nothing

    out = C.revoke_urls(spark, store, rev_df, cfg)  # documented repair
    assert out["repaired"] == 2 and store.last_wave() == w + 1
