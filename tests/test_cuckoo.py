"""Cuckoo seen filter (BASELINE.json:6 "cuckoo/bloom"; VERDICT.md r4
next-round #6): golden-trace equality, no false negatives, deletion
support, and saturation/degradation behavior."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from torscrapper_spark import refsim
from torscrapper_spark.operators.cuckoo import (
    cuckoo_fill,
    delete_cuckoo,
    empty_cuckoo,
    probe_cuckoo,
    update_cuckoo,
)
from torscrapper_spark.plans import crawl as C
from torscrapper_spark.sources.tableio import SnapshotStore

TRACE_COLS = ["wave", "seq", "url", "depth", "status"]


def _trace(spark, store):
    pdf = (
        store.read_outputs(spark, "trace").orderBy("wave", "seq").toPandas()
    )
    return pdf[TRACE_COLS].astype(
        {"wave": "int64", "seq": "int64", "depth": "int64", "status": "int64"}
    ).reset_index(drop=True)


def test_cuckoo_crawl_matches_golden(
    spark, tiny_tables, tiny_dir, tmp_store_dir
):
    """The cuckoo-backed crawl produces the exact golden trace (the
    prefilter only changes selectivity, never semantics), and its
    filter state table is named after the filter."""
    import os

    t = tiny_tables
    gold = refsim.simulate(
        t["pagestore"], t["seeds"], t["robots"], t["politeness"],
        max_waves=3, default_budget=5,
    )
    store = SnapshotStore(tmp_store_dir)
    C.run_crawl(
        spark, store,
        C.load_pagestore(spark, f"{tiny_dir}/pagestore.parquet"),
        spark.read.parquet(f"{tiny_dir}/seeds.parquet"),
        spark.read.parquet(f"{tiny_dir}/robots.parquet"),
        spark.read.parquet(f"{tiny_dir}/politeness.parquet"),
        C.CrawlConfig(
            max_waves=3, default_budget=5,
            bloom_shards=4, cuckoo_buckets=1 << 10,
        ),
    )
    assert _trace(spark, store).equals(
        gold.trace[TRACE_COLS].astype(
            {"wave": "int64", "seq": "int64", "depth": "int64",
             "status": "int64"}
        ).reset_index(drop=True)
    )
    assert os.path.isdir(store.table_path("cuckoo", 0))
    assert not os.path.isdir(os.path.join(store.root, "bloom"))


def test_cuckoo_probe_no_false_negatives_and_low_fp(spark):
    rng = np.random.default_rng(3)
    keys = rng.integers(-2**62, 2**62, 4000, dtype=np.int64)
    inserted = pd.DataFrame({"url_hash": keys[:2000]})
    flt = update_cuckoo(
        empty_cuckoo(spark, 4, 1 << 9),  # 4 shards × 2048 slots, load ~0.98/4
        spark.createDataFrame(inserted, "url_hash long"),
        4,
    )
    cand = spark.createDataFrame(
        pd.DataFrame({"url_hash": keys}), "url_hash long"
    )
    probed = probe_cuckoo(cand, flt, 4).toPandas()
    got = dict(zip(probed["url_hash"], probed["maybe_seen"]))
    ins = set(inserted["url_hash"].tolist())
    misses = [k for k in ins if not got[int(k)]]
    assert not misses, f"false negatives: {misses[:5]}"
    fresh = [k for k in keys[2000:] if int(k) not in ins]
    fp = sum(got[int(k)] for k in fresh) / len(fresh)
    assert fp < 0.02, fp


def test_cuckoo_delete_unlearns_without_false_negatives(spark):
    """Deletion (the capability the bloom lacks — seed revocation):
    deleted keys may probe either way (fingerprint collisions), but
    every REMAINING key must still probe positive."""
    rng = np.random.default_rng(5)
    keys = rng.integers(-2**62, 2**62, 3000, dtype=np.int64)
    keep, drop = keys[:2000], keys[2000:]
    flt = update_cuckoo(
        empty_cuckoo(spark, 4, 1 << 10),
        spark.createDataFrame(pd.DataFrame({"url_hash": keys}), "url_hash long"),
        4,
    ).persist()
    flt2 = delete_cuckoo(
        flt,
        spark.createDataFrame(pd.DataFrame({"url_hash": drop}), "url_hash long"),
        4,
    ).persist()
    probed = probe_cuckoo(
        spark.createDataFrame(pd.DataFrame({"url_hash": keep}), "url_hash long"),
        flt2, 4,
    ).toPandas()
    assert probed["maybe_seen"].all(), "delete created a false negative"
    # occupancy actually dropped by ~|drop| (deletes really cleared slots)
    used_before = sum(r.used_slots for r in cuckoo_fill(flt).collect())
    used_after = sum(r.used_slots for r in cuckoo_fill(flt2).collect())
    assert used_before - used_after >= len(drop) * 0.95
    flt.unpersist()
    flt2.unpersist()


def test_cuckoo_insert_after_delete_no_false_negatives(spark):
    """Regression (round 5): a delete used to leave a mid-row hole, and
    _place_round's packed-row fast path would then hand a later insert a
    slot that still held a live fingerprint — silently erasing a key
    (false negative). Delete must repack the bucket row so the full
    delete → insert → probe cycle keeps every remaining key positive."""
    rng = np.random.default_rng(11)
    keys = rng.integers(-2**62, 2**62, 3000, dtype=np.int64)
    keep, drop = keys[:2000], keys[2000:]
    fresh = rng.integers(-2**62, 2**62, 1500, dtype=np.int64)
    flt = update_cuckoo(
        empty_cuckoo(spark, 4, 1 << 9),  # high load so buckets fill
        spark.createDataFrame(pd.DataFrame({"url_hash": keys}), "url_hash long"),
        4,
    )
    flt = delete_cuckoo(
        flt,
        spark.createDataFrame(pd.DataFrame({"url_hash": drop}), "url_hash long"),
        4,
    )
    flt = update_cuckoo(
        flt,
        spark.createDataFrame(pd.DataFrame({"url_hash": fresh}), "url_hash long"),
        4,
    ).persist()
    want = np.unique(np.concatenate([keep, fresh]))
    probed = probe_cuckoo(
        spark.createDataFrame(pd.DataFrame({"url_hash": want}), "url_hash long"),
        flt, 4,
    ).toPandas()
    missing = probed[~probed["maybe_seen"]]["url_hash"].tolist()
    flt.unpersist()
    assert not missing, f"insert-after-delete false negatives: {missing[:5]}"


def test_cuckoo_kernel_model_based():
    """Hypothesis model check of the numpy kernels (no Spark): random
    insert/delete sequences against a live-key-set model. Invariants
    after every op, including under hypothesis's adversarial shrinking
    toward small keys (which share fingerprints aggressively — every
    h < 2^16 has fp == 1, deliberately stressing duplicate semantics):

      1. every live (inserted, not deleted) key probes True — the
         load-bearing no-false-negatives property;
      2. occupancy == live-key count exactly: each insert stores
         exactly one copy, each contract-respecting delete removes
         exactly one (a live key's fp is always in its own bucket
         pair, so a delete always hits);
      3. deleting every live key leaves an all-zero table.

    An insert that exhausts its eviction budget returns False — the
    shard degrades (probe answers all-true, trivially safe) and the
    sequence stops there, mirroring update_cuckoo."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from torscrapper_spark.operators.cuckoo import (
        _SLOTS,
        _contains,
        _delete,
        _insert,
    )

    def as_u64(keys):
        return np.array(keys, dtype=np.int64).view(np.uint64)

    @settings(max_examples=80, deadline=None)
    @given(st.data())
    def run(data):
        nbuckets = 16
        tab = np.zeros((nbuckets, _SLOTS), dtype=np.uint16)
        live: list = []
        for _ in range(data.draw(st.integers(1, 8))):
            if live and data.draw(st.booleans()):
                k = data.draw(st.integers(1, len(live)))
                order = data.draw(st.permutations(list(range(len(live)))))
                drop = {live[i] for i in order[:k]}
                _delete(tab, nbuckets, as_u64(sorted(drop)))
                live = [x for x in live if x not in drop]
            else:
                batch = [
                    b
                    for b in data.draw(
                        st.lists(
                            st.integers(-(2**63), 2**63 - 1),
                            min_size=1, max_size=12, unique=True,
                        )
                    )
                    if b not in set(live)
                ]
                if not batch:
                    continue
                if not _insert(tab, nbuckets, as_u64(batch)):
                    return  # degraded: probe answers all-true (safe)
                live.extend(batch)
            if live:
                assert _contains(tab, nbuckets, as_u64(live)).all(), (
                    "false negative for a live key"
                )
            assert int((tab != 0).sum()) == len(live), (
                "occupancy diverged from the live-key count"
            )
        if live:
            _delete(tab, nbuckets, as_u64(live))
            assert not tab.any(), "deleting every live key must empty"

    run()


def test_cuckoo_colliding_fp_delete_keeps_other_key(spark):
    """Regression (round-5 review): insert used to dedup against the
    table — a key whose fingerprint already sat in its bucket pair (a
    DIFFERENT colliding key's copy, inserted in an earlier wave) was
    skipped, so deleting the first key erased the second key's only
    fingerprint: a false negative, the one property the filter must
    never give up. Inserts must store duplicate fingerprints (the
    standard deletion-safety mechanism) so deleting one colliding key
    never unlearns the other."""
    from torscrapper_spark.operators.cuckoo import _buckets, _fingerprints

    nbuckets = 8
    rng = np.random.default_rng(7)
    ks = rng.integers(-2**62, 2**62, 300_000, dtype=np.int64)
    fp = _fingerprints(ks.view(np.uint64))
    i1, _ = _buckets(ks.view(np.uint64), fp, nbuckets)
    cells: dict = {}
    pair = None
    for j in range(len(ks)):
        cell = (int(fp[j]), int(i1[j]))
        if cell in cells and cells[cell] != int(ks[j]):
            pair = (cells[cell], int(ks[j]))
            break
        cells.setdefault(cell, int(ks[j]))
    assert pair is not None, "no (fp, bucket) collision in the sample"
    a, b = pair

    def delta(*keys):
        return spark.createDataFrame(
            pd.DataFrame({"url_hash": list(keys)}), "url_hash long"
        )

    # a and b arrive in SEPARATE waves: the old containment skip only
    # consulted the pre-batch table, so same-batch inserts masked it
    flt = update_cuckoo(empty_cuckoo(spark, 1, nbuckets), delta(a), 1)
    flt = update_cuckoo(flt, delta(b), 1)
    flt = delete_cuckoo(flt, delta(a), 1)
    probed = probe_cuckoo(delta(b), flt, 1).toPandas()
    assert probed["maybe_seen"].all(), (
        "deleting a colliding key unlearned a different live key"
    )


def test_cuckoo_saturation_guard_rebuilds(spark, tiny_tables, tiny_dir,
                                           tmp_store_dir):
    """Shards sized absurdly small (8 buckets × 4 slots = 32 keys/shard
    for a ~80-key crawl) force degradation/saturation mid-crawl; the
    guard must rebuild at doubled capacity while the trace stays
    golden."""
    t = tiny_tables
    gold = refsim.simulate(
        t["pagestore"], t["seeds"], t["robots"], t["politeness"],
        max_waves=3, default_budget=5,
    )
    store = SnapshotStore(tmp_store_dir)
    C.run_crawl(
        spark, store,
        C.load_pagestore(spark, f"{tiny_dir}/pagestore.parquet"),
        spark.read.parquet(f"{tiny_dir}/seeds.parquet"),
        spark.read.parquet(f"{tiny_dir}/robots.parquet"),
        spark.read.parquet(f"{tiny_dir}/politeness.parquet"),
        C.CrawlConfig(
            max_waves=3, default_budget=5,
            bloom_shards=4, cuckoo_buckets=8,
        ),
    )
    assert _trace(spark, store).equals(
        gold.trace[TRACE_COLS].astype(
            {"wave": "int64", "seq": "int64", "depth": "int64",
             "status": "int64"}
        ).reset_index(drop=True)
    )
    fills = cuckoo_fill(
        store.read(spark, "cuckoo", store.last_wave())
    ).collect()
    assert any(r.nbuckets > 8 for r in fills), fills
    assert all(
        not r.degraded and r.used_slots <= 0.8 * r.nbuckets * 4
        for r in fills
    ), fills


def test_rebuild_shard_degraded_records_allocated_size():
    """When the rebuild gives up degraded at the size cap, the recorded
    nbuckets must match the table bytes actually allocated — the old
    code doubled nbuckets before breaking, and the next wave's
    update/delete reshape on that shard crashed the crawl."""
    from torscrapper_spark.operators.cuckoo import _SLOTS, _rebuild_shard

    h = np.arange(1, 20, dtype=np.int64)  # 19 keys >> 2 buckets × 4 slots
    row = _rebuild_shard(7, h, 2, max_nbuckets=2).iloc[0]
    assert bool(row.degraded)
    assert int(row.nbuckets) == 2
    assert len(row.table) == int(row.nbuckets) * _SLOTS * 2  # uint16 bytes

    # success path: with room to grow the same keys place cleanly and
    # the size/bytes invariant still holds
    ok = _rebuild_shard(7, h, 2).iloc[0]
    assert not bool(ok.degraded)
    assert len(ok.table) == int(ok.nbuckets) * _SLOTS * 2


def test_grow_cuckoo_keeps_empty_saturated_shard(spark):
    """A degraded shard whose full key set is EMPTY (every key revoked
    before the guard fired) must come back as a fresh empty row, not
    vanish from the filter table — a missing shard row would disable
    the fast path for that pid forever (probe answers all-true and
    updates never re-insert)."""
    from torscrapper_spark.operators import cuckoo as CK

    filt = spark.createDataFrame(
        pd.DataFrame({
            "pid": pd.Series([0, 1], dtype="int32"),
            "table": [np.zeros((8, 4), np.uint16).tobytes()] * 2,
            "nbuckets": pd.Series([8, 8], dtype="int32"),
            "degraded": pd.Series([False, True], dtype="bool"),
        }),
        CK.CUCKOO_SCHEMA,
    )
    empty = spark.createDataFrame(
        pd.DataFrame({"url_hash": pd.Series([], dtype="int64")}),
        "url_hash long",
    )
    grown = CK.grow_saturated_cuckoo(spark, filt, empty, empty, 2)
    out = grown.toPandas()
    filt.unpersist()
    grown._keys_cache.unpersist()  # the guard's shared key-scan cache
    assert sorted(out["pid"]) == [0, 1]
    row = out[out["pid"] == 1].iloc[0]
    assert not bool(row.degraded)
    assert len(row.table) == int(row.nbuckets) * 4 * 2
    assert not np.frombuffer(row.table, dtype=np.uint16).any()


def test_delete_cuckoo_skips_degraded_shards(spark):
    """delete on a degraded shard is a no-op (its contents are never
    trusted; post-degradation keys were never inserted, so a delete
    could only remove a colliding live key's fingerprint copy)."""
    from torscrapper_spark.operators import cuckoo as CK

    # a REAL stored fingerprint, so a non-skipping delete would clear it
    h = np.array([123456789], dtype=np.int64)  # pid = h % 2 = 1
    tab = np.zeros((8, CK._SLOTS), np.uint16)
    assert CK._insert(tab, 8, h.view(np.uint64))
    marker = tab.tobytes()
    filt = spark.createDataFrame(
        pd.DataFrame({
            "pid": pd.Series([1], dtype="int32"),
            "table": [marker],
            "nbuckets": pd.Series([8], dtype="int32"),
            "degraded": pd.Series([True], dtype="bool"),
        }),
        CK.CUCKOO_SCHEMA,
    )
    keys = spark.createDataFrame(
        pd.DataFrame({"url_hash": pd.Series(h, dtype="int64")}),
        "url_hash long",
    )
    out = CK.delete_cuckoo(filt, keys, 2).toPandas()
    row = out[out["pid"] == 1].iloc[0]
    assert bool(row.degraded)
    assert bytes(row.table) == marker  # untouched
