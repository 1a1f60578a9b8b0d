"""SnapshotStore layout/compat guarantees (ADVICE.md r3).

Three hazards the round-3 advisor verified empirically:
  * basePath partition discovery surfaced a synthetic ``wave`` int
    column on every read_upto frame;
  * a store with mixed flat/bucketed version layouts (pre-upgrade seen
    snapshots next to post-upgrade pid-bucketed deltas) crashed
    read_upto with CONFLICTING_PARTITION_COLUMN_NAMES, breaking the
    resumable-restart guarantee for upgraded stores;
  * the ``_schema.json`` sidecar was pinned forever, silently
    null-filling reads after schema drift.
"""

import shutil
import tempfile

import pandas as pd
import pytest

from torscrapper_spark.plans import crawl as C
from torscrapper_spark.sources.tableio import SnapshotStore


def _store(spark, rows_by_wave, partition_by=None):
    st = SnapshotStore(tempfile.mkdtemp(prefix="tsio_"))
    for w, pdf in enumerate(rows_by_wave):
        st.write(
            spark.createDataFrame(pdf), "seen", w, partition_by=partition_by
        )
        st.commit(w, {"n": len(pdf)})
    return st


def _pdf(hashes, wave, with_pid=None):
    d = {"url_hash": pd.Series(hashes, dtype="int64"),
         "wave_added": pd.Series([wave] * len(hashes), dtype="int32")}
    if with_pid is not None:
        d["pid"] = pd.Series([h % with_pid for h in hashes], dtype="int32")
    return pd.DataFrame(d)


def test_read_upto_returns_declared_columns_only(spark):
    st = _store(
        spark, [_pdf([1, 2], 0, with_pid=4), _pdf([5, 6], 1, with_pid=4)],
        partition_by="pid",
    )
    df = st.read_upto(spark, "seen", 1)
    assert sorted(df.columns) == ["pid", "url_hash", "wave_added"]
    assert {r.url_hash for r in df.collect()} == {1, 2, 5, 6}
    # pruning still reaches the scan through the declared pid column
    assert {r.pid for r in df.filter("pid = 1").collect()} == {1}


def test_mixed_layout_falls_back_without_bucket_column(spark):
    """Pre-upgrade flat versions + post-upgrade bucketed deltas: the
    union must succeed and must NOT expose a (null-polluted) pid column
    that would poison ``pid IN`` pruning."""
    st = _store(spark, [_pdf([1, 2, 3], 0, with_pid=4)], partition_by="pid")
    # rewrite version 0 to the pre-upgrade flat layout (no pid anywhere)
    v0 = st.table_path("seen", 0)
    shutil.rmtree(v0)
    spark.createDataFrame(_pdf([1, 2, 3], 0)).write.parquet(v0)
    # post-upgrade delta
    st.write(
        spark.createDataFrame(_pdf([7, 8], 1, with_pid=4)), "seen", 1,
        partition_by="pid",
    )
    st.commit(1, {"n": 2})
    df = st.read_upto(spark, "seen", 1)
    assert "pid" not in df.columns
    assert {r.url_hash for r in df.collect()} == {1, 2, 3, 7, 8}


def test_sidecar_schema_drift_raises(spark):
    st = _store(spark, [_pdf([1], 0)])
    drifted = pd.DataFrame({
        "url_hash": pd.Series([2], dtype="int64"),
        "wave_added": pd.Series([1], dtype="int32"),
        "extra": ["x"],
    })
    with pytest.raises(ValueError, match="schema drift"):
        st.write(spark.createDataFrame(drifted), "seen", 1)


def test_resume_after_store_layout_upgrade(spark, tiny_dir, tmp_store_dir):
    """Crawl-level ADVICE.md r3 (medium): resuming a store whose early
    seen versions predate the bucketed layout must work — the mixed
    store loses bucket pruning (exact anti-join path) but must produce
    the identical trace."""
    ps = C.load_pagestore(spark, f"{tiny_dir}/pagestore.parquet")
    seeds = spark.read.parquet(f"{tiny_dir}/seeds.parquet")
    robots = spark.read.parquet(f"{tiny_dir}/robots.parquet")
    pol = spark.read.parquet(f"{tiny_dir}/politeness.parquet")
    full_cfg = C.CrawlConfig(
        max_waves=3, bloom_shards=4, cuckoo_buckets=1 << 10
    )
    s_full = SnapshotStore(tempfile.mkdtemp(prefix="tsio_full_"))
    C.run_crawl(spark, s_full, ps, seeds, robots, pol, full_cfg)

    s_up = SnapshotStore(tmp_store_dir)
    C.run_crawl(
        spark, s_up, ps, seeds, robots, pol,
        C.CrawlConfig(max_waves=1, bloom_shards=4,
                      cuckoo_buckets=1 << 10),
    )
    # downgrade every committed seen version to the flat pre-upgrade
    # layout (data read back and rewritten without any pid)
    for w in range(s_up.last_wave() + 1):
        p = s_up.table_path("seen", w)
        pdf = spark.read.parquet(p).select("url_hash", "wave_added").toPandas()
        shutil.rmtree(p)
        spark.createDataFrame(
            pdf.astype({"url_hash": "int64", "wave_added": "int32"})
        ).write.parquet(p)
    C.run_crawl(spark, s_up, ps, seeds, robots, pol, full_cfg)

    def trace(st):
        return (
            st.read_outputs(spark, "trace").orderBy("wave", "seq")
            .select("wave", "seq", "url", "depth", "status").toPandas()
        )

    assert trace(s_full).equals(trace(s_up))


def test_compact_refuses_mixed_layout_store(spark):
    """Compacting a mixed-layout legacy store would durably write a base
    missing the bucket column the sidecar still declares — every later
    read would resurface it all-NULL and `pid IN` pruning would skip the
    whole compacted seen set (previously-seen URLs re-crawled). The
    store must refuse loudly instead."""
    st = _store(spark, [_pdf([1, 2, 3], 0, with_pid=4)], partition_by="pid")
    v0 = st.table_path("seen", 0)
    shutil.rmtree(v0)
    spark.createDataFrame(_pdf([1, 2, 3], 0)).write.parquet(v0)
    st.write(
        spark.createDataFrame(_pdf([7, 8], 1, with_pid=4)), "seen", 1,
        partition_by="pid",
    )
    st.commit(1, {"n": 2})
    with pytest.raises(ValueError, match="would drop column"):
        st.compact(spark, "seen", 1)
    # the refusal left the store fully readable, nothing expired
    assert {r.url_hash for r in st.read_upto(spark, "seen", 1).collect()} \
        == {1, 2, 3, 7, 8}
    assert st.base_wave("seen") is None


def test_empty_partitioned_delta_keeps_bucket_layout(spark):
    """A wave that discovers zero NEW urls still writes its (empty)
    partitioned seen delta — partitionBy on a zero-row frame leaves a
    version dir with no pid= subdirs and no data files. That version
    must contribute NO layout evidence: treating it as "flat" used to
    trip the mixed-layout fallback, permanently dropping pid from
    reads (pruning lost) and making compact() raise on a perfectly
    healthy store (code-review r5)."""
    st = _store(spark, [_pdf([1, 2, 3], 0, with_pid=4)], partition_by="pid")
    st.write(
        spark.createDataFrame(
            _pdf([], 1, with_pid=4),
            schema="url_hash long, wave_added int, pid int",
        ), "seen", 1,
        partition_by="pid",
    )
    st.commit(1, {"n": 0})
    st.write(
        spark.createDataFrame(_pdf([7, 8], 2, with_pid=4)), "seen", 2,
        partition_by="pid",
    )
    st.commit(2, {"n": 2})
    df = st.read_upto(spark, "seen", 2)
    assert "pid" in df.columns  # bucket layout (and pruning) survives
    assert {r.url_hash for r in df.collect()} == {1, 2, 3, 7, 8}
    # compact over the chain containing the empty version still works
    st.compact(spark, "seen", 2)
    assert {r.url_hash for r in st.read_upto(spark, "seen", 2).collect()} \
        == {1, 2, 3, 7, 8}


def test_all_empty_versions_read_with_declared_schema(spark):
    """Zero data anywhere: read_upto must still return the declared
    schema (pid included) rather than fall into the column-dropping
    fallback on an empty layout set."""
    st = SnapshotStore(tempfile.mkdtemp(prefix="tsio_"))
    st.write(
        spark.createDataFrame(
            _pdf([], 0, with_pid=4),
            schema="url_hash long, wave_added int, pid int",
        ), "seen", 0, partition_by="pid",
    )
    st.commit(0, {"n": 0})
    df = st.read_upto(spark, "seen", 0)
    assert sorted(df.columns) == ["pid", "url_hash", "wave_added"]
    assert df.count() == 0


def test_partition_spec_drift_raises(spark):
    """A write whose partition_by disagrees with the sidecar's pinned
    spec would create mixed layouts (silent pruning loss + compact
    refusal waves later); it must fail loudly at the causing write."""
    st = _store(spark, [_pdf([1], 0, with_pid=4)], partition_by="pid")
    with pytest.raises(ValueError, match="partition-spec drift"):
        st.write(spark.createDataFrame(_pdf([2], 1, with_pid=4)), "seen", 1)
    # the correct spec still writes fine
    st.write(
        spark.createDataFrame(_pdf([2], 1, with_pid=4)), "seen", 1,
        partition_by="pid",
    )
    st.commit(1, {"n": 1})
    assert {r.url_hash for r in st.read_upto(spark, "seen", 1).collect()} \
        == {1, 2}


def test_evolve_schema_backfills_old_versions_and_gates_writers(spark):
    """Iceberg ALTER TABLE ADD COLUMNS analogue: after evolve_schema,
    pre-evolution versions read back with the new column NULL-filled,
    an old-schema writer fails the drift guard loudly, a new-schema
    writer succeeds, and compact() materializes the backfill durably."""
    st = _store(
        spark, [_pdf([1, 2], 0, with_pid=4), _pdf([5], 1, with_pid=4)],
        partition_by="pid",
    )
    evolved = st.evolve_schema("seen", "lang string")
    assert evolved.fieldNames()[-1] == "lang"
    assert evolved["lang"].nullable

    # pre-evolution versions: new column reads as NULL
    df = st.read_upto(spark, "seen", 1)
    assert "lang" in df.columns
    assert df.filter("lang is not null").count() == 0
    assert {r.url_hash for r in df.collect()} == {1, 2, 5}

    # old-schema writer now fails LOUDLY instead of forking the layout
    with pytest.raises(ValueError, match="schema drift"):
        st.write(
            spark.createDataFrame(_pdf([9], 2, with_pid=4)), "seen", 2,
            partition_by="pid",
        )

    # evolved writer succeeds; mixed old/new reads line up
    new = _pdf([9], 2, with_pid=4)
    new["lang"] = ["en"]
    st.write(spark.createDataFrame(new), "seen", 2, partition_by="pid")
    st.commit(2, {"n": 1})
    rows = {r.url_hash: r.lang for r in st.read_upto(spark, "seen", 2).collect()}
    assert rows == {1: None, 2: None, 5: None, 9: "en"}

    # compaction rewrites history under the evolved schema
    st.compact(spark, "seen", 2)
    rows = {r.url_hash: r.lang for r in st.read_upto(spark, "seen", 2).collect()}
    assert rows == {1: None, 2: None, 5: None, 9: "en"}
    # bucket pruning still reaches the scan post-evolution
    assert {r.url_hash for r in
            st.read_upto(spark, "seen", 2).filter("pid = 1").collect()} \
        == {1, 5, 9}


def test_evolve_schema_guards(spark):
    st = _store(spark, [_pdf([1], 0)])
    with pytest.raises(ValueError, match="already exists"):
        st.evolve_schema("seen", "URL_HASH long")  # case-insensitive clash
    with pytest.raises(ValueError, match="cannot parse DDL"):
        st.evolve_schema("seen", "not a ddl ::")
    with pytest.raises(ValueError, match="schema sidecar"):
        st.evolve_schema("never_written", "x int")


def test_metadata_tables_reflect_live_versions_only(spark):
    """snapshots_df = one row per committed manifest; files_df = live
    parquet files only — an uncommitted (crashed) wave dir and an
    orphaned base dir must be invisible, matching Iceberg's
    snapshots/files metadata tables over reachable snapshots."""
    import os

    st = _store(
        spark, [_pdf([1, 2], 0, with_pid=4), _pdf([5, 6], 1, with_pid=4)],
        partition_by="pid",
    )
    snaps = st.snapshots_df(spark)
    assert [r.wave for r in snaps.orderBy("wave").collect()] == [0, 1]
    assert all("\"n\":" in r.manifest.replace(" ", "")
               for r in snaps.collect())

    # crash leftovers: wave 2 written but never committed; orphan base
    st.write(
        spark.createDataFrame(_pdf([9], 2, with_pid=4)), "seen", 2,
        partition_by="pid",
    )
    orphan = os.path.join(st.root, "seen", "base=0-7")
    os.makedirs(orphan, exist_ok=True)
    with open(os.path.join(orphan, "junk.parquet"), "wb") as f:
        f.write(b"x")

    files = st.files_df(spark, "seen").collect()
    assert files, "committed files must be listed"
    versions = {r.version for r in files}
    assert versions == {"wave=0", "wave=1"}
    assert all(r.partition is not None and r.partition.startswith("pid=")
               for r in files)
    assert all(r.size_bytes > 0 for r in files)

    # after commit the wave surfaces; after compact only the live base
    st.commit(2, {"n": 1})
    assert {r.version for r in st.files_df(spark, "seen").collect()} \
        == {"wave=0", "wave=1", "wave=2"}
    info = st.compact(spark, "seen", 2)
    assert {r.version for r in st.files_df(spark, "seen").collect()} \
        == {info["dir"]}


def test_files_df_excludes_expired_wave_dirs_below_base(spark):
    """compact() killed after the marker flip but mid-expire leaves a
    wave dir ≤ base wave on disk; read_upto already ignores it, and
    files_df must too (session-14 review: it was listed as live,
    double-counting bytes for observability consumers)."""
    import os
    import shutil as sh

    st = _store(
        spark, [_pdf([1], 0, with_pid=4), _pdf([2], 1, with_pid=4),
                _pdf([3], 2, with_pid=4)],
        partition_by="pid",
    )
    # preserve wave=1, compact, then put it back = crash mid-expire
    saved = os.path.join(st.root, "_saved_wave1")
    sh.copytree(st.table_path("seen", 1), saved)
    info = st.compact(spark, "seen", 2)
    sh.copytree(saved, st.table_path("seen", 1))
    assert {r.version for r in st.files_df(spark, "seen").collect()} \
        == {info["dir"]}
    # and reads stay correct regardless
    assert {r.url_hash for r in st.read_upto(spark, "seen", 2).collect()} \
        == {1, 2, 3}


def test_evolve_schema_preserves_field_metadata(spark):
    st = _store(spark, [_pdf([1], 0)])
    evolved = st.evolve_schema("seen", "lang string COMMENT 'ISO 639-1'")
    assert evolved["lang"].metadata.get("comment") == "ISO 639-1"
    # and it round-trips through the sidecar
    assert st._schema("seen")["lang"].metadata.get("comment") == "ISO 639-1"


def test_rollback_then_resume_reproduces_golden_trace(spark, tiny_dir):
    """Iceberg rollback_to_snapshot analogue: un-commit waves above the
    target, resume, and the re-run must produce the bit-identical trace
    an uninterrupted crawl produces (determinism makes rollback a pure
    time-travel op). Guards: uncommitted target, rollback below a
    compaction base, rollback below state retention — all refused
    BEFORE any manifest is deleted."""
    ps = C.load_pagestore(spark, f"{tiny_dir}/pagestore.parquet")
    seeds = spark.read.parquet(f"{tiny_dir}/seeds.parquet")
    robots = spark.read.parquet(f"{tiny_dir}/robots.parquet")
    pol = spark.read.parquet(f"{tiny_dir}/politeness.parquet")
    cfg = C.CrawlConfig(max_waves=4)

    s_full = SnapshotStore(tempfile.mkdtemp(prefix="tsio_rbf_"))
    C.run_crawl(spark, s_full, ps, seeds, robots, pol, cfg)

    s_rb = SnapshotStore(tempfile.mkdtemp(prefix="tsio_rb_"))
    C.run_crawl(spark, s_rb, ps, seeds, robots, pol, cfg)
    info = s_rb.rollback(1, require_state=("frontier",))
    assert info["dropped_waves"] == [2, 3, 4]
    assert s_rb.last_wave() == 1
    C.run_crawl(spark, s_rb, ps, seeds, robots, pol, cfg)  # resume 2..4

    def trace(st):
        return (
            st.read_outputs(spark, "trace").orderBy("wave", "seq")
            .select("wave", "seq", "url", "depth", "status").toPandas()
        )

    assert trace(s_full).equals(trace(s_rb))

    # guards
    with pytest.raises(ValueError, match="not a committed wave"):
        s_rb.rollback(99)
    s_rb.compact(spark, "seen", 2)
    with pytest.raises(ValueError, match="compacted through"):
        s_rb.rollback(1)
    # state-retention guard: frontier version dir removed under target
    shutil.rmtree(s_rb.table_path("frontier", 3))
    with pytest.raises(ValueError, match="no version dir there"):
        s_rb.rollback(3, require_state=("frontier",))
    # and nothing was deleted by the refused attempts
    assert s_rb.last_wave() == 4
