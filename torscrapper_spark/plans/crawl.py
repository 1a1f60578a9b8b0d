"""The wave-synchronous crawl loop (SURVEY.md §3.2).

Each wave is ONE iteration of the driver-side Python loop (Catalyst has
no fixpoint operator; SURVEY.md §4.3) and every iteration reads its
input state from the previous wave's committed snapshot and writes the
next snapshot. That design makes every wave a resume: lineage truncates
at the parquet boundary (plans never grow across waves), and killing
the process between any two commits and restarting provably continues
identically — the resume test is just the crawl loop itself.

Wave w dataflow (all lazy until the snapshot writes):

  frontier_w ──budget_select──▶ selected ──⋈ pagestore──▶ fetched
       │                           │                         │
       │                           └──anti-join──┐     decode_validate
       │                                         │           │
       │              trace_w ◀──with_global_seq─┼───────────┤
       │              (one combined output:      │     extract_candidates
       │               seq + page verdicts +     │           │
       │               partition_id lineage)     │           │
       │                         new = candidates ∖ seen (cuckoo-accelerated)
       │                                         │
  frontier_{w+1} = (frontier_w ∖ selected) ∪ robots_gate(new)   [salted]
  seen_{w+1}    += new            cuckoo_{w+1} = cuckoo_w + fingerprints(new)

Per-wave Spark actions are a deliberately minimal FIVE on the steady
path (VERDICT.md r4 next-round #1 — the fixed per-wave job floor is
the scale-killer class at high parallelism): one materialize job
(fetch+validate+probe, with the fetch count riding an observe() and
the filter-positive pid collect riding the same action), the seen /
frontier / cuckoo state writes, and one combined output write
(trace ⊇ pages ⊇ metrics; see :func:`read_pages` /
:func:`read_metrics`).
"""

from __future__ import annotations

import time
from concurrent.futures import ThreadPoolExecutor, wait
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..fixtures import DEFAULT_BUDGET
from ..functions.spark_udfs import canonicalize_udf, domain_col, url_hash_col
from ..operators.fetch import (
    SyntheticPagestore,
    decode_validate,
    fetch_join,
    synthetic_fetch_validate,
)
from ..operators.links import extract_candidates
from ..operators.politeness import PRIORITY_COLS, budget_select, robots_gate
from ..operators.cuckoo import (
    delete_cuckoo,
    empty_cuckoo,
    grow_saturated_cuckoo,
    update_cuckoo,
)
from ..operators.seen import new_candidates, with_pid
from ..operators.seq import with_global_seq
from ..sources.tableio import SnapshotStore

FRONTIER_COLS = ["url", "url_hash", "domain", "depth", "discovered_wave"]

# salted repartition width of the frontier state writes (A17)
FRONTIER_SALT = 8
# waves up to this size sort the trace in ONE window task (cheapest:
# no range-sampler/count mini-jobs); larger waves use the scalable
# range-partitioned with_global_seq. Round 1 hard-coded 2M, which
# put a 125k-row single-task sort on the scaling bench's hot path
# (VERDICT.md "What's wrong" #3; ADVICE.md) — the default is small
# enough that every bench-scale wave parallelizes.
TRACE_SINGLE_TASK_ROWS = 50_000
# budget_select window shuffle width = ceil(frontier_rows / this):
# data-proportional like state_rows_per_file, so both legs of an
# (N, 4N) pair run the same window task count for the same rows
# instead of spark.sql.shuffle.partitions empty-ish tasks.
SELECT_ROWS_PER_TASK = 400_000


# Driver threads live as long as the process: every new Python thread
# that calls into py4j opens its own connection and JVM thread.
# _STATE_POOL runs the state chain's concurrent writes; _OUTPUT_POOL's
# single worker runs each wave's output write + commit in submission
# (wave) order.
_STATE_POOL = ThreadPoolExecutor(max_workers=2, thread_name_prefix="crawl-state")
_OUTPUT_POOL = ThreadPoolExecutor(max_workers=1, thread_name_prefix="crawl-output")


def _run_concurrently(jobs) -> None:
    """Submit independent Spark jobs from driver threads (supported by
    the Spark scheduler) so their fixed costs overlap. Exceptions from
    any job propagate."""
    for f in [_STATE_POOL.submit(j) for j in jobs]:
        f.result()

PAGESTORE_COLS = [
    "url", "url_hash", "image_id", "bytes", "w", "h", "fmt",
    "caption", "ref_caption", "phash", "ref_bytes", "html",
]

# page-verdict columns carried by the combined `trace` output table
# (one physical write per wave — VERDICT.md r4 next-round #1)
PAGE_COLS = [
    "wave", "url", "url_hash", "image_id", "caption", "fmt", "w", "h",
    "status", "n_bytes", "decode_ok", "psnr", "psnr_ok",
    "phash_match", "caption_ok", "valid",
]


def read_pages(spark: SparkSession, store: "SnapshotStore") -> DataFrame:
    """Per-page fetch/validation verdicts across all committed waves —
    a column selection of the combined ``trace`` output table."""
    return store.read_outputs(spark, "trace").select(*PAGE_COLS)


def read_metrics(spark: SparkSession, store: "SnapshotStore") -> DataFrame:
    """Per-partition lineage + metrics (A18) across all committed waves,
    rolled up from the combined ``trace`` table's ``partition_id``
    lineage column (captured from the wave's verdict cache before the
    trace sort reshuffles rows)."""
    tr = store.read_outputs(spark, "trace")
    return (
        tr.groupBy("wave", "partition_id")
        .agg(
            F.count("*").alias("fetched"),
            F.sum(F.when(F.col("status") == 200, 1).otherwise(0)).alias("ok"),
            F.sum(F.when(F.col("status") != 200, 1).otherwise(0)).alias("missing"),
            F.sum(F.when(F.col("decode_ok"), 1).otherwise(0)).alias("decoded"),
            F.sum(F.when(F.col("valid"), 1).otherwise(0)).alias("valid_rows"),
            F.sum("n_bytes").alias("bytes"),
            F.min(F.when(F.col("status") == 200, F.col("psnr"))).alias("psnr_min"),
        )
    )


@dataclass(frozen=True)
class CrawlConfig:
    max_waves: int = 8
    default_budget: int = DEFAULT_BUDGET
    # shard count of the seen filter and of the seen table's pid
    # layout (the name predates the cuckoo filter)
    bloom_shards: int = 8
    # per shard, 4 slots each; size so the crawl's seen total stays
    # under 0.6 load (shards × buckets × 4 × 0.6), where no wave pays
    # the saturation guard's occupancy job or rebuild
    cuckoo_buckets: int = 1 << 12
    salt_buckets: int = 0         # >1 enables two-phase budget top-k
    pagestore_buckets: int = 0    # >0: pagestore is bucket-partitioned (DPP)
    # Salted phase-1 budget top-k only engages above this frontier row
    # count (VERDICT.md r4 next-round #2): phase 1 exists to bound a
    # single hot domain's window input, which only matters when one
    # domain can hold millions of rows — below this threshold the extra
    # (domain, salt) window stage is pure fixed cost that dilutes
    # scaling efficiency (measured: budget_select phase eff 0.21 at
    # (6,24)). Selection is provably identical either way (phase 1
    # keeps a superset of every domain's true top-budget; pytest pins
    # salted == exact and the golden tests force the salted path with
    # salt_min_frontier_rows=0).
    salt_min_frontier_rows: int = 5_000_000
    # Snapshot writes size their file count from DATA VOLUME, not task
    # count (VERDICT.md r3 next-round #2): the measured anti-scaling
    # component was the per-wave state writes, whose file count used to
    # track shuffle/cache partitioning — more threads → more small
    # files → more fsync/commit work on erratic virtio, so state_chain
    # GREW with parallelism while carrying identical bytes. With width
    # = ceil(rows / state_rows_per_file), both legs of an (N, 4N) pair
    # write the same files for the same data, and at 10^10 scale the
    # width still grows linearly with the frontier. ~150-250 B rows →
    # ~40-60 MB files at the default.
    state_rows_per_file: int = 250_000
    # Auto-maintenance between waves (both default OFF so existing
    # traces, the golden tiers, and the frozen scaling protocol are
    # byte-for-byte untouched):
    # compact the `seen` delta chain (SnapshotStore.compact — the
    # Iceberg rewrite_data_files analogue) whenever the number of live
    # delta dirs above the compacted base reaches this. The chain
    # length is the read cost that grows with crawl age — O(dirs)
    # listings + footer opens per wave — so a fixed threshold caps it
    # at O(compact_every) forever; rewrite work is O(seen) per
    # compaction, i.e. O(waves/compact_every) full rewrites over the
    # crawl (the scheduled-maintenance cadence Iceberg deployments
    # use; a tiered/LSM layout would trade that to O(log waves)
    # rewrites at the cost of multi-level read fan-in).
    compact_every: int | None = None
    # expire state snapshots (frontier + the seen filter) older than
    # the trailing N versions after each wave (SnapshotStore.
    # expire_state_snapshots). Every state version is a FULL copy —
    # O(waves × state size) storage if never expired — while resume
    # only ever reads the last committed wave. None = keep all (full
    # time travel).
    retain_state_snapshots: int | None = None

    # state table of the seen prefilter (operators/cuckoo.py). A class
    # constant, not a field: there is one filter.
    seen_filter = "cuckoo"


def _file_width(rows: int, cfg: "CrawlConfig") -> int:
    """Snapshot-write width from row count (see state_rows_per_file)."""
    return max(1, (int(rows) + cfg.state_rows_per_file - 1)
               // cfg.state_rows_per_file)


def _filter_width(cfg: "CrawlConfig") -> int:
    """Filter-snapshot write width: ~64 MB files by the configured shard
    bytes (4 two-byte slots per bucket), not by the merge or delete's
    shuffle width."""
    return max(1, cfg.bloom_shards * cfg.cuckoo_buckets * 8 // (64 << 20))


def load_pagestore(
    spark: SparkSession, path: str, buckets: int = 0
) -> DataFrame:
    """Read the pagestore and attach the join keys.

    Only the fetch-path columns are selected so Catalyst prunes
    ``out_links`` (and on a columnar store, any column a stage does not
    touch — the biggest I/O lever on an image table, SURVEY.md §4.2).
    """
    ps = spark.read.parquet(path)
    ps = ps.withColumn("url_hash", url_hash_col("url"))
    cols = list(PAGESTORE_COLS)
    if buckets > 0:
        if "bucket" not in ps.columns:
            ps = ps.withColumn(
                "bucket", F.pmod(F.col("url_hash"), F.lit(buckets)).cast("int")
            )
        cols.append("bucket")
    return ps.select(*cols)


def load_seeds_text(spark: SparkSession, path: str) -> DataFrame:
    """A1 seed ingestion from a plain seed-list text file or directory
    of files (one URL per line) via ``spark.read.text`` — the
    reference's seed source shape (SURVEY.md §2.A A1).

    Blank lines are dropped. No line-order column is carried: seed
    dedup is keyed wholly on the canonical URL and every derived
    column is a function of it (see :func:`canonical_seeds`), so file
    order, split packing, and multi-file layout provably cannot affect
    the canonical frontier — order-independence by construction rather
    than by tiebreak. (VERDICT.md r4 next-round #7 asked for a guard
    on the old min-seq tiebreak's cross-file ordering; code-review r5
    found the aggregated seq was never consumed downstream, so the
    guard became the stronger "there is nothing order-dependent to
    protect", pinned by the two-file equivalence test.)"""
    return (
        spark.read.text(path)
        .select(F.trim(F.col("value")).alias("url"))
        .filter(F.length("url") > 0)
    )


def canonical_seeds(seeds: DataFrame) -> DataFrame:
    """Canonicalize + dedup seeds (A1/A9). Every output column is a
    function of the canonical URL alone (hash, domain, depth=0,
    wave=0), so the dedup is a plain ``distinct`` — there is no
    tiebreak to choose and the result is independent of seed order."""
    dedup = seeds.select(
        canonicalize_udf(F.col("url")).alias("url")
    ).distinct()
    return dedup.select(
        "url",
        url_hash_col("url").alias("url_hash"),
        domain_col("url").alias("domain"),
        F.lit(0).cast("int").alias("depth"),
        F.lit(0).cast("int").alias("discovered_wave"),
    )


def init_state(
    spark: SparkSession,
    store: SnapshotStore,
    seeds: DataFrame,
    robots: DataFrame,
    cfg: CrawlConfig,
) -> None:
    """Write the wave-0 snapshot (frontier/seen/cuckoo) and commit it."""
    canon = canonical_seeds(seeds).persist()
    n_canon = canon.count()
    width = _file_width(n_canon, cfg)
    # seen deltas are physically bucketed by pid = pmod(url_hash, shards)
    # — the same sharding the filter uses — so every later wave's residual
    # dup-check scan partition-prunes to the touched buckets (seen.py)
    seen0 = with_pid(
        canon.select("url_hash", F.lit(0).cast("int").alias("wave_added")),
        cfg.bloom_shards,
    ).repartition(min(cfg.bloom_shards, max(width, 1)), "pid")
    frontier0 = robots_gate(canon, robots).select(*FRONTIER_COLS)
    store.write(frontier0.repartition(width), "frontier", 0)
    store.write(seen0, "seen", 0, partition_by="pid")
    flt0 = update_cuckoo(
        empty_cuckoo(spark, cfg.bloom_shards, cfg.cuckoo_buckets),
        store.read(spark, "seen", 0),
        cfg.bloom_shards,
    )
    store.write(flt0, cfg.seen_filter, 0)
    n_frontier = store.read(spark, "frontier", 0).count()
    n_seen = store.read(spark, "seen", 0).count()
    canon.unpersist()
    store.commit(0, {"frontier_count": n_frontier, "seen_total": n_seen})


def run_wave(
    spark: SparkSession,
    store: SnapshotStore,
    pagestore: DataFrame,
    robots: DataFrame,
    politeness: DataFrame,
    cfg: CrawlConfig,
    wave: int,
    prev_seen_total: int,
    prev_frontier_count: int,
):
    """Execute wave ``wave`` (state w → state w+1 + outputs).

    Returns ``(info, finish_outputs)``: ``info`` has the wave's counts
    and is available as soon as the STATE chain (seen/frontier/cuckoo
    writes) lands — everything wave w+1 depends on — while
    ``finish_outputs()`` runs the output writes (trace/pages/metrics)
    and releases the wave's caches. The caller overlaps
    ``finish_outputs`` with wave w+1's fetch (see :func:`run_crawl`):
    the output writes read only this wave's cached verdicts, so they
    soak up cores the next wave's barrier phases leave idle instead of
    serializing behind a commit barrier (VERDICT.md next-round #2c).
    """
    _marks: list[tuple[str, float]] = [("start", time.time())]

    def mark(label: str) -> None:
        # always recorded (4 clock reads/wave): the spans feed the
        # crawl summary's per-wave fixed-vs-scalable decomposition
        # (VERDICT.md r2 next-round #8)
        _marks.append((label, time.time()))

    frontier = store.read(spark, "frontier", wave)
    seen = store.read_upto(spark, "seen", wave)
    flt = store.read(spark, cfg.seen_filter, wave)

    # salted phase-1 gate + data-proportional window width (see
    # salt_min_frontier_rows and SELECT_ROWS_PER_TASK); both are pure
    # physical-plan choices — the selected set is identical at any
    # (salt, width)
    salt = (
        cfg.salt_buckets
        if prev_frontier_count >= cfg.salt_min_frontier_rows
        else 0
    )
    sel_width = max(
        1,
        (int(prev_frontier_count) + SELECT_ROWS_PER_TASK - 1)
        // SELECT_ROWS_PER_TASK,
    )
    selected = budget_select(
        frontier, politeness, cfg.default_budget, salt, width=sel_width
    )
    if cfg.pagestore_buckets > 0 and isinstance(pagestore, DataFrame):
        selected = selected.withColumn(
            "bucket",
            F.pmod(F.col("url_hash"), F.lit(cfg.pagestore_buckets)).cast("int"),
        )
    selected = selected.persist()
    mark("budget_select")

    if isinstance(pagestore, SyntheticPagestore):
        # production fetch shape: mapInPandas "network", O(wave) cost,
        # FUSED with validation so payload bytes never leave the Python
        # worker. Repartition FIRST: the frontier rows are ~150 bytes,
        # so AQE coalesces them into a handful of partitions — but each
        # row expands into tens of KB of payload and milliseconds of
        # fetch+decode compute, and a narrow fetch stage idles the
        # cluster. The shuffle moved here is tiny (keys only,
        # pre-expansion). Width scales with cluster size (8 tasks per
        # core — at ~2k rows × 12 ms/row a coarser split makes each
        # task a 20 s monolith and the last scheduling round a long
        # straggler tail).
        width = max(
            int(spark.conf.get("spark.sql.shuffle.partitions")),
            spark.sparkContext.defaultParallelism * 8,
        )
        validated = synthetic_fetch_validate(
            selected.repartition(width, "url_hash"), pagestore.cfg
        )
    else:
        validated = decode_validate(fetch_join(selected, pagestore))
    # Cache the wave's verdicts in ~1 partition per core, whatever the
    # fetch stage's width was: the fetch wants hundreds of fine-grained
    # tasks for load balance, but every downstream job (trace, pages,
    # metrics, link extraction) re-reads this cache, and a 256-partition
    # cache made each of those jobs pay 256 scheduler+file-commit
    # overheads for a few hundred KB of data. The verdict rows are ~1 KB
    # (no image payload), so this extra shuffle is a few hundred MB at
    # most.
    from pyspark.sql import Observation

    # ONE materialize action on the wave's critical path (VERDICT.md r4
    # next-round #1 — the old layout paid a dedicated count job PLUS a
    # dedicated pid-collect job per wave, pure scheduler floor that
    # never shrank with cores): the filter-positive pid collect IS
    # the materialize job — fetch + validate + extract + probe run
    # end-to-end exactly once, filling both caches, and the collect is
    # bounded by the shard count (~200 small ints at 10^10 scale). The
    # fetch-row count is NOT needed by the state chain at all — it is
    # taken from the warm cache inside the background output job (a
    # partition-count scan, no recompute) and lands in the manifest via
    # the ordered commit.
    validated = validated.repartition(
        spark.sparkContext.defaultParallelism
    ).persist()

    # link extraction → candidates (deduped, min-depth) → truly new URLs
    candidates = extract_candidates(
        validated.filter(F.col("status") == 200), next_wave=wave + 1
    )
    # the shared production path (operators/seen.py::new_candidates —
    # the same code the pruning tests assert on): probe → persist →
    # distinct-pid collect (fills the cache) → pruned exact residual
    new, probe_cache = new_candidates(
        candidates, seen, flt, cfg.bloom_shards, use_bloom=True
    )
    new = new.persist()
    mark("fetch_validate")

    def job_outputs():
        # ONE combined output write per wave (VERDICT.md r4 next-round
        # #1; was three: trace + pages + metrics over the same cache).
        # The physical table is `trace` carrying the full page-verdict
        # columns plus a `partition_id` lineage column (A18/A20):
        # :func:`read_pages` is a column selection of it and
        # :func:`read_metrics` a per-(wave, partition_id) rollup — same
        # information, two fewer Spark jobs and two fewer fsync'd
        # directories per wave. seq (A20): global priority order within
        # the wave, 1-based. Adaptive: a small wave sorts in one window
        # task; larger waves use the scalable range-partitioned
        # sequence operator, sized so each sort task stays under the
        # single-task threshold (data-proportional file count).
        from pyspark.sql import Window

        # trivial on the warm cache (partition-count scan, no
        # recompute): the state chain already materialized every
        # partition, and this job runs overlapped with the next wave's
        # fetch, off the critical path
        n_fetched = validated.count()
        base = validated.select(
            "url", "url_hash", "depth", "discovered_wave", "status",
            "image_id", "caption", "fmt", "w", "h", "n_bytes",
            "decode_ok", "psnr", "psnr_ok", "phash_match", "caption_ok",
            "valid", F.spark_partition_id().alias("partition_id"),
        )
        seq_cache = None
        if n_fetched <= TRACE_SINGLE_TASK_ROWS:
            w = Window.orderBy(*PRIORITY_COLS)
            trace = base.withColumn("seq", F.row_number().over(w))
        else:
            # each range-sort task carries ≤ the single-task threshold
            # of rows: the job's cost (and file count) tracks the
            # wave's data at every master, not the core count — it
            # overlaps the next wave's fetch either way
            n_parts = (
                (n_fetched + TRACE_SINGLE_TASK_ROWS - 1)
                // TRACE_SINGLE_TASK_ROWS
            )
            trace = with_global_seq(base, PRIORITY_COLS,
                                    num_partitions=n_parts)
            seq_cache = getattr(trace, "_seq_cache")
        trace_out = trace.select(
            F.lit(wave).cast("int").alias("wave"),
            F.col("seq").cast("long").alias("seq"),
            "url", "url_hash",
            F.col("depth").cast("int").alias("depth"),
            F.col("status").cast("int").alias("status"),
            "image_id", "caption", "fmt", "w", "h", "n_bytes",
            "decode_ok", "psnr", "psnr_ok", "phash_match", "caption_ok",
            "valid", "partition_id",
        )
        store.write(trace_out, "trace", wave)
        if seq_cache is not None:
            seq_cache.unpersist()
        return n_fetched

    new_counts: dict[str, int] = {}

    def job_seen():
        obs = Observation()
        # observe() rides the write — n_new costs no separate count job.
        # The delta is written bucket-partitioned by pid (same layout as
        # wave 0) so future waves' residual checks partition-prune. The
        # explicit pid repartition pins the write to ≤ bloom_shards
        # tasks AND files at any master (r3's layout inherited the
        # probe pipeline's shuffle width — shards files but a
        # master-dependent army of empty commit tasks).
        store.write(
            with_pid(
                new.select(
                    "url_hash", F.lit(wave + 1).cast("int").alias("wave_added")
                ),
                cfg.bloom_shards,
            )
            .repartition(cfg.bloom_shards, "pid")
            .observe(obs, F.count(F.lit(1)).alias("n")),
            "seen",
            wave + 1,
            partition_by="pid",
        )
        new_counts["n"] = int(obs.get["n"])

    frontier_counts: dict[str, int] = {}

    def job_frontier():
        inserts = robots_gate(new, robots).select(*FRONTIER_COLS)
        # frontier_{w+1}: remaining ∪ robots-allowed new links, salted
        # repartition on (domain, salt) → hot domains spread over tasks (A17)
        # broadcast the (politeness-bounded) selected keys so the
        # frontier state table is scanned, never shuffled, for removal
        remaining = frontier.join(
            F.broadcast(selected.select("url_hash")), "url_hash", "left_anti"
        )
        obs = Observation()
        # Write width tracks the frontier's SIZE (previous count plus
        # this wave's exact new-URL count — job_seen has already
        # finished, so n_new is known driver-side), not the shuffle
        # width: r3 pinned this repartition at
        # spark.sql.shuffle.partitions, so every wave wrote 64 frontier
        # files for ~20 MB of rows — the dominant state-chain file count
        # and a per-master constant instead of a per-data one. The
        # salted hash distribution (hot domains spread over tasks, A17)
        # is unchanged — only the partition count is sized to the data.
        width = _file_width(prev_frontier_count + new_counts["n"], cfg)
        frontier_next = (
            remaining.select(*FRONTIER_COLS)
            .unionByName(inserts)
            .withColumn(
                "_salt",
                F.pmod(F.xxhash64("url"), F.lit(FRONTIER_SALT)).cast("int"),
            )
            .repartition(width, "domain", "_salt")
            .drop("_salt")
            # observe() rides the write job — the commit record's frontier
            # count costs no extra scan of the written snapshot
            .observe(obs, F.count(F.lit(1)).alias("n"))
        )
        store.write(frontier_next, "frontier", wave + 1)
        frontier_counts["n"] = int(obs.get["n"])

    def job_filter():
        # delta = the cached `new` DF — identical rows to the seen delta
        # job_seen persists, without waiting on (or re-reading) that
        # write. The saturation guard is GATED on a driver-side load
        # estimate from the running key count (job_seen has finished,
        # so n_new is known), free until the estimate reaches 0.6;
        # cfg.cuckoo_buckets UNDERestimates capacity once shards have
        # grown, so post-saturation waves keep the exact occupancy check
        # (conservative). A shard that degraded below the gate stays
        # correctness-safe (its probe answers all-true → exact fallback)
        # until the gate fires and rebuilds it.
        upd = update_cuckoo(flt, new, cfg.bloom_shards)
        total_keys = int(prev_seen_total) + new_counts["n"]
        est_load = total_keys / (cfg.bloom_shards * cfg.cuckoo_buckets * 4)
        guarded = est_load >= 0.6
        if guarded:
            final = grow_saturated_cuckoo(
                spark, upd, seen, new, cfg.bloom_shards
            )
        else:
            final = upd
        # the cogroup merge runs at shuffle width, but the write needs
        # ~64 MB files, not one file per merge task
        store.write(final.repartition(_filter_width(cfg)), "cuckoo", wave + 1)
        if guarded:
            # the guard persisted `upd` (occupancy + write share one
            # merge); release it whether or not a shard was rebuilt, and
            # the rebuild's cached key scan with it (absent when the
            # guard found nothing saturated)
            upd.unpersist()
            kc = getattr(final, "_keys_cache", None)
            if kc is not None:
                kc.unpersist()

    # ---- STATE chain: everything wave w+1 needs. job_seen runs FIRST
    # and alone: its write materializes the cached `new` end-to-end
    # (candidate pipeline + filter probe + seen scan run exactly once);
    # the frontier/filter writes then fork concurrently over the warm
    # cache. Launching all three cold would race each job into
    # recomputing the probe pipeline's broadcast inputs.
    job_seen()
    _run_concurrently([job_frontier, job_filter])
    n_new = new_counts["n"]
    mark("state_chain")

    selected.unpersist()
    new.unpersist()
    probe_cache.unpersist()
    info = {
        "frontier_count": frontier_counts["n"],
        "seen_total": int(prev_seen_total) + n_new,
        # "fetched" is filled by finish_outputs (warm-cache count inside
        # the background output job) BEFORE the ordered manifest commit
        "new_urls": n_new,
        # per-phase wall spans for the wave's state chain; popped (not
        # committed to the manifest) by run_crawl into the summary —
        # they decompose each wave into the fetch/join/validate work
        # that SHOULD scale with cores vs the budget-select + seen/
        # frontier/filter state writes whose scheduling+fsync floor does
        # not (store-join evidence, VERDICT.md r2 next-round #8)
        "spans": {
            _marks[i][0]: round(_marks[i][1] - _marks[i - 1][1], 2)
            for i in range(1, len(_marks))
        },
    }

    def finish_outputs():
        # OUTPUT write: nothing downstream in the crawl depends on
        # it — it runs while wave w+1 is already fetching. It also
        # fills info["fetched"]; run_crawl commits info AFTER this
        # returns, so the manifest always carries the count.
        info["fetched"] = int(job_outputs())
        validated.unpersist()
        mark("outputs")

    return info, finish_outputs


def run_crawl(
    spark: SparkSession,
    store: SnapshotStore,
    pagestore: DataFrame,
    seeds: DataFrame,
    robots: DataFrame,
    politeness: DataFrame,
    cfg: CrawlConfig = CrawlConfig(),
) -> dict:
    """Run (or resume) the crawl until frontier exhaustion or max_waves.

    Resume needs no special casing: if a committed snapshot exists the
    loop simply continues from it (BASELINE.json:14 "resumable restarts").
    """
    # LOUD on malformed dimension tables, once per run (two tiny agg
    # jobs — not per wave): the reference simulator's dicts keep one
    # entry per domain, while the engine's broadcast joins would fan
    # out every frontier row of a duplicated domain — duplicate fetches
    # with distinct seq values, a silent trace divergence the
    # equivalence tests exist to prevent.
    for dim_name, dim in (("robots", robots), ("politeness", politeness)):
        dup = (
            dim.groupBy("domain").count()
            .filter(F.col("count") > 1).limit(1).collect()
        )
        if dup:
            raise ValueError(
                f"{dim_name} table has {dup[0]['count']} rows for domain "
                f"{dup[0]['domain']!r}; dimension tables must be unique "
                "per domain (the reference keeps one entry per domain)"
            )
    if store.last_wave() is None:
        init_state(spark, store, seeds, robots, cfg)
    wave = store.last_wave()
    first_wave = wave
    state = store.manifest(wave)
    seen_total = int(state["seen_total"])
    frontier_count = int(state["frontier_count"])
    wave_secs: list[float] = []
    wave_spans: list[dict] = []
    # Output writes + commits go to the single output worker, so they
    # stay strictly wave-ordered (the manifest commit point must never
    # reorder) while overlapping with the NEXT wave's fetch. A crash
    # before a pending commit simply resumes from the last committed
    # wave; the stale uncommitted dirs are overwritten on retry (tableio
    # docstring).
    pending = []

    def expire_states() -> None:
        # deletes only versions below the trailing retained window —
        # the wave about to run reads exactly the last committed
        # version, always inside it — and a pending commit just makes
        # last_wave() smaller, i.e. the deletion floor conservative
        if cfg.retain_state_snapshots is None:
            return
        store.expire_state_snapshots(
            ["frontier", cfg.seen_filter], cfg.retain_state_snapshots
        )

    try:
        while wave < cfg.max_waves:
            if frontier_count == 0:
                break
            if (
                cfg.compact_every is not None
                and store.delta_dirs_above_base("seen", wave)
                >= cfg.compact_every
            ):
                # maintenance runs BETWEEN waves with the output thread
                # drained: compaction expires the very dirs an in-flight
                # read could be scanning, so nothing may be reading
                # `seen` while it rewrites. State-snapshot expiry below
                # only deletes versions older than the trailing window
                # (nothing reads those), but it rides the same drained
                # point for the fresh last_wave().
                while pending:
                    pending.pop(0).result()
                store.compact(
                    spark, "seen", wave, width=_file_width(seen_total, cfg)
                )
            expire_states()
            t0 = time.time()
            info, finish_outputs = run_wave(
                spark, store, pagestore, robots, politeness, cfg, wave,
                prev_seen_total=seen_total,
                prev_frontier_count=frontier_count,
            )
            wave_spans.append(info.pop("spans", {}))
            # Drain the PREVIOUS wave's outputs+commit before queueing
            # this one (ADVICE.md r2): at most one overlapped wave is
            # ever in flight — that bounds the cached `validated`
            # backlog to one wave — and a failed output write or commit
            # for wave w raises HERE, before wave w+1's commit is even
            # submitted, so the manifest sequence can never have a hole
            # (last_wave() would otherwise resume past a missing wave).
            while pending:
                pending.pop(0).result()
            pending.append(_OUTPUT_POOL.submit(
                lambda fin=finish_outputs, w=wave + 1, i=info: (
                    fin(), store.commit(w, i)
                )
            ))
            wave_secs.append(round(time.time() - t0, 2))
            seen_total = int(info["seen_total"])
            frontier_count = int(info["frontier_count"])
            wave += 1
        for f in pending:
            f.result()
        # final maintenance pass at the now-committed last wave, so the
        # retained window is anchored at the crawl's true end state
        expire_states()
    finally:
        # a failed wave still lets the queued output work finish before
        # the error propagates, as the old per-crawl pool's shutdown did
        wait(pending)
    # per-wave fetch counts come from the committed manifests: the count
    # is taken inside each wave's background output job (off the state
    # chain's critical path), so it is only authoritative post-drain
    wave_fetched = [
        int(store.manifest(w).get("fetched", 0))
        for w in range(first_wave + 1, store.last_wave() + 1)
    ]
    total_fetched = sum(wave_fetched)
    final = store.manifest(store.last_wave())
    return {
        "waves_run": store.last_wave(),
        "fetched_total": total_fetched,
        "seen_total": final["seen_total"],
        "frontier_left": final["frontier_count"],
        "wave_secs": wave_secs,
        "wave_fetched": wave_fetched,
        "wave_spans": wave_spans,
    }



def revoke_urls(
    spark: SparkSession,
    store: SnapshotStore,
    urls: DataFrame,
    cfg: CrawlConfig = CrawlConfig(),
    reseed: bool = False,
    robots: DataFrame | None = None,
) -> dict:
    """Seed revocation — the end-to-end consumer of the cuckoo filter's
    DELETION capability (operators/cuckoo.py), published as a normal
    committed wave so :func:`run_crawl` resumes from it with no special
    casing.

    ``urls``: a DataFrame with a ``url`` column (raw — canonicalized
    here with the same A4 rules the crawl applies), semi-joined against
    the seen set first (broadcast from the revocation list, never a
    shuffle of the 10^10-row seen table): revoking an unknown URL is a
    no-op, and only previously-inserted keys may reach the cuckoo
    delete (its contract is one stored fingerprint per inserted key).

    Two modes, chosen to preserve the crawl's two standing invariants —
    ``frontier ⊆ seen`` (else a queued URL rediscovered via links is
    double-queued) and ``filter ⊇ seen`` (a false negative re-inserts a
    seen URL):

    * ``reseed=False`` — **forget**: the URLs leave the seen set, the
      filter, AND the frontier together — "as if never discovered" — so
      both invariants hold with the keys simply gone; the crawl fetches
      them (again) only IF some later wave's links rediscover them
      (content purged upstream, a seed list withdrawn). A revoked URL
      still queued must leave the frontier too: left behind it would
      both fetch the just-revoked content next wave and, being absent
      from seen, be re-discoverable by links while queued — the exact
      double-queue ``frontier ⊆ seen`` exists to prevent.
      Steps, in durability order:

      1. seen rewrite via :meth:`SnapshotStore.compact` with an
         anti-join transform — one atomically-published base dir
         holding "seen minus revoked" (which also collapses the
         O(waves) delta-dir union every later wave would re-pay). A
         crash after this step leaves the store resumable at wave ``w``
         with the keys already forgotten from seen but possibly still
         queued (``frontier ⊆ seen`` transiently broken): the stale
         filter's extra fingerprints are mere false positives (the
         exact residual decides), and re-running the revocation
         converges — the zero-in-seen early return probes the frontier
         for still-queued keys (broadcast semi-join, bounded output)
         and, finding any, republishes ``w+1`` with them unqueued and
         the filter carried forward (the ``repaired`` audit field).
      2. filter at ``w+1``: the revoked keys are DELETED in place —
         O(revoked) work touching only the affected shards regardless
         of crawl age (a key inserted while its shard was degraded has
         no stored fingerprint; ``_delete`` no-ops on it, safe because
         degraded shards probe as maybe-seen anyway).
      3. frontier carried to ``w+1`` minus the revoked keys (broadcast
         anti-join — the revocation list is the small side, collected
         driver-side up front so no post-compaction step carries
         lineage into the expired delta dirs); manifest commit with the
         recounted ``seen_total`` and a ``frontier_count`` observed on
         the write itself (no second scan), plus a ``revoked`` audit
         field.

    * ``reseed=True`` — **recrawl now**: the URLs are re-queued at
      depth 0 (dedup-guarded against rows already in the frontier) so
      the next wave re-fetches them immediately. They stay in the seen
      set and the filter — removing them there while they sit in the
      frontier would break both invariants (equivalently: this mode IS
      forget + instant rediscovery, with no false-negative window in
      between). Nothing to compact or delete; the filter state is
      carried forward to ``w+1`` for the resume read. Pass the crawl's
      ``robots`` table to apply the A10 gate to the re-queued rows —
      every other frontier-insert path (init_state, job_frontier) gates
      on robots, and a URL whose rules changed since discovery must not
      re-enter the queue; with ``robots=None`` the rows are re-queued
      ungated (explicit operator override). Reseeding URLs that a
      CRASHED forget already removed from seen raises instead of
      guessing: repair with ``reseed=False`` first (the keys must be in
      seen for reseed's invariants to hold).
    """
    w = store.last_wave()
    if w is None:
        raise ValueError("revoke_urls needs a committed crawl snapshot")
    # The revocation list is small by contract (a withdrawn seed file, a
    # takedown notice) — materialize the canonicalized keys driver-side
    # ONCE and rebuild them as a local-backed frame. Downstream steps
    # broadcast this frame, so nothing executed after the compaction
    # carries lineage into the seen delta dirs compaction expires (a
    # cache-evicted executor recomputing such lineage would hit deleted
    # files), and the seen-membership probe scans the 10^10-row seen
    # table once with a broadcast hash side instead of shuffling it (a
    # left-semi with the tiny side on the LEFT cannot broadcast its
    # build side).
    keys_pdf = (
        urls.select(canonicalize_udf(F.col("url")).alias("url"))
        .distinct()
        .select("url", url_hash_col("url").alias("url_hash"))
        .toPandas()
    )
    manifest = store.manifest(w)
    if len(keys_pdf) == 0:
        return {"revoked": 0, "wave": w,
                "seen_total": int(manifest["seen_total"])}
    keys = spark.createDataFrame(keys_pdf, "url string, url_hash long")
    key_hashes = F.broadcast(keys.select("url_hash"))
    seen = store.read_upto(spark, "seen", w)
    in_seen = {
        r.url_hash
        for r in seen.join(key_hashes, "url_hash", "left_semi")
        .select("url_hash").distinct().collect()
    }
    n_rev = len(in_seen)
    frontier = store.read(spark, "frontier", w)
    if n_rev == 0:
        # Nothing in seen: EITHER a true no-op (unknown URLs) OR the
        # repair half of a crashed forget run — the seen compaction's
        # base-dir publish is durable BEFORE the w+1 frontier write and
        # commit, so a crash between them leaves the keys gone from
        # seen but still queued (`frontier ⊆ seen` broken), and the
        # membership gate above would wave a naive re-run through as a
        # no-op. Probe the frontier (broadcast semi, bounded output) to
        # tell the two apart; re-running the revocation then converges
        # as the forget contract documents.
        queued_n = frontier.join(
            key_hashes, "url_hash", "left_semi"
        ).count()
        if queued_n == 0:
            return {"revoked": 0, "wave": w,
                    "seen_total": int(manifest["seen_total"])}
        if reseed:
            # queued-but-not-seen is exactly the crashed-forget state;
            # silently unqueueing here would execute the OPPOSITE of the
            # requested reseed and mislabel the manifest audit. Reseed
            # needs the keys in seen (its whole point is keeping them
            # there) — make the operator repair first, explicitly.
            raise ValueError(
                f"reseed revocation: {queued_n} key(s) are queued but "
                "absent from seen — the store shows a crashed forget "
                "revocation. Re-run with reseed=False to repair "
                "(unqueue), then reseed."
            )
        frontier = frontier.join(key_hashes, "url_hash", "left_anti")
        # the crash may also have preceded the filter's w+1 write; carry
        # wave w's filter forward (stale fingerprints are mere false
        # positives — the exact residual decides)
        store.write(
            store.read(spark, cfg.seen_filter, w), cfg.seen_filter, w + 1
        )
        seen_total = seen.count()  # manifest w's count predates the crash
        out: dict = {"revoked": 0, "repaired": int(queued_n), "wave": w + 1}
        return _publish_revocation(
            spark, store, frontier, manifest, w, 0, seen_total, reseed, cfg,
            out,
        )
    rev = spark.createDataFrame(
        keys_pdf[keys_pdf["url_hash"].isin(in_seen)],
        "url string, url_hash long",
    )
    out = {"revoked": n_rev, "wave": w + 1}
    if reseed:
        # dedup guard against rows already queued — phrased as "probe
        # the frontier with the BROADCAST revocation list" (map-side,
        # result bounded by the revocation list) rather than an
        # anti-join with the tiny side on the left, which cannot
        # broadcast and would shuffle the 10^10-row frontier
        queued = [
            r.url_hash
            for r in frontier.join(
                F.broadcast(rev.select("url_hash")), "url_hash", "left_semi"
            ).select("url_hash").distinct().collect()
        ]
        re_rows = (
            rev.filter(~F.col("url_hash").isin(queued)) if queued else rev
        ).select(
            "url",
            "url_hash",
            domain_col("url").alias("domain"),
            F.lit(0).cast("int").alias("depth"),
            F.lit(w).cast("int").alias("discovered_wave"),
        )
        if robots is not None:
            # the A10 gate every other frontier-insert path applies;
            # a rule that now disallows the URL keeps it out of the
            # queue (it stays in seen either way)
            re_rows = robots_gate(re_rows, robots)
        frontier = frontier.select(*FRONTIER_COLS).unionByName(
            re_rows.select(*FRONTIER_COLS)
        )
        seen_total = int(manifest["seen_total"])
        store.write(
            store.read(spark, cfg.seen_filter, w), cfg.seen_filter, w + 1
        )
    else:
        # forget = as if never discovered: a revoked URL still queued
        # leaves the frontier in the same step it leaves seen, else the
        # next wave fetches the just-revoked content and (absent from
        # seen) links could re-queue it while queued — the double-queue
        # `frontier ⊆ seen` exists to prevent. Anti-join on ALL input
        # keys (not just the in-seen subset) so a re-run over a
        # partially-applied earlier attempt heals the frontier in the
        # same pass.
        frontier = frontier.join(key_hashes, "url_hash", "left_anti")
        out["compaction"] = store.compact(
            spark,
            "seen",
            w,
            width=_file_width(int(manifest.get("seen_total", 0)) or 1, cfg),
            transform=lambda df: df.join(
                key_hashes, "url_hash", "left_anti"
            ),
        )
        # seen rows are unique per url_hash by construction (every wave
        # delta is an exact anti-join against seen, wave-0 seeds are
        # deduped), so the post-revocation count is exactly derivable —
        # no third full scan of the 10^10-row table
        seen_total = int(manifest["seen_total"]) - n_rev
        flt = delete_cuckoo(
            store.read(spark, "cuckoo", w), rev, cfg.bloom_shards
        )
        store.write(
            flt.repartition(_filter_width(cfg)), cfg.seen_filter, w + 1
        )
    return _publish_revocation(
        spark, store, frontier, manifest, w, n_rev, seen_total, reseed, cfg,
        out,
    )


def _publish_revocation(
    spark: SparkSession,
    store: SnapshotStore,
    frontier: DataFrame,
    manifest: dict,
    w: int,
    n_rev: int,
    seen_total: int,
    reseed: bool,
    cfg: CrawlConfig,
    out: dict,
) -> dict:
    """Shared tail of :func:`revoke_urls`: publish the ``w+1`` frontier
    (file width sized to the EXPECTED rows — reseed grows the frontier
    by up to ``n_rev``, forget/repair only shrink it), ride the row
    count on the write via ``observe`` (the job_frontier pattern — no
    second scan of the just-written snapshot), and commit."""
    from pyspark.sql import Observation

    width = _file_width(
        int(manifest["frontier_count"]) + (n_rev if reseed else 0), cfg
    )
    obs = Observation()
    store.write(
        frontier.select(*FRONTIER_COLS)
        .repartition(width)
        .observe(obs, F.count(F.lit(1)).alias("n")),
        "frontier",
        w + 1,
    )
    n_frontier = int(obs.get["n"])
    store.commit(
        w + 1,
        {
            "frontier_count": n_frontier,
            "seen_total": seen_total,
            "revoked": n_rev,
            "repaired": int(out.get("repaired", 0)),
            "reseeded": bool(reseed),
        },
    )
    out.update({"seen_total": seen_total, "frontier_count": n_frontier})
    return out
