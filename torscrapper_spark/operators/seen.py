"""URL-seen check: exact anti-join behind a partitioned cuckoo prefilter.

SURVEY.md A7/A8; BASELINE.json:6 "partitioned cuckoo/bloom URL-seen
filter keyed on canonicalized+hashed onion URLs".

Semantics are anchored by the EXACT path: ``candidates LEFT ANTI JOIN
seen ON url_hash``. The filter (operators/cuckoo.py: one fingerprint
table per hash partition ``pid = pmod(url_hash, P)``, built and probed
in Arrow-batched pandas functions) is a pure pre-filter with no false
negatives, so

  new = probe_negative(candidates)  ∪  (probe_positive(candidates) ∖ seen)

is exactly equal to the anti-join, while the expensive check against
the 10^10-row seen table only carries the (tiny) filter-positive subset.

This module holds the filter-independent pieces: the pid sharding, the
executor-side empty-shard generator, the saturation-rebuild scaffolding
and the probe → pruned-residual pipeline the wave loop runs.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def exact_new(candidates: DataFrame, seen: DataFrame) -> DataFrame:
    """Candidates whose url_hash is not in the seen set (authoritative)."""
    return candidates.join(seen.select("url_hash"), "url_hash", "left_anti")


def per_shard(spark, num_shards: int, schema: str, row) -> DataFrame:
    """One row per shard pid, its other columns the dict ``row()``
    returns, generated on the executors over ``spark.range``: a
    driver-side frame would ship every zeroed shard inside its scan
    tasks (and a literal projection is constant-folded into a plan
    literal that every task carries)."""
    def rows(batches):
        for b in batches:
            yield pd.DataFrame(
                {"pid": b["id"], **{c: [v] * len(b) for c, v in row().items()}}
            )

    return spark.range(num_shards).mapInPandas(rows, schema)


def with_pid(df: DataFrame, num_shards: int, hash_col: str = "url_hash") -> DataFrame:
    return df.withColumn(
        "pid", F.pmod(F.col(hash_col), F.lit(num_shards)).cast("int")
    )


def saturated_shard_keys(
    seen: DataFrame, delta: DataFrame, sat_pids, num_shards: int
) -> DataFrame:
    """Full key set of the saturated shards, for a filter rebuild:
    the cumulative seen snapshot filtered to the saturated pids (a
    static literal ``pid IN`` over the pid-bucketed layout, so the scan
    partition-prunes to just those buckets) unioned with this wave's
    delta (committed to the seen table but possibly not yet visible to
    the snapshot the caller scanned)."""
    pids = list(sat_pids)
    seen_k = seen if "pid" in seen.columns else with_pid(seen, num_shards)
    return (
        seen_k.filter(F.col("pid").isin(*pids)).select("pid", "url_hash")
        .unionByName(
            with_pid(delta.select("url_hash"), num_shards)
            .filter(F.col("pid").isin(*pids))
            .select("pid", "url_hash")
        )
    )


def rebuild_saturated(
    spark,
    filt_next: DataFrame,
    keys: DataFrame,
    sat_pids,
    rebuild_fn,
    fresh_rows_fn,
    schema: str,
) -> DataFrame:
    """Tail of the saturation guard: rebuild every saturated
    shard from its full key set, and re-emit a FRESH empty row for any
    saturated pid whose key set is EMPTY (every key revoked before the
    guard fired) — a pid with no ``applyInPandas`` group would
    otherwise vanish from the filter table, its probe answering
    maybe-seen forever and updates never re-inserting.

    ``keys`` is persisted so the distinct-pid probe and the rebuild
    read ONE materialization: evaluated twice, the partition-pruned
    seen scan (the dominant rebuild cost) would be paid twice per
    guard activation, and a pid that flipped between empty-in-probe
    and non-empty-in-rebuild would emit BOTH a fresh row and a rebuilt
    row — duplicate pid rows whose update/probe cogroups pick one
    arbitrarily. The cache rides the returned DataFrame as
    ``_keys_cache`` (the ``with_global_seq`` pattern); the caller
    releases it after materializing the result.
    """
    sat_pids = list(sat_pids)
    keys = keys.persist()
    present = {int(r.pid) for r in keys.select("pid").distinct().collect()}
    rebuilt = keys.groupBy("pid").applyInPandas(rebuild_fn, schema)
    missing = [p for p in sat_pids if p not in present]
    if missing:
        rebuilt = rebuilt.unionByName(
            spark.createDataFrame(fresh_rows_fn(missing), schema)
        )
    out = filt_next.filter(~F.col("pid").isin(*sat_pids)).unionByName(rebuilt)
    out._keys_cache = keys  # type: ignore[attr-defined]
    return out


def new_from_probed(
    probed: DataFrame,
    seen: DataFrame,
    num_shards: int,
    pos_pids: list[int],
) -> DataFrame:
    """Exact new-URL set from an already-probed (and ideally persisted)
    candidate frame carrying ``pid`` + ``maybe_seen`` (see
    ``cuckoo.probe_cuckoo`` with ``keep_pid=True``) and the pre-collected
    distinct pids of the filter positives.

    Split out of :func:`new_candidates` (VERDICT.md r4 next-round #1)
    so the wave loop can PIGGYBACK the pid collection on the job that
    first materializes the probe cache — one Spark action instead of
    a dedicated collect job per wave. Semantics identical: broadcast
    semi-join of the (pid-pruned) seen scan against the positives,
    then a broadcast anti-join removes true duplicates; filter-negative
    rows pass through untouched (no false negatives)."""
    drop_cols = ["maybe_seen", "pid"]
    if "pid" in seen.columns:
        pos_keys = probed.filter(F.col("maybe_seen")).select("pid", "url_hash")
        seen_pruned = (
            seen.filter(F.col("pid").isin(pos_pids))
            if pos_pids
            else seen.filter(F.lit(False))
        )
        hits = seen_pruned.select("pid", "url_hash").join(
            F.broadcast(pos_keys), ["pid", "url_hash"], "left_semi"
        ).select(F.col("url_hash").alias("_seen_hash"))
    else:
        hits = seen.select("url_hash").join(
            F.broadcast(
                probed.filter(F.col("maybe_seen")).select("url_hash")
            ),
            "url_hash", "left_semi",
        ).select(F.col("url_hash").alias("_seen_hash"))
    cond = (probed["url_hash"] == hits["_seen_hash"]) & probed["maybe_seen"]
    return probed.join(F.broadcast(hits), cond, "left_anti").drop(*drop_cols)


def new_candidates(
    candidates: DataFrame,
    seen: DataFrame,
    filt: DataFrame | None,
    num_shards: int,
    use_bloom: bool,
    probe_fn=None,
) -> tuple[DataFrame, DataFrame | None]:
    """Exact set difference, prefilter-accelerated when ``use_bloom``
    is set and a filter is given (the name predates the cuckoo filter;
    the wave loop always passes True). ``probe_fn`` is the prefilter
    probe, ``cuckoo.probe_cuckoo`` by default. This is THE production
    path: the wave loop calls it directly, so the pruning tests in
    tests/test_operators.py assert the exact code production runs
    (code-review r5: an inline copy in run_wave had left this helper
    test-only — twin-drift hazard).

    Returns ``(new, probe_cache)``; ``probe_cache`` (None on the exact
    path) is a persisted intermediate the caller must unpersist once the
    wave has materialized — an explicit tuple, not an attribute smuggled
    on the DataFrame (ADVICE.md r2: a wrapper between here and the
    caller would silently drop a monkey-patched attribute and leak the
    cache for the session).

    Round 1 shipped ``probed LEFT ANTI seen`` with an ``AND maybe_seen``
    residual — correct, but it SHUFFLED the entire cumulative seen table
    on url_hash every wave (VERDICT.md "What's wrong" #4): at 10^10 seen
    rows that shuffle dominates every wave and only grows. This
    formulation never moves the seen table at all:

      probed   = candidates + maybe_seen        (filter cogroup, cached —
                 consumed twice below, computed once)
      pos_keys = σ(maybe_seen) π(pid, url_hash) (tiny: filter positives =
                 true dups + ε·|candidates| false positives)
      hits     = seen ⋉ BROADCAST(pos_keys)     (broadcast LEFT SEMI —
                 the seen side is only SCANNED map-side, column-pruned
                 to url_hash, never exchanged or sorted)
      new      = probed ∖ BROADCAST(hits) where maybe_seen
                 (broadcast anti-join; filter-negative rows can never
                 match the residual, so they pass through untouched)

    When the seen snapshot carries its bucket layout (``pid`` partition
    column, written by the crawl via ``SnapshotStore.write(...,
    partition_by="pid")`` — VERDICT.md r2 next-round #3), the semi-join
    runs on ``(pid, url_hash)`` and the seen scan is pruned to the pids
    the wave's filter-positives actually touch — O(hit buckets) instead
    of O(|seen|) files. The pruning is STATIC, not Catalyst DPP: the
    positives' distinct pids (≤ num_shards small ints) are collected
    from the already-persisted probe cache and planted as a literal
    ``pid IN (…)`` partition filter. Spark's dynamic-partition-pruning
    rule was measured to DECLINE this join — its ``isLikelySelective``
    heuristic rejects the bare-boolean ``maybe_seen`` filter on the
    build side (and BooleanSimplification collapses any ``= true``
    rewrite before the DPP rule runs) — so relying on it silently read
    every bucket. The collect is one tiny job over the cached probe
    output, bounded by the shard count (~200 values at 10^10 scale).
    (On Iceberg the same plan falls out of a ``bucket(N, url_hash)``
    partition transform plus the same IN filter.)

    Per-wave cost is O(candidates) shuffle + a bucket-pruned,
    column-pruned seen scan — no O(|seen|) exchange. Both broadcasts are
    politeness-bounded (≤ wave candidates ≈ 10^5-10^6 hashes, a few MB).
    Exactness: the filter has no false negatives, so every true
    duplicate is filter-positive and lands in ``hits``; false positives
    are removed by the anti-join.
    """
    if not use_bloom or filt is None:
        return exact_new(candidates, seen), None
    if probe_fn is None:
        # imported here: operators/cuckoo.py builds on this module
        from .cuckoo import probe_cuckoo as probe_fn
    probed = probe_fn(candidates, filt, num_shards, keep_pid=True).persist()
    # static bucket pruning (see docstring): collect the positives'
    # distinct pids from the persisted probe cache and prune the
    # partitioned seen scan with a literal IN filter. The wave loop
    # piggybacks this collect on the persisted probe cache's FIRST
    # materialization (plans/crawl.py: the distinct-pid collect is the
    # action that fills the cache, so probe + collect cost one job);
    # here it is the same collect — a dedicated tiny job only when the
    # cache is already warm.
    pos_pids = [
        int(r.pid)
        for r in probed.filter(F.col("maybe_seen"))
        .select("pid").distinct().collect()
    ]
    out = new_from_probed(probed, seen, num_shards, pos_pids)
    return out, probed
