"""URL-seen filter: exact anti-join + partitioned bloom fast path.

SURVEY.md A7/A8; BASELINE.json:6 "partitioned cuckoo/bloom URL-seen
filter keyed on canonicalized+hashed onion URLs".

Semantics are anchored by the EXACT path: ``candidates LEFT ANTI JOIN
seen ON url_hash``. The bloom path is a pure pre-filter — per
hash-partition bitmaps (``pid = pmod(url_hash, P)``) built and probed in
Arrow-batched pandas functions. A bloom has no false negatives, so

  new = probe_negative(candidates)  ∪  (probe_positive(candidates) ∖ seen)

is exactly equal to the anti-join, while the expensive shuffle against
the 10^10-row seen table only carries the (tiny) bloom-positive subset.

Scale notes:
  * bitmaps live as one ``binary`` row per pid — P≈150–200 shards of
    ≤128 MB cover 10^10 keys at ~14 bits/key (SURVEY.md §4.4); in the
    sandbox the defaults are tiny
  * build/update and probe use ``cogroup().applyInPandas`` keyed on
    pid — no driver collect, no broadcast of state, co-partitioned by
    the same key across waves
  * updates are INCREMENTAL: each wave ORs only the new delta's bits
    into the previous bitmaps (O(delta), not O(seen))
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

BLOOM_SCHEMA = "pid int, bitmap binary, nbits int, k int"


def exact_new(candidates: DataFrame, seen: DataFrame) -> DataFrame:
    """Candidates whose url_hash is not in the seen set (authoritative)."""
    return candidates.join(seen.select("url_hash"), "url_hash", "left_anti")


def _positions(hashes: np.ndarray, nbits: int, k: int) -> np.ndarray:
    """k probe positions per hash via double hashing (h1 + i*h2) % nbits."""
    h = hashes.astype(np.uint64)
    h1 = h
    h2 = ((h >> np.uint64(17)) ^ (h << np.uint64(31))) | np.uint64(1)
    i = np.arange(k, dtype=np.uint64)[:, None]
    return ((h1[None, :] + i * h2[None, :]) % np.uint64(nbits)).astype(np.int64)


def _set_bits(bitmap: np.ndarray, pos: np.ndarray) -> None:
    np.bitwise_or.at(bitmap, pos >> 3, (1 << (pos & 7)).astype(np.uint8))


def _test_bits(bitmap: np.ndarray, pos: np.ndarray) -> np.ndarray:
    """pos shape (k, n) → bool[n]: all k bits set."""
    got = (bitmap[pos >> 3] & (1 << (pos & 7)).astype(np.uint8)) != 0
    return got.all(axis=0)


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


def empty_bloom(spark, num_shards: int, nbits: int, k: int) -> DataFrame:
    return per_shard(spark, num_shards, BLOOM_SCHEMA, lambda: {
        "bitmap": bytes(nbits // 8), "nbits": nbits, "k": k,
    })


def zeroed_like(bloom: DataFrame) -> DataFrame:
    """Empty bitmaps PRESERVING each shard's (possibly grown) nbits/k.

    The forget-mode bloom rebuild (plans/crawl.py ``revoke_urls``) must
    not reset shards that :func:`grow_saturated_shards` has doubled back
    to the configured size — re-inserting the full seen set into
    undersized bitmaps would drive their fill toward 1.0 and send nearly
    every probe to the exact residual until the next wave's saturation
    guard re-grows them. A projection over the bloom's own (pid, nbits,
    k): the zero bytes are sized by each row's nbits on the executors,
    and nothing is collected to the driver.
    """
    return bloom.select(
        "pid",
        F.expr("cast(repeat(char(0), nbits div 8) as binary)").alias("bitmap"),
        "nbits",
        "k",
    )


def with_pid(df: DataFrame, num_shards: int, hash_col: str = "url_hash") -> DataFrame:
    return df.withColumn(
        "pid", F.pmod(F.col(hash_col), F.lit(num_shards)).cast("int")
    )


def update_bloom(bloom: DataFrame, delta: DataFrame, num_shards: int) -> DataFrame:
    """OR the delta's url_hash bits into the per-pid bitmaps (incremental)."""
    d = with_pid(delta.select("url_hash"), num_shards)

    def merge(key, hashes_it: pd.DataFrame, state: pd.DataFrame) -> pd.DataFrame:
        if len(state) == 0:  # shard missing — should not happen; keep delta-less
            return pd.DataFrame(
                columns=["pid", "bitmap", "nbits", "k"]
            ).astype({"pid": "int32", "nbits": "int32", "k": "int32"})
        row = state.iloc[0]
        nbits, k = int(row.nbits), int(row.k)
        bm = np.frombuffer(row.bitmap, dtype=np.uint8).copy()
        if len(hashes_it):
            pos = _positions(hashes_it["url_hash"].to_numpy(), nbits, k)
            _set_bits(bm, pos)
        return pd.DataFrame(
            {"pid": [int(row.pid)], "bitmap": [bm.tobytes()],
             "nbits": [nbits], "k": [k]}
        )

    return (
        d.groupBy("pid")
        .cogroup(bloom.groupBy("pid"))
        .applyInPandas(merge, BLOOM_SCHEMA)
    )


# uint8 LUT: the fancy-index lookup then allocates a 1× uint8
# temporary (an int64 LUT would silently make it 8× the bitmap — the
# exact allocation this LUT exists to avoid); the sum accumulates in
# int64 regardless via its dtype argument
_POPCNT = np.unpackbits(
    np.arange(256, dtype=np.uint8)[:, None], axis=1
).sum(axis=1).astype(np.uint8)


def bloom_fill(spark_df: DataFrame) -> DataFrame:
    """Per-shard fill ratio (exact popcount over the bitmap, LUT-based —
    no 8× unpackbits allocation even at 128 MB shards)."""
    def stats(batches):
        for pdf in batches:
            bits = [
                int(_POPCNT[np.frombuffer(b, dtype=np.uint8)]
                    .sum(dtype=np.int64))
                for b in pdf["bitmap"]
            ]
            yield pd.DataFrame({
                "pid": pdf["pid"].astype("int32"),
                "nbits": pdf["nbits"].astype("int32"),
                "k": pdf["k"].astype("int32"),
                "set_bits": pd.Series(bits, dtype="int64"),
            })

    return spark_df.mapInPandas(
        stats, "pid int, nbits int, k int, set_bits long"
    )


def saturated_shard_keys(
    seen: DataFrame, delta: DataFrame, sat_pids, num_shards: int
) -> DataFrame:
    """Full key set of the saturated shards, for a filter rebuild:
    the cumulative seen snapshot filtered to the saturated pids (a
    static literal ``pid IN`` over the pid-bucketed layout, so the scan
    partition-prunes to just those buckets) unioned with this wave's
    delta (committed to the seen table but possibly not yet visible to
    the snapshot the caller scanned). Shared by the bloom and cuckoo
    saturation guards so a pruning fix can never silently miss one of
    the twins."""
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
    """Shared tail of the bloom AND cuckoo saturation guards (one
    implementation so a fix can never silently miss a twin, the
    :func:`saturated_shard_keys` convention): rebuild every saturated
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


def grow_saturated_shards(
    spark,
    bloom_next: DataFrame,
    seen: DataFrame,
    delta: DataFrame,
    num_shards: int,
    max_fill: float = 0.4,
) -> DataFrame:
    """Saturation guard (VERDICT.md r3 next-round #3 / "What's wrong" #2).

    ``bloom_bits`` is fixed per shard at config time; as the seen set
    grows past the configured capacity the per-shard fill ratio climbs
    and the false-positive rate rises — correctness is never at risk
    (the exact residual removes every FP) but the "tiny broadcast"
    assumption behind ``pos_keys`` silently degrades toward a full
    re-check of every candidate. This guard keeps the perf claim true:

      1. popcount every shard of the updated bloom (one tiny job over
         ``num_shards`` rows — the bitmaps are persisted here so the
         cogroup merge is computed once for guard + write alike);
      2. any shard past ``max_fill`` (default 0.4: between rebuilds the
         FP rate then stays ≤ 0.4^k ≈ 1% at the engine's k=5 — a 0.5
         trigger would allow 3%+) is REBUILT from the full key set of
         its bucket — a partition-pruned scan of the seen snapshot
         (``pid IN`` saturated pids only) unioned with this wave's
         delta, one bounded ``applyInPandas`` task per saturated pid —
         at nbits doubled until the expected load k·n/nbits ≤ 0.3
         (≈ 26% fill, ~0.1% FP at k=5);
      3. unsaturated shards pass through untouched.

    Per-shard ``nbits`` may therefore diverge over the crawl's lifetime;
    build/probe already honor the per-row nbits, so no other operator
    changes. The common (unsaturated) case costs one popcount job.
    Returns the (possibly partially rebuilt) bloom; the input's persist
    is left for the caller to release after materializing the result,
    and when a rebuild ran the result carries the key scan's cache as
    ``_keys_cache`` (see :func:`rebuild_saturated`) — release that too.
    """
    bloom_next.persist()
    fills = bloom_fill(bloom_next).collect()
    sat = {
        int(r.pid): (int(r.nbits), int(r.k))
        for r in fills
        if r.set_bits > max_fill * r.nbits
    }
    if not sat:
        return bloom_next
    keys = saturated_shard_keys(seen, delta, sat, num_shards)

    def rebuild(pdf: pd.DataFrame) -> pd.DataFrame:
        pid = int(pdf["pid"].iloc[0])
        nbits, k = sat[pid]
        # dedup before SIZING (the cuckoo twin does the same): the key
        # scan unions the seen snapshot with this wave's delta, which
        # may already be visible in it — sizing on up-to-2× duplicated
        # counts could double nbits one extra time, a permanently
        # 2×-larger bitmap for no FP-rate need. _set_bits itself is
        # duplicate-safe (idempotent OR).
        hashes = np.unique(pdf["url_hash"].to_numpy())
        n = len(hashes)
        while k * n / nbits > 0.3:
            nbits *= 2
        bm = np.zeros(nbits // 8, dtype=np.uint8)
        _set_bits(bm, _positions(hashes, nbits, k))
        return pd.DataFrame(
            {"pid": [pid], "bitmap": [bm.tobytes()],
             "nbits": [nbits], "k": [k]}
        )

    def fresh_rows(missing: list) -> pd.DataFrame:
        return pd.DataFrame({
            "pid": pd.Series(missing, dtype="int32"),
            "bitmap": [
                np.zeros(sat[p][0] // 8, np.uint8).tobytes()
                for p in missing
            ],
            "nbits": pd.Series([sat[p][0] for p in missing], dtype="int32"),
            "k": pd.Series([sat[p][1] for p in missing], dtype="int32"),
        })

    return rebuild_saturated(
        spark, bloom_next, keys, sat,
        lambda key, pdf: rebuild(pdf), fresh_rows, BLOOM_SCHEMA,
    )


def probe_bloom(
    candidates: DataFrame, bloom: DataFrame, num_shards: int,
    keep_pid: bool = False,
) -> DataFrame:
    """Adds ``maybe_seen boolean``; False ⇒ definitely not in the seen set.

    ``keep_pid=True`` retains the shard id column so the caller can
    derive the positives' bucket set without recomputing the pmod."""
    cols = candidates.columns
    c = with_pid(candidates, num_shards)
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in c.schema.fields
    ) + ", maybe_seen boolean"

    def probe(key, cand: pd.DataFrame, state: pd.DataFrame) -> pd.DataFrame:
        if len(cand) == 0:
            return cand.assign(maybe_seen=pd.Series([], dtype="bool"))
        if len(state) == 0:
            return cand.assign(maybe_seen=True)  # no shard ⇒ fall back to exact
        row = state.iloc[0]
        bm = np.frombuffer(row.bitmap, dtype=np.uint8)
        pos = _positions(cand["url_hash"].to_numpy(), int(row.nbits), int(row.k))
        return cand.assign(maybe_seen=_test_bits(bm, pos))

    probed = (
        c.groupBy("pid")
        .cogroup(bloom.groupBy("pid"))
        .applyInPandas(probe, out_schema)
    )
    keep = [*cols, "pid"] if keep_pid else cols
    return probed.select(*keep, "maybe_seen")


def new_from_probed(
    probed: DataFrame,
    seen: DataFrame,
    num_shards: int,
    pos_pids: list[int],
) -> DataFrame:
    """Exact new-URL set from an already-probed (and ideally persisted)
    candidate frame carrying ``pid`` + ``maybe_seen`` (see
    :func:`probe_bloom` with ``keep_pid=True``) and the pre-collected
    distinct pids of the bloom positives.

    Split out of :func:`new_candidates` (VERDICT.md r4 next-round #1)
    so the wave loop can PIGGYBACK the pid collection on the job that
    first materializes the probe cache — one Spark action instead of
    a dedicated collect job per wave. Semantics identical: broadcast
    semi-join of the (pid-pruned) seen scan against the positives,
    then a broadcast anti-join removes true duplicates; bloom-negative
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
    bloom: DataFrame | None,
    num_shards: int,
    use_bloom: bool,
    probe_fn=None,
) -> tuple[DataFrame, DataFrame | None]:
    """Exact set difference, probabilistic-prefilter-accelerated when
    enabled. ``probe_fn`` selects the prefilter probe (defaults to
    :func:`probe_bloom`; the wave loop passes ``probe_cuckoo`` when the
    config selects the cuckoo shards — injected by the caller so this
    module never imports the cuckoo twin). This is THE production
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

      probed   = candidates + maybe_seen        (bloom cogroup, cached —
                 consumed twice below, computed once)
      pos_keys = σ(maybe_seen) π(pid, url_hash) (tiny: bloom positives =
                 true dups + ε·|candidates| false positives)
      hits     = seen ⋉ BROADCAST(pos_keys)     (broadcast LEFT SEMI —
                 the seen side is only SCANNED map-side, column-pruned
                 to url_hash, never exchanged or sorted)
      new      = probed ∖ BROADCAST(hits) where maybe_seen
                 (broadcast anti-join; bloom-negative rows can never
                 match the residual, so they pass through untouched)

    When the seen snapshot carries its bucket layout (``pid`` partition
    column, written by the crawl via ``SnapshotStore.write(...,
    partition_by="pid")`` — VERDICT.md r2 next-round #3), the semi-join
    runs on ``(pid, url_hash)`` and the seen scan is pruned to the pids
    the wave's bloom-positives actually touch — O(hit buckets) instead
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
    Exactness: bloom has no false negatives, so every true duplicate is
    bloom-positive and lands in ``hits``; false positives are removed by
    the anti-join.
    """
    if not use_bloom or bloom is None:
        return exact_new(candidates, seen), None
    probe = probe_fn if probe_fn is not None else probe_bloom
    probed = probe(candidates, bloom, num_shards, keep_pid=True).persist()
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
