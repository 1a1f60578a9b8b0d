"""Partitioned cuckoo filter: the crawl's URL-seen prefilter (SURVEY.md
A8; BASELINE.json:6 "partitioned cuckoo/bloom URL-seen filter"). A
cuckoo filter, unlike a bloom, supports DELETION, so a revoked seed list
is unlearned by removing just its keys instead of rebuilding the filter
from the full key set.

One row per ``pid = pmod(url_hash, P)`` shard, state mutated/probed in
Arrow-batched cogroup ``applyInPandas`` keyed on pid — no driver
collect, no broadcast of state, co-partitioned with the seen deltas
across waves. Semantics are anchored by the EXACT residual anti-join
(operators/seen.py): the filter is a pure prefilter, so correctness
never depends on it.

Shard layout (partial-key cuckoo hashing, Fan et al., CoNEXT'14 —
public algorithm): ``nbuckets`` buckets × 4 slots of uint16
fingerprints (0 = empty; fingerprints are remapped 0→1):

  fp(h)  = (h >> 48) ^ (h >> 16)  (16 bits, 0→1)
  i1(h)  = h & (nbuckets-1)
  i2     = i1 ^ (fp · 0x5bd1) & (nbuckets-1)   (xor-partial-key: i1
           is recoverable from (i2, fp), which is what makes eviction
           possible without the original key)

NO FALSE NEGATIVES is the load-bearing property (a false negative
re-crawls a URL). Inserts that fail after the eviction budget would
create one, so such a shard flips ``degraded = true`` and its probe
returns ``maybe_seen = true`` for everything — falling back to the
exact path for that shard until the saturation guard rebuilds it at
doubled capacity. Deletion of a PRESENT key is always safe BECAUSE
inserts never dedup against the table (Fan et al. §3.2): two distinct
keys that collide on (fingerprint, bucket pair) each store their own
copy, so deleting one can never erase the other's only fingerprint.
The flip side is the standard caller contract: insert each key at most
once (the crawl's delta is exactly-new by construction — the exact
anti-join guarantees no re-insert), and never delete a key that was
not inserted.

Scale notes: 10^10 keys over ~200 shards is ~5·10^7
keys/shard → ``nbuckets = 2^24`` → 128 MB/shard at 4×16-bit slots, FP
rate ≈ 2·4·2^-16 ≈ 0.012%; in the sandbox the defaults are tiny.
Insert/lookup/delete are vectorized over the batch (sorted-by-bucket
rank trick; the residual eviction walk only touches keys whose both
buckets were full — at the ≤0.6-load operating point, a vanishing
fraction).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .seen import (
    per_shard, rebuild_saturated, saturated_shard_keys, with_pid,
)

CUCKOO_SCHEMA = "pid int, table binary, nbuckets int, degraded boolean"

_SLOTS = 4
# rebuild size cap: a shard that cannot place its keys even at this
# many buckets gives up degraded (module-level so tests can drive the
# degraded path without allocating a 2^30-bucket table)
_MAX_NBUCKETS = 1 << 30
_MAX_KICKS = 500
_FP_MULT = np.uint64(0x5BD1)


def _fingerprints(h: np.ndarray) -> np.ndarray:
    h = h.astype(np.uint64)
    fp = ((h >> np.uint64(48)) ^ (h >> np.uint64(16))) & np.uint64(0xFFFF)
    return np.where(fp == 0, np.uint64(1), fp).astype(np.uint16)


def _buckets(h: np.ndarray, fp: np.ndarray, nbuckets: int):
    mask = np.uint64(nbuckets - 1)
    i1 = (h.astype(np.uint64) & mask).astype(np.int64)
    i2 = (i1.astype(np.uint64) ^ (fp.astype(np.uint64) * _FP_MULT)) & mask
    return i1, i2.astype(np.int64)


def _alt_bucket(i: np.ndarray, fp: np.ndarray, nbuckets: int) -> np.ndarray:
    mask = np.uint64(nbuckets - 1)
    return ((i.astype(np.uint64) ^ (fp.astype(np.uint64) * _FP_MULT)) & mask
            ).astype(np.int64)


def _contains(tab: np.ndarray, nbuckets: int, h: np.ndarray) -> np.ndarray:
    """Vectorized membership: fp present in bucket i1 or i2."""
    fp = _fingerprints(h)
    i1, i2 = _buckets(h, fp, nbuckets)
    f = fp[:, None]
    return ((tab[i1] == f) | (tab[i2] == f)).any(axis=1)


def _place_round(tab: np.ndarray, idx: np.ndarray, fp: np.ndarray
                 ) -> np.ndarray:
    """One vectorized placement round: try to put fp[j] into bucket
    idx[j]'s free slots. Keys sharing a bucket are ranked (stable sort
    by bucket) so they claim distinct slots. Returns a bool mask of
    placed keys."""
    if len(idx) == 0:
        return np.zeros(0, dtype=bool)
    order = np.argsort(idx, kind="stable")
    bs = idx[order]
    # rank within each equal-bucket run
    first = np.searchsorted(bs, bs)
    rank = np.arange(len(bs)) - first
    occ = (tab[bs] != 0).sum(axis=1)
    slot = occ + rank
    ok = slot < _SLOTS
    tab[bs[ok], slot[ok]] = fp[order][ok]
    placed = np.zeros(len(idx), dtype=bool)
    placed[order[ok]] = True
    return placed


def _insert(tab: np.ndarray, nbuckets: int, h: np.ndarray) -> bool:
    """Insert the batch (deterministically: sorted by hash); returns
    False if any key exhausted its eviction budget (shard must degrade).

    Deliberately NO dedup against the table's existing fingerprints:
    skipping a key whose fp already appears in its bucket pair (an
    earlier revision did) silently merges two colliding keys into one
    stored copy, and a later ``delete`` of either then erases the
    other's membership — the false negative this module must never
    produce. Duplicate fingerprints are the textbook deletion-safety
    mechanism; the capacity cost is the fp-collision rate (~2^-40 per
    key pair per shard). In-batch exact duplicates (same hash) are
    still collapsed by ``np.unique``."""
    h = np.unique(h.astype(np.uint64).view(np.int64)).view(np.uint64)
    if len(h) == 0:
        return True
    fp = _fingerprints(h)
    i1, i2 = _buckets(h, fp, nbuckets)
    placed = _place_round(tab, i1, fp)
    if not placed.all():
        rem = ~placed
        placed2 = _place_round(tab, i2[rem], fp[rem])
        # residual: both buckets full → classic eviction walk. Touches
        # only the overload tail; deterministic kick slot via a counter.
        for j0 in np.flatnonzero(rem)[~placed2]:
            cur_fp = np.uint16(fp[j0])
            cur_b = int(i1[j0])
            ok = False
            for kick in range(_MAX_KICKS):
                row = tab[cur_b]
                free = np.flatnonzero(row == 0)
                if len(free):
                    tab[cur_b, free[0]] = cur_fp
                    ok = True
                    break
                s = kick % _SLOTS
                victim = row[s]
                tab[cur_b, s] = cur_fp
                cur_fp = victim
                cur_b = int(_alt_bucket(
                    np.array([cur_b]), np.array([victim], dtype=np.uint16),
                    nbuckets,
                )[0])
            if not ok:
                return False
    return True


def _delete(tab: np.ndarray, nbuckets: int, h: np.ndarray) -> None:
    """Remove ONE fingerprint copy per key (i1 preferred). A live key's
    fingerprint is always in one of its two buckets (inserts place it
    there and the eviction walk only ever moves a fingerprint between
    ITS OWN two buckets), so a contract-respecting delete always finds
    a hit. The bucket row is REPACKED after the clear: _place_round's
    fast path targets slot ``occupancy + rank``, which is only a free
    slot while non-empty fingerprints sit contiguously at the front —
    a mid-row hole would make a later insert overwrite a live
    fingerprint (a false negative, the one property this filter must
    never give up). The loop is over the (rare, revocation-sized)
    delete batch."""
    h = np.unique(h.astype(np.uint64).view(np.int64)).view(np.uint64)
    fp = _fingerprints(h)
    i1, i2 = _buckets(h, fp, nbuckets)
    for j in range(len(h)):
        for b in (int(i1[j]), int(i2[j])):
            hit = np.flatnonzero(tab[b] == fp[j])
            if len(hit):
                tab[b, hit[0]] = 0
                brow = tab[b]
                nz = brow[brow != 0]
                brow[:] = 0
                brow[: len(nz)] = nz
                break


def empty_cuckoo(spark, num_shards: int, nbuckets: int) -> DataFrame:
    assert nbuckets & (nbuckets - 1) == 0, "nbuckets must be a power of 2"
    return per_shard(spark, num_shards, CUCKOO_SCHEMA, lambda: {
        "table": bytes(nbuckets * _SLOTS * 2), "nbuckets": nbuckets,
        "degraded": False,
    })


def update_cuckoo(filt: DataFrame, delta: DataFrame, num_shards: int
                  ) -> DataFrame:
    """Insert the delta's url_hashes into the per-pid shards
    (incremental, O(delta)); a shard whose eviction budget is exhausted
    flips ``degraded`` instead of risking a false negative.

    Caller contract: each key is inserted at most once over the
    filter's lifetime (re-inserting stores a second fingerprint copy —
    see ``_insert``). The crawl guarantees this by construction: the
    delta is the exact-anti-joined NEW set every wave."""
    d = with_pid(delta.select("url_hash"), num_shards)

    def merge(key, hashes_it: pd.DataFrame, state: pd.DataFrame
              ) -> pd.DataFrame:
        if len(state) == 0:
            return pd.DataFrame(
                columns=["pid", "table", "nbuckets", "degraded"]
            ).astype({"pid": "int32", "nbuckets": "int32",
                      "degraded": "bool"})
        row = state.iloc[0]
        if len(hashes_it) == 0 or bool(row.degraded):
            # untouched shard (no keys for this pid, or degraded —
            # contents never trusted): pass the state row through
            # without the O(table) frombuffer-copy + tobytes round
            # trip (code-review r5: two full memcpys per skipped
            # shard per wave)
            return state[["pid", "table", "nbuckets", "degraded"]]
        nbuckets = int(row.nbuckets)
        tab = np.frombuffer(row.table, dtype=np.uint16).reshape(
            nbuckets, _SLOTS
        ).copy()
        h = hashes_it["url_hash"].to_numpy().astype(np.int64)
        degraded = not _insert(tab, nbuckets, h.view(np.uint64))
        return pd.DataFrame({
            "pid": [int(row.pid)], "table": [tab.tobytes()],
            "nbuckets": [nbuckets], "degraded": [degraded],
        })

    return (
        d.groupBy("pid")
        .cogroup(filt.groupBy("pid"))
        .applyInPandas(merge, CUCKOO_SCHEMA)
    )


def delete_cuckoo(filt: DataFrame, keys: DataFrame, num_shards: int
                  ) -> DataFrame:
    """Remove the keys' fingerprints (seed revocation). Caller contract:
    every key was previously inserted (standard cuckoo-filter delete
    semantics)."""
    d = with_pid(keys.select("url_hash"), num_shards)

    def merge(key, hashes_it: pd.DataFrame, state: pd.DataFrame
              ) -> pd.DataFrame:
        if len(state) == 0:
            return pd.DataFrame(
                columns=["pid", "table", "nbuckets", "degraded"]
            ).astype({"pid": "int32", "nbuckets": "int32",
                      "degraded": "bool"})
        row = state.iloc[0]
        # skip degraded shards, mirroring update_cuckoo: their contents
        # are never trusted (probe answers all-true, rebuilds discard
        # them), and post-degradation keys were never inserted — a
        # delete could only remove a colliding live key's copy. Skipped
        # (and keyless) shards pass through without the O(table) copy
        # round trip (code-review r5).
        if len(hashes_it) == 0 or bool(row.degraded):
            return state[["pid", "table", "nbuckets", "degraded"]]
        nbuckets = int(row.nbuckets)
        tab = np.frombuffer(row.table, dtype=np.uint16).reshape(
            nbuckets, _SLOTS
        ).copy()
        _delete(
            tab, nbuckets,
            hashes_it["url_hash"].to_numpy().astype(np.int64)
            .view(np.uint64),
        )
        return pd.DataFrame({
            "pid": [int(row.pid)], "table": [tab.tobytes()],
            "nbuckets": [nbuckets], "degraded": [bool(row.degraded)],
        })

    return (
        d.groupBy("pid")
        .cogroup(filt.groupBy("pid"))
        .applyInPandas(merge, CUCKOO_SCHEMA)
    )


def probe_cuckoo(
    candidates: DataFrame, filt: DataFrame, num_shards: int,
    keep_pid: bool = False,
) -> DataFrame:
    """Adds ``maybe_seen boolean``; False ⇒ definitely not in the seen
    set (a degraded shard answers True for everything — exact fallback,
    never a false negative)."""
    cols = candidates.columns
    c = with_pid(candidates, num_shards)
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in c.schema.fields
    ) + ", maybe_seen boolean"

    def probe(key, cand: pd.DataFrame, state: pd.DataFrame) -> pd.DataFrame:
        if len(cand) == 0:
            return cand.assign(maybe_seen=pd.Series([], dtype="bool"))
        if len(state) == 0:
            return cand.assign(maybe_seen=True)
        row = state.iloc[0]
        if bool(row.degraded):
            return cand.assign(maybe_seen=True)
        nbuckets = int(row.nbuckets)
        tab = np.frombuffer(row.table, dtype=np.uint16).reshape(
            nbuckets, _SLOTS
        )
        h = cand["url_hash"].to_numpy().astype(np.int64).view(np.uint64)
        return cand.assign(maybe_seen=_contains(tab, nbuckets, h))

    probed = (
        c.groupBy("pid")
        .cogroup(filt.groupBy("pid"))
        .applyInPandas(probe, out_schema)
    )
    keep = [*cols, "pid"] if keep_pid else cols
    return probed.select(*keep, "maybe_seen")


def cuckoo_fill(filt: DataFrame) -> DataFrame:
    """Per-shard occupancy (exact, vectorized count of non-empty slots)."""
    def stats(batches):
        for pdf in batches:
            used = [
                int((np.frombuffer(b, dtype=np.uint16) != 0).sum())
                for b in pdf["table"]
            ]
            yield pd.DataFrame({
                "pid": pdf["pid"].astype("int32"),
                "nbuckets": pdf["nbuckets"].astype("int32"),
                "degraded": pdf["degraded"].astype("bool"),
                "used_slots": pd.Series(used, dtype="int64"),
            })

    return filt.mapInPandas(
        stats, "pid int, nbuckets int, degraded boolean, used_slots long"
    )


def _rebuild_shard(
    pid: int, hashes_i64: np.ndarray, nbuckets: int,
    max_nbuckets: int | None = None,
) -> pd.DataFrame:
    """Rebuild one shard's table from its full key set at nbuckets
    doubled until expected load ≤ 0.5 (module-level kernel so the
    degraded path is unit-testable without a 2^30-bucket allocation)."""
    cap = _MAX_NBUCKETS if max_nbuckets is None else max_nbuckets
    h = np.unique(hashes_i64)
    while len(h) / (nbuckets * _SLOTS) > 0.5 and nbuckets * 2 <= cap:
        nbuckets *= 2
    degraded = False
    while True:
        tab = np.zeros((nbuckets, _SLOTS), dtype=np.uint16)
        if _insert(tab, nbuckets, h.view(np.uint64)):
            break
        if nbuckets * 2 > cap:
            # pathological collision set at the size cap: give up
            # degraded. The recorded nbuckets MUST stay the size tab was
            # ALLOCATED at — doubling it first (the old code) published
            # a row whose nbuckets disagreed with its table bytes, and
            # the next wave's update/delete reshape on that shard
            # crashed the crawl instead of the documented safe all-true
            # degradation.
            degraded = True
            break
        nbuckets *= 2  # keep doubling and retry
    return pd.DataFrame({
        "pid": [pid], "table": [tab.tobytes()],
        "nbuckets": [nbuckets], "degraded": [degraded],
    })


def grow_saturated_cuckoo(
    spark,
    filt_next: DataFrame,
    seen: DataFrame,
    delta: DataFrame,
    num_shards: int,
    max_load: float = 0.8,
) -> DataFrame:
    """Saturation guard: shards past ``max_load`` occupancy (cuckoo
    insert failure probability climbs steeply above ~0.84 at 4
    slots/bucket) — or already degraded — are REBUILT from the full key
    set of their bucket (partition-pruned seen scan unioned with this
    wave's delta) at nbuckets doubled until the expected load ≤ 0.5.
    The common case costs one occupancy job. Returns the (possibly partially rebuilt) filter; the input's
    persist is left for the caller to release after materializing, and
    when a rebuild ran the result carries the key scan's cache as
    ``_keys_cache`` (see :func:`~.seen.rebuild_saturated`) — release
    that too."""
    filt_next.persist()
    fills = cuckoo_fill(filt_next).collect()
    sat = {
        int(r.pid): int(r.nbuckets)
        for r in fills
        if r.degraded or r.used_slots > max_load * r.nbuckets * _SLOTS
    }
    if not sat:
        return filt_next
    keys = saturated_shard_keys(seen, delta, sat, num_shards)

    def fresh_rows(missing: list) -> pd.DataFrame:
        # rebuild-from-empty is just an empty table at the current size
        return pd.DataFrame({
            "pid": pd.Series(missing, dtype="int32"),
            "table": [
                np.zeros((sat[p], _SLOTS), np.uint16).tobytes()
                for p in missing
            ],
            "nbuckets": pd.Series([sat[p] for p in missing], dtype="int32"),
            "degraded": pd.Series([False] * len(missing), dtype="bool"),
        })

    return rebuild_saturated(
        spark, filt_next, keys, sat,
        lambda key, pdf: _rebuild_shard(
            int(pdf["pid"].iloc[0]),
            pdf["url_hash"].to_numpy().astype(np.int64),
            sat[int(pdf["pid"].iloc[0])],
        ),
        fresh_rows, CUCKOO_SCHEMA,
    )
