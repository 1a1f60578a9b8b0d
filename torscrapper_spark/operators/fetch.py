"""Batched fetch wave + image decode/validate (SURVEY.md A13/A14/A15).

In the sandbox, "the network" is the deterministic synthetic pagestore,
so a fetch wave is one DataFrame join: the politeness-bounded wave
(small) against the pagestore (huge). AQE broadcasts the wave side; on
a real deployment the pagestore is written partitioned by
``bucket = pmod(xxhash64(url), NB)`` and the join carries the bucket
equality so dynamic partition pruning skips every bucket the wave does
not touch (see ``plans/crawl.py::load_pagestore``). A production
network fetcher drops in as a ``mapInPandas`` stage with the same
output schema.

Validation implements the per-row invariant of BASELINE.json:15 in one
Arrow-batched ``mapInPandas`` pass: decode bytes per ``fmt``, PSNR vs
the reference pixels (≥40 dB for lossy fmts, bit-exact for lossless),
recomputed perceptual hash vs the stored ``phash``, and exact caption
equality.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.codecs import LOSSY_FMTS, PHASH_LOSSY_HAMMING, decode

FETCH_COLS = [
    "url", "url_hash", "domain", "depth", "discovered_wave",
    "status", "image_id", "bytes", "w", "h", "fmt",
    "caption", "ref_caption", "phash", "ref_bytes", "html",
]

VALIDATED_SCHEMA = (
    "url string, url_hash long, domain string, depth int, discovered_wave int, "
    "status int, image_id string, caption string, fmt string, w int, h int, "
    "n_bytes long, decode_ok boolean, psnr double, psnr_ok boolean, "
    "phash_match boolean, caption_ok boolean, valid boolean, html string"
)


def fetch_join(selected: DataFrame, pagestore: DataFrame) -> DataFrame:
    """One fetch wave = selected ⋈ pagestore; misses become status 404.

    Join shape matters enormously here: a naive ``selected LEFT JOIN
    pagestore`` cannot broadcast its small (politeness-bounded) side, so
    Spark shuffles the entire image store every wave. Instead:

      hits   = pagestore ⋈ BROADCAST(selected)   (inner — store is only
               SCANNED, never shuffled; with a bucketed store the bucket
               key also prunes partitions)
      misses = selected ∖ hits                   (broadcast anti-join)

    At 10^10 scale with waves too large to broadcast, the equivalent is
    a bucket-wise co-partitioned join against the bucketed store; in
    production the whole operator is replaced by a mapInPandas network
    fetcher with this same output schema.
    """
    join_keys = ["url_hash", "url"]
    if "bucket" in pagestore.columns and "bucket" in selected.columns:
        join_keys = ["bucket", *join_keys]
        # Static bucket pruning, same rationale as the seen filter
        # (operators/seen.py): Catalyst's DPP heuristic declines these
        # broadcast joins (no selective build-side filter), so the
        # wave's distinct buckets — bounded by min(|wave|, NB), one
        # tiny job over the caller-persisted `selected` — are planted
        # as a literal IN that a bucket-partitioned store turns into a
        # PartitionFilter. A full-width wave (every bucket touched)
        # degenerates to no pruning, which is exactly the xxhash64
        # steady state; small/resumed/tail waves prune hard.
        wave_buckets = [
            r.bucket for r in selected.select("bucket").distinct().collect()
        ]
        pagestore = (
            pagestore.filter(F.col("bucket").isin(wave_buckets))
            if wave_buckets
            else pagestore.filter(F.lit(False))
        )
    if "bucket" in pagestore.columns and "bucket" not in join_keys:
        # a bucketed store paired with an unbucketed wave (the two are
        # configured independently): degrade to the unbucketed join
        # instead of leaking the store's bucket column into `hits`,
        # which `misses.select(*hits.columns)` could never resolve
        pagestore = pagestore.drop("bucket")
    hits = pagestore.join(F.broadcast(selected), join_keys, "inner")
    # 404s: anti-join against the store's KEY columns (column-pruned
    # scan — never re-reads the payload; deriving misses from `hits`
    # would both re-scan the store AND add a fixed broadcast job per
    # wave, tests/test_jobfloor.py). Deliberately NO broadcast hint on
    # the store side: a forced broadcast collects O(store) keys to the
    # driver — dead far below 10^10 (Spark's broadcast-table cap,
    # driver heap) — while AQE picks broadcast only while the (bucket-
    # pruned) key set is actually small and degrades to a distributed
    # shuffle join beyond that, which is scale-correct: the wave side
    # is politeness-bounded, the key side is column-pruned.
    misses = selected.join(
        pagestore.select(*join_keys), join_keys, "left_anti"
    )
    payload_cols = {
        "image_id": "string", "bytes": "binary", "w": "int", "h": "int",
        "fmt": "string", "caption": "string", "ref_caption": "string",
        "phash": "long", "ref_bytes": "binary", "html": "string",
    }
    for c, typ in payload_cols.items():
        misses = misses.withColumn(c, F.lit(None).cast(typ))
    fetched = hits.unionByName(misses.select(*hits.columns))
    # 404 rows leave the numeric payload columns NULL; a nullable int64
    # becomes float64 on the Arrow→pandas hop and silently loses
    # precision above 2^53 (observed as corrupted phash values), so pin
    # them to 0 — status 404 already marks the row invalid.
    # Hit/miss keyed on html presence — the refsim's exact rule
    # (refsim.py `pages.get(url)`, status 200 iff html is not None): a
    # store row whose html is NULL must trace as 404 like the simulator,
    # and keying on any OTHER nullable payload column (image_id) would
    # silently diverge the trace on half-null rows. Misses from the
    # anti-join have html NULL by construction, so one rule covers both.
    return (
        fetched.withColumn(
            "status",
            F.when(F.col("html").isNull(), F.lit(404)).otherwise(F.lit(200)),
        )
        .withColumn("phash", F.coalesce(F.col("phash"), F.lit(0)))
        .withColumn("w", F.coalesce(F.col("w"), F.lit(0)))
        .withColumn("h", F.coalesce(F.col("h"), F.lit(0)))
        .select(*FETCH_COLS)
    )


# Validation scratch: preallocated per (h, w) and reused for every chunk
# of every batch for the lifetime of the Python worker. This sandbox VM
# services first-touch page faults extremely slowly (~100 MB/s), and
# glibc returns large freed buffers to the OS immediately, so naive
# fresh-stack-per-batch numpy code spends most of its CPU re-faulting
# the same pages; persistent buffers pay that cost exactly once.
_CHUNK = 64
_SCRATCH: dict[tuple[int, int], dict[str, np.ndarray]] = {}
# bytes of scratch per pixel of one chunk row: a, r (uint8 RGB), d
# (int16 RGB) and sq (int32 RGB) are 3 + 3 + 6 + 12
_SCRATCH_PIXEL_BYTES = 24
# LRU bound: each (h, w) entry pins up to ~24·chunk·h·w bytes (~100 MB
# at 256², chunk 64) for the worker's lifetime; against a real store
# with heterogeneous image sizes an unbounded dict would OOM the Python
# worker after a few dozen distinct sizes. 4 entries cover the
# realistic per-batch size mix while keeping the worst case bounded.
_SCRATCH_MAX = 4
# per-entry byte cap: for large images the chunk SHRINKS (floor 1) so a
# legitimate 2048² group costs one image of scratch per step instead of
# 64 — entry-count bounds alone do not bound bytes
_SCRATCH_ENTRY_BYTES = 128 << 20
# dims are untrusted data (a hostile store row / fetcher response):
# groups beyond this pixel count are marked invalid instead of
# allocating multi-GB scratch. Derived from the entry byte cap so the
# cap holds even at the chunk floor of 1: a standalone pixel ceiling
# (2^24 was the old value) let a single near-4096² entry allocate
# hundreds of MB, several times the stated cap. The divisor stays at
# 26 B/pixel, above _SCRATCH_PIXEL_BYTES, so the set of admitted
# dimensions does not move with the scratch layout: 128 MB/26 ≈ 5.16 M
# pixels ≈ 2272², still far above any fixture (256²) and any sane
# crawl payload.
_MAX_PIXELS = _SCRATCH_ENTRY_BYTES // 26


def _bufs(h: int, w: int) -> dict[str, np.ndarray]:
    b = _SCRATCH.pop((h, w), None)
    if b is None:
        while len(_SCRATCH) >= _SCRATCH_MAX:
            _SCRATCH.pop(next(iter(_SCRATCH)))  # evict least-recent
        chunk = max(1, min(
            _CHUNK, _SCRATCH_ENTRY_BYTES // (_SCRATCH_PIXEL_BYTES * h * w)
        ))
        shape = (chunk, h, w, 3)
        b = {
            "a": np.zeros(shape, np.uint8),
            "r": np.zeros(shape, np.uint8),
            "d": np.zeros(shape, np.int16),
            "sq": np.zeros(shape, np.int32),
        }
    _SCRATCH[(h, w)] = b  # (re)insert at the most-recent end
    return b


def _validate_group(
    pdf: pd.DataFrame, rows: np.ndarray, fmt: str, w: int, h: int, out: dict
) -> None:
    """Validate all batch rows sharing (fmt, w, h) with stacked-array math.

    Codec decode is one C call (zlib) per image — the per-image unit is
    inherent to the wire format, exactly like a JPEG decoder; everything
    downstream (PSNR, perceptual hash, Hamming distance) runs over the
    stacked (chunk, h, w, 3) array, not per row.

    A zlib-rgb row whose reference bytes equal its fetched bytes decodes
    to the same pixels on both sides, so its reference decode and MSE
    are skipped and it gets the MSE-0 result (PSNR 99, psnr_ok); its
    fetched bytes are still decoded and its phash still recomputed.
    """
    if not (0 < h and 0 < w and h * w <= _MAX_PIXELS):
        # hostile dimensions (negative, zero, or absurd): the rows stay
        # decode_ok=False → invalid, and the TASK stays alive — np.zeros
        # on a negative or multi-GB shape would kill it before any
        # per-row try could fire
        return
    byte_vals = pdf["bytes"].to_numpy()
    ref_vals = pdf["ref_bytes"].to_numpy()
    stored_all = pdf["phash"].to_numpy()
    lossy = fmt in LOSSY_FMTS
    fmt_is_ref = fmt == "zlib-rgb"  # references are always zlib-rgb
    grid_ok = h % 8 == 0 and w % 8 == 0  # loop-invariant phash gate
    bufs = _bufs(h, w)
    chunk_rows = bufs["a"].shape[0]  # shrinks for large (h, w)
    for c0 in range(0, len(rows), chunk_rows):
        chunk = rows[c0:c0 + chunk_rows]
        a_buf, r_buf = bufs["a"], bufs["r"]
        good, same = [], []
        for i in chunk:
            j = len(good)
            # the None guard, the byte comparison and BOTH decodes sit
            # inside the try: a bad payload must invalidate the ROW,
            # never kill the task — and against a real fetcher the
            # reference side is as untrusted as the fetched side (a
            # None/truncated ref_bytes on a status-200 row raises here
            # too)
            try:
                data = bytes(byte_vals[i])
                ref = bytes(ref_vals[i])
                a_buf[j] = decode(data, fmt, w, h)
                identical = fmt_is_ref and ref == data
                if not identical:
                    r_buf[j] = decode(ref, "zlib-rgb", w, h)
            except Exception:
                continue
            good.append(i)
            same.append(identical)
        if not good:
            continue
        k = len(good)
        good = np.asarray(good)
        out["decode_ok"][good] = True
        a = a_buf[:k]

        # integer MSE: int16 diff (exact in [-255, 255]), int32 square,
        # f64 mean — every intermediate is an exact integer < 2^53, so
        # the result is bit-deterministic regardless of summation order,
        # and the pipeline stays SIMD (an int32 einsum with a float64
        # accumulator measured 200× slower — the cast defeats
        # vectorization). Only rows with a decoded reference take it; a
        # chunk mixing both kinds gathers those rows first.
        mse = np.zeros(k)
        refd = np.flatnonzero(~np.asarray(same))
        if len(refd):
            m = len(refd)
            am, rm = (a, r_buf[:k]) if m == k else (a[refd], r_buf[refd])
            d = bufs["d"][:m]
            np.subtract(am, rm, out=d, dtype=np.int16, casting="unsafe")
            sq = bufs["sq"][:m]
            np.multiply(d, d, out=sq, dtype=np.int32, casting="unsafe")
            mse[refd] = sq.reshape(m, -1).mean(axis=1, dtype=np.float64)
        with np.errstate(divide="ignore"):
            p = 20.0 * np.log10(255.0) - 10.0 * np.log10(mse)  # inf @ mse=0
        out["psnr"][good] = np.where(mse == 0.0, 99.0, p)
        out["psnr_ok"][good] = (p >= 40.0) if lossy else (mse == 0.0)

        # batched avg_phash: the same exact-integer formulation and
        # reduction order as codecs.avg_phash (contiguous column blocks
        # of each pixel row summed from uint8 in uint32, then row blocks
        # in int64; 64·block_sum > total_sum), so stored hashes
        # reproduce bit-exactly with no float rounding anywhere.
        # avg_phash's documented precondition is h, w multiples of 8 —
        # fetched dimensions are untrusted data, so an off-grid size
        # fails the phash GATE (phash_match stays False) instead of
        # crashing the reshape
        if not grid_ok:
            continue
        row_blocks = a.reshape(k, h, 8, (w // 8) * 3).sum(
            axis=3, dtype=np.uint32
        )
        blocks = row_blocks.reshape(k, 8, h // 8, 8).sum(
            axis=2, dtype=np.int64
        )
        bits = (blocks * 64) > blocks.sum(axis=(1, 2), keepdims=True)
        packed = np.packbits(bits.reshape(k, 64), axis=1)
        ph = packed.view(">u8")[:, 0].astype(np.uint64)
        stored = stored_all[good].astype(np.int64).view(np.uint64)
        xor_bytes = np.frombuffer((ph ^ stored).tobytes(), dtype=np.uint8)
        dist = np.unpackbits(xor_bytes).reshape(k, 64).sum(axis=1)
        out["phash_match"][good] = dist <= (PHASH_LOSSY_HAMMING if lossy else 0)


class SyntheticPagestore:
    """Marker object that makes a crawl fetch from the deterministic
    page generator instead of joining a materialized store table.

    This is the PRODUCTION fetch shape: a real 10^10-URL crawl fetches
    each wave's URLs over the network at O(wave) cost — it never scans
    an O(store) table per wave. In the sandbox the "network" is
    :func:`torscrapper_spark.fixtures.generate_page`, a pure function of
    the URL, so content is byte-identical to the materialized pagestore
    table (tests assert the two fetch paths produce identical crawl
    traces). Wiring a real HTTP/Tor fetcher means replacing the body of
    :func:`synthetic_fetch`'s generator with socket I/O — the schema,
    batching, and crawl loop are unchanged.
    """

    def __init__(self, graph_cfg):
        self.cfg = graph_cfg


FETCH_SCHEMA = (
    "url string, url_hash long, domain string, depth int, discovered_wave int, "
    "status int, image_id string, bytes binary, w int, h int, fmt string, "
    "caption string, ref_caption string, phash long, ref_bytes binary, "
    "html string"
)

_PAGE_URL_RE = r"^http://d(\d+)\.onion/p/(\d+)(?:\?.*)?$"


def synthetic_fetch(selected: DataFrame, graph_cfg) -> DataFrame:
    """One fetch wave against the synthetic network (mapInPandas).

    Emits exactly :data:`FETCH_COLS` with the same 200/404 semantics as
    :func:`fetch_join`: a URL hits iff it equals the page's canonical
    URL (dangling or noisy-variant URLs 404). Batched per Arrow batch;
    the per-URL unit of work inside the batch is the fetch itself —
    the same granularity a network fetcher has.
    """
    import re as _re

    from ..fixtures import generate_page, page_url

    cfg = graph_cfg
    rx = _re.compile(_PAGE_URL_RE)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _synth_fetch_pdf(pdf, cfg, rx, generate_page, page_url)

    return selected.mapInPandas(run, FETCH_SCHEMA)


def synthetic_fetch_validate(selected: DataFrame, graph_cfg) -> DataFrame:
    """Fused fetch + validate: one Python stage, one Arrow round trip.

    The fetched payload (bytes/ref_bytes, tens of KB per row) is
    produced AND consumed inside the same Python worker — it never
    crosses the JVM↔Python boundary, never sits in JVM Arrow buffers,
    and only the ~1 KB/row validation verdicts come back. At 32-way
    parallelism the unfused pipeline held a full wave of payload in
    executor memory twice; the fused stage holds one Arrow batch per
    worker.
    """
    import re as _re

    from ..fixtures import generate_page, page_url

    cfg = graph_cfg
    rx = _re.compile(_PAGE_URL_RE)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _validate_pdf(
                _synth_fetch_pdf(pdf, cfg, rx, generate_page, page_url)
            )

    return selected.mapInPandas(run, VALIDATED_SCHEMA)


def _synth_fetch_pdf(pdf, cfg, rx, generate_page, page_url) -> pd.DataFrame:
    n = len(pdf)
    payload: dict[str, list] = {
        "status": [404] * n, "image_id": [None] * n,
        "bytes": [None] * n, "w": [0] * n, "h": [0] * n,
        "fmt": [None] * n, "caption": [None] * n,
        "ref_caption": [None] * n, "phash": [0] * n,
        "ref_bytes": [None] * n, "html": [None] * n,
    }
    urls = pdf["url"].tolist()
    for idx, url in enumerate(urls):
        m = rx.match(url)
        if not m:
            continue
        i, j = int(m.group(1)), int(m.group(2))
        if i >= cfg.n_domains or j >= cfg.pages_per_domain:
            continue
        if url != page_url(i, j, cfg.query_every):
            continue  # noisy variant / wrong query form: 404
        page = generate_page(cfg, i, j)
        payload["status"][idx] = 200
        for c in ("image_id", "bytes", "w", "h", "fmt", "caption",
                  "ref_caption", "phash", "ref_bytes", "html"):
            payload[c][idx] = page[c]
    out = pdf[[
        "url", "url_hash", "domain", "depth", "discovered_wave",
    ]].copy()
    for c, vals in payload.items():
        out[c] = vals
    return out[FETCH_COLS]


def _validate_pdf(pdf: pd.DataFrame) -> pd.DataFrame:
    """Validate one Arrow batch of fetched rows (shared by the join and
    fused-synthetic fetch paths)."""
    n = len(pdf)
    status = pdf["status"].to_numpy()
    ok = status == 200
    out_cols = {
        "decode_ok": np.zeros(n, dtype=bool),
        "psnr": np.full(n, float("nan")),
        "psnr_ok": np.zeros(n, dtype=bool),
        "phash_match": np.zeros(n, dtype=bool),
    }
    n_bytes = np.zeros(n, dtype=np.int64)
    if ok.any():
        # None guard: a status-200 row with a null body (possible from a
        # real fetcher) must mark the ROW invalid, not kill the task
        n_bytes[ok] = [
            0 if b is None else len(b) for b in pdf["bytes"].to_numpy()[ok]
        ]
        keys = pd.DataFrame({
            "fmt": pdf["fmt"].to_numpy(), "w": pdf["w"].to_numpy(),
            "h": pdf["h"].to_numpy(), "_i": np.arange(n),
        })[ok]
        for (fmt, w, h), grp in keys.groupby(["fmt", "w", "h"], sort=False):
            _validate_group(
                pdf, grp["_i"].to_numpy(), str(fmt), int(w), int(h), out_cols
            )
    caption_ok = (
        ok & (pdf["caption"] == pdf["ref_caption"]).fillna(False).to_numpy()
    )
    out = pdf[[
        "url", "url_hash", "domain", "depth", "discovered_wave",
        "status", "image_id", "caption", "fmt", "w", "h", "html",
    ]].copy()
    out["n_bytes"] = n_bytes
    out["decode_ok"] = out_cols["decode_ok"]
    out["psnr"] = out_cols["psnr"]
    out["psnr_ok"] = out_cols["psnr_ok"]
    out["phash_match"] = out_cols["phash_match"]
    out["caption_ok"] = caption_ok
    out["valid"] = (
        out["decode_ok"] & out["psnr_ok"]
        & out["phash_match"] & out["caption_ok"]
    )
    return out[[
        "url", "url_hash", "domain", "depth", "discovered_wave",
        "status", "image_id", "caption", "fmt", "w", "h",
        "n_bytes", "decode_ok", "psnr", "psnr_ok",
        "phash_match", "caption_ok", "valid", "html",
    ]]


def decode_validate(fetched: DataFrame) -> DataFrame:
    """Arrow-batched decode + PSNR/phash/caption validation (no per-row
    Python: rows are grouped by (fmt, w, h) and validated as stacked
    numpy arrays; see :func:`_validate_group`)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _validate_pdf(pdf)

    return fetched.mapInPandas(run, VALIDATED_SCHEMA)
