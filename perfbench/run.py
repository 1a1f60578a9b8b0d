"""Run one benchmark measurement of the onionwave crawl engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

The load is a closed loop: one driver process runs the workload's crawl
(a fixed schedule of waves and, for ``revoke-compact``, revocations):
its prefix once untimed to warm up, then the rest as many times as
about ``--seconds`` of the workload's nominal crawl length holds, each
time into a fresh copy of the store the prefix left. Each wave and each
revocation is one operation. Every crawl's trace, seen total and fetch total are checked
against the reference simulator, against the values pinned in
``perfbench/expected.json`` when the seed is pinned there, and against
the first crawl of the run; a mismatch or a raised call fails the
crawl's operations.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` alternates
untraced and traced crawls in the window, then replays each operator
and times the kernels, and prints the per-layer metrics, including the
tracing overhead.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback
from dataclasses import replace

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:] = [ROOT] + [p for p in sys.path
                        if os.path.abspath(p or ".") != os.path.dirname(
                            os.path.abspath(__file__))]

from perfbench import inputs, procstat, sparkstat  # noqa: E402
from perfbench.metrics import E2E, LAYER  # noqa: E402
from perfbench.workloads import (  # noqa: E402
    WORKLOADS, crawl_config, tiny)

OUT = os.path.join(ROOT, ".perfbench_out")
PINS = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                    "expected.json")
DRIVER_MEM = "1g"
# an untraced window measures a crawl again when the hypervisor stole
# more than this share of the machine's CPU time during it, at most
# MAX_DISTURBED - 1 times (see DESIGN.md, "Noise")
MAX_STEAL = 0.03
MAX_DISTURBED = 3

# ---------------------------------------------------------------- session
def isolate(work: str) -> None:
    """Point every temp and spill directory of this process, the JVM and
    the Python workers into ``work``, inside the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    # the launcher JVM spark-submit starts first would otherwise leave
    # its perf-data file under /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}")
    # the JVM runs hundreds of threads; without a cap glibc gives them
    # up to 8 arenas per core, and which threads happened to allocate
    # moved the tree's RSS by more than a gigabyte from run to run
    os.environ["MALLOC_ARENA_MAX"] = "2"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])


def start_spark(work: str, slots: int):
    from torscrapper_spark.session import get_spark

    conf = {
        # keep every job and stage of a run in the status store
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        # the whole heap is committed and touched at JVM start, so the
        # tree's RSS does not depend on when the collector grew the heap
        "spark.driver.extraJavaOptions": (
            f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch -XX:-UsePerfData "
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    # one shuffle partition per slot: the waves here are small, and each
    # extra partition adds a Python-worker round trip to every stage
    return get_spark(f"local[{slots}]", shuffle_partitions=slots,
                     extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session and the JVM, and wait for every child to end."""
    kids = procstat.descendants()
    gateway = spark.sparkContext._gateway
    try:
        spark.stop()
    finally:
        proc = getattr(gateway, "proc", None)
        if proc is not None and proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        left = procstat.wait_gone(kids, 30)
        for pid in left:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        procstat.wait_gone(left, 10)
        if proc is not None:
            proc.wait(timeout=10)


# ----------------------------------------------------------------- inputs
def load_inputs(spark, w, seed_dir: str) -> dict:
    """Read the run's tables and pin the page table in memory."""
    from pyspark import StorageLevel

    from torscrapper_spark.functions.urls import canonicalize_series
    from torscrapper_spark.operators.fetch import SyntheticPagestore
    from torscrapper_spark.plans import crawl as C

    t = {name: spark.read.parquet(os.path.join(seed_dir, f"{name}.parquet"))
         .persist() for name in ("seeds", "robots", "politeness")}
    for df in t.values():
        df.count()
    take = spark.read.parquet(
        os.path.join(seed_dir, "takedown.parquet")).toPandas()
    t["takedown"] = [
        spark.createDataFrame(take[take["step"] == k][["url"]], "url string")
        for k in sorted(take["step"].unique())
    ]
    t["takedown_urls"] = set(canonicalize_series(take["url"]))
    if w.store_join:
        ps = C.load_pagestore(
            spark, os.path.join(inputs.graph_dir(w.graph), "pages")
        ).persist(StorageLevel.MEMORY_AND_DISK)
        ps.write.format("noop").mode("overwrite").save()
        t["pagestore"] = ps
    else:
        t["pagestore"] = SyntheticPagestore(w.graph)
    return t


# ------------------------------------------------------------------ crawl
def _new_part() -> dict:
    return {"wave_secs": [], "wave_spans": [], "fetched": 0, "new": 0,
            "ops": 0}


def _steps(spark, w, t: dict, store, steps, part: dict, takedowns,
           tracer) -> None:
    """Run ``steps`` on ``store``, accumulating into ``part``."""
    from torscrapper_spark.plans import crawl as C

    for step in steps:
        last = store.last_wave() or 0
        if step[0] == "crawl":
            part["ops"] += step[1]
            s = C.run_crawl(spark, store, t["pagestore"], t["seeds"],
                            t["robots"], t["politeness"],
                            crawl_config(w, last + step[1]))
            part["wave_secs"] += s["wave_secs"]
            part["wave_spans"] += s["wave_spans"]
            part["fetched"] += s["fetched_total"]
            for v in range(last + 1, store.last_wave() + 1):
                part["new"] += int(store.manifest(v).get("new_urls", 0))
            # a crawl that ran out of frontier attempted fewer waves
            part["ops"] -= step[1] - len(s["wave_secs"])
        else:
            part["ops"] += 1
            urls = next(takedowns)
            with (tracer.span("revoke", last) if tracer is not None
                  else contextlib.nullcontext()):
                C.revoke_urls(spark, store, urls, crawl_config(w, last),
                              reseed=step[1] == "reseed", robots=t["robots"])


def crawl(spark, w, t: dict, root: str, tracer=None, resume=None,
          save_prefix=None) -> dict:
    """One crawl into a fresh store: the untimed prefix, then the timed
    steps. ``urls`` counts the timed part's fetched and new URLs.

    ``save_prefix`` is a directory that receives a copy of the store as
    the prefix left it. A later crawl given that crawl's record as
    ``resume`` starts from such a copy instead of running the prefix
    again; the store keeps all its state on disk under its root, so the
    copy resumes like the original."""
    from torscrapper_spark.sources.tableio import SnapshotStore

    takedowns = iter(t["takedown"])
    if resume is None:
        pre = _new_part()
    else:
        # the copied waves count for the output check, not as operations
        pre = dict(resume["pre"], ops=0)
        for _ in (s for s in w.prefix if s[0] == "revoke"):
            next(takedowns)
    store = SnapshotStore(root)
    rec = {"root": root, "store": store, "failed": 0, "pre": pre,
           "timed": _new_part(), "prefix_dir": save_prefix}
    t1 = time.perf_counter()
    cpu0, mark = procstat.snapshot(), None
    ticks0 = procstat.machine_ticks()
    try:
        if resume is None:
            _steps(spark, w, t, store, w.prefix, pre, takedowns, tracer)
            if save_prefix is not None:
                shutil.copytree(root, save_prefix)
        else:
            shutil.copytree(resume["prefix_dir"], root, dirs_exist_ok=True)
        if tracer is not None:
            mark = sparkstat.mark(spark.sparkContext)
        cpu0 = procstat.snapshot()
        ticks0 = procstat.machine_ticks()
        t1 = time.perf_counter()
        _steps(spark, w, t, store, w.steps, rec["timed"], takedowns, tracer)
    except Exception:
        traceback.print_exc(file=sys.stderr)
        rec["failed"] = 1
    rec["wall_s"] = time.perf_counter() - t1
    rec["span"] = (t1, t1 + rec["wall_s"])
    rec["cpu"] = procstat.cpu_by_role(cpu0, procstat.snapshot())
    ticks1 = procstat.machine_ticks()
    rec["steal"] = ((ticks1[0] - ticks0[0])
                    / max(ticks1[1] - ticks0[1], 1))
    if tracer is not None:
        rec["spark"] = (sparkstat.since(spark.sparkContext, mark)
                        if mark is not None else sparkstat.zero())
    last = store.last_wave()
    rec["seen_total"] = (int(store.manifest(last)["seen_total"])
                         if last is not None else 0)
    rec["fetched"] = rec["pre"]["fetched"] + rec["timed"]["fetched"]
    rec["ops"] = rec["pre"]["ops"] + rec["timed"]["ops"]
    rec["urls"] = rec["timed"]["fetched"] + rec["timed"]["new"]
    return rec


def tree_bytes(root: str) -> tuple[int, int]:
    """(bytes, parquet files) under ``root``."""
    size = files = 0
    for d, _dirs, names in os.walk(root):
        for n in names:
            size += os.path.getsize(os.path.join(d, n))
            files += n.endswith(".parquet")
    return size, files


def check(spark, w, t: dict, rec: dict, expected: dict,
          pinned: dict | None, first: dict | None) -> list[str]:
    """Mismatches of one crawl against the reference, the pins and the
    run's first crawl (empty when the crawl is correct)."""
    store = rec["store"]
    trace = (store.read_outputs(spark, "trace")
             .select("wave", "seq", "url", "depth", "status").toPandas())
    got = {"trace": inputs.fingerprint(trace),
           "seen_total": rec["seen_total"], "fetched_total": rec["fetched"]}
    rec["result"] = got
    bad = []
    if any(s[0] == "revoke" for s in w.prefix + w.steps):
        # the simulator has no revocation: it checks the waves before
        # the first one, and after it no URL may be fetched twice unless
        # a revocation made it fetchable again
        pre = inputs.fingerprint(trace[trace["wave"] < expected["waves"]])
        if pre != expected["trace"]:
            bad.append(f"trace before revocation {pre} != reference "
                       f"{expected['trace']}")
        counts = trace["url"].value_counts()
        twice = set(counts[counts > 1].index) - t["takedown_urls"]
        if twice:
            bad.append(f"{len(twice)} URLs fetched twice without a "
                       f"revocation, e.g. {sorted(twice)[:3]}")
    else:
        for k in ("trace", "seen_total", "fetched_total"):
            if got[k] != expected[k]:
                bad.append(f"{k} {got[k]} != reference {expected[k]}")
    for ref, label in ((pinned, "pinned"), (first, "first crawl")):
        if ref is None:
            continue
        for k in ("trace", "seen_total", "fetched_total"):
            if got[k] != ref[k]:
                bad.append(f"{k} {got[k]} != {label} {ref[k]}")
    return bad


def n_crawls(w, seconds: float) -> int:
    """Timed crawls in a window of ``seconds``: as many as the
    workload's nominal crawl length fits, at least one. The count does
    not depend on how fast the machine happens to run, so neither does
    the work a run measures."""
    return max(1, round(seconds / w.crawl_s))


def window(spark, w, t, seconds: float, work: str, warm: dict,
           tracer=None) -> dict:
    """Crawl :func:`n_crawls` times. Each crawl resumes from the store
    the warm-up crawl ``warm`` left after its prefix.

    Without a tracer, a crawl during which the hypervisor stole more
    than ``MAX_STEAL`` of the machine's CPU time is disturbed: it does
    not count, and the window crawls again, until ``MAX_DISTURBED``
    crawls were disturbed. The end-to-end metrics come from the
    undisturbed crawls (``used``), or from the least disturbed one when
    every crawl was.

    With a tracer the crawls alternate untraced and traced, beginning
    and ending untraced (U T U for one crawl, U T U T U for two), and
    the spans are installed only around the traced ones. Each traced
    crawl then sits between two untraced crawls of the same warm
    process, so the difference between them is the cost of tracing."""
    from perfbench import tracing

    n = n_crawls(w, seconds)
    recs = []
    sc = spark.sparkContext
    with procstat.Sampler() as smp:
        sparkstat.heap_reset(sc)
        while True:
            traced = tracer is not None and len(recs) % 2 == 1
            root = os.path.join(work, f"crawl-{len(recs)}")
            with (tracing.patched(tracer) if traced
                  else contextlib.nullcontext()):
                rec = crawl(spark, w, t, root, tracer if traced else None,
                            resume=warm)
            rec["traced"] = traced
            recs.append(rec)
            if rec["failed"]:
                break
            if tracer is None:
                kept = [r for r in recs if r["steal"] <= MAX_STEAL]
                if (len(kept) >= n
                        or len(recs) - len(kept) >= MAX_DISTURBED):
                    break
            elif len(recs) == 2 * n + 1:
                break
        heap_b = sparkstat.heap_peak_b(sc)
    used = [r for r in recs if r["steal"] <= MAX_STEAL or tracer is not None]
    return {"recs": recs,
            "used": used or [min(recs, key=lambda r: r["steal"])],
            "peak_b": smp.peak_total_b,
            "peak_role_b": dict(smp.peak_b), "heap_peak_b": heap_b}


def verify(spark, w, t, recs: list, expected, pinned) -> tuple[int, int]:
    """Check every crawl of a run; returns (attempted, failed)."""
    attempted = failed = 0
    first = None
    for rec in recs:
        attempted += rec["ops"]
        if rec["failed"]:
            failed += rec["failed"]
            continue
        bad = check(spark, w, t, rec, expected, pinned, first)
        print(f"{w.name}: crawl result {json.dumps(rec['result'])}",
              file=sys.stderr)
        if first is None:
            first = rec["result"]
        if bad:
            print(f"{w.name}: crawl {rec['root']} wrong: " + "; ".join(bad),
                  file=sys.stderr)
            failed += rec["ops"]
    return attempted, failed


def e2e(win: dict) -> dict:
    recs = win["used"]
    urls = sum(r["urls"] for r in recs)
    cpu = sum(sum(r["cpu"].values()) for r in recs)
    waves = [s for r in recs for s in r["timed"]["wave_secs"]]
    per_url = [tree_bytes(r["root"])[0] / max(r["seen_total"], 1)
               for r in recs]
    return {
        "urls_per_s": urls_per_s(recs),
        "wave_s_p50": (statistics.median(waves) if waves
                       else sum(r["wall_s"] for r in recs)),
        "cpu_ms_per_url": cpu / max(urls, 1) * 1e3,
        "store_bytes_per_url": statistics.median(per_url),
        "peak_rss_mb": win["peak_b"] / 2**20,
    }


def urls_per_s(recs: list) -> float:
    return (sum(r["urls"] for r in recs)
            / max(sum(r["wall_s"] for r in recs), 1e-9))


def drop_stores(recs: list) -> None:
    for r in recs:
        shutil.rmtree(r["root"], ignore_errors=True)


# ---------------------------------------------------------------- layers
def per_layer(spark, w, t, win, tracer, seed: int) -> dict:
    """Per-layer metrics of a traced window (see :func:`window`): spans,
    status-store and ``/proc`` figures of its traced crawls, then the
    operator replay and the kernels."""
    from perfbench import tracing
    from perfbench.kernels import kernels
    from perfbench.replay import replay

    med = statistics.median
    recs = [r for r in win["recs"] if r["traced"]]
    untraced_ups = urls_per_s([r for r in win["recs"] if not r["traced"]])
    traced_ups = urls_per_s(recs)
    urls = sum(r["urls"] for r in recs)
    waves = [x for r in recs for x in r["timed"]["wave_secs"]]
    m = {
        "trace.untraced_urls_per_s": untraced_ups,
        "trace.traced_urls_per_s": traced_ups,
        "trace.overhead_pct": (untraced_ups / traced_ups - 1) * 100,
    }
    end = max(r["span"][1] for r in recs)

    def timed(sp):
        return any(lo <= sp["t0"] <= hi for lo, hi in
                   (r["span"] for r in recs))

    spans = [sp for sp in tracer.self_times() if timed(sp)]
    wave_dur = [sp["dur"] for sp in spans if sp["name"] == "run_wave"]
    m["crawl.run_wave_s"] = med(
        [sp["self"] for sp in spans if sp["name"] == "run_wave"])
    m["crawl.output_s"] = med(
        [sp["self"] for sp in spans if sp["name"] == "finish_outputs"])
    m["crawl.output_wait_s"] = med(
        [ws - d for ws, d in zip(waves, wave_dur)])
    for ph in ("budget_select", "fetch_validate", "state_chain"):
        m[f"crawl.span.{ph}_s"] = med(
            [sp[ph] for r in recs for sp in r["timed"]["wave_spans"]])
    stats = {k: sum(r["spark"][k] for r in recs) for k in recs[0]["spark"]}
    for k in ("jobs", "stages", "tasks"):
        m[f"crawl.{k}_per_wave"] = stats[k] / len(waves)
    m["spark.executor_cpu_ms_per_url"] = stats["cpu_ms"] / urls
    m["spark.executor_run_ms_per_url"] = stats["run_ms"] / urls
    m["spark.gc_ms_per_url"] = stats["gc_ms"] / urls
    m["spark.shuffle_read_bytes_per_url"] = stats["shuffle_read_b"] / urls
    m["spark.shuffle_write_bytes_per_url"] = stats["shuffle_write_b"] / urls
    m["spark.output_bytes_per_url"] = stats["output_b"] / urls
    for role in ("driver", "jvm", "pyworker"):
        cpu = sum(r["cpu"][role] for r in recs)
        m[f"proc.{role}_cpu_ms_per_url"] = cpu / urls * 1e3
    m["proc.jvm_rss_peak_mb"] = win["peak_role_b"]["jvm"] / 2**20
    m["proc.pyworker_rss_peak_mb"] = win["peak_role_b"]["pyworker"] / 2**20
    m["spark.jvm_old_gen_peak_mb"] = win["heap_peak_b"] / 2**20

    last = recs[-1]
    cfg = crawl_config(w, 0)
    tables = {"trace": "trace", "seen": "seen", "frontier": "frontier",
              getattr(cfg, "seen_filter", "bloom"): "filter"}
    n_waves = len(last["pre"]["wave_secs"]) + len(last["timed"]["wave_secs"])
    for table, label in tables.items():
        size, files = tree_bytes(os.path.join(last["root"], table))
        m[f"tableio.bytes.{label}"] = size / max(last["seen_total"], 1)
        m[f"tableio.files.{label}"] = files / n_waves

    with tracing.patched(tracer):
        m.update(replay(spark, w, t, last["store"], cfg, tracer))
    # store calls of the timed crawls plus the replay's maintenance round
    spans = [sp for sp in tracer.self_times() if timed(sp) or sp["t0"] > end]

    def dur(name):
        return med([sp["dur"] for sp in spans if sp["name"] == name])

    for table, label in tables.items():
        m[f"tableio.write_s.{label}"] = dur(f"tableio.write.{table}")
    m["tableio.commit_s"] = dur("tableio.commit")
    m["tableio.compact_s"] = dur("tableio.compact")
    m["tableio.expire_s"] = dur("tableio.expire")
    m["crawl.revoke_s"] = dur("revoke")
    m.update(kernels(w.graph, seed))
    write_spans(w, seed, tracer.self_times())
    return m


def write_spans(w, seed: int, spans: list) -> None:
    """The traced run's spans, written once at the end of the run."""
    os.makedirs(OUT, exist_ok=True)
    path = os.path.join(OUT, f"{w.name}-seed{seed}-spans.json")
    with open(path, "w") as f:
        json.dump(spans, f)


# ------------------------------------------------------------------- main
def measure(w, seed: int, seconds: float, traced: bool, work: str,
            pinned: dict | None) -> dict:
    from perfbench import tracing

    seed_dir, expected = inputs.seed_dir(w, seed)
    t0 = time.perf_counter()
    spark = start_spark(work, w.slots)
    try:
        session_s = time.perf_counter() - t0
        t1 = time.perf_counter()
        t = load_inputs(spark, w, seed_dir)
        load_s = time.perf_counter() - t1
        # the warm-up, untimed: the schedule's prefix, and in a traced
        # run its steps too where the workload asks for it
        whole = traced and w.warm_traced
        t2 = time.perf_counter()
        warm = crawl(spark, w if whole else replace(w, steps=()), t,
                     os.path.join(work, "warm-up"),
                     save_prefix=os.path.join(work, "prefix"))
        warm_s = time.perf_counter() - t2
        tracer = tracing.Tracer() if traced else None
        win = window(spark, w, t, seconds, work, warm, tracer)
        # a prefix-only warm-up is not a whole crawl to check; if it
        # failed, every timed crawl fails with it
        recs = ([warm] if whole else []) + win["recs"]
        attempted, failed = verify(spark, w, t, recs, expected, pinned)
        if traced:
            metrics = per_layer(spark, w, t, win, tracer, seed)
        else:
            metrics = e2e(win)
            metrics["setup_s"] = session_s + load_s + warm_s
        walls = ", ".join(
            f"{r['wall_s']:.2f}s (waves "
            + " ".join(f"{x:.2f}" for x in r["timed"]["wave_secs"])
            + f"; steal {r['steal']:.1%}"
            + ("" if any(r is u for u in win["used"]) else "; not used")
            + ")"
            for r in win["recs"])
        peaks = " ".join(f"{r} {b / 2**20:.0f}MB"
                         for r, b in win["peak_role_b"].items())
        print(f"{w.name}: session {session_s:.2f}s load {load_s:.2f}s "
              f"warm-up {warm_s:.2f}s, {len(win['recs'])} timed crawl(s) "
              f"of {walls}; "
              f"peak RSS {peaks}; JVM old-gen peak "
              f"{win['heap_peak_b'] / 2**20:.0f}MB", file=sys.stderr)
        drop_stores(recs)
        return {"correct": failed == 0, "attempted": attempted,
                "failed": failed, "metrics": metrics}
    finally:
        stop_spark(spark)


def load_pins(name: str, seed: int) -> dict | None:
    with open(PINS) as f:
        pins = json.load(f)
    return pins.get(name, {}).get(str(seed))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny: a small graph for the smoke test")
    args = ap.parse_args(argv)

    # a SIGTERM unwinds like an error, so the JVM and its workers are
    # still stopped and the run's work directory removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    w = WORKLOADS[args.workload]
    pinned = load_pins(w.name, args.seed) if args.size == "full" else None
    if args.size == "tiny":
        w = tiny(w)
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    isolate(work)
    try:
        result = measure(w, args.seed, args.seconds, bool(args.trace), work,
                         pinned)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run is using it
    units = LAYER if args.trace else E2E
    result["metrics"] = {k: {"value": result["metrics"][k], "unit": u}
                         for k, u in units.items()}
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
