"""Spans around calls into the crawl's layers, recorded from outside.

The traced run wraps ``plans.crawl.run_wave`` (and the ``finish_outputs``
it returns) and the methods of ``sources.tableio.SnapshotStore`` for the
length of the traced window.
No engine code changes: :func:`patched` swaps the attributes in and
restores them on exit.

Spans are kept in memory. Each has a name, a key (the wave it belongs
to), start, end and a parent: the span open on the same thread, or —
for the state writes the wave loop issues from helper threads — the
``run_wave`` span of the wave that produces them. A span's self time is
its duration minus the part of it its children cover.
"""

from __future__ import annotations

import contextlib
import functools
import threading
import time


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._open_wave: dict | None = None

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, key=None):
        stack = self._stack()
        if stack:
            parent = stack[-1]
        else:
            # the wave loop writes wave w's state (version w+1) from
            # helper threads while run_wave(w) is open
            ow = self._open_wave
            parent = ow if (ow and name.startswith("tableio.write.")
                            and key == ow["key"] + 1) else None
        sp = {"id": None, "name": name, "key": key,
              "parent": parent["id"] if parent else None,
              "t0": time.perf_counter(), "t1": None}
        with self._lock:
            sp["id"] = len(self.spans)
            self.spans.append(sp)
        stack.append(sp)
        if name == "run_wave":
            self._open_wave = sp
        try:
            yield sp
        finally:
            sp["t1"] = time.perf_counter()
            stack.pop()
            if self._open_wave is sp:
                self._open_wave = None

    def self_times(self) -> list[dict]:
        """Every finished span with ``dur`` and ``self`` seconds."""
        kids: dict[int, list[dict]] = {}
        for sp in self.spans:
            if sp["parent"] is not None and sp["t1"] is not None:
                kids.setdefault(sp["parent"], []).append(sp)
        out = []
        for sp in self.spans:
            if sp["t1"] is None:
                continue
            covered, end = 0.0, sp["t0"]
            for c in sorted(kids.get(sp["id"], ()), key=lambda c: c["t0"]):
                lo, hi = max(c["t0"], end), min(c["t1"], sp["t1"])
                if hi > lo:
                    covered += hi - lo
                    end = hi
            dur = sp["t1"] - sp["t0"]
            out.append(dict(sp, dur=dur, self=dur - covered))
        return out


def _wrap(tracer: Tracer, fn, name_of):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        name, key = name_of(*args, **kwargs)
        with tracer.span(name, key):
            return fn(*args, **kwargs)
    return wrapper


@contextlib.contextmanager
def patched(tracer: Tracer):
    """Install the span wrappers for the duration of the block."""
    from torscrapper_spark.plans import crawl as C
    from torscrapper_spark.sources.tableio import SnapshotStore

    saved = []

    def swap(owner, attr, new):
        saved.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    run_wave = C.run_wave

    def traced_run_wave(spark, store, pagestore, robots, politeness, cfg,
                        wave, *args, **kwargs):
        with tracer.span("run_wave", wave):
            info, finish = run_wave(spark, store, pagestore, robots,
                                    politeness, cfg, wave, *args, **kwargs)

        def traced_finish():
            with tracer.span("finish_outputs", wave):
                return finish()
        return info, traced_finish

    swap(C, "run_wave", traced_run_wave)
    for meth, name in (("write", "write"), ("commit", "commit"),
                       ("compact", "compact"),
                       ("expire_state_snapshots", "expire")):
        fn = getattr(SnapshotStore, meth)
        if meth == "write":
            def name_of(self, df, table, wave, *a, **k):
                return f"tableio.write.{table}", wave
        elif meth == "commit":
            def name_of(self, wave, *a, **k):
                return "tableio.commit", wave
        else:
            def name_of(self, *a, _n=name, **k):
                return f"tableio.{_n}", None
        swap(SnapshotStore, meth, _wrap(tracer, fn, name_of))
    try:
        yield tracer
    finally:
        for owner, attr, old in reversed(saved):
            setattr(owner, attr, old)
