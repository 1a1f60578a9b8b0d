"""Spark runtime counters read from the JVM status store.

Reading the store launches no Spark job. ``spark.ui.enabled=false``
still keeps the status store; the session raises its retention limits
so every stage of a run is kept (see ``run.start_spark``).
"""

from __future__ import annotations

FIELDS = ("cpu_ms", "run_ms", "gc_ms", "shuffle_read_b", "shuffle_write_b",
          "output_b")


def _status_store(sc):
    return sc._jsc.sc().statusStore()


def drain(sc) -> None:
    """Wait until the listener bus has delivered every finished event."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()


def mark(sc) -> tuple[int, int]:
    """(highest job id, highest stage id) seen so far."""
    drain(sc)
    store = _status_store(sc)
    jobs = store.jobsList(None)
    stages = store.stageList(None, False, False,
                             sc._gateway.new_array(sc._gateway.jvm.double, 0),
                             None)
    j = max((jobs.apply(i).jobId() for i in range(jobs.size())), default=-1)
    s = max((stages.apply(i).stageId() for i in range(stages.size())),
            default=-1)
    return j, s


def zero() -> dict:
    return dict.fromkeys(FIELDS + ("jobs", "stages", "tasks"), 0)


def since(sc, start: tuple[int, int]) -> dict:
    """Job, stage and task counts and summed stage metrics for every job
    and stage after ``start`` (a :func:`mark`). Skipped stages (their
    shuffle output was reused) count as neither stages nor tasks."""
    drain(sc)
    store = _status_store(sc)
    jobs = store.jobsList(None)
    n_jobs = sum(1 for i in range(jobs.size())
                 if jobs.apply(i).jobId() > start[0])
    stages = store.stageList(None, False, False,
                             sc._gateway.new_array(sc._gateway.jvm.double, 0),
                             None)
    out = zero()
    out["jobs"] = n_jobs
    for i in range(stages.size()):
        st = stages.apply(i)
        if st.stageId() <= start[1] or str(st.status()) == "SKIPPED":
            continue
        out["stages"] += 1
        out["tasks"] += st.numTasks()
        out["cpu_ms"] += st.executorCpuTime() / 1e6
        out["run_ms"] += st.executorRunTime()
        out["gc_ms"] += st.jvmGcTime()
        out["shuffle_read_b"] += st.shuffleReadBytes()
        out["shuffle_write_b"] += st.shuffleWriteBytes()
        out["output_b"] += st.outputBytes()
    return out


def _old_gen_pools(sc):
    """The JVM's old-generation heap pools: the young pools fill to their
    size between collections whatever the run keeps live, so only the
    old generation's peak follows the data the run retains."""
    mgmt = sc._gateway.jvm.java.lang.management.ManagementFactory
    pools = mgmt.getMemoryPoolMXBeans()
    return [p for p in (pools.get(i) for i in range(pools.size()))
            if str(p.getType()) == "Heap memory"
            and ("Old" in p.getName() or "Tenured" in p.getName())]


def heap_reset(sc) -> None:
    """Restart the peak-usage count of the old-generation heap pools."""
    for pool in _old_gen_pools(sc):
        pool.resetPeakUsage()


def heap_peak_b(sc) -> int:
    """Peak bytes in use in the old-generation heap pools since
    :func:`heap_reset`."""
    return sum(pool.getPeakUsage().getUsed() for pool in _old_gen_pools(sc))
