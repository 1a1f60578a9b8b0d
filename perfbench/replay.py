"""Operator replay: each crawl operator run alone on a finished crawl's state.

Inside a wave the operators run lazily in one plan, so a span around a
call only times plan construction. The replay instead takes the state
the last committed wave left (frontier, seen set, filter) and runs the
wave's operators one at a time, each on pinned inputs and forced with a
``noop`` sink, so each figure is that operator's own execution.
Operators run with their own defaults (partition widths included), not
the wave loop's data-sized settings.

It ends with one round of store maintenance on the same state —
compaction, snapshot expiry and a forget revocation — timed through the
tracer like the in-crawl calls. The state is read through
``SnapshotStore`` alone, like any reader of a finished crawl.
"""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from torscrapper_spark.operators import fetch, links, politeness
from torscrapper_spark.operators import seen as seen_ops
from torscrapper_spark.operators.seq import with_global_seq
from torscrapper_spark.plans import crawl as C


def pin(df):
    df = df.persist()
    return df, df.count()


def _noop_s(df) -> float:
    t = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t


def _filter_ops(cfg):
    """(table name, probe, update) of the configured seen filter."""
    if getattr(cfg, "seen_filter", "bloom") == "cuckoo":
        from torscrapper_spark.operators import cuckoo

        return "cuckoo", cuckoo.probe_cuckoo, cuckoo.update_cuckoo
    return "bloom", seen_ops.probe_bloom, seen_ops.update_bloom


def _frontier(spark, store, cfg, wave):
    """The live frontier at ``wave``: the snapshot, or — for a delta
    frontier — the chain's inserted rows less the keys a tombstone
    removed."""
    if getattr(cfg, "frontier_mode", "full") != "delta":
        return store.read(spark, "frontier", wave)
    chain = store.read_upto(spark, "frontier", wave)
    tombs = chain.filter(F.col("tombstone")).select("url_hash")
    return (chain.filter(~F.col("tombstone"))
            .join(F.broadcast(tombs), "url_hash", "left_anti")
            .drop("tombstone"))


def replay(spark, w, tables, store, cfg, tracer) -> dict:
    """Per-row operator costs and useful-outcome ratios (see module doc)."""
    out: dict[str, float] = {}

    last = store.last_wave()
    shards = cfg.bloom_shards
    ftable, probe_fn, update_fn = _filter_ops(cfg)
    pol, robots = tables["politeness"], tables["robots"]

    frontier, n_front = pin(_frontier(spark, store, cfg, last))
    sel_df = politeness.budget_select(frontier, pol, cfg.default_budget)
    out["politeness.budget_select_us_per_row"] = (
        _noop_s(sel_df) / n_front * 1e6)
    selected, n_sel = pin(sel_df)

    width = spark.sparkContext.defaultParallelism * 8
    synth = fetch.synthetic_fetch_validate(
        selected.repartition(width, "url_hash"), w.graph)
    out["fetch.synthetic_fetch_validate_ms_per_url"] = (
        _noop_s(synth) / n_sel * 1e3)

    if w.store_join:
        pages = tables["pagestore"]
    else:
        # a page table of exactly this wave's pages, so the join path can
        # be timed on a workload that never materializes one
        pages, _ = pin(
            fetch.synthetic_fetch(selected, w.graph)
            .filter(F.col("status") == 200)
            .select(*C.PAGESTORE_COLS)
        )
    joined = fetch.decode_validate(fetch.fetch_join(selected, pages))
    out["fetch.fetch_join_validate_ms_per_url"] = (
        _noop_s(joined) / n_sel * 1e3)
    validated, n_val = pin(joined)
    counts = validated.agg(
        F.sum((F.col("status") == 200).cast("long")).alias("ok"),
        F.sum(F.col("valid").cast("long")).alias("valid"),
    ).first()
    n_ok = int(counts["ok"] or 0)
    out["fetch.ok_ratio"] = n_ok / max(n_val, 1)
    out["fetch.valid_ratio"] = int(counts["valid"] or 0) / max(n_ok, 1)

    cand_df = links.extract_candidates(
        validated.filter(F.col("status") == 200), next_wave=last + 1)
    out["links.extract_candidates_us_per_page"] = (
        _noop_s(cand_df) / max(n_ok, 1) * 1e6)
    cand, n_cand = pin(cand_df)

    seen = store.read_upto(spark, "seen", last)
    flt = store.read(spark, ftable, last)
    t = time.perf_counter()
    new_df, probed = seen_ops.new_candidates(
        cand, seen, flt, shards, use_bloom=True, probe_fn=probe_fn)
    t = time.perf_counter() - t + _noop_s(new_df)
    out["seen.new_candidates_us_per_candidate"] = t / max(n_cand, 1) * 1e6
    n_pos = probed.filter(F.col("maybe_seen")).count()
    new, n_new = pin(new_df)
    out["seen.filter_positive_ratio"] = n_pos / max(n_cand, 1)
    # positives that are not duplicates, over the candidates that are new
    out["seen.false_positive_ratio"] = (
        (n_pos - (n_cand - n_new)) / max(n_new, 1))
    out["seen.update_filter_us_per_key"] = (
        _noop_s(update_fn(flt, new, shards)) / max(n_new, 1) * 1e6)
    out["politeness.robots_gate_us_per_row"] = (
        _noop_s(politeness.robots_gate(new, robots)) / max(n_new, 1) * 1e6)

    base = validated.select("url", "url_hash", "depth", "discovered_wave",
                            "status")
    t = time.perf_counter()
    seq = with_global_seq(base, politeness.PRIORITY_COLS)
    t = time.perf_counter() - t + _noop_s(seq)
    out["seq.with_global_seq_us_per_row"] = t / max(n_val, 1) * 1e6

    # maintenance on the same state, recorded as tracer spans
    takedown = (
        store.read_outputs(spark, "trace")
        .filter(F.col("wave") == F.lit(last - 1))
        .orderBy("seq").limit(50).select("url")
    )
    store.compact(spark, "seen", last, width=1)
    store.expire_state_snapshots([ftable], 2)
    with tracer.span("revoke", store.last_wave()):
        C.revoke_urls(spark, store, takedown, cfg)
    # drops what the replay pinned, with_global_seq's own cache among it,
    # and the run's pinned inputs: nothing after the replay uses Spark
    spark.catalog.clearCache()
    return out
