"""Names and units of every metric the benchmark prints.

``BENCHMARK.json`` lists the same names; the smoke test checks that the
two agree and that a run prints each one with its unit.
"""

# end-to-end metrics, printed with --trace 0
E2E = {
    "urls_per_s": "URLs/s",
    "wave_s_p50": "s",
    "cpu_ms_per_url": "ms",
    "store_bytes_per_url": "B",
    "peak_rss_mb": "MB",
    "setup_s": "s",
}

# per-layer metrics, printed with --trace 1
LAYER = {
    # plans.crawl
    "crawl.run_wave_s": "s",
    "crawl.output_s": "s",
    "crawl.output_wait_s": "s",
    "crawl.span.budget_select_s": "s",
    "crawl.span.fetch_validate_s": "s",
    "crawl.span.state_chain_s": "s",
    "crawl.jobs_per_wave": "count",
    "crawl.stages_per_wave": "count",
    "crawl.tasks_per_wave": "count",
    "crawl.revoke_s": "s",
    # Spark runtime, from the JVM status store
    "spark.executor_cpu_ms_per_url": "ms",
    "spark.executor_run_ms_per_url": "ms",
    "spark.gc_ms_per_url": "ms",
    "spark.shuffle_read_bytes_per_url": "B",
    "spark.shuffle_write_bytes_per_url": "B",
    "spark.output_bytes_per_url": "B",
    "spark.jvm_old_gen_peak_mb": "MB",
    # processes, from /proc
    "proc.driver_cpu_ms_per_url": "ms",
    "proc.jvm_cpu_ms_per_url": "ms",
    "proc.pyworker_cpu_ms_per_url": "ms",
    "proc.jvm_rss_peak_mb": "MB",
    "proc.pyworker_rss_peak_mb": "MB",
    # sources.tableio
    "tableio.write_s.trace": "s",
    "tableio.write_s.seen": "s",
    "tableio.write_s.frontier": "s",
    "tableio.write_s.filter": "s",
    "tableio.commit_s": "s",
    "tableio.compact_s": "s",
    "tableio.expire_s": "s",
    "tableio.bytes.trace": "B",
    "tableio.bytes.seen": "B",
    "tableio.bytes.frontier": "B",
    "tableio.bytes.filter": "B",
    "tableio.files.trace": "files/wave",
    "tableio.files.seen": "files/wave",
    "tableio.files.frontier": "files/wave",
    "tableio.files.filter": "files/wave",
    # operators, replayed one at a time
    "politeness.budget_select_us_per_row": "us",
    "politeness.robots_gate_us_per_row": "us",
    "fetch.synthetic_fetch_validate_ms_per_url": "ms",
    "fetch.fetch_join_validate_ms_per_url": "ms",
    "fetch.ok_ratio": "ratio",
    "fetch.valid_ratio": "ratio",
    "links.extract_candidates_us_per_page": "us",
    "seen.new_candidates_us_per_candidate": "us",
    "seen.update_filter_us_per_key": "us",
    "seen.filter_positive_ratio": "ratio",
    "seen.false_positive_ratio": "ratio",
    "seq.with_global_seq_us_per_row": "us",
    # kernels, single process
    "fixtures.generate_page_ms": "ms",
    "codecs.decode_ms": "ms",
    "codecs.psnr_ms": "ms",
    "codecs.avg_phash_ms": "ms",
    "codecs.encode_ms": "ms",
    "urls.extract_links_us_per_page": "us",
    "urls.canonicalize_us_per_url": "us",
    # tracing cost
    "trace.untraced_urls_per_s": "URLs/s",
    "trace.traced_urls_per_s": "URLs/s",
    "trace.overhead_pct": "%",
}
