"""onionwave crawl benchmark: seeded workloads, end-to-end crawl metrics,
and a traced run that splits them by layer.

Run one measurement from the repository root::

    python3 perfbench/run.py --workload synth-256px --seed 1 --seconds 16 --trace 0

See ``perfbench/DESIGN.md`` for the workloads, the metrics and the
layer-to-metric predictions.
"""
