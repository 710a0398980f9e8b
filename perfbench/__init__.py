"""sketchlib benchmark: seeded inputs, three workloads, correctness gate,
untraced end-to-end metrics and traced per-layer metrics.

Run ``python3 perfbench/run.py --workload <name> --seed <n> --seconds <s>
--trace <0|1>`` from the repository root; see perfbench/README.md.
"""
