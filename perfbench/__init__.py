"""The repository benchmark: seeded JSON corpora, four workloads, end-to-end
and per-layer metrics. Run ``python3 perfbench/run.py --help`` from the
repository root; ``perfbench/README.md`` describes the metrics."""
