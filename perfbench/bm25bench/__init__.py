"""sparkbm25 benchmark: seeded closed-loop workloads driven through the
engine's public functions, with an optional traced run for per-layer
metrics. Entry point: ``python3 perfbench/run.py``."""
