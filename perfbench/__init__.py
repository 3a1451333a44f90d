"""Repository benchmark: seeded workloads, output checks and an optional
per-layer trace. Run ``python3 perfbench/run.py --help``; see README.md."""
