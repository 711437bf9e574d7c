"""tokencoder benchmark: seeded workloads, end-to-end metrics and a
per-layer ledger.  Run ``python3 perfbench/run.py --help``."""
