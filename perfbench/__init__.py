"""Extraction-pipeline benchmark: seeded workloads, end-to-end metrics and a
traced per-layer split. Entry point: ``python3 perfbench/run.py --help``."""
