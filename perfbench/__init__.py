"""Steady-state benchmark for the extraction pipeline and near-dup dedup.

Run ``python3 perfbench/run.py --workload crawl_mix --seed 42 --seconds 15
--trace 0`` from the repository root; see ``perfbench/README.md``.
"""
