"""Repository benchmark: interactive CP refinement and the non-CP
operator mix, with per-layer Spark counters.

Entry point: ``python3 perfbench/run.py --workload NAME --seed N
--seconds S --trace 0|1`` from the repository root.
"""
