"""Closed-loop benchmark of the lakehouse engine's registered queries.

Run one workload with ``python3 perfbench/run.py --workload serve --seed 1
--seconds 20 --trace 0`` from the repository root; see README.md.
"""
