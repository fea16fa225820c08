"""Benchmark for the MQ stream path and the registered query panel.

Run from the repository root: ``python3 perfbench/run.py --workload mq_drain
--seed 1 --seconds 20 --trace 0``. See ``perfbench/README.md``.
"""
