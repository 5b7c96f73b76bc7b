"""Benchmark of the transcript dedup pipeline; run ``perfbench/run.py``."""

#: the benchmark's workloads (see perfbench/workloads.py)
WORKLOADS = ("batch-planted", "batch-hot-band")
