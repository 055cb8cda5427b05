"""warcit-spark benchmark: seeded workloads, correctness checks, metrics.

Run ``python3 perfbench/run.py --workload <name> --seed <n> --seconds <s>
--trace <0|1>``; see perfbench/README.md for the workloads and the metric
-> layer -> workload map.
"""
