"""The repository benchmark: one command, one workload per process.

``python3 perfbench/run.py --workload <name> --seed <n> --seconds <s>
--trace <0|1>``; see perfbench/README.md.
"""
