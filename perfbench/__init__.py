"""CDC ingest benchmark: workloads, outside-in tracing and oracles.

Run ``python3 perfbench/run.py --help``; see ``perfbench/README.md``.
"""
