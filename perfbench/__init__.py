"""Repository benchmark for gipspark.

Run one workload with::

    python3 perfbench/run.py --workload checkpointed_tiling --seed 1 --seconds 5 --trace 0

See ``perfbench/README.md`` for the workloads, the metrics and how the
traced run attributes a pass to its layers.
"""
