"""Builds the benchmark's bootstrap warehouse into the cache directory.

    python3 perfbench/bootstrap.py .perfbench_work/cache

``run.py`` calls it, in a process of its own, when the checkout has no
bootstrap warehouse for the current package sources yet; the build and
its oracle check then stay out of every measured process.
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    sys.path.insert(0, ROOT)
    from perfbench import workloads
    from perfbench.run import start_spark, stop_spark

    spark = start_spark(len(os.sched_getaffinity(0)))
    try:
        workloads.build_base_warehouse(spark, ROOT, sys.argv[1])
    finally:
        stop_spark(spark)
    return 0


if __name__ == "__main__":
    sys.exit(main())
