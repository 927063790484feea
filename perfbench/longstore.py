"""Build the sync_serve workload's pristine long store into a directory.

    python3 perfbench/longstore.py <out-dir>

Run from the root of a checkout; ``perfbench.workloads.cached_long_store``
runs it once per checkout, in its own process.
"""

from __future__ import annotations

import os
import shutil
import sys


def main(argv) -> int:
    out = os.path.abspath(argv[1])
    sys.path.insert(0, os.getcwd())
    from perfbench.run import start_session, stop_session
    from perfbench.workloads import build_long_store

    work = out + ".work"
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    spark = start_session(work, "perfbench-long-store", trace=False)
    try:
        build_long_store(spark, out)
    finally:
        stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
