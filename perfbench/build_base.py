"""Build the tail workload's seed-free starting state in a JVM of its own.

Usage: ``python3 perfbench/build_base.py OUT_DIR TABLE_DIR``

``scenarios._tail_base_dir`` runs this when its per-checkout cache is
empty. Building in the measuring JVM would warm the store and apply code
paths and make that run's calls faster than every later run's.
"""

from __future__ import annotations

import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import scenarios  # noqa: E402
from run import _session, _stop  # noqa: E402


def main(out: str, table_dir: str) -> None:
    work = f"{out}.work"
    os.makedirs(os.path.join(work, "tmp"))
    spark = _session(work, traced=False)
    try:
        scenarios._build_tail_base(spark, out, table_dir)
    finally:
        _stop(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main(*sys.argv[1:3])
