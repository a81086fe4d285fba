#!/usr/bin/env python
"""Warm noop timing for named registry queries (r11 measurement aid).

Usage: python tools/time_noop.py <sf_dir> <name...> [--n N]
Prints min/median of N warm runs of queryExecution().toRdd().count()
per query — the engine-side cost, no driver materialization.
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[1])
    ap.add_argument("sf_dir")
    ap.add_argument("names", nargs="+")
    ap.add_argument("--n", type=int, default=5)
    args = ap.parse_args()
    sf_dir, names, n = args.sf_dir, args.names, args.n
    os.environ["SPARK_GRAFT_SF_DIR"] = sf_dir
    bench.SF_DIR = sf_dir
    spark = bench.build_session()
    spark.sparkContext.setLogLevel("ERROR")
    from multisql_spark.queries import load_all

    registry = load_all()
    for name in names:
        times = []
        for _ in range(n):
            # fresh DataFrame per run: re-executing the SAME df reuses
            # its shuffle map outputs and times only the final stage —
            # a fresh plan recomputes everything (page-cache warm)
            df = registry[name].fn(spark, sf_dir)
            t0 = time.perf_counter()
            df._jdf.queryExecution().toRdd().count()
            times.append(time.perf_counter() - t0)
        print(
            f"{name}: min={min(times):.3f}s "
            f"med={statistics.median(times):.3f}s (n={n})"
        )
    spark.stop()


if __name__ == "__main__":
    main()
