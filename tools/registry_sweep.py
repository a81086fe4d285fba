#!/usr/bin/env python
"""Full-registry fresh-plan noop timing sweep (r12 triage aid).

Usage: python tools/registry_sweep.py <sf_dir> <out.tsv> [--n N]
For every registered query: N fresh-plan noop runs
(queryExecution().toRdd().count() on a freshly built DataFrame), min
and median written as TSV sorted by min desc.  Same methodology as
tools/time_noop.py, over the whole registry.
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
    ap.add_argument("out")
    ap.add_argument("--n", type=int, default=2)
    args = ap.parse_args()
    sf_dir, out, n = args.sf_dir, args.out, args.n
    os.environ["SPARK_GRAFT_SF_DIR"] = sf_dir
    bench.SF_DIR = sf_dir
    spark = bench.build_session()
    spark.sparkContext.setLogLevel("ERROR")
    from multisql_spark.queries import load_all

    registry = load_all()
    rows = []
    for name in sorted(registry):
        times = []
        err = ""
        for _ in range(n):
            try:
                df = registry[name].fn(spark, sf_dir)
                t0 = time.perf_counter()
                df._jdf.queryExecution().toRdd().count()
                times.append(time.perf_counter() - t0)
            except Exception as e:  # noqa: BLE001
                err = str(e).splitlines()[0][:120]
                break
        if times:
            rows.append((min(times), statistics.median(times), name, err))
        else:
            rows.append((float("inf"), float("inf"), name, err))
        print(f"{name}\t{min(times) if times else 'ERR'}", flush=True)
    rows.sort(reverse=True)
    with open(out, "w") as f:
        f.write("name\tmin_s\tmed_s\terr\n")
        for mn, md, name, err in rows:
            f.write(f"{name}\t{mn:.3f}\t{md:.3f}\t{err}\n")
    spark.stop()


if __name__ == "__main__":
    main()
