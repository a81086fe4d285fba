#!/usr/bin/env python
"""Fresh-plan noop timing of registered queries.

Usage: python tools/registry_sweep.py <sf_dir> <out.tsv> [name ...] [--n N]
For each named query (default: the whole registry): N fresh-plan noop
runs (queryExecution().toRdd().count() on a freshly built DataFrame —
the engine-side cost, no driver materialization), min and median
printed per query and written as TSV sorted by min desc.
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from multisql_spark.queries import load_all
    from multisql_spark.tables import local_session

    registry = load_all()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[1])
    ap.add_argument("sf_dir")
    ap.add_argument("out")
    ap.add_argument("names", nargs="*", metavar="name")
    ap.add_argument("--n", type=int, default=2)
    args = ap.parse_intermixed_args()
    unknown = sorted(set(args.names) - set(registry))
    if unknown:
        ap.error(f"not registered: {', '.join(unknown)}")
    sf_dir, n = args.sf_dir, args.n
    spark = local_session("registry_sweep")
    rows = []
    for name in args.names or sorted(registry):
        times = []
        err = ""
        for _ in range(n):
            try:
                # fresh DataFrame per run: re-executing the SAME df reuses
                # its shuffle map outputs and times only the final stage —
                # a fresh plan recomputes everything (page-cache warm)
                df = registry[name].fn(spark, sf_dir)
                t0 = time.perf_counter()
                df._jdf.queryExecution().toRdd().count()
                times.append(time.perf_counter() - t0)
            except Exception as e:  # noqa: BLE001
                err = str(e).splitlines()[0][:120]
                break
        if times:
            mn, md = min(times), statistics.median(times)
        else:
            mn = md = float("inf")
        rows.append((mn, md, name, err))
        print(f"{name}\tmin={mn:.3f}s\tmed={md:.3f}s\t{err}", flush=True)
    rows.sort(reverse=True)
    with open(args.out, "w") as f:
        f.write("name\tmin_s\tmed_s\terr\n")
        for mn, md, name, err in rows:
            f.write(f"{name}\t{mn:.3f}\t{md:.3f}\t{err}\n")
    spark.stop()


if __name__ == "__main__":
    main()
