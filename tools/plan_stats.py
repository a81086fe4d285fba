#!/usr/bin/env python
"""Plan-shape statistics over every registered query (r11 optimization
round): counts Exchanges, parquet scans, python eval nodes, joins by
strategy, and single-partition exchanges, and flags suspicious shapes.

Usage: python tools/plan_stats.py [sf_dir] > plan_stats.tsv
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from multisql_spark.plans import formatted_plan
    from multisql_spark.queries import load_all
    from multisql_spark.tables import local_session

    spark = local_session("plan_stats")

    rows = []
    for name, spec in load_all().items():
        if name.startswith("stream_"):
            continue
        try:
            plan = formatted_plan(spec.fn(spark, sf_dir))
        except Exception as exc:
            rows.append((name, -1, -1, -1, -1, -1, f"ERROR {str(exc)[:80]}"))
            continue
        nex = len(re.findall(r"\(\d+\) Exchange", plan))
        nscan = len(re.findall(r"\(\d+\) Scan parquet", plan))
        npy = len(
            re.findall(r"BatchEvalPython|ArrowEvalPython|MapInPandas", plan)
        )
        nbatch = len(re.findall(r"BatchEvalPython", plan))
        nsp = len(re.findall(r"SinglePartition", plan))
        ncart = len(re.findall(r"CartesianProduct", plan))
        flags = []
        if nbatch:
            flags.append("ROW_UDF")
        if ncart:
            flags.append("CARTESIAN")
        if nex >= 12:
            flags.append("MANY_EXCHANGES")
        if nscan >= 6:
            flags.append("MANY_SCANS")
        rows.append((name, nex, nscan, npy, nsp, ncart, ",".join(flags)))
    print("name\texchanges\tscans\tpy_nodes\tsingle_part\tcartesian\tflags")
    for r in rows:
        print("\t".join(str(x) for x in r))
    spark.stop()


if __name__ == "__main__":
    main()
