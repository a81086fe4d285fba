"""Run the benchmark over several seeds and report each metric's spread.

Usage (from the repository root):

    python3 perfbench/spread.py --workload ref_bench --seeds 1-10 --seconds 8 --trace 0

For every metric it prints the median over the runs and the distance
between the first and third quartile (``statistics.quantiles(n=4)``) as a
share of the median, next to the metric's bound from ``BENCHMARK.json``;
a spread at or above its bound, or above a third of it, is flagged.
Runs go one after another, each in its own process; raw results are
appended to ``.perfbench/out/spread.jsonl``.
"""

from __future__ import annotations

import json
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from perfbench import stats  # noqa: E402


def _seeds(text):
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def main(argv):
    args = stats.parse_flags(
        argv, {"workload": str, "seeds": _seeds, "seconds": str, "trace": str}
    )
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    log = ROOT / ".perfbench" / "out" / "spread.jsonl"
    log.parent.mkdir(parents=True, exist_ok=True)
    values: dict[str, list[float]] = {}
    ok = True
    for seed in args["seeds"]:
        cmd = bench["command"] + [
            "--workload", args["workload"],
            "--seed", str(seed),
            "--seconds", args["seconds"],
            "--trace", args["trace"],
        ]
        t = time.perf_counter()
        proc = subprocess.run(
            cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
            text=True,
        )
        wall = time.perf_counter() - t
        last = proc.stdout.strip().splitlines()[-1] if proc.stdout.strip() else ""
        try:
            result = json.loads(last)
        except json.JSONDecodeError:
            result = None
        line = {"workload": args["workload"], "seed": seed, "rc": proc.returncode,
                "wall_s": wall, "result": result}
        with log.open("a") as f:
            f.write(json.dumps(line) + "\n")
        if proc.returncode or not result or not result["correct"]:
            ok = False
            print(f"seed {seed}: rc={proc.returncode} result={result}")
            continue
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        print(f"seed {seed}: wall {wall:.1f} s, attempted {result['attempted']}",
              flush=True)
    for name, xs in values.items():
        if len(xs) < 2:
            continue
        spread = stats.quartile_spread(xs)
        bound = bounds.get(name)
        flag = ""
        if bound is not None:
            flag = "OVER" if spread >= bound else (
                "ok" if spread < bound / 3 else "over a third")
        print(f"{name:<40} median {stats.median(xs):>12.6g}  "
              f"spread {spread:6.3f}  bound {bound}  {flag}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
