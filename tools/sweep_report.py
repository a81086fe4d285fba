#!/usr/bin/env python
"""Summarize driver_sim sweep results across scale factors.

Two input shapes are accepted, merged per scale factor:

- repo-tracked segment artifacts under ``sweeps/`` written by
  ``tools/driver_sim.py`` (``{label, sf, n_queries, n_green, queries}``)
  — the durable per-round record;
- legacy flat ``/tmp/driver_sim_<sf>.json`` files (one row per query).

Prints a markdown summary for COVERAGE.md: green counts per SF, any
reds, and the queries whose wall time scales super-linearly between
sf0.01 and sf0.1 (rows grow 10×; anything growing >~20× in time
deserves a SCALE.md justification — sub-linear growth is expected
because most of the 0.01 time is fixed job-launch overhead).

Usage:
  python tools/sweep_report.py [--label r4] [sweeps_dir_or_json ...]
"""

from __future__ import annotations

import glob
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_segments(paths: list[str], label: str | None) -> dict[str, dict]:
    """Merge sweep files into {sf_tag: {query: row}}.  Later files win on
    conflicts (re-runs of the same segment overwrite)."""
    merged: dict[str, dict] = {}
    files: list[str] = []
    for p in paths:
        if os.path.isdir(p):
            files.extend(sorted(glob.glob(os.path.join(p, "*.json"))))
        else:
            files.append(p)
    for fp in files:
        base = os.path.basename(fp)
        with open(fp) as f:
            # sweeps/ also holds bench.py logs and notes: skip anything
            # that is neither a segment artifact nor a legacy report
            try:
                data = json.load(f)
            except ValueError:
                continue
        if "n_green" in data:  # segment artifact
            if label and data.get("label") != label:
                continue
            merged.setdefault(data["sf"], {}).update(data["queries"])
        elif base.startswith("driver_sim_"):  # legacy flat report
            if label:  # unlabeled evidence excluded from labeled reports
                continue
            # infer sf from the filename
            tag = base.replace("driver_sim_", "").replace(".json", "")
            merged.setdefault(tag, {}).update(data)
    return merged


def ok(row: dict) -> bool:
    return bool(
        row.get("hash_match", row.get("rows_only", False))
    ) and not row.get("err")


def main() -> int:
    args = sys.argv[1:]
    label = None
    if "--label" in args:
        i = args.index("--label")
        label = args[i + 1]
        args = args[:i] + args[i + 2:]
    if not args:
        args = [os.path.join(REPO, "sweeps")]
        # fall back to legacy tmp files if present
        for p in ("/tmp/driver_sim_sf0.01.json", "/tmp/driver_sim_sf0.1.json"):
            if os.path.exists(p):
                args.append(p)
    merged = _load_segments(args, label)
    if not merged:
        print("no sweep files found", file=sys.stderr)
        return 2

    for tag in sorted(merged):
        rep = merged[tag]
        greens = sum(1 for r in rep.values() if ok(r))
        print(f"{tag}: {greens}/{len(rep)} green")
        for name, row in rep.items():
            if not ok(row):
                print(f"  RED {name}: {json.dumps(row)[:200]}")

    r001 = merged.get("sf0.01", {})
    r01 = merged.get("sf0.1", {})
    if r01:
        print("\nslowest at sf0.1:")
        slow = sorted(
            r01.items(), key=lambda kv: -kv[1].get("wall_sec", 0)
        )[:12]
        for name, row in slow:
            t001 = r001.get(name, {}).get("wall_sec", 0)
            t01 = row.get("wall_sec", 0)
            ratio = t01 / t001 if t001 else float("inf")
            print(f"  {name}: {t01:.2f}s (sf0.01 {t001:.2f}s, x{ratio:.1f})")

        print("\nsuper-linear (wall x>20 between sf0.01 and sf0.1):")
        n = 0
        for name, row in r01.items():
            t001 = r001.get(name, {}).get("wall_sec")
            t01 = row.get("wall_sec")
            if t001 and t01 and t01 > 20 * t001 and t01 > 2.0:
                print(
                    f"  {name}: {t001:.2f}s -> {t01:.2f}s (x{t01 / t001:.1f})"
                )
                n += 1
        if not n:
            print("  none")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
