"""Pick the TPC-H subset of the checked benchmark from a traced full pass.

Usage: python3 perfbench/pick_tpch.py TRACE.json [K]

TRACE.json is what ``run.py --workload tpch_sf0.1 --trace 1`` writes under
``perfbench/_work/traces``. From the measured passes (the warm pass 0 is
skipped) it takes each query's mean wall, query-function time and job
count, prints them, and prints the K-query subsets (default 3) whose
profile is closest to the
full 22-query pass: mean wall per query, median wall, jobs per query and
the query-function share of the wall. Closest means the smallest largest
relative deviation, then the smallest sum of deviations.
"""

from __future__ import annotations

import itertools
import json
import statistics
import sys


def per_query(trace: dict) -> dict[str, dict[str, float]]:
    runs: dict[str, list[dict]] = {}
    for r in trace["ops"]:
        if r["pass"] > 0:
            runs.setdefault(r["name"], []).append(r)
    return {
        n: {k: statistics.mean(r[k] for r in rs) for k in ("wall_s", "fn_s", "jobs")}
        for n, rs in runs.items()
    }


def profile(q: dict, names) -> dict[str, float]:
    wall = sum(q[n]["wall_s"] for n in names)
    return {
        "wall_s": wall / len(names),
        "p50_s": statistics.median(q[n]["wall_s"] for n in names),
        "jobs": sum(q[n]["jobs"] for n in names) / len(names),
        "fn_share": sum(q[n]["fn_s"] for n in names) / wall,
    }


def main(argv: list[str]) -> int:
    if len(argv) not in (1, 2):
        print(__doc__, file=sys.stderr)
        return 2
    with open(argv[0]) as fh:
        q = per_query(json.load(fh))
    k = int(argv[1]) if len(argv) == 2 else 3
    full = profile(q, list(q))
    fmt = lambda p: " ".join(f"{m}={v:.3f}" for m, v in p.items())  # noqa: E731
    for n in sorted(q, key=lambda n: q[n]["wall_s"]):
        f = q[n]
        print(f"{n:36s} wall={f['wall_s']:.3f} fn={f['fn_s']:.3f} "
              f"share={f['fn_s'] / f['wall_s']:.2f} jobs={f['jobs']:g}")
    print(f"full pass ({len(q)} queries): {fmt(full)}")
    ranked = []
    for names in itertools.combinations(sorted(q), k):
        p = profile(q, names)
        devs = [abs(p[m] / full[m] - 1) for m in full]
        ranked.append((max(devs), sum(devs), names, p))
    ranked.sort()
    for worst, total, names, p in ranked[:5]:
        print(f"max dev {worst:.3f} sum {total:.3f}: {' '.join(names)}\n    {fmt(p)}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
