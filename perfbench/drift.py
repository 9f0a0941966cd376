"""Counter-drift check between two traced runs.

Usage: python3 perfbench/drift.py TRACE_A.json TRACE_B.json

The traces are the files a ``--trace 1`` run writes under
``perfbench/_work/traces``. Operations are matched by (name, pass), so
runs with different seeds (different operation order) compare. Every
count in ``tracing.COUNTS`` must match exactly, except the ones named in
``NONDETERMINISTIC``; a count that differs is printed and the exit code
is 1. When the two runs used different seeds, the byte counts of
operations whose input is generated from the seed (``SEEDED``) are not
compared either.
"""

from __future__ import annotations

import json
import sys

from tracing import COUNTS

#: Counts that legitimately differ between runs of the same code.
NONDETERMINISTIC: dict[str, str] = {
    "lineage_cuts": (
        "persisted RDDs left after an operation: Spark's ContextCleaner "
        "unpersists a localCheckpoint RDD once the JVM has garbage-collected "
        "its driver-side references, so the count follows GC timing (the "
        "curation build leaves 4 in its first pass, 1 to 4 in later ones)"
    ),
}

#: Operations whose input the seed generates (the swell raw table: seeded
#: location names and coordinates, fixed row count), and the counts that
#: follow the seed.
SEEDED = {"swell"}
SEEDED_COUNTS = ("input_bytes", "shuffle_read_bytes", "shuffle_write_bytes", "bytes_written")


def load(path: str) -> tuple[int, dict]:
    with open(path) as fh:
        trace = json.load(fh)
    return trace["seed"], {(r["name"], r["pass"]): r for r in trace["ops"]}


def drift(a: dict, b: dict, same_seed: bool = True) -> list[str]:
    """One line per differing deterministic count or unmatched operation."""
    out = []
    for key in sorted(set(a) | set(b)):
        if key not in a or key not in b:
            out.append(f"{key[0]} pass {key[1]}: only in {'B' if key not in a else 'A'}")
            continue
        for c in COUNTS:
            if c in NONDETERMINISTIC:
                continue
            if not same_seed and key[0] in SEEDED and c in SEEDED_COUNTS:
                continue
            if a[key][c] != b[key][c]:
                out.append(f"{key[0]} pass {key[1]}: {c} {a[key][c]} -> {b[key][c]}")
    return out


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    (seed_a, a), (seed_b, b) = load(argv[0]), load(argv[1])
    lines = drift(a, b, seed_a == seed_b)
    for line in lines:
        print("DRIFT " + line)
    for c, why in NONDETERMINISTIC.items():
        print(f"excluded {c}: {why}")
    print(f"{len(lines)} drifting counts")
    return 1 if lines else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
