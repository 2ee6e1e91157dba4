#!/usr/bin/env python3
"""Diff the deterministic counters of two traced perfbench results.

A traced run (`python3 perfbench/run.py ... --trace 1`) ends its stdout
with one JSON object whose "metrics" map names each metric's value and
unit. Counters with unit "count" or "bytes" (jobs per span, FS calls,
bytes written, commits, ...) repeat exactly for the same code, seed and
op sequence, so any difference between a parent run and a change run is
the change's doing. Wall-clock metrics ("s", "ns", "ratio", "MB") are
skipped: they are noise at this level.

Usage: python3 tools/trace_diff.py <parent-result> <change-result>

Each argument is a file holding the run's stdout (the last line that
parses as JSON is used). Prints one line per differing counter and exits
1 when any differs, 0 when all are identical.
"""
import json
import sys

UNITS = ("count", "bytes")


def counters(path):
    result = None
    with open(path) as f:
        for line in f:
            line = line.strip()
            if line.startswith("{"):
                try:
                    result = json.loads(line)
                except ValueError:
                    pass
    if result is None or "metrics" not in result:
        sys.exit(f"trace_diff: no perfbench result line in {path}")
    return {k: m["value"] for k, m in result["metrics"].items() if m.get("unit") in UNITS}


def main(argv):
    if len(argv) != 3:
        sys.exit(__doc__)
    parent, change = counters(argv[1]), counters(argv[2])
    diffs = []
    for name in sorted(set(parent) | set(change)):
        a, b = parent.get(name), change.get(name)
        if a != b:
            diffs.append(name)
            print(f"{name}: parent={a} change={b}")
    print(f"{len(diffs)} of {len(set(parent) | set(change))} counters differ")
    return 1 if diffs else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
