#!/usr/bin/env python3
"""A/B the end-to-end metrics of two checkouts with alternating run pairs.

Runs untraced `perfbench/run.py` on a parent checkout and a change
checkout, pair by pair, alternating which side runs first (even pairs
start with the parent, odd pairs with the change), so slow drift of the
machine lands on both sides alike. For every end-to-end metric the
change's BENCHMARK.json declares, prints each side's median and
quartiles, the change's wins (ties count for neither side), whether
the medians differ by more than the parent's interquartile range, and a
verdict. `gain`: the change wins at least nine tenths of the pairs and
its median beats the parent's by more than that range. `regression`:
its median is worse than the parent's by more than the metric's
BENCHMARK.json bound (a fraction of the parent's median). `unresolved`:
neither, and the parent's own spread is wider than the bound, unless
every change run reads better than every parent run. Otherwise
`within bound`.

Usage:
    python3 tools/ab_pairs.py --parent <dir> --change <dir> \\
        --workload lake_scan --seeds 1-10 [--log runs.jsonl]

Seeds are a comma list and/or ranges (`1-8,1001`). It runs
max(10, len(seeds)) pairs; pair i runs seed i mod len(seeds). Every run
lasts the change's BENCHMARK.json `run_seconds`. Wins are counted over
all pairs run, so a pair with a failed run counts as a loss; a change
with any failed run gets no `gain`. Each checkout builds its own
benchmark on its first run. `--log` appends every run's result line as
JSON. Exits 1 when any run failed or reported an incorrect result.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def parse_seeds(s):
    seeds = []
    for part in s.split(","):
        lo, _, hi = part.partition("-")
        seeds.extend(range(int(lo), int(hi) + 1) if hi else [int(lo)])
    return seeds


def run_once(checkout, workload, seed, seconds):
    """One untraced run; returns its result object, or None on failure."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE,
                          stderr=subprocess.DEVNULL, text=True)
    for line in reversed(proc.stdout.splitlines()):
        if line.startswith("{"):
            try:
                result = json.loads(line)
            except ValueError:
                continue
            if proc.returncode == 0 and result.get("correct") and not result.get("failed"):
                return result
            break
    return None


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True)
    ap.add_argument("--log")
    a = ap.parse_args()

    with open(os.path.join(a.change, "BENCHMARK.json")) as f:
        bench = json.load(f)
    metrics = [(m["name"], m["better"], m["bound"]) for m in bench["end_to_end"]]
    seconds = bench["run_seconds"]
    seeds = parse_seeds(a.seeds)
    n_pairs = max(10, len(seeds))

    sides = {"parent": a.parent, "change": a.change}
    pairs, failed = [], 0
    for i in range(n_pairs):
        seed = seeds[i % len(seeds)]
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        got = {}
        for side in order:
            got[side] = run_once(sides[side], a.workload, seed, seconds)
            if a.log:
                with open(a.log, "a") as f:
                    f.write(json.dumps({"pair": i, "seed": seed, "side": side,
                                        "first": order[0], "result": got[side]}) + "\n")
        if got["parent"] is None or got["change"] is None:
            failed += 1
            print(f"pair {i} seed {seed}: a run failed", file=sys.stderr)
            continue
        pairs.append(got)
        summary = " ".join(
            f"{n}={got['parent']['metrics'][n]['value']:.4g}/{got['change']['metrics'][n]['value']:.4g}"
            for n, _, _ in metrics if n in got["parent"]["metrics"])
        print(f"pair {i} seed {seed} ({order[0]} first) parent/change: {summary}", file=sys.stderr)

    print(f"workload {a.workload}, {len(pairs)} pairs ({failed} failed), seeds {a.seeds}, "
          f"{seconds:g} s runs")
    report(pairs, n_pairs, metrics)
    return 1 if failed else 0


def report(pairs, n_pairs, metrics):
    """Prints one row per (name, better, bound) metric over the pairs
    that completed; wins are out of all n_pairs run."""
    print(f"{'metric':<14}{'parent q1/med/q3':>30}{'change q1/med/q3':>30}"
          f"{'wins':>8}{'gap>IQR':>9}  verdict")
    for name, better, bound in metrics:
        ps = [p["parent"]["metrics"][name]["value"] for p in pairs if name in p["parent"]["metrics"]]
        cs = [p["change"]["metrics"][name]["value"] for p in pairs if name in p["change"]["metrics"]]
        if not ps or len(ps) != len(cs):
            print(f"{name:<14} missing from some runs")
            continue
        sign = 1 if better == "lower" else -1
        wins = sum(1 for p, c in zip(ps, cs) if sign * (p - c) > 0)
        pq, cq = quartiles(ps), quartiles(cs)
        iqr = pq[2] - pq[0]
        gain = sign * (pq[1] - cq[1])
        beyond = abs(gain) > iqr
        worse = -gain / abs(pq[1]) if pq[1] else 0.0
        all_better = max(sign * c for c in cs) < min(sign * p for p in ps)
        if beyond and gain > 0 and len(ps) == n_pairs and wins >= 0.9 * n_pairs:
            verdict = "gain"
        elif worse > bound:
            verdict = "regression"
        elif pq[1] and iqr / abs(pq[1]) > bound and not all_better:
            verdict = "unresolved"
        else:
            verdict = "within bound"
        rel = (cq[1] - pq[1]) / pq[1] if pq[1] else float("nan")
        print(f"{name:<14}{'%.4g/%.4g/%.4g' % pq:>30}{'%.4g/%.4g/%.4g' % cq:>30}"
              f"{f'{wins}/{n_pairs}':>8}{('yes' if beyond else 'no'):>9}  {verdict} ({rel:+.1%})")


if __name__ == "__main__":
    sys.exit(main())
