#!/usr/bin/env python3
"""Steadiness, tracing-overhead and repeatability reports for perfbench.

Run from the root of the checkout:

    python3 perfbench/report.py spread --workload lake_scan --seeds 1-10
    python3 perfbench/report.py trace --workload cdc_medallion --seed 7

`spread` runs the untraced benchmark once per seed and prints, for
each end-to-end metric, the median and the interquartile range as a
share of the median (statistics.quantiles(values, n=4)).

`trace` runs one seed untraced once and traced twice. It prints the
traced run's overhead on every end-to-end metric, the span coverage
(sum of span walls / op wall), and which per-layer counters repeated
exactly between the two traced runs: only those may be cited as counts.

Both print one JSON document on the last line; --out also writes it.
"""
import argparse
import json
import os
import re
import statistics
import subprocess
import sys
import time

BENCH = json.load(open("BENCHMARK.json"))


def run(workload, seed, trace):
    cmd = ["python3", "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(BENCH["run_seconds"]), "--trace", str(trace)]
    t0 = time.time()
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    wall = time.time() - t0
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"run failed: {' '.join(cmd)}")
    res = json.loads(p.stdout.strip().splitlines()[-1])
    traced_e2e, detail = {}, {}
    for line in p.stderr.splitlines():
        pairs = {k: float(v) for k, v in re.findall(r"(\S+)=([-0-9.eE]+)", line)}
        if "traced end-to-end" in line:
            traced_e2e = pairs
        elif "[perfbench]" in line and " detail " in line:
            detail = pairs
    res["detail"] = detail
    return res, wall, traced_e2e


def seeds(spec):
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def spread(a):
    vals, walls, bad, details = {}, [], 0, []
    for s in seeds(a.seeds):
        res, wall, _ = run(a.workload, s, 0)
        walls.append(wall)
        details.append(res["detail"])
        bad += 0 if res["correct"] else 1
        for k, v in res["metrics"].items():
            vals.setdefault(k, []).append(v["value"])
        print(f"seed {s}: {wall:.1f} s " + " ".join(
            f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), file=sys.stderr)
    bounds = {m["name"]: m["bound"] for m in BENCH["end_to_end"]}
    out = {"workload": a.workload, "seeds": seeds(a.seeds), "incorrect_runs": bad,
           "run_wall_s": walls, "detail": details, "metrics": {}}
    for k, xs in vals.items():
        q1, med, q3 = statistics.quantiles(xs, n=4)
        share = (q3 - q1) / med if med else float("inf")
        out["metrics"][k] = {"median": statistics.median(xs), "iqr_share": share,
                             "bound": bounds.get(k), "values": xs}
        print(f"{k:20s} median {statistics.median(xs):10.4g}  iqr/median {share:.3f}"
              f"  bound {bounds.get(k)}", file=sys.stderr)
    # what setup_s would spread if a run set up only once
    firsts = [d["setup_s.first"] for d in details if "setup_s.first" in d]
    if len(firsts) == len(details) >= 4:
        q1, med, q3 = statistics.quantiles(firsts, n=4)
        out["single_setup_s"] = {"median": statistics.median(firsts),
                                 "iqr_share": (q3 - q1) / med, "values": firsts}
        print(f"{'setup_s (1 set-up)':20s} median {statistics.median(firsts):10.4g}"
              f"  iqr/median {(q3 - q1) / med:.3f}", file=sys.stderr)
    return out


def trace(a):
    base, _, _ = run(a.workload, a.seed, 0)
    t1, _, e2e1 = run(a.workload, a.seed, 1)
    t2, _, _ = run(a.workload, a.seed, 1)
    overhead = {k: e2e1[k] / v["value"] - 1.0 for k, v in base["metrics"].items()
                if k in e2e1 and v["value"]}
    m1, m2 = t1["metrics"], t2["metrics"]
    repeat = sorted(k for k in m1 if m1[k]["unit"] in ("count", "bytes")
                    and m1[k]["value"] == m2[k]["value"])
    vary = sorted(k for k in m1 if m1[k]["unit"] in ("count", "bytes")
                  and m1[k]["value"] != m2[k]["value"])
    out = {"workload": a.workload, "seed": a.seed,
           "trace_overhead": overhead,
           "coverage": [t1["metrics"]["trace.coverage"]["value"], t2["metrics"]["trace.coverage"]["value"]],
           "counters_repeat_exactly": repeat, "counters_vary": vary,
           "traced": {k: [m1[k]["value"], m2[k]["value"]] for k in m1}}
    for k, v in overhead.items():
        print(f"overhead {k:20s} {v:+.3f}", file=sys.stderr)
    print(f"coverage {out['coverage']}", file=sys.stderr)
    print(f"vary: {vary}", file=sys.stderr)
    return out


def main():
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)
    sp = sub.add_parser("spread")
    sp.add_argument("--workload", required=True)
    sp.add_argument("--seeds", default="1-10")
    sp.add_argument("--out")
    tp = sub.add_parser("trace")
    tp.add_argument("--workload", required=True)
    tp.add_argument("--seed", type=int, default=7)
    tp.add_argument("--out")
    a = ap.parse_args()
    out = spread(a) if a.cmd == "spread" else trace(a)
    text = json.dumps(out, sort_keys=True)
    if a.out:
        os.makedirs(os.path.dirname(a.out) or ".", exist_ok=True)
        with open(a.out, "w") as f:
            f.write(json.dumps(out, indent=1, sort_keys=True) + "\n")
    print(text)


if __name__ == "__main__":
    main()
