#!/usr/bin/env python3
"""Steadiness check: runs each workload once per seed and reports, per
end-to-end metric, the median and the spread (interquartile range over the
median, from statistics.quantiles(values, n=4)) next to the metric's bound.

    python3 perfbench/spread.py --seeds 1-10 [--workloads a,b] [--out FILE]
    python3 perfbench/spread.py --compare FIRST.json SECOND.json

Run from the root of the checkout, like run.py. `--compare` reads two
`--out` files of the same code and checks, per workload and end-to-end
metric, that the second median is not worse than the first by more than
the metric's bound (exit code 1 if one is).
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds_of(text):
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def compare(first, second, spec):
    with open(first) as f:
        a = json.load(f)
    with open(second) as f:
        b = json.load(f)
    ok = True
    for w in a:
        for m in spec["end_to_end"]:
            m1, m2 = a[w]["metrics"][m["name"]]["median"], b[w]["metrics"][m["name"]]["median"]
            worse = (m2 / m1 - 1) if m["better"] == "lower" else (m1 / m2 - 1)
            good = worse <= m["bound"]
            ok &= good
            print(f"{w} {m['name']}: median {m1:.4g} then {m2:.4g}, worse by {worse:+.3f} "
                  f"(bound {m['bound']}, {'ok' if good else 'OVER'})")
    return ok


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds")
    ap.add_argument("--workloads")
    ap.add_argument("--out")
    ap.add_argument("--compare", nargs=2)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.compare:
        sys.exit(0 if compare(*args.compare, spec) else 1)
    if not args.seeds:
        ap.error("--seeds is required")
    workloads = args.workloads.split(",") if args.workloads else [w["name"] for w in spec["workloads"]]
    report = {}
    for w in workloads:
        runs = []
        for seed in seeds_of(args.seeds):
            t0 = time.time()
            p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
                                "--trace", "0"], cwd=ROOT, capture_output=True, text=True)
            wall = time.time() - t0
            line = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
            if p.returncode != 0 or not line.startswith("{"):
                print(f"{w} seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}", file=sys.stderr)
                sys.exit(1)
            res = json.loads(line)
            res["wall_s"] = wall
            runs.append(res)
            print(f"{w} seed {seed}: correct={res['correct']} failed={res['failed']} wall={wall:.1f}s "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        rows = {}
        for m in spec["end_to_end"]:
            vals = [r["metrics"][m["name"]]["value"] for r in runs]
            med = statistics.median(vals)
            q = statistics.quantiles(vals, n=4) if len(vals) > 1 else [med, med, med]
            rows[m["name"]] = {"median": med, "spread": (q[2] - q[0]) / med, "bound": m["bound"],
                               "values": vals}
        report[w] = {"metrics": rows, "wall_s": [r["wall_s"] for r in runs],
                     "all_correct": all(r["correct"] for r in runs)}
        for name, r in rows.items():
            flag = "ok" if r["spread"] <= r["bound"] / 3 else ("WITHIN BOUND" if r["spread"] <= r["bound"] else "OVER")
            print(f"  {w} {name}: median {r['median']:.4g} spread {r['spread']:.3f} "
                  f"(bound {r['bound']}, {flag})", flush=True)
    if args.out:
        with open(args.out, "w") as f:
            json.dump(report, f, indent=1)


if __name__ == "__main__":
    main()
