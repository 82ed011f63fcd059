#!/usr/bin/env python3
"""Steadiness and tracing-overhead reports for the benchmark.

    python3 perfbench/steady.py --runs 10 [--workload W ...] [--first-seed N]
                                [--save NAME]
    python3 perfbench/steady.py --compare NAME_A NAME_B
    python3 perfbench/steady.py --overhead

The first form runs `perfbench/run.py` once per seed for each workload
(seeds first-seed .. first-seed + runs - 1) and prints, per metric, the
median and the spread: the distance between the first and third
quartile (`statistics.quantiles(values, n=4)`) as a share of the
median, next to the metric's bound from BENCHMARK.json. `--save NAME`
writes the table and every run's values to `perfbench/steadiness/NAME.json`.

`--compare` reads two saved sets and reports, per workload and metric,
how much worse the second median is than the first, as a share of the
first, next to the metric's bound.

`--overhead` reads the per-run records under `.bench_build/records/`
and reports, per workload and end-to-end metric, the traced median
minus the untraced median.
"""
import argparse
import glob
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spread(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def steadiness(args, spec):
    metrics = spec["end_to_end"]
    workloads = args.workload or [w["name"] for w in spec["workloads"]]
    report = {"runs": args.runs, "first_seed": args.first_seed,
              "seconds": spec["run_seconds"], "cpus": os.cpu_count(),
              "workloads": {}}
    for w in workloads:
        values = {m["name"]: [] for m in metrics}
        walls = []
        for seed in range(args.first_seed, args.first_seed + args.runs):
            t = time.time()
            r = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                 "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
                 "--trace", "0"],
                cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
            walls.append(time.time() - t)
            line = r.stdout.strip().splitlines()[-1] if r.stdout.strip() else "{}"
            out = json.loads(line)
            if r.returncode != 0 or not out.get("correct"):
                sys.stderr.write(r.stderr[-3000:])
                sys.exit(f"{w} seed {seed} failed (exit {r.returncode})")
            for k in values:
                values[k].append(out["metrics"][k]["value"])
            print(f"{w} seed {seed}: {walls[-1]:.1f}s", file=sys.stderr, flush=True)
        rows = {}
        for m in metrics:
            v = values[m["name"]]
            rows[m["name"]] = {"median": statistics.median(v), "spread": spread(v),
                               "bound": m.get("bound"), "values": v}
        report["workloads"][w] = {"metrics": rows, "wall_s": walls}
        print(f"\n{w}  (run wall median {statistics.median(walls):.1f}s, max {max(walls):.1f}s)")
        for k, r in rows.items():
            flag = "ok" if r["spread"] < r["bound"] / 3 else "WIDE"
            print(f"  {k:22} median {r['median']:14.4f}  spread {r['spread']:.3f}  "
                  f"bound {r['bound']:.2f} {flag}")
    if args.save:
        d = os.path.join(HERE, "steadiness")
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, f"{args.save}.json"), "w") as f:
            json.dump(report, f, indent=1, sort_keys=True)


def compare(spec, names):
    a, b = (json.load(open(os.path.join(HERE, "steadiness", f"{n}.json")))
            for n in names)
    for w in sorted(set(a["workloads"]) & set(b["workloads"])):
        print(w)
        for m in spec["end_to_end"]:
            k = m["name"]
            x = a["workloads"][w]["metrics"][k]["median"]
            y = b["workloads"][w]["metrics"][k]["median"]
            worse = (y - x) / x if m["better"] == "lower" else (x - y) / x
            flag = "ok" if worse <= m["bound"] else "WORSE"
            print(f"  {k:22} {x:14.4f} -> {y:14.4f}  worse by {worse:+.3f}  "
                  f"bound {m['bound']:.2f} {flag}")


def overhead(spec):
    recs = [json.load(open(p)) for p in
            sorted(glob.glob(os.path.join(ROOT, ".bench_build", "records", "*.json")))]
    for w in sorted({r["workload"] for r in recs}):
        mine = [r for r in recs if r["workload"] == w and r.get("correct")]
        on = [r for r in mine if r["trace"]]
        off = [r for r in mine if not r["trace"]]
        if not on or not off:
            continue
        print(f"{w}: {len(on)} traced, {len(off)} untraced runs")
        for m in spec["end_to_end"]:
            k = m["name"]
            a = statistics.median(r["metrics"][k] for r in on)
            b = statistics.median(r["metrics"][k] for r in off)
            print(f"  {k:22} traced {a:14.4f}  untraced {b:14.4f}  "
                  f"overhead {a - b:+.4f} {m['unit']} ({(a - b) / b:+.1%})")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", action="append")
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--save")
    ap.add_argument("--compare", nargs=2, metavar="NAME")
    ap.add_argument("--overhead", action="store_true")
    args = ap.parse_args()
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    if args.compare:
        compare(spec, args.compare)
    elif args.overhead:
        overhead(spec)
    else:
        steadiness(args, spec)


if __name__ == "__main__":
    main()
