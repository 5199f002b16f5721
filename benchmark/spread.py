#!/usr/bin/env python3
"""Run-to-run spread and seed agreement of the end-to-end metrics.

Usage, from the root of a checkout:

    python3 benchmark/spread.py --seeds 1,2,3,4,5,6,7,8,9,10 [--workloads table_etl]

Runs benchmark/run.py once per seed and workload (untraced, run_seconds from
BENCHMARK.json) and reports per metric: the median over the runs, the
distance between the first and third quartile as a share of the median
(statistics.quantiles(values, n=4)), and whether the medians of the runs on
the odd-position seeds and on the even-position seeds agree within the
metric's bound. setup_s is exempt from the spread test, as the runner
exempts it. The report is printed and written to
.bench_build/graftbench/spread-<time>.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", required=True, help="comma-separated, at least 4")
    ap.add_argument("--workloads", help="comma-separated (default: all of BENCHMARK.json)")
    a = ap.parse_args()
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    seeds = [int(s) for s in a.seeds.split(",")]
    if len(seeds) < 4:
        sys.exit("need at least 4 seeds")
    names = a.workloads.split(",") if a.workloads else [w["name"] for w in spec["workloads"]]
    report = {"seeds": seeds, "run_seconds": spec["run_seconds"], "workloads": {}}
    ok = True
    for wl in names:
        runs = []
        for s in seeds:
            t0 = time.time()
            p = subprocess.run([sys.executable, "benchmark/run.py", "--workload", wl, "--seed", str(s),
                                "--seconds", str(spec["run_seconds"]), "--trace", "0"],
                               capture_output=True, text=True)
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                print(f"{wl} seed {s}: run failed\n{p.stderr[-2000:]}", file=sys.stderr)
                sys.exit(1)
            r = json.loads(lines[-1])
            r["seed"], r["wall_s"] = s, time.time() - t0
            runs.append(r)
            print(f"{wl} seed {s} ({r['wall_s']:.0f} s): correct={r['correct']} "
                  f"attempted={r['attempted']} failed={r['failed']} " +
                  " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()), flush=True)
        rows = {}
        for m in spec["end_to_end"]:
            v = [r["metrics"][m["name"]]["value"] for r in runs]
            med = statistics.median(v)
            q = statistics.quantiles(v, n=4)
            spread = (q[2] - q[0]) / med
            odd, even = statistics.median(v[0::2]), statistics.median(v[1::2])
            worse = (even - odd) / odd if m["better"] == "lower" else (odd - even) / odd
            agree = abs(worse) <= m["bound"]
            spread_ok = m["name"] == "setup_s" or spread <= m["bound"]
            ok = ok and agree and spread_ok and all(r["correct"] for r in runs)
            rows[m["name"]] = {"median": med, "spread": spread, "bound": m["bound"],
                               "spread_ok": spread_ok, "spread_below_third": spread <= m["bound"] / 3,
                               "seed_groups": [odd, even], "seed_groups_agree": agree}
            print(f"  {m['name']:30s} median={med:.4g} spread={spread:.3f} bound={m['bound']} "
                  f"{'ok' if spread_ok else 'WIDE'} seed-groups {odd:.4g}/{even:.4g} "
                  f"{'agree' if agree else 'DISAGREE'}")
        report["workloads"][wl] = {"runs": runs, "metrics": rows}
    out = os.path.join(".bench_build", "graftbench", f"spread-{time.strftime('%Y%m%dT%H%M%S')}.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as f:
        json.dump(report, f, indent=1)
    print(f"report: {out}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
