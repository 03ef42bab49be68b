#!/usr/bin/env python3
"""Steadiness runs: every workload over several seeds, untraced.

For each end-to-end metric of each workload it reports the median, the
quartiles (`statistics.quantiles(values, n=4)`) and the spread, the
distance between the quartiles as a share of the median, next to the
metric's bound in BENCHMARK.json. The result is one JSON file, the
benchmark's baseline.

Usage (from the root of a checkout):

  python3 perfbench/steady.py --seeds 101-110 --out perfbench/baseline/head.json
  python3 perfbench/steady.py --workloads serve --seeds 1-5
"""
import argparse
import datetime
import json
import os
import platform
import statistics
import subprocess
import sys


def seeds_of(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def cpu_model():
    try:
        with open("/proc/cpuinfo") as f:
            for line in f:
                if line.startswith("model name"):
                    return line.split(":", 1)[1].strip()
    except OSError:
        pass
    return platform.processor()


def main():
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description="Run every workload over several seeds.")
    ap.add_argument("--workloads", nargs="*", default=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seeds", default="101-110")
    ap.add_argument("--out", default=None)
    a = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    runner = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")
    report = {
        "date": datetime.datetime.now(datetime.timezone.utc).isoformat(timespec="seconds"),
        "cores": len(os.sched_getaffinity(0)), "cpu": cpu_model(),
        "run_seconds": spec["run_seconds"], "seeds": a.seeds, "workloads": {},
    }
    for w in a.workloads:
        runs = []
        for s in seeds_of(a.seeds):
            cmd = [sys.executable, runner, "--workload", w, "--seed", str(s),
                   "--seconds", str(spec["run_seconds"]), "--trace", "0"]
            p = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                print(f"{w} seed {s}: exit {p.returncode}, no result", file=sys.stderr)
                continue
            r = json.loads(lines[-1])
            r["seed"] = s
            runs.append(r)
            print(f"{w} seed {s}: correct={r['correct']} failed={r['failed']}/{r['attempted']} "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()),
                  file=sys.stderr)
        metrics = {}
        for name, bound in bounds.items():
            vals = [r["metrics"][name]["value"] for r in runs if name in r["metrics"]]
            if len(vals) < 2:
                continue
            q1, med, q3 = statistics.quantiles(vals, n=4)
            metrics[name] = {
                "unit": runs[0]["metrics"][name]["unit"], "median": statistics.median(vals),
                "q1": q1, "q3": q3, "spread": (q3 - q1) / statistics.median(vals),
                "bound": bound, "values": vals}
        report["workloads"][w] = {
            "runs": len(runs), "all_correct": all(r["correct"] for r in runs),
            "failed": sum(r["failed"] for r in runs),
            "attempted": sum(r["attempted"] for r in runs), "metrics": metrics}
        for name, m in metrics.items():
            flag = "" if name == "setup_s" or m["spread"] <= m["bound"] / 3 else "  <-- above bound/3"
            print(f"{w:8s} {name:12s} median {m['median']:10.4g} spread {m['spread']:.3f} "
                  f"(bound {m['bound']}){flag}", file=sys.stderr)
    text = json.dumps(report, indent=1)
    if a.out:
        os.makedirs(os.path.dirname(os.path.abspath(a.out)), exist_ok=True)
        with open(a.out, "w") as f:
            f.write(text + "\n")
    else:
        print(text)


if __name__ == "__main__":
    main()
