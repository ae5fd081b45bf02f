#!/usr/bin/env python3
"""Run the benchmark over several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload interactive --seeds 1-10 [--out runs.jsonl]

For every end-to-end metric it prints the median, the first and third
quartile (statistics.quantiles, n=4) and the spread (Q3 - Q1) / median,
next to the metric's bound from BENCHMARK.json. Each run's JSON result is
appended to --out when given.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def seeds(spec):
    if "-" in spec:
        a, b = spec.split("-")
        return list(range(int(a), int(b) + 1))
    return [int(s) for s in spec.split(",")]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    a = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    values = {}
    for seed in seeds(a.seeds):
        cmd = [sys.executable, str(ROOT / "perfbench" / "run.py"), "--workload", a.workload,
               "--seed", str(seed), "--seconds", str(spec["run_seconds"]), "--trace", str(a.trace)]
        r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        last = r.stdout.strip().splitlines()[-1] if r.stdout.strip() else ""
        if r.returncode != 0 or not last.startswith("{"):
            print(f"seed {seed}: run failed (exit {r.returncode})")
            continue
        res = json.loads(last)
        if a.out:
            with open(a.out, "a") as f:
                f.write(json.dumps({"workload": a.workload, "seed": seed, **res}) + "\n")
        print(f"seed {seed}: correct={res['correct']} failed={res['failed']}/{res['attempted']} " +
              " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    print(f"{'metric':<20} {'median':>10} {'q1':>10} {'q3':>10} {'spread':>7} {'bound':>6}")
    for k, vs in values.items():
        if len(vs) < 2:
            continue
        q1, med, q3 = statistics.quantiles(vs, n=4)
        spread = (q3 - q1) / med if med else float("nan")
        b = bounds.get(k)
        print(f"{k:<20} {med:>10.4g} {q1:>10.4g} {q3:>10.4g} {spread:>7.3f} {b if b is not None else '-':>6}")


if __name__ == "__main__":
    main()
