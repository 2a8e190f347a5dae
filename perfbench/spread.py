#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py WORKLOAD [N_SEEDS] [FIRST_SEED]

Runs the benchmark N_SEEDS times (default 10) on one workload, each with
another seed, and prints for each end-to-end metric its median and the
distance between the first and third quartile as a share of the median
(statistics.quantiles(values, n=4)), next to a third of the metric's bound.
Every run's result line is appended to .bench_build/perfbench/spread.jsonl.
"""
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path


def main():
    wl = sys.argv[1]
    n = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    first = int(sys.argv[3]) if len(sys.argv) > 3 else 101
    spec = json.loads(Path("BENCHMARK.json").read_text())
    log = Path(".bench_build/perfbench/spread.jsonl")
    log.parent.mkdir(parents=True, exist_ok=True)
    values = {m["name"]: [] for m in spec["end_to_end"]}
    for seed in range(first, first + n):
        t = time.time()
        r = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", wl, "--seed",
             str(seed), "--seconds", str(spec["run_seconds"]), "--trace", "0"],
            capture_output=True, text=True)
        lines = r.stdout.strip().splitlines()
        if r.returncode != 0 or not lines:
            print(f"seed {seed}: exit {r.returncode}\n{r.stderr[-2000:]}")
            continue
        res = json.loads(lines[-1])
        with log.open("a") as f:
            f.write(json.dumps({"workload": wl, "seed": seed,
                                "wall_s": time.time() - t, **res}) + "\n")
        for k, v in res["metrics"].items():
            values[k].append(v["value"])
        print(f"seed {seed} ({time.time() - t:.0f} s): " + ", ".join(
            f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
            flush=True)
    for m in spec["end_to_end"]:
        vs = values[m["name"]]
        if len(vs) < 2:
            continue
        q1, med, q3 = statistics.quantiles(vs, n=4)
        spread = (q3 - q1) / med
        flag = "ok" if spread < m["bound"] / 3 else "WIDE"
        print(f"{m['name']:>18}: median {med:.5g} {m['unit']}, spread "
              f"{spread:.3f} (bound/3 {m['bound'] / 3:.3f}) {flag}")


if __name__ == "__main__":
    main()
