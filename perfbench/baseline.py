#!/usr/bin/env python3
"""Reference numbers: every workload of ``BENCHMARK.json`` over a range
of seeds, one run at a time, untraced.

    python3 perfbench/baseline.py --seeds 101-110 --sets 2 \\
        --out perfbench/baseline.json

Run from the repository root.  A set runs each workload over every
seed.  Per metric the file keeps the values, their quartiles (as
``statistics.quantiles(values, n=4)`` gives them) and the quartile
distance over the median, and per run the host's CPU steal (from
``/proc/stat``) and the run's canary, so a slow stretch of the host
can be told from a code effect.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def cpu_times() -> tuple[int, int]:
    """(total, steal) jiffies of all CPUs."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return sum(fields), fields[7] if len(fields) > 7 else 0


def host() -> str:
    model = "unknown CPU"
    with open("/proc/cpuinfo") as fh:
        for line in fh:
            if line.startswith("model name"):
                model = line.split(":", 1)[1].strip()
                break
    mem = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    return f"{len(os.sched_getaffinity(0))} CPUs ({model}), {mem:.0f} GB, {os.uname().sysname}"


def run_once(workload: str, seed: int, seconds: int) -> dict:
    total0, steal0 = cpu_times()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True,
    )
    total1, steal1 = cpu_times()
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"{workload} seed {seed} exited {proc.returncode}")
    detail, result = json.loads(lines[-2]), json.loads(lines[-1])
    return {
        "detail": detail, "result": result,
        "steal": (steal1 - steal0) / max(1, total1 - total0),
    }


def summarize(seeds: list[int], runs: list[dict]) -> dict:
    metrics = {}
    for name, m in runs[0]["result"]["metrics"].items():
        values = [r["result"]["metrics"][name]["value"] for r in runs]
        q1, med, q3 = statistics.quantiles(values, n=4)
        metrics[name] = {
            "unit": m["unit"], "median": med, "q1": q1, "q3": q3,
            "iqr_over_median": (q3 - q1) / med, "values": values,
        }
    return {
        "seeds": seeds,
        "cpus": sorted({r["detail"]["cpus"] for r in runs}),
        "nproc": sorted({r["detail"]["nproc"] for r in runs}),
        "cpu_steal_share": [round(r["steal"], 3) for r in runs],
        "canary_range_sum_s": [r["detail"]["canary_range_sum_s"] for r in runs],
        "ops_per_run": [r["result"]["attempted"] for r in runs],
        "all_correct": all(r["result"]["correct"] for r in runs),
        "metrics": metrics,
    }


def parse_seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main(argv) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--seeds", default="101-110")
    p.add_argument("--sets", type=int, default=1)
    p.add_argument("--out", required=True)
    args = p.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    seeds = parse_seeds(args.seeds)
    out = {"host": host(), "run_seconds": bench["run_seconds"], "workloads": {}}
    for n in range(args.sets):
        for w in bench["workloads"]:
            runs = []
            for seed in seeds:
                runs.append(run_once(w["name"], seed, bench["run_seconds"]))
                print(f"set {n + 1} {w['name']} seed {seed}: "
                      f"{json.dumps(runs[-1]['result']['metrics'])}", file=sys.stderr)
            sets = out["workloads"].setdefault(w["name"], {"sets": []})["sets"]
            sets.append(summarize(seeds, runs))
    with open(args.out, "w") as fh:
        json.dump(out, fh, indent=1)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
