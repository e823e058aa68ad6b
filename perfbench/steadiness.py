"""Run-to-run steadiness of the end-to-end metrics.

    python3 perfbench/steadiness.py --runs 10 --sets 2 --out perfbench/results/steadiness.json

Runs ``run.py`` once per seed (one process per run, a fresh seed each
time), for every workload in BENCHMARK.json, as ``--sets`` sets of
``--runs`` runs each. Per set, workload and metric it records the median,
the quartiles (``statistics.quantiles(n=4)``) and the spread: the distance
between the quartiles as a share of the median. It also records how far
each later set's median moved from the first set's. Run from the
repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def one_run(workload: str, seed: int, seconds: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", "0"]
    t = time.perf_counter()
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    wall = time.perf_counter() - t
    if proc.returncode != 0:
        raise RuntimeError(f"{cmd} exited {proc.returncode}:\n"
                           f"{proc.stderr[-2000:]}")
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    out.update(seed=seed, wall_s=wall)
    return out


def summarize(runs: list[dict]) -> dict:
    out = {}
    for name in runs[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in runs]
        q1, med, q3 = statistics.quantiles(vals, n=4)
        out[name] = {"median": med, "q1": q1, "q3": q3,
                     "spread": (q3 - q1) / med, "values": vals}
    return out


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--sets", type=int, default=2)
    p.add_argument("--first-seed", type=int, default=1000)
    p.add_argument("--workloads", nargs="*")
    p.add_argument("--out", required=True)
    args = p.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    workloads = args.workloads or [w["name"] for w in bench["workloads"]]
    seconds = bench["run_seconds"]
    report = {"run_seconds": seconds, "runs_per_set": args.runs, "sets": []}
    seed = args.first_seed
    for _ in range(args.sets):
        entry = {}
        for wl in workloads:
            runs = []
            for _ in range(args.runs):
                runs.append(one_run(wl, seed, seconds))
                seed += 1
                print(wl, runs[-1]["seed"], round(runs[-1]["wall_s"], 1),
                      {k: round(v["value"], 3)
                       for k, v in runs[-1]["metrics"].items()},
                      flush=True)
            entry[wl] = {"metrics": summarize(runs),
                         "seeds": [r["seed"] for r in runs],
                         "failed": sum(r["failed"] for r in runs),
                         "attempted": sum(r["attempted"] for r in runs),
                         "all_correct": all(r["correct"] for r in runs),
                         "run_wall_s": [r["wall_s"] for r in runs]}
        report["sets"].append(entry)
    first = report["sets"][0]
    for later in report["sets"][1:]:
        for wl, e in later.items():
            for name, s in e["metrics"].items():
                base = first[wl]["metrics"][name]["median"]
                s["median_shift"] = (s["median"] - base) / base
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    with open(args.out, "w") as fh:
        json.dump(report, fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
