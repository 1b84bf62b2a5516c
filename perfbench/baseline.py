"""Run the benchmark on several seeds and record each metric's spread.

    python3 perfbench/baseline.py --out perfbench/baseline.json \
        [--workloads a,b] [--seeds 1-10] [--seconds S] [--trace 0|1]

For every workload it runs ``run.py`` once per seed, back to back, and
records every run's metrics plus, per metric, the median, the quartiles
(``statistics.quantiles(values, n=4)``) and the spread: the distance
between the quartiles as a share of the median. Run from the repository
root; nothing else should be running on the box meanwhile.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def _spread(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else None}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--out", required=True)
    ap.add_argument("--workloads", default="")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = args.workloads.split(",") if args.workloads else [w["name"] for w in bench["workloads"]]
    seconds = args.seconds or bench["run_seconds"]
    record = {
        "command": bench["command"],
        "run_seconds": seconds,
        "trace": args.trace,
        "host": {"cpus": os.cpu_count(), "machine": platform.machine()},
        "workloads": {},
    }
    failed = False
    for name in names:
        runs = []
        for seed in _seeds(args.seeds):
            cmd = bench["command"] + ["--workload", name, "--seed", str(seed),
                                      "--seconds", str(seconds), "--trace", str(args.trace)]
            t0 = time.perf_counter()
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            wall = time.perf_counter() - t0
            lines = proc.stdout.strip().splitlines()
            res = json.loads(lines[-1]) if lines else {}
            failed |= proc.returncode != 0 or not res.get("correct")
            notes = [ln for ln in proc.stderr.replace("\r", "\n").splitlines() if "[perfbench]" in ln]
            runs.append({"seed": seed, "exit": proc.returncode, "wall_s": wall, **res, "log": notes})
            print(f"{name} seed {seed}: exit {proc.returncode}, {wall:.1f}s", file=sys.stderr)
        metrics = {}
        for key in runs[0].get("metrics", {}):
            vals = [r["metrics"][key]["value"] for r in runs if "metrics" in r]
            metrics[key] = {"unit": runs[0]["metrics"][key]["unit"], **_spread(vals)}
        record["workloads"][name] = {
            "wall_s": _spread([r["wall_s"] for r in runs]),
            "metrics": metrics,
            "runs": runs,
        }
        for key, m in metrics.items():
            print(f"  {name} {key}: median {m['median']:.6g} {m['unit']}, "
                  f"spread {m['spread']:.4f}", file=sys.stderr)
    with open(args.out, "w") as f:
        json.dump(record, f, indent=1)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
