"""Run one workload over several seeds and report each metric's median
and interquartile spread (as a share of the median), the steadiness
rule the benchmark's bounds are checked against.

    python3 perfbench/spread.py --workload kg_delta --seeds 1-10 [--trace 0]

Runs from the repository root, one run at a time, and prints one JSON
line per run and a summary table at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402


def seed_list(text: str) -> list[int]:
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in text.split(",")]


def main() -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seeds", default="1-10")
    parser.add_argument("--trace", type=int, default=0)
    args = parser.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}

    values: dict[str, list[float]] = {}
    for seed in seed_list(args.seeds):
        started = time.time()
        proc = subprocess.run(
            [sys.executable, *bench["command"][1:], "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(bench["run_seconds"]),
             "--trace", str(args.trace)],
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
        )
        wall = time.time() - started
        lines = proc.stdout.strip().splitlines()
        if proc.returncode or not lines:
            print(json.dumps({"seed": seed, "exit": proc.returncode}))
            continue
        result = json.loads(lines[-1])
        report = next((json.loads(line[len("report "):]) for line in lines
                       if line.startswith("report ")), {})
        print(json.dumps({"seed": seed, "wall_s": round(wall, 1),
                          "correct": result["correct"], "failed": result["failed"],
                          **{k: v["value"] for k, v in result["metrics"].items()},
                          "report": report}),
              flush=True)
        for name, metric in result["metrics"].items():
            values.setdefault(name, []).append(metric["value"])

    for name, vals in values.items():
        if len(vals) < 2 or stats.median(vals) == 0:
            continue
        spread = stats.quartile_spread(vals)
        bound = bounds.get(name)
        print(f"{name:28s} median={stats.median(vals):12.4f} spread={spread:.4f}"
              + (f" bound={bound} ({spread / bound:.2f} of it)" if bound else ""))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
